package graft.llm

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSession

/** The label table's merge-on-read lifecycle (VERDICT r15 ask #5):
  * read-equals-recompute — the store's folded view must equal the
  * from-scratch clustering of the live docs whatever the batch
  * stacking — and compact-equals-read. Includes the case a NODE-level stitch cannot
  * express: a touched member that splits into a singleton must vanish
  * from the label table (the drop set is label-based for exactly this).
  */
class LabelStoreSpec extends AnyFunSuite with SparkTestSession {

  private def sigDocs(rows: (Long, Seq[Long])*) = {
    val s = spark; import s.implicits._
    rows.toDF("doc_id", "sig")
  }

  // the DedupSpec bridge fixture: A—B—C chained through bridge B (24-long
  // signatures, 12 bands × 2 rows; halves shared pairwise), D an exact
  // pair, plus an exact pair {6,7} for the second delete batch
  private def fixture = {
    val x = (1L to 12L); val y = (501L to 512L); val z = (301L to 312L)
    sigDocs(
      1L -> (x ++ (21L to 32L)), 2L -> (x ++ (21L to 32L)),
      3L -> (x ++ y),
      4L -> (z ++ y), 5L -> (z ++ y),
      6L -> ((601L to 612L) ++ (701L to 712L)),
      7L -> ((601L to 612L) ++ (701L to 712L)),
      10L -> ((801L to 812L) ++ (821L to 832L)),
      11L -> ((801L to 812L) ++ (821L to 832L)))
  }

  private def labelsOf(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toMap

  /** The from-scratch clustering of `sigs` ∖ `dead`: what a store must
    * read after those deletes, computed without the scoped kernel.
    */
  private def scratch(sigs: org.apache.spark.sql.DataFrame, dead: Long*) =
    labelsOf(Dedup.connectedComponents(Dedup.candidatesFromSigs(
      sigs.filter(!col("doc_id").isin(dead: _*)), "doc_id", assumeUnique = true),
      "doc_a", "doc_b"))

  /** Batch `seq`'s rows of one kind in the store's log, as (node, label). */
  private def logRows(dir: String, seq: Int, kind: String) =
    spark.read.parquet(s"$dir/delta")
      .filter(col("seq") === seq && col("kind") === kind)
      .select("node", "label").collect()
      .map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]),
        Option(r.get(1)).map(_.asInstanceOf[Long]))).toSet

  test("appendDelete: read equals the from-scratch clustering of the live " +
    "docs, batches stack in sequence, compact preserves the answer") {
    val s = spark; import s.implicits._
    val dir = graft.core.Scratch.dir("labelstore")
    val sigs = fixture
    val prior = Dedup.connectedComponents(
      Dedup.candidatesFromSigs(sigs, "doc_id", assumeUnique = true),
      "doc_a", "doc_b").localCheckpoint(true)
    LabelStore.create(s, dir, prior)
    assert(LabelStore.exists(s, dir))
    assert(labelsOf(LabelStore.read(s, dir)) === labelsOf(prior))

    // batch 1: delete bridge 3 — O(touched) writes, stitched read
    // equals the from-scratch clustering of the retained docs
    LabelStore.appendDelete(s, dir, sigs, Seq(3L).toDF("doc_id"), "doc_id")
    val want1 = scratch(sigs, 3L)
    assert(labelsOf(LabelStore.read(s, dir)) === want1)
    assert(want1(4L) === 4L, "fixture: the bridge split must have happened")

    // batch 2 stacks on batch 1's view (sigs still carry node 3 — the
    // scoping excludes prior tombstones because they left the labels):
    // deleting 6 re-elects {7}'s component away (exact pair → 7 alone
    // becomes a singleton and LEAVES the table)
    LabelStore.appendDelete(s, dir, sigs, Seq(6L).toDF("doc_id"), "doc_id")
    val afterTwo = labelsOf(LabelStore.read(s, dir))
    assert(afterTwo === scratch(sigs, 3L, 6L))
    assert(!afterTwo.contains(6L) && !afterTwo.contains(7L),
      "the exact pair must be gone: 6 tombstoned, 7 a singleton now")
    assert(afterTwo.contains(10L) && afterTwo.contains(11L))

    // the tombstone sidecar accumulates across batches
    assert(LabelStore.tombstones(s, dir).collect().map(_.getLong(0)).toSet
      === Set(3L, 6L))

    // compact folds the chain: read identical, batches cleared
    LabelStore.compact(s, dir)
    assert(labelsOf(LabelStore.read(s, dir)) === afterTwo)
    assert(LabelStore.seqs(s, dir).isEmpty)
  }

  test("singleton splits vanish (the label-based drop a node stitch " +
    "cannot express), and an additions batch writes only the changed rows") {
    val s = spark; import s.implicits._
    val dir = graft.core.Scratch.dir("labelstore2")
    // chain {1,2,3} through bridge 2; pair {10,11}
    val x = (1L to 12L); val y = (501L to 512L)
    val sigs = sigDocs(
      1L -> (x ++ (21L to 32L)), 2L -> (x ++ y),
      3L -> ((301L to 312L) ++ y),
      10L -> ((801L to 812L) ++ (821L to 832L)),
      11L -> ((801L to 812L) ++ (821L to 832L)))
    val prior = Dedup.connectedComponents(
      Dedup.candidatesFromSigs(sigs, "doc_id", assumeUnique = true),
      "doc_a", "doc_b").localCheckpoint(true)
    LabelStore.create(s, dir, prior)

    // deleting bridge 2 splits {1,2,3} into TWO singletons: the delta
    // is EMPTY, the drop set is the old label — nodes 1 and 3 must
    // vanish from the read, which no node-keyed upsert could do
    LabelStore.appendDelete(s, dir, sigs, Seq(2L).toDF("doc_id"), "doc_id")
    val got = labelsOf(LabelStore.read(s, dir))
    assert(got === Map(10L -> 10L, 11L -> 10L),
      s"singleton-split members must leave the label table, got $got")
    assert(logRows(dir, 0, "delta").isEmpty,
      "a split-to-singletons delete writes an EMPTY delta")
    assert(logRows(dir, 0, "drop") === Set((None, Some(1L))))
    assert(logRows(dir, 0, "tomb") === Set((Some(2L), None)))

    // additions fold: an arriving doc 1 links to 10, merging {10,11}
    // under label 1 — the batch writes ONLY the changed rows and drops
    // only their old label
    val (chg, dropped) = Dedup.incrementalComponentsDelta(
      LabelStore.read(s, dir), Seq((1L, 10L)).toDF("a", "b"), "a", "b")
    LabelStore.appendDelta(s, dir, chg, dropped)
    assert(labelsOf(LabelStore.read(s, dir)) === Map(1L -> 1L, 10L -> 1L, 11L -> 1L))
    assert(logRows(dir, 1, "delta") ===
      Set((Some(1L), Some(1L)), (Some(10L), Some(1L)), (Some(11L), Some(1L))),
      "the additions delta must carry exactly the changed/new rows")
  }

  test("appendDelta(incrementalComponentsDelta) — the zero-diff additions " +
    "writer — stitches to exactly the full fold's table") {
    val s = spark; import s.implicits._
    val dir = graft.core.Scratch.dir("labelstore3")
    val prior = Seq((1L, 1L), (2L, 1L), (10L, 10L), (11L, 10L),
      (20L, 20L), (21L, 20L)).toDF("node", "label")
      .localCheckpoint(true)
    // new node 50 bridges components {1,2} and {10,11}; {20,21} is
    // untouched and must ride the stitch verbatim
    val edges = Seq((50L, 2L), (50L, 10L)).toDF("a", "b")
    val want = Dedup.incrementalComponents(prior, edges, "a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    LabelStore.create(s, dir, prior)
    val (chg, dropped) = Dedup.incrementalComponentsDelta(prior, edges, "a", "b")
    LabelStore.appendDelta(s, dir, chg, dropped)
    assert(labelsOf(LabelStore.read(s, dir)) === want)
    // the delta carried only the merged components' rows + the new
    // node — never the untouched component or the unchanged-label rows
    val deltaRows = logRows(dir, 0, "delta").map { case (n, l) => (n.get, l.get) }
    assert(deltaRows === Set((10L, 1L), (11L, 1L), (50L, 1L)),
      s"delta must be the remapped rows + the new node, got $deltaRows")
    // the drop set: the losing component's label, plus the new node's
    // label-graph self-label (50) — vacuously safe: a base row with
    // label 50 would mean node 50 was already clustered, contradicting
    // it being new, so dropping it is a no-op by construction
    assert(logRows(dir, 0, "drop").map(_._2.get) === Set(10L, 50L))
  }

  test("appendDelete with AQE off: both branches of the scoped gates " +
    "resolve (a side checkpointed from the label table's own projection " +
    "is joined back against it)") {
    val s = spark; import s.implicits._
    val key = "spark.sql.adaptive.enabled"
    val prev = s.conf.get(key)
    s.conf.set(key, "false")
    try {
      val sigs = fixture
      val prior = Dedup.connectedComponents(
        Dedup.candidatesFromSigs(sigs, "doc_id", assumeUnique = true),
        "doc_a", "doc_b").localCheckpoint(true)
      val tomb = Seq(3L).toDF("doc_id")
      // the store and the stitched relabel on every arm: the driver
      // arm's queries, the distributed arm's broadcast gates and its
      // shuffle joins (where the untouched rows' anti join reads a
      // checkpoint of the label table's own projection)
      val want = scratch(sigs, 3L)
      for (arm <- Seq(Dedup.Arm.Driver, Dedup.Arm.Broadcast, Dedup.Arm.Shuffle)) {
        val dir = graft.core.Scratch.dir(s"labelstore-noaqe-$arm")
        LabelStore.create(s, dir, prior)
        Dedup.arm.withValue(arm) {
          LabelStore.appendDelete(s, dir, sigs, tomb, "doc_id")
          assert(labelsOf(LabelStore.read(s, dir)) === want, s"$arm: store")
          assert(labelsOf(Dedup.relabelScopedFromSigs(sigs, tomb, prior, "doc_id")) === want,
            s"$arm: relabelScopedFromSigs")
        }
      }
    } finally s.conf.set(key, prev)
  }

  test("a steady maintenance batch reuses its generated code: the second " +
    "of two same-shape batches (add, delete, compact) compiles ~nothing") {
    val s = spark; import s.implicits._
    import org.apache.spark.metrics.source.CodegenMetrics
    assert(s.conf.get("spark.sql.codegen.cache.maxEntries") ===
      graft.core.GraftSession.CodegenCacheEntries.toString)
    val dir = graft.core.Scratch.dir("labelstore-codegen")
    // four exact pairs; batch i adds a copy of one pair's first doc and
    // deletes a member of another pair, so both batches have one shape
    def sig(k: Long) = ((k * 100 + 1) to (k * 100 + 24)).toSeq
    var sigs = sigDocs((1L to 8L).map(id => id -> sig((id + 1) / 2)): _*)
      .localCheckpoint(true)
    LabelStore.create(s, dir, Dedup.connectedComponents(
      Dedup.candidatesFromSigs(sigs, "doc_id", assumeUnique = true),
      "doc_a", "doc_b"))
    def batch(add: Long, copyOf: Long, del: Long): Long = {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val addSigs = sigDocs(add -> sig((copyOf + 1) / 2)).localCheckpoint(true)
      // ids reach the plans as data, never as literals: a literal is
      // inlined into the generated code, so each batch would compile anew
      // (the added doc's id exceeds every old one: it is always doc_b)
      val edges = Dedup.candidatesFromSigs(sigs.unionByName(addSigs), "doc_id",
          assumeUnique = true)
        .join(addSigs.select(col("doc_id").as("doc_b")), Seq("doc_b"), "left_semi")
      val (chg, dropped) = Dedup.incrementalComponentsDelta(
        LabelStore.read(s, dir), edges, "doc_a", "doc_b", materialize = false)
      LabelStore.appendDelta(s, dir, chg, dropped)
      sigs = sigs.unionByName(addSigs).localCheckpoint(true)
      val dels = Seq(del).toDF("doc_id")
      LabelStore.appendDelete(s, dir, sigs, dels, "doc_id")
      sigs = sigs.join(dels, Seq("doc_id"), "left_anti").localCheckpoint(true)
      LabelStore.compact(s, dir)
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    }
    batch(add = 20L, copyOf = 1L, del = 3L)
    val second = batch(add = 21L, copyOf = 5L, del = 7L)
    assert(labelsOf(LabelStore.read(s, dir)) === Map(1L -> 1L, 2L -> 1L,
      20L -> 1L, 5L -> 5L, 6L -> 5L, 21L -> 5L),
      "the batches must have folded: two copies added, two pairs broken")
    assert(second <= 10L, s"the second batch compiled $second classes")
  }

  test("after k batches the store holds base and delta/seq=0..k-1 only, " +
    "each batch written by one job") {
    val s = spark; import s.implicits._
    val dir = graft.core.Scratch.dir("labelstore-layout")
    val sigs = fixture
    LabelStore.create(s, dir, Dedup.connectedComponents(
      Dedup.candidatesFromSigs(sigs, "doc_id", assumeUnique = true),
      "doc_a", "doc_b"))
    LabelStore.appendDelete(s, dir, sigs, Seq(3L).toDF("doc_id"), "doc_id")
    val chg = Seq((20L, 10L)).toDF("node", "label")
    val dropped = Seq(10L, 20L).toDF("label")
    assert(MaintenancePipeline.jobsOf(s)(LabelStore.appendDelta(s, dir, chg, dropped)) === 1)
    def names(p: String) = new java.io.File(p).listFiles()
      .map(_.getName).filterNot(n => n.startsWith(".") || n.startsWith("_")).toSet
    assert(names(dir) === Set("base", "delta"))
    assert(names(s"$dir/delta") === Set("seq=0", "seq=1"))
    assert(logRows(dir, 1, "delta") === Set((Some(20L), Some(10L))))
    assert(LabelStore.tombstones(s, dir).collect().map(_.getLong(0)).toSet === Set(3L))
  }

  test("a store-reading query has one broadcast exchange for the drop " +
    "side, for 1, 2 and 3 outstanding batches") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    val helper = new AdaptiveSparkPlanHelper {}
    val dir = graft.core.Scratch.dir("labelstore-plan")
    LabelStore.create(s, dir, (1L to 40L).map(n => (n, (n + 1) / 2 * 2 - 1)).toDF("node", "label"))
    for (k <- 1 to 3) {
      // batch k merges label 2k+1 into label 1: it drops both labels and
      // re-adds label 1, which the earlier batches dropped and re-added
      LabelStore.appendDelta(s, dir,
        (1L to 2L * k + 2).map(n => (n, 1L)).toDF("node", "label"),
        Seq(1L, 2L * k + 1).toDF("label"))
      val df = LabelStore.read(s, dir)
      val rows = df.collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(rows.length === 40)
      assert(rows.toMap === (1L to 40L).map(n =>
        n -> (if (n <= 2L * k + 2) 1L else (n + 1) / 2 * 2 - 1)).toMap)
      val broadcasts = helper.collectWithSubqueries(df.queryExecution.executedPlan) {
        case b: BroadcastExchangeExec => b
      }
      assert(broadcasts.size === 1, s"$k outstanding batches:\n${df.queryExecution.executedPlan}")
    }
  }

  test("a store in the old three-directory layout: refused with outstanding " +
    "batches, read unchanged without them") {
    val s = spark; import s.implicits._
    val old = graft.core.Scratch.dir("labelstore-old")
    val base = Seq((1L, 1L), (2L, 1L), (5L, 5L), (6L, 5L)).toDF("node", "label")
    base.write.parquet(s"$old/base")
    Seq((2L, 2L)).toDF("node", "label").write.parquet(s"$old/delta/seq=0")
    Seq(1L).toDF("label").write.parquet(s"$old/drop/seq=0")
    Seq(1L).toDF("node").write.parquet(s"$old/tombs/seq=0")
    val err = intercept[IllegalStateException](LabelStore.read(s, old))
    assert(err.getMessage.contains("three-directory layout"))
    intercept[IllegalStateException](LabelStore.appendDelta(s, old,
      Seq((7L, 5L)).toDF("node", "label"), Seq(5L).toDF("label")))
    intercept[IllegalStateException](LabelStore.appendDelete(s, old, fixture,
      Seq(5L).toDF("doc_id"), "doc_id"))
    // re-creating it describes only the new truth
    LabelStore.create(s, old, base)
    assert(labelsOf(LabelStore.read(s, old)) === labelsOf(base))

    // created or compacted, the old layout held only `base`
    val quiet = graft.core.Scratch.dir("labelstore-old-compacted")
    base.write.parquet(s"$quiet/base")
    assert(labelsOf(LabelStore.read(s, quiet)) === labelsOf(base))
    LabelStore.appendDelta(s, quiet, Seq((7L, 5L)).toDF("node", "label"),
      Seq(5L).toDF("label"))
    assert(labelsOf(LabelStore.read(s, quiet)) ===
      Map(1L -> 1L, 2L -> 1L, 7L -> 5L))
  }
}
