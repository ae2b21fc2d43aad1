package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.FileSourceScanExec
import graft.SparkTestSession
import graft.functions.{KmvMergeAggregator, KmvSketch, KmvSketchAggregator}

/** [[SketchIndex]]: the persisted per-month theta index must (a) prune
  * to exactly the probed month directories at PLANNING time (VERDICT
  * r8 ask #5 — the read-path proof, same assertion style as
  * GenericSourceSpec's hive-partition test), and (b) merge-on-read to
  * the one-shot sketch regardless of how many appended partials a
  * month accumulated (the st23 streaming-maintenance contract).
  */
class SketchIndexSpec extends AnyFunSuite with SparkTestSession {

  private val K = 64
  private val Month = 2592000L // 30-day months, keys spread over 10 of them

  private def rows(n: Int, seed: Long) = {
    val s = spark
    import s.implicits._
    (0 until n).map { i =>
      ((i % 10).toLong * Month, seed * 1000000L + (i % 350).toLong)
    }.toDF("month_sec", "key")
  }

  test("probeRange scans only the in-range month partitions (planning-time pruning)") {
    val dir = graft.core.Scratch.dir("ski_prune")
    SketchIndex.writeMonthly(rows(5000, 1), "month_sec", "key", dir, K)
    val probe = SketchIndex.probeRange(spark, dir, 3L * Month, 7L * Month)
    assert(probe.select("month_sec").collect().map(_.getLong(0)).sorted.toSeq ==
      (3L to 6L).map(_ * Month))
    val scan = probe.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case f: FileSourceScanExec => f }.get
    assert(scan.partitionFilters.nonEmpty, "expected planning-time partition filters")
    assert(scan.selectedPartitions.partitionCount === 4,
      "expected exactly the 4 in-range month directories")
  }

  test("appended partials merge-on-read to the one-shot batch sketch") {
    val s = spark
    import s.implicits._
    val all = rows(5000, 2)
    val dir = graft.core.Scratch.dir("ski_merge")
    // three uneven "micro-batches" split on a row hash, like st23
    Seq(0, 1, 2).foreach { b =>
      SketchIndex.appendMonthly(
        all.filter(pmod(col("key") * 31 + col("month_sec"), lit(3)) === b),
        "month_sec", "key", dir, K)
    }
    val kmvMerge = udaf(new KmvMergeAggregator(K))
    val merged = SketchIndex.read(s, dir)
      .groupBy("month_sec").agg(kmvMerge(col("sk")).as("sk"))
    val kmv = udaf(new KmvSketchAggregator(K))
    val oneShot = all
      .select(col("month_sec"), KmvSketch.hash63(col("key")).as("h"))
      .groupBy("month_sec").agg(kmv(col("h")).as("sk"))
    val a = merged.orderBy("month_sec").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1)))
    val b = oneShot.orderBy("month_sec").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1)))
    assert(a.toSeq == b.toSeq)
    // a month accumulated multiple partial rows, so merge-on-read did fold
    assert(SketchIndex.read(s, dir).count() > 10)
  }

  test("compact folds each month's partials to one file, sketches bit-identical") {
    val s = spark
    import s.implicits._
    val all = rows(5000, 4)
    val dir = graft.core.Scratch.dir("ski_compact")
    // accumulate 3 partial rows per month, like a 3-batch st23 stream
    Seq(0, 1, 2).foreach { b =>
      SketchIndex.appendMonthly(
        all.filter(pmod(col("key") * 31 + col("month_sec"), lit(3)) === b),
        "month_sec", "key", dir, K)
    }
    val kmvMerge = udaf(new KmvMergeAggregator(K))
    def sketches() = SketchIndex.read(s, dir)
      .groupBy("month_sec").agg(kmvMerge(col("sk")).as("sk"))
      .orderBy("month_sec").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1))).toSeq
    val before = sketches()
    assert(SketchIndex.read(s, dir).count() > 10,
      "precondition: months hold multiple partial rows")

    SketchIndex.compact(s, dir, K)

    // ONE row and ONE parquet file per month directory
    assert(SketchIndex.read(s, dir).count() === 10)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      s.sparkContext.hadoopConfiguration)
    val monthDirs = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("month_sec="))
    assert(monthDirs.length === 10)
    monthDirs.foreach { d =>
      val parquets = fs.listStatus(d.getPath)
        .filter(_.getPath.getName.endsWith(".parquet"))
      assert(parquets.length === 1,
        s"expected 1 folded file in ${d.getPath.getName}, got ${parquets.length}")
    }
    // hash-invariant: merge-on-read over the compacted index equals
    // merge-on-read over the partials, bit for bit
    assert(sketches() == before)
    // the probe path still prunes at planning time post-compact
    val probe = SketchIndex.probeRange(s, dir, 3L * Month, 7L * Month)
    val scan = probe.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case f: FileSourceScanExec => f }.get
    assert(scan.selectedPartitions.partitionCount === 4)
  }

  test("staged appends read back exactly; compact folds them into hive and clears staging") {
    val s = spark
    import s.implicits._
    val all = rows(5000, 6)
    val dir = graft.core.Scratch.dir("ski_staged") + "/idx"
    // three staged micro-batches — each lands ONE flat file, no hive dirs
    Seq(0, 1, 2).foreach { b =>
      SketchIndex.appendStaged(
        all.filter(pmod(col("key") * 31 + col("month_sec"), lit(3)) === b),
        "month_sec", "key", dir, K)
    }
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      s.sparkContext.hadoopConfiguration)
    def stagingFiles() = fs.listStatus(new org.apache.hadoop.fs.Path(dir + "_staging"))
      .count(_.getPath.getName.endsWith(".parquet"))
    assert(stagingFiles() === 3)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir)), "no hive level yet")

    // merge-on-read over staging alone equals the one-shot sketch
    val kmvMerge = udaf(new KmvMergeAggregator(K))
    val kmv = udaf(new KmvSketchAggregator(K))
    def mergedRead() = SketchIndex.read(s, dir)
      .groupBy("month_sec").agg(kmvMerge(col("sk")).as("sk"))
      .orderBy("month_sec").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1))).toSeq
    val oneShot = all
      .select(col("month_sec"), KmvSketch.hash63(col("key")).as("h"))
      .groupBy("month_sec").agg(kmv(col("h")).as("sk"))
      .orderBy("month_sec").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1))).toSeq
    assert(mergedRead() == oneShot)

    // compact: staging folded into the hive level, staging cleared,
    // content unchanged; a post-compact probe prunes as usual
    val folded = SketchIndex.compact(s, dir, K)
    assert(stagingFiles() === 0)
    assert(mergedRead() == oneShot)
    assert(folded.orderBy("month_sec").collect()
      .map(r => (r.getAs[Long]("month_sec"), r.getSeq[Long](folded.columns.indexOf("sk")))).toSeq
      == oneShot)
    val probe = SketchIndex.probeRange(s, dir, 3L * Month, 7L * Month)
    val scan = probe.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case f: FileSourceScanExec => f }.get
    assert(scan.selectedPartitions.partitionCount === 4)

    // a staged append AFTER compaction is visible to readers (LSM union)
    SketchIndex.appendStaged(
      all.filter(col("month_sec") === 0L).withColumn("key", col("key") + 100000),
      "month_sec", "key", dir, K)
    val m0 = SketchIndex.read(s, dir).filter(col("month_sec") === 0L).count()
    assert(m0 === 2, "hive row + staged row for month 0")
  }

  test("compact leaves out-of-fold month directories untouched (dynamic overwrite)") {
    val s = spark
    import s.implicits._
    val all = rows(5000, 5)
    val dir = graft.core.Scratch.dir("ski_compact_dyn")
    SketchIndex.appendMonthly(all, "month_sec", "key", dir, K)
    SketchIndex.appendMonthly(all, "month_sec", "key", dir, K)
    // a month directory holding no data file is outside the fold:
    // dynamic overwrite must leave it, a static one would delete it
    val pending = new org.apache.hadoop.fs.Path(s"$dir/month_sec=${12L * Month}/_pending")
    val fs = pending.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.create(pending).close()
    SketchIndex.compact(s, dir, K)
    assert(fs.exists(pending), "compact deleted a month directory outside its fold")
    // a NEW month appended after compaction coexists with folded rows
    val late = Seq((11L * Month, 42L)).toDF("month_sec", "key")
    SketchIndex.appendMonthly(late, "month_sec", "key", dir, K)
    val months = SketchIndex.read(s, dir)
      .select("month_sec").distinct().collect().map(_.getLong(0)).sorted
    assert(months.toSeq == ((0L to 9L).map(_ * Month) :+ 11L * Month))
  }

  test("read normalizes the inferred partition type back to long") {
    val dir = graft.core.Scratch.dir("ski_type")
    SketchIndex.writeMonthly(rows(500, 3), "month_sec", "key", dir, K)
    assert(SketchIndex.read(spark, dir).schema("month_sec").dataType ==
      org.apache.spark.sql.types.LongType)
  }

  test("deleteRebuild: affected months rebuild bit-identical to a " +
    "from-scratch index over the retained rows; untouched months keep " +
    "their files; an emptied month's directory vanishes; staging folds first") {
    val s = spark
    import s.implicits._
    val all = rows(5000, 7).localCheckpoint(true)
    val dir = graft.core.Scratch.dir("ski_delete")
    SketchIndex.writeMonthly(all, "month_sec", "key", dir, K)
    // staged partials for month 2 — deleteRebuild must fold them first
    // or merge-on-read would re-union deleted contributions after the
    // rewrite
    SketchIndex.appendStaged(
      all.filter(col("month_sec") === 2L * Month), "month_sec", "key", dir, K)

    def filesByMonth(): Map[String, Set[String]] = {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.listStatus(p)
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("month_sec="))
        .map(d => d.getPath.getName ->
          fs.listStatus(d.getPath).filter(_.isFile)
            .map(f => s"${f.getPath.getName}@${f.getLen}@${f.getModificationTime}")
            .toSet)
        .toMap
    }

    // tombstones: odd keys of month 2, EVERY row of month 5
    val tomb = all.filter(
      (col("month_sec") === 2L * Month && col("key") % 2 === 1) ||
        col("month_sec") === 5L * Month)
    val retained = all.join(tomb, Seq("month_sec", "key"), "left_anti")
      .localCheckpoint(true)
    SketchIndex.deleteRebuild(s, retained, tomb, "month_sec", "key", dir, K)
    val after = filesByMonth()

    // staging folded + cleared; emptied month 5 is GONE, not stale
    assert(!after.contains(s"month_sec=${5L * Month}"),
      "an entirely-deleted month left its directory behind")
    // the index now answers exactly as a from-scratch build over the
    // retained rows — sketch bytes included
    val freshDir = graft.core.Scratch.dir("ski_delete_fresh")
    SketchIndex.writeMonthly(retained, "month_sec", "key", freshDir, K)
    def dump(d: String): Seq[String] =
      SketchIndex.read(s, d).orderBy("month_sec")
        .collect().map(r => s"${r.getLong(0)}:${r.get(1)}").toSeq
    assert(dump(dir) === dump(freshDir),
      "post-delete index drifted from a from-scratch build over retained rows")

    // untouched months keep their files byte-identical through a
    // SECOND delete that doesn't name them
    val tomb2 = all.filter(col("month_sec") === 7L * Month && col("key") % 3 === 0)
    val retained2 = retained.join(tomb2, Seq("month_sec", "key"), "left_anti")
    val beforeSecond = filesByMonth()
    SketchIndex.deleteRebuild(s, retained2, tomb2, "month_sec", "key", dir, K)
    val afterSecond = filesByMonth()
    beforeSecond.keys.filterNot(_ == s"month_sec=${7L * Month}").foreach { m =>
      assert(afterSecond(m) === beforeSecond(m), s"untouched month $m rewritten")
    }
  }
}
