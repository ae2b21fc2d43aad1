package graft.llm

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkTestSession

/** The persisted fingerprint index lifecycle (VERDICT r4 asks #4/#5):
  *
  *   1. the bucketed (band, bkey) table joins incremental probes with
  *      ZERO exchange on the index side — previously a scaladoc claim,
  *      here pinned on the physical plan the way BucketingSpec pins
  *      the generic case;
  *   2. append folds a new batch in such that probing the table is
  *      indistinguishable from re-fingerprinting the union corpus;
  *   3. compact applies tombstones without re-fingerprinting.
  */
class DedupIndexSpec extends AnyFunSuite with SparkTestSession {

  /** Jobs x92's scoped relabel may run on the driver arm: it runs 9, and
    * 18 on the distributed scope.
    */
  private val X92DriverMaxJobs = 10

  // near-dup families: x and x+100 share all but one token
  private def mkDocs(ids: Seq[Long]): DataFrame = {
    val s = spark; import s.implicits._
    ids.map { i =>
      val fam = i % 100
      val tail = if (i >= 100) "zz" else "yy"
      (i, s"alpha$fam beta$fam gamma$fam delta$fam epsilon$fam $tail")
    }.toDF("doc_id", "text")
  }

  private val batchA = mkDocs(1L to 40L)
  private val batchB = mkDocs(101L to 140L)
  private val probeC = mkDocs(201L to 240L) // near-dups of A and B families

  private def sortedRows(df: DataFrame): Seq[(Long, Long, Long, Long)] =
    df.select("new_id", "old_id", "n_match", "est_jaccard_e6")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq.sorted

  test("bucketed index: probe joins with zero index-side exchange; append and compact keep results exact") {
    val s = spark
    val dir = Files.createTempDirectory("dedup_idx")
    try {
      DedupIndex.create(batchA, "text", "doc_id", "dedup_idx", s"$dir/idx", buckets = 8)

      // --- result parity: table probe == in-memory index probe -------
      val viaTable = DedupIndex.probe(s, probeC, "dedup_idx", "text", "doc_id")
      val viaFrames = Dedup.incrementalCandidates(
        probeC, Dedup.bandIndex(batchA, "text", "doc_id"), "text", "doc_id")
      val tableRows = sortedRows(viaTable)
      assert(tableRows.nonEmpty, "probe families were built to collide")
      assert(tableRows === sortedRows(viaFrames))

      // --- plan proof (r4 ask #4): hint a merge join both ways so the
      // only difference is who provides the hash distribution ---------
      def exchanges(df: DataFrame): Int = {
        df.count()
        "Exchange hashpartitioning".r
          .findAllIn(df.queryExecution.executedPlan.toString).length
      }
      val bucketed = Dedup.incrementalCandidates(
        probeC, s.table("dedup_idx").hint("merge"), "text", "doc_id")
      val unbucketed = Dedup.incrementalCandidates(
        probeC, Dedup.bandIndex(batchA, "text", "doc_id").hint("merge"),
        "text", "doc_id")
      val (nBucketed, nPlain) = (exchanges(bucketed), exchanges(unbucketed))
      // batch-side shuffle + pair-agg shuffle remain; the index-side
      // exchange is the one that must disappear
      assert(nBucketed === nPlain - 1,
        s"bucketed index side should eliminate exactly its own exchange " +
          s"(bucketed=$nBucketed, plain=$nPlain)")

      // --- append: table probe == probe of re-fingerprinted A∪B -----
      DedupIndex.append(s, batchB, "text", "doc_id", "dedup_idx")
      val afterAppend = sortedRows(DedupIndex.probe(s, probeC, "dedup_idx", "text", "doc_id"))
      val unionIndex = Dedup.bandIndex(batchA.unionByName(batchB), "text", "doc_id")
      assert(afterAppend === sortedRows(
        Dedup.incrementalCandidates(probeC, unionIndex, "text", "doc_id")))
      assert(afterAppend.map(_._2).exists(_ > 100L), "batch B must be probe-visible")

      // --- compact: tombstoned ids vanish, nothing is re-hashed ------
      val tombstones = batchA.filter(col("doc_id") <= 20L).select("doc_id")
      DedupIndex.compact(s, "dedup_idx", "dedup_idx2", s"$dir/idx2",
        tombstones, "doc_id") // bucket count INHERITED from the source table
      val afterCompact = sortedRows(DedupIndex.probe(s, probeC, "dedup_idx2", "text", "doc_id"))
      val survivors = batchA.filter(col("doc_id") > 20L).unionByName(batchB)
      assert(afterCompact === sortedRows(Dedup.incrementalCandidates(
        probeC, Dedup.bandIndex(survivors, "text", "doc_id"), "text", "doc_id")))
      assert(!afterCompact.map(_._2).exists(_ <= 20L), "tombstoned ids must not match")
      assert(s.table("dedup_idx2").filter(col("doc_id") <= 20L).isEmpty)
    } finally {
      spark.sql("DROP TABLE IF EXISTS dedup_idx")
      spark.sql("DROP TABLE IF EXISTS dedup_idx2")
    }
  }

  test("MinhashDedupIndex.delete: generation bump, sidecar compaction, a " +
    "component split, and append-after-delete all through the adapter") {
    val s = spark; import s.implicits._
    val dir = Files.createTempDirectory("dedup_idx_del")
    try {
      // the bridge corpus from DedupSpec's split case: {1,2}≈A, {10,11}≈C,
      // doc 5 = half A + half C bridges them into one component
      val a = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
      val c = "november oscar papa quebec romeo sierra tango uniform victor whiskey xray yankee"
      val bridge = (a.split(" ").take(6) ++ c.split(" ").take(6)).mkString(" ")
      Seq((1L, a), (2L, a), (5L, bridge), (10L, c), (11L, c))
        .toDF("doc_id", "text").write.parquet(s"$dir/docs")
      val idx = graft.operators.MinhashDedupIndex(s"$dir/docs", "text",
        "doc_id", "dedup_del_t", s"$dir/idx", buckets = 2)
      idx.create(s)
      val before = DedupIndex.relabel(s, "dedup_del_t")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(before === Map(1L -> 1L, 2L -> 1L, 5L -> 1L, 10L -> 1L, 11L -> 1L))

      val labels = idx.delete(s, Seq(5L).toDF("doc_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(labels === Map(1L -> 1L, 2L -> 1L, 10L -> 10L, 11L -> 10L),
        s"deleting the bridge through the adapter must split, got $labels")
      // the generation flipped: content() no longer holds the tombstoned doc
      assert(idx.content(s).filter(col("doc_id") === 5L).isEmpty)
      // the sidecar compacted with it (relabel reads it, no text touched)
      val again = DedupIndex.relabel(s, "dedup_del_t_g1")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(again === labels)

      // the lifecycle continues: a post-delete append is probe-visible
      // and folds into the post-delete clusters
      val pre = graft.operators.ZoneMap.dataFiles(s, s"$dir/docs").toSet
      Seq((20L, a)).toDF("doc_id", "text")
        .write.mode("append").parquet(s"$dir/docs")
      idx.append(s, graft.operators.ZoneMap.dataFiles(s, s"$dir/docs")
        .filterNot(pre).toSeq)
      val after = DedupIndex.relabel(s, "dedup_del_t_g1")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(after === Map(1L -> 1L, 2L -> 1L, 20L -> 1L, 10L -> 10L, 11L -> 10L),
        s"post-delete append must fold into the A cluster, got $after")
    } finally {
      spark.sql("DROP TABLE IF EXISTS dedup_del_t")
      spark.sql("DROP TABLE IF EXISTS dedup_del_t_g1")
    }
  }

  test("relabelScoped in x92's shape: the driver arm answers in " +
    s"at most $X92DriverMaxJobs jobs, and both arms cluster as from scratch") {
    val s = spark
    val dir = Files.createTempDirectory("dedup_idx_x92")
    try {
      // x92's shape: a bucketed index with its sigs sidecar, the persisted
      // pre-deletion fixpoint on Parquet, every doc_id % 10 == 3 tombstoned
      val docs = batchA.unionByName(batchB)
      DedupIndex.create(docs, "text", "doc_id", "dedup_x92", s"$dir/fp", buckets = 8)
      DedupIndex.relabel(s, "dedup_x92").write.parquet(s"$dir/labels")
      val tombs = docs.filter(col("doc_id") % 10 === 3).select("doc_id")
      def run(arm: Dedup.Arm): (Int, Map[Long, Long]) = {
        var got = Map.empty[Long, Long]
        val jobs = MaintenanceFixture.jobsOf(s)(Dedup.arm.withValue(arm) {
          got = DedupIndex.relabelScoped(s, "dedup_x92", tombs,
            s.read.parquet(s"$dir/labels"), materialize = false)
            .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        })
        (jobs, got)
      }
      val (driverJobs, driver) = run(Dedup.Arm.Driver)
      val (_, dist) = run(Dedup.Arm.Broadcast)
      val want = Dedup.connectedComponents(Dedup.minhashCandidates(
        docs.filter(col("doc_id") % 10 =!= 3), "text", "doc_id"), "doc_a", "doc_b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(want.nonEmpty)
      assert(driver === want && dist === want)
      assert(driverJobs <= X92DriverMaxJobs, s"the driver arm ran $driverJobs jobs")
    } finally spark.sql("DROP TABLE IF EXISTS dedup_x92")
  }
}
