package graft.llm

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSession

/** The per-batch job count of incremental dedup maintenance — the
  * production [[DedupMaintenance]] verb — in perfbench's
  * `dedup_maintain` shape: a corpus with exact and near
  * duplicates on Parquet, batches that add docs read from it by id,
  * delete live ids and ids a later batch adds, and compact the store.
  * A steady batch is small, so the maintenance verbs take their driver
  * arms and the batch's jobs stay under a fixed ceiling.
  */
class MaintenanceJobsSpec extends AnyFunSuite with SparkTestSession {

  /** Jobs a steady batch may run. With the driver arms off it runs 53. */
  private val SteadyBatchMaxJobs = 30

  test(s"a steady add/delete/compact batch runs at most $SteadyBatchMaxJobs jobs") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(11L)
    val vocab = (0 until 400).map(i => s"w$i")
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    (1 to 300).foreach { i =>
      val r = rnd.nextDouble()
      if (i > 1 && r < 0.08) texts += texts(rnd.nextInt(texts.size))
      else if (i > 1 && r < 0.16) {
        val toks = texts(rnd.nextInt(texts.size)).split(" ")
        toks(rnd.nextInt(toks.length)) = vocab(rnd.nextInt(vocab.size))
        texts += toks.mkString(" ")
      } else texts += Seq.fill(20 + rnd.nextInt(30))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    val root = graft.core.Scratch.dir("maintenance-jobs")
    texts.toSeq.zipWithIndex.map { case (t, i) => (i + 1L, t) }.toDF("doc_id", "text")
      .write.parquet(s"$root/corpus")
    val corpus = s.read.parquet(s"$root/corpus")
    val m = MaintenanceFixture.build(s, root,
      Dedup.docSigs(corpus.filter(col("doc_id") <= 200L), "text", "doc_id"))
    def batch(adds: Range, dels: Seq[Long]): Unit = {
      val add = Dedup.docSigs(corpus.filter(col("doc_id").isin(adds.map(_.toLong): _*)),
        "text", "doc_id").localCheckpoint(true)
      m(Some(add), Some(dels.toDF("doc_id")))
      m.compact()
    }
    batch(201 to 240, Seq(3L, 17L, 40L, 41L, 99L, 250L, 260L))
    val jobs = MaintenanceFixture.jobsOf(s)(
      batch(241 to 280, Seq(5L, 18L, 120L, 203L, 210L, 290L, 295L)))
    // and the batches maintained the clustering a from-scratch run gives
    // 250 and 260 were tombstoned before the second batch added them
    val live = ((1L to 280L).toSet -- Seq(3L, 17L, 40L, 41L, 99L,
      5L, 18L, 120L, 203L, 210L)).toSeq.toDF("doc_id")
    val want = Dedup.connectedComponents(Dedup.minhashCandidates(
      corpus.join(live, Seq("doc_id")), "text", "doc_id"), "doc_a", "doc_b")
    def labels(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels(LabelStore.read(s, m.dir)) === labels(want))
    assert(jobs <= SteadyBatchMaxJobs, s"the steady batch ran $jobs jobs")
  }
}
