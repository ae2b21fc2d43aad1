package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental dedup maintenance in st30's per-batch shape, the shape
  * perfbench's `dedup_maintain` runs: the labels live in a LabelStore,
  * the doc-level signatures and the signature-distinct band index are
  * checkpointed frames. The maintenance specs drive it with batches of
  * precomputed signatures.
  */
final class MaintenancePipeline(spark: SparkSession, root: String) {
  import spark.implicits._

  val store: String = s"$root/store"
  var sigs: DataFrame = _
  var index: DataFrame = _

  /** The base build: clusters, signatures and index, then the store. */
  def build(baseSigs: DataFrame): Unit = {
    val s = baseSigs.localCheckpoint(true)
    s.write.parquet(s"$root/sigs")
    Dedup.bandIndexDistinctFromSigs(s, "doc_id").write.parquet(s"$root/index")
    LabelStore.create(spark, store, Dedup.connectedComponents(
      Dedup.candidatesFromSigs(s, "doc_id", assumeUnique = true), "doc_a", "doc_b"))
    sigs = spark.read.parquet(s"$root/sigs")
    index = spark.read.parquet(s"$root/index")
  }

  /** One CDC batch: `addSigs` (checkpointed by the caller, or None) are
    * probed and folded, then the `dels` ids are tombstoned; `compact`
    * folds the store's log afterwards.
    */
  def apply(addSigs: Option[DataFrame], dels: Seq[Long], compact: Boolean): Unit = {
    addSigs.foreach { add =>
      val delta = Dedup.incrementalCandidatesFromSigs(add, index, "doc_id")
        .select(col("new_id").as("doc_a"), col("old_id").as("doc_b"))
        .unionByName(Dedup.candidatesFromSigs(add, "doc_id", materialize = false,
          assumeUnique = true).select("doc_a", "doc_b"))
      val (chg, dropped) = Dedup.incrementalComponentsDelta(
        LabelStore.read(spark, store), delta, "doc_a", "doc_b", materialize = false)
      LabelStore.appendDelta(spark, store, chg, dropped)
      sigs = sigs.unionByName(add).localCheckpoint(true)
      index = Dedup.foldIndexDistinct(index,
        Dedup.bandIndexDistinctFromSigs(add, "doc_id"), "doc_id").localCheckpoint(true)
    }
    if (dels.nonEmpty) {
      val d = dels.toDF("doc_id")
      LabelStore.appendDelete(spark, store, sigs, d, "doc_id")
      index = Dedup.deleteFromIndexDistinct(index, sigs, d, "doc_id").localCheckpoint(true)
      sigs = sigs.join(d, Seq("doc_id"), "left_anti").localCheckpoint(true)
    }
    if (compact) LabelStore.compact(spark, store)
  }
}

object MaintenancePipeline {

  /** Jobs `body` runs, counted by job group. Listener delivery is
    * asynchronous but in order, so a marker job run afterwards bounds
    * the wait for the body's events.
    */
  def jobsOf(spark: SparkSession)(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup("maintenance-body", "body"); body
      sc.setJobGroup("maintenance-marker", "marker")
      sc.parallelize(Seq(1), 1).count()
      sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!groups.contains("maintenance-marker") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(groups.contains("maintenance-marker"), "listener never saw the marker")
      groups.toArray.count(_ == "maintenance-body")
    } finally { sc.clearJobGroup(); sc.removeSparkListener(l) }
  }
}
