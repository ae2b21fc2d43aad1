package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental dedup maintenance, one CDC batch at a time: the one
  * batch verb st29 and st30 run. The labels live in the [[LabelStore]]
  * at `dir`; the doc-level (doc_id, sig) signatures and the
  * signature-distinct band index ([[Dedup.bandIndexDistinctFromSigs]])
  * are session checkpoints, folded here batch by batch. Each verb it
  * calls takes its driver arm for a batch-sized slice ([[Dedup.arm]]).
  *
  * @param sigs the corpus' doc-level signatures, the state `dir`'s
  *   labels cluster
  * @param index the signature-distinct band index of `sigs`
  */
final class DedupMaintenance(spark: SparkSession, val dir: String,
                             private var sigs0: DataFrame, private var index0: DataFrame) {

  /** The current doc-level signatures of the live docs. */
  def sigs: DataFrame = sigs0
  /** The current signature-distinct band index. */
  def index: DataFrame = index0

  /** One batch: `addSigs` (doc_id, sig), checkpointed by the caller,
    * are probed against the index and each other, their components
    * folded into the store (one log seq) and their signatures into the
    * sigs and the index; then the `dels` (doc_id) are tombstoned: the
    * scoped delete appends its seq, the index re-elects the dead
    * representatives' groups and the sigs drop the dead rows. An id
    * may be deleted before a later batch adds it.
    */
  def apply(addSigs: Option[DataFrame], dels: Option[DataFrame]): Unit = {
    addSigs.foreach { add =>
      val edges = Dedup.incrementalCandidatesFromSigs(add, index0, "doc_id")
        .select(col("new_id").as("doc_a"), col("old_id").as("doc_b"))
        .unionByName(Dedup.candidatesFromSigs(add, "doc_id", materialize = false,
          assumeUnique = true).select("doc_a", "doc_b"))
      // the store's view is parquet-backed: no checkpoint before the fold
      val (chg, dropped) = Dedup.incrementalComponentsDelta(
        LabelStore.read(spark, dir), edges, "doc_a", "doc_b", materialize = false)
      LabelStore.appendDelta(spark, dir, chg, dropped)
      sigs0 = sigs0.unionByName(add).localCheckpoint(true)
      // the fold keeps a recurring signature's existing representative,
      // so the index gains no row per batch for it
      index0 = Dedup.foldIndexDistinct(index0,
        Dedup.bandIndexDistinctFromSigs(add, "doc_id"), "doc_id").localCheckpoint(true)
    }
    dels.foreach { d =>
      LabelStore.appendDelete(spark, dir, sigs0, d, "doc_id")
      index0 = Dedup.deleteFromIndexDistinct(index0, sigs0, d, "doc_id").localCheckpoint(true)
      sigs0 = sigs0.join(d, Seq("doc_id"), "left_anti").localCheckpoint(true)
    }
  }

  /** Fold the store's log into its base ([[LabelStore.compact]]). */
  def compact(): Unit = LabelStore.compact(spark, dir)
}

object DedupMaintenance {

  /** Write the base state of a corpus' (doc_id, sig) `sigs` under
    * `root`: the sigs, their signature-distinct index and their
    * from-scratch clustering, each on Parquet.
    */
  def writeState(root: String, sigs: DataFrame): Unit = {
    val s = sigs.localCheckpoint(true)
    s.write.parquet(s"$root/sigs")
    Dedup.connectedComponents(Dedup.candidatesFromSigs(s, "doc_id",
      assumeUnique = true), "doc_a", "doc_b").write.parquet(s"$root/labels")
    Dedup.bandIndexDistinctFromSigs(s, "doc_id").write.parquet(s"$root/index")
  }

  /** A maintenance over the state [[writeState]] wrote at `root`, with
    * its store created at `storeDir` from the state's labels. The
    * batches mutate the store only: the state stays read-only.
    */
  def create(spark: SparkSession, root: String, storeDir: String): DedupMaintenance = {
    LabelStore.create(spark, storeDir, spark.read.parquet(s"$root/labels"))
    new DedupMaintenance(spark, storeDir, spark.read.parquet(s"$root/sigs"),
      spark.read.parquet(s"$root/index"))
  }
}
