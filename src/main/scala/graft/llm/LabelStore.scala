package graft.llm

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The label table's MERGE-ON-READ lifecycle as a library verb
  * (VERDICT r15 ask #5): a deletion's recomputed rows
  * ([[Dedup.ScopedDelete.delta]]) are stored beside the label table and
  * folded at compaction cadence, and round 15's ScaleSmoke interleave
  * stage did exactly that inline — but every consumer had to re-derive
  * the stitch discipline by hand. This object owns it, and is the only
  * code that knows the layout on disk:
  *
  *  - `base` — the folded (node, label) parquet (one row per
  *    clustered doc; singletons don't appear — the CC convention).
  *  - `delta/seq=N` — batch N of the LOG: one parquet directory of
  *    (node, label, kind) rows, written by one job. `kind` is
  *    - `delta`: a CHANGED row — the recomputed label of every
  *      retained member of the batch's touched components;
  *    - `drop`: a dropped LABEL (node null) — the touched components'
  *      pre-batch label ids. The stitch is label-based, not
  *      node-based, because a touched member that became a SINGLETON
  *      after a split legitimately vanishes from the label table — a
  *      node-level stitch could never drop it;
  *    - `tomb`: a tombstoned node id (label null) — the sidecar
  *      consumers like a sigs/index merge-on-read view anti-join.
  *
  * [[read]] answers as if it folded base through the batches IN
  * SEQUENCE — drop each batch's labels, then union its delta — in one
  * join: a row of seq s (base rows are seq -1) survives unless its
  * label is dropped at a LATER seq. Correctness rests on the drop
  * invariant every writer maintains — '''a dropped label's surviving
  * rows are all present in that batch's delta''' — which holds for
  * [[appendDelete]] by the scoping theorem (the delta recomputes ALL
  * retained members of touched components, Dedup.scopedDelete)
  * and for [[Dedup.incrementalComponentsDelta]]'s output because
  * min-label components relabel atomically (two nodes of one label
  * always change together).
  *
  * Scale: a takedown's WRITE cost is O(touched) — the delta and drop
  * sets (ScaleSmoke's scopeddelete stage measures the gap to the
  * stitched-table write); [[read]] costs the base and log scans plus
  * one broadcast-gated join, whatever the number of outstanding
  * batches; [[compact]] cadence bounds the log's size — the same
  * merge-on-read economics every index here uses. Single-writer
  * discipline, like every metadata sidecar in this repo.
  *
  * A store written in the earlier three-directory layout (`delta/`,
  * `drop/` and `tombs/` per batch) is refused while it holds
  * outstanding batches: its delta rows carry no `kind`. A created or
  * compacted store holds only `base` in both layouts and reads
  * unchanged.
  */
object LabelStore {

  private def basePath(dir: String) = s"$dir/base"
  private def logPath(dir: String) = s"$dir/delta"

  /** Directories only the three-directory layout wrote. */
  private val LegacyDirs = Seq("drop", "tombs")

  /** The schemas the writers below produce. Reads name them instead of
    * inferring them: Parquet schema inference is a Spark job per path.
    * `seq` is the log's partition column, found by partition discovery.
    */
  private val LabelSchema = "node BIGINT, label BIGINT"
  private val LogSchema = "node BIGINT, label BIGINT, kind STRING, seq INT"

  private def fs(spark: SparkSession, p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def pathExists(spark: SparkSession, p: String): Boolean =
    fs(spark, p).exists(new Path(p))

  def exists(spark: SparkSession, dir: String): Boolean =
    pathExists(spark, basePath(dir))


  /** Outstanding batch seqs, in fold order. */
  private[llm] def seqs(spark: SparkSession, dir: String): Seq[Int] = {
    val p = new Path(logPath(dir))
    val f = fs(spark, dir)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).collect {
      case st if st.isDirectory && st.getPath.getName.startsWith("seq=") =>
        st.getPath.getName.stripPrefix("seq=").toInt
    }.toSeq.sorted
  }

  /** Fail on a three-directory store with outstanding batches: its
    * delta rows have no `kind`, so [[read]] would silently lose them.
    */
  private def requireLogLayout(spark: SparkSession, dir: String): Unit =
    LegacyDirs.find(d => pathExists(spark, s"$dir/$d")).foreach { d =>
      throw new IllegalStateException(s"label store $dir holds outstanding " +
        s"batches in the old three-directory layout ($dir/$d exists): " +
        "compact it with the release that wrote it, or re-create it")
    }

  /** Initialize (or re-anchor) the store: `labels` becomes the folded
    * base and any outstanding batches are cleared — the CREATE verb's
    * "describe only the new truth" rule every index here follows.
    */
  def create(spark: SparkSession, dir: String, labels: DataFrame): Unit = {
    // `labels` may read the very files the new base replaces (a
    // re-create from read()), so it is written beside the base and
    // swapped in after the write: one job, where an eager checkpoint
    // before an in-place overwrite took two
    val next = new Path(s"$dir/base.next")
    Dedup.canonicalLabels(labels).write.mode("overwrite").parquet(next.toString)
    val f = fs(spark, dir)
    f.delete(new Path(basePath(dir)), true)
    if (!f.rename(next, new Path(basePath(dir))))
      throw new java.io.IOException(s"could not move $next to ${basePath(dir)}")
    (logPath(dir) +: LegacyDirs.map(d => s"$dir/$d"))
      .foreach(p => f.delete(new Path(p), true))
  }

  /** The log's rows under the named schema (no inference job). */
  private def log(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(LogSchema).parquet(logPath(dir))

  /** The current label table — base folded through every outstanding
    * batch in sequence, as ONE join of (base ∪ the log's deltas)
    * against the log's drops. The plan has one shape for any number
    * of outstanding batches; [[compact]] bounds the log's size.
    */
  def read(spark: SparkSession, dir: String): DataFrame = {
    requireLogLayout(spark, dir)
    val base = spark.read.schema(LabelSchema).parquet(basePath(dir))
    if (seqs(spark, dir).isEmpty) base
    else {
      val entries = log(spark, dir)
      val drops0 = entries.filter(col("kind") === "drop")
        .select(col("label").as("d_label"), col("seq").as("d_seq"))
      // drop sets are touched-label-sized (takedown batches), but a
      // mass delete must degrade to a shuffle join, not a driver OOM.
      // Gated on the log's FILE BYTES (a driver-side listing — read()
      // is on the per-batch hot path and must not pay a count job);
      // 64 MB of parquet'd labels is far under any broadcast limit and
      // far over any takedown's touched set.
      val logBytes = fs(spark, dir).getContentSummary(new Path(logPath(dir))).getLength
      val drops = if (logBytes <= 64L * 1024 * 1024) broadcast(drops0) else drops0
      // a row survives unless its label is dropped at a LATER seq: batch
      // N drops before it unions its own delta. An outer join plus a
      // null filter, not a left_anti join: the optimizer pushes an anti
      // join below the union, which broadcasts once per union leg
      base.withColumn("seq", lit(-1))
        .unionByName(entries.filter(col("kind") === "delta")
          .select("node", "label", "seq"))
        .join(drops, col("label") === col("d_label") && col("d_seq") > col("seq"),
          "left_outer")
        .filter(col("d_label").isNull)
        .select("node", "label")
    }
  }

  /** Accumulated tombstoned node ids since the last [[create]]/
    * [[compact]] — the sidecar a sigs/index merge-on-read view
    * anti-joins. Empty frame (schema: node long) when none.
    */
  def tombstones(spark: SparkSession, dir: String): DataFrame =
    if (seqs(spark, dir).nonEmpty)
      log(spark, dir).filter(col("kind") === "tomb").select("node").distinct()
    else {
      val spark2 = spark; import spark2.implicits._
      Seq.empty[Long].toDF("node")
    }

  /** Write the next batch of the log, `seq` one past the last, in one
    * job: the delta's (node, label) rows, the dropped labels and the
    * tombstoned node ids.
    */
  private def appendLog(spark: SparkSession, dir: String, delta: DataFrame,
                        dropLabels: DataFrame, tombs: DataFrame): Unit = {
    requireLogLayout(spark, dir)
    val n = seqs(spark, dir).lastOption.getOrElse(-1) + 1
    val noId = lit(null).cast("long")
    val rows = Dedup.canonicalLabels(delta).withColumn("kind", lit("delta"))
      .unionByName(dropLabels.select(noId.as("node"),
          col("label").cast("long").as("label"), lit("drop").as("kind"))
        .filter(col("label").isNotNull))
      .unionByName(tombs.select(col("node").cast("long").as("node"),
        noId.as("label"), lit("tomb").as("kind")))
    // a batch of driver-local rows (a driver arm's) is one task and one file
    (if (Seq(delta, dropLabels, tombs).forall(Dedup.isLocal)) rows.coalesce(1) else rows)
      .write.parquet(s"${logPath(dir)}/seq=$n")
  }

  /** Apply a DELETION batch at O(touched) write cost: the scoped
    * deletion kernel ([[Dedup.scopedDelete]]) runs against the store's
    * current view, and only its delta (recomputed touched-component
    * rows), its drop set (touched labels) and the tombstones land on
    * disk — never the stitched table. All three are landed before the
    * write (local relations on the driver arm, measured checkpoints
    * past it), so the write reads no label state it extends.
    *
    * @param sigs the doc-level (idCol, sig) relation, tombstoned rows
    *   still present (they are excluded by the scoping internally).
    */
  def appendDelete(spark: SparkSession, dir: String, sigs: DataFrame,
                   tombstones: DataFrame, idCol: String,
                   minEstE6: Long = 250000L): Unit = {
    val d = Dedup.scopedDelete(sigs, tombstones, read(spark, dir), idCol, minEstE6,
      materialize = false)
    appendLog(spark, dir, d.delta, d.touchedLabels.frame, d.dead.frame)
  }

  /** Append a PRECOMPUTED (delta, dropLabels) batch — the zero-diff
    * writer for producers that emit the changed rows directly
    * ([[Dedup.incrementalComponentsDelta]] for additions). The caller
    * owns the drop invariant: every surviving row of a dropped label
    * must be in `delta`.
    */
  def appendDelta(spark: SparkSession, dir: String, delta: DataFrame,
                  dropLabels: DataFrame): Unit = {
    val spark2 = spark; import spark2.implicits._
    appendLog(spark, dir, delta, dropLabels, Seq.empty[Long].toDF("node"))
  }

  /** Fold the outstanding batches into the base and clear them — the
    * compaction-cadence pass; [[read]] answers identically before and
    * after (LabelStoreSpec pins it).
    */
  def compact(spark: SparkSession, dir: String): Unit =
    create(spark, dir, read(spark, dir))
}
