package graft.llm

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The label table's MERGE-ON-READ lifecycle as a library verb
  * (VERDICT r15 ask #5): [[Dedup.relabelScopedDelta]]'s scaladoc
  * prescribes "store the delta beside the label table and fold at
  * compaction cadence", and round 15's ScaleSmoke interleave stage did
  * exactly that inline — but every consumer had to re-derive the
  * stitch discipline by hand. This object owns it:
  *
  *  - `base`   — the folded (node, label) parquet (one row per
  *    clustered doc; singletons don't appear — the CC convention).
  *  - `delta/seq=N` — per-batch CHANGED rows: the recomputed labels of
  *    every retained member of the batch's touched components.
  *  - `drop/seq=N`  — per-batch dropped LABELS: the touched
  *    components' pre-batch label ids. The stitch is label-based, not
  *    node-based, because a touched member that became a SINGLETON
  *    after a split legitimately vanishes from the label table — a
  *    node-level stitch could never drop it.
  *  - `tombs/seq=N` — the batch's tombstoned node ids (the sidecar
  *    consumers like a sigs/index merge-on-read view anti-join).
  *
  * [[read]] folds base through the batches IN SEQUENCE: drop each
  * batch's labels, union its delta. Correctness rests on the drop
  * invariant every writer maintains — '''a dropped label's surviving
  * rows are all present in that batch's delta''' — which holds for
  * [[appendDelete]] by the scoping theorem (the delta recomputes ALL
  * retained members of touched components, Dedup.relabelScopedFromSigs)
  * and for [[appendChanged]] because min-label components relabel
  * atomically (two nodes of one label always change together).
  *
  * Scale: a takedown's WRITE cost is O(touched) — the delta and drop
  * sets (ScaleSmoke's scopeddelete stage measures the gap to the
  * stitched-table write); [[read]] costs the base scan plus one
  * anti-join+union per outstanding batch, bounded by [[compact]]
  * cadence — the same merge-on-read economics every index here uses.
  * Single-writer discipline, like every metadata sidecar in this repo.
  */
object LabelStore {

  private def basePath(dir: String) = s"$dir/base"

  /** The schemas the writers below produce. Reads name them instead of
    * inferring them: Parquet schema inference is a Spark job per path,
    * and [[read]] opens the base plus two paths per outstanding batch.
    */
  private val LabelSchema = "node BIGINT, label BIGINT"
  private val DropSchema = "label BIGINT"

  private def fs(spark: SparkSession, p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def pathExists(spark: SparkSession, p: String): Boolean =
    fs(spark, p).exists(new Path(p))

  def exists(spark: SparkSession, dir: String): Boolean =
    pathExists(spark, basePath(dir))

  private def norm(labels: DataFrame): DataFrame =
    labels.select(col("node").cast("long").as("node"),
        col("label").cast("long").as("label"))
      .filter(col("node").isNotNull && col("label").isNotNull)

  /** Outstanding delta batch seqs, in fold order. */
  private[llm] def seqs(spark: SparkSession, dir: String): Seq[Int] = {
    val p = new Path(s"$dir/delta")
    val f = fs(spark, dir)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).collect {
      case st if st.isDirectory && st.getPath.getName.startsWith("seq=") =>
        st.getPath.getName.stripPrefix("seq=").toInt
    }.toSeq.sorted
  }

  /** Initialize (or re-anchor) the store: `labels` becomes the folded
    * base and any outstanding deltas are cleared — the CREATE verb's
    * "describe only the new truth" rule every index here follows.
    */
  def create(spark: SparkSession, dir: String, labels: DataFrame): Unit = {
    // `labels` may read the very files the new base replaces (a
    // re-create from read()), so it is written beside the base and
    // swapped in after the write: one job, where an eager checkpoint
    // before an in-place overwrite took two
    val next = new Path(s"$dir/base.next")
    norm(labels).write.mode("overwrite").parquet(next.toString)
    val f = fs(spark, dir)
    f.delete(new Path(basePath(dir)), true)
    if (!f.rename(next, new Path(basePath(dir))))
      throw new java.io.IOException(s"could not move $next to ${basePath(dir)}")
    Seq("delta", "drop", "tombs").foreach { d =>
      f.delete(new Path(s"$dir/$d"), true)
    }
  }

  /** The current label table — base folded through every outstanding
    * batch in sequence. One broadcast-gated anti-join + union per
    * batch; [[compact]] bounds the chain length.
    */
  def read(spark: SparkSession, dir: String): DataFrame = {
    val base = spark.read.schema(LabelSchema).parquet(basePath(dir))
    val ss = seqs(spark, dir)
    if (ss.isEmpty) base
    else {
      // one broadcast gate for the whole chain: drop sets are
      // touched-label-sized (takedown batches), but a mass delete must
      // degrade to shuffle joins, not a driver OOM. Gated on the drop
      // dirs' TOTAL FILE BYTES (a driver-side listing — read() is on
      // the per-batch hot path and must not pay a count job per
      // outstanding batch); 64 MB of parquet'd labels is far under
      // any broadcast limit and far over any takedown's touched set.
      val f = fs(spark, dir)
      val dropBytes = ss.map(n =>
        f.getContentSummary(new Path(s"$dir/drop/seq=$n")).getLength).sum
      ss.foldLeft(base) { (acc, n) =>
        val drop0 = spark.read.schema(DropSchema).parquet(s"$dir/drop/seq=$n")
        val drop = if (dropBytes <= 64L * 1024 * 1024) broadcast(drop0)
                   else drop0
        acc.join(drop, Seq("label"), "left_anti")
          .unionByName(spark.read.schema(LabelSchema).parquet(s"$dir/delta/seq=$n"))
      }.select("node", "label") // the label-join key moved to the front
    }
  }

  /** Accumulated tombstoned node ids since the last [[create]]/
    * [[compact]] — the sidecar a sigs/index merge-on-read view
    * anti-joins. Empty frame (schema: node long) when none.
    */
  def tombstones(spark: SparkSession, dir: String): DataFrame = {
    val p = s"$dir/tombs"
    if (pathExists(spark, p)) spark.read.option("basePath", p).parquet(p)
      .select("node").distinct()
    else {
      val spark2 = spark; import spark2.implicits._
      Seq.empty[Long].toDF("node")
    }
  }

  /** Apply a DELETION batch at O(touched) write cost: the scoped
    * relabel's parts are computed against the store's current view,
    * and only the delta (recomputed touched-component rows), the drop
    * set (touched labels), and the tombstones land on disk — never the
    * stitched table ([[Dedup.relabelScopedDelta]]'s prescription, now
    * owned by the store).
    *
    * @param sigs the doc-level (idCol, sig) relation, tombstoned rows
    *   still present (they are excluded by the scoping internally).
    */
  def appendDelete(spark: SparkSession, dir: String, sigs: DataFrame,
                   tombstones: DataFrame, idCol: String,
                   minEstE6: Long = 250000L): Unit =
    appendDelete(spark, dir, sigs, tombstones, idCol, minEstE6,
      read(spark, dir))

  /** [[appendDelete]] against a caller-held current view — the
    * hot-loop overload: a maintenance loop that just computed
    * [[read]] for its own consumers passes it in instead of paying
    * the stitch plan construction (and its listing) again per batch.
    */
  def appendDelete(spark: SparkSession, dir: String, sigs: DataFrame,
                   tombstones: DataFrame, idCol: String,
                   minEstE6: Long, current: DataFrame): Unit = {
    val n = seqs(spark, dir).lastOption.getOrElse(-1) + 1
    val parts = Dedup.scopedParts(sigs, tombstones, current, idCol,
      materialize = false)
    // the delta reads the label state the writes below extend — land
    // it before anything else moves (the compact rule, O(touched)); a
    // driver union-find result is landed already
    val delta = Dedup.materialized(Dedup.connectedComponents(
        Dedup.candidatesFromSigs(parts.slice, idCol, minEstE6,
          assumeUnique = true), "doc_a", "doc_b"))
    delta.write.parquet(s"$dir/delta/seq=$n")
    parts.touchedLabels.write.parquet(s"$dir/drop/seq=$n")
    // the scoping's distinct long node ids, measured and materialized
    parts.dead.frame.write.parquet(s"$dir/tombs/seq=$n")
  }

  /** Append a PRECOMPUTED (delta, dropLabels) batch — the zero-diff
    * writer for producers that emit the changed rows directly
    * ([[Dedup.incrementalComponentsDelta]] for additions;
    * [[Dedup.relabelScopedDelta]] + its touched labels for deletions
    * when the caller manages tombstones itself). The caller owns the
    * drop invariant: every surviving row of a dropped label must be in
    * `delta`.
    */
  def appendDelta(spark: SparkSession, dir: String, delta: DataFrame,
                  dropLabels: DataFrame): Unit = {
    val n = seqs(spark, dir).lastOption.getOrElse(-1) + 1
    norm(delta).write.parquet(s"$dir/delta/seq=$n")
    dropLabels.select(col("label").cast("long").as("label")).distinct()
      .write.parquet(s"$dir/drop/seq=$n")
  }

  /** Fold an ADDITIONS batch's updated label table in at
    * O(changed-rows) write cost: `newLabels` is the post-fold fixpoint
    * (e.g. [[Dedup.incrementalComponents]]' output over the store's
    * current view); the delta is the rows that changed or are new, the
    * drop set their PRE-batch labels (safe because min-label
    * components relabel atomically — a dropped label's unchanged rows
    * cannot exist). Additions only: a node present in the store but
    * absent from `newLabels` is the DELETE path's business
    * ([[appendDelete]]), not this verb's.
    */
  def appendChanged(spark: SparkSession, dir: String,
                    newLabels: DataFrame): Unit =
    appendChanged(spark, dir, newLabels, read(spark, dir))

  /** [[appendChanged]] against a caller-held current view (the
    * hot-loop overload, like [[appendDelete]]'s).
    */
  def appendChanged(spark: SparkSession, dir: String,
                    newLabels: DataFrame, current: DataFrame): Unit = {
    val n = seqs(spark, dir).lastOption.getOrElse(-1) + 1
    val delta = norm(newLabels)
      .join(current, Seq("node", "label"), "left_anti")
      .localCheckpoint(true)
    delta.write.parquet(s"$dir/delta/seq=$n")
    // single consumer (its own write) — no checkpoint job needed
    current.join(delta.select("node"), Seq("node"), "left_semi")
      .select("label").distinct()
      .write.parquet(s"$dir/drop/seq=$n")
  }

  /** Fold the outstanding batches into the base and clear them — the
    * compaction-cadence pass; [[read]] answers identically before and
    * after (LabelStoreSpec pins it).
    */
  def compact(spark: SparkSession, dir: String): Unit =
    create(spark, dir, read(spark, dir))
}
