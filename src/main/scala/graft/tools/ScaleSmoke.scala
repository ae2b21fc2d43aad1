package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.llm.{Dedup, LabelStore, Similarity, TextFunctions => TF}
import graft.core.GraftSession.withConf
import graft.operators.CmSketch

/** Dev harness: do the heavy operator families keep their shape at
  * N× the largest local testdata? Builds synthetic corpora by
  * unioning each sf table `mult` times with id offsets (each copy's
  * ids shifted into its own range by a stride derived from the
  * MEASURED max id, so every near-dup cluster recurs in every copy
  * AND cross-copy exact duplicates exist — a harder instance than
  * the base table, with a known structure), writes them as parquet,
  * then times each family's heaviest pipeline stage and reports the
  * counts that explain the time (candidate pairs, state rows,
  * scanned lists) plus driver heap — growth must be attributable to
  * OUTPUT growth, and nothing may accumulate on the driver.
  *
  * Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *          tools/run.sh graft.tools.ScaleSmoke [mult] [stage...]
  * stages: dedup prefix ivfpq bpe stream theta cm skew shardstate
  *         spike planning selection temporal ordering bloom dpp
  *         quality fullouter bloomstream advisor ivfpqindex inccc
  *         delete streammaint anndelete
  *         (default: all)
  *
  * This is measurement tooling, not a correctness gate (the oracle
  * queries cover that at sf0.01) — it exists to answer "does the
  * shape hold when the input grows 10×/20×" with numbers instead of
  * an argument (VERDICT r7 ask #1):
  *   - dedup: candidate pairs come from band-bucket equi-joins (never
  *     all-pairs; pair growth is the known duplicate structure's own
  *     quadratic answer, which the count makes explicit), CC rounds
  *     stay O(log d), nothing driver-side above the gated union-find.
  *   - prefix (x70): candidates = Σ df² over prefix tokens only;
  *     the probe-side form's answer grows linearly in copies while
  *     the corpus-side index work grows linearly in corpus.
  *   - ivfpq (x41): centroids + codebooks are sample-sized constants
  *     (broadcast); query cost = the probes' nprobe inverted lists,
  *     a constant FRACTION of the corpus — linear scan growth, k-
  *     bounded output, zero growth in driver-collected structures.
  *   - bpe (x65/x67): merge learning folds the VOCABULARY (constant
  *     across copies — the count proves it), so learn cost is flat;
  *     encode cost is one broadcast join + partial agg over the
  *     corpus — linear.
  *   - stream (st02's shape): a file-source windowed aggregation
  *     with watermark over event-time-ordered batches; state rows
  *     must plateau at the windows-within-horizon bound instead of
  *     growing with total input, and per-batch exec time must stay
  *     flat from first to last batch.
  *   - theta (x71's shape): per-source KMV sketches must be
  *     BIT-IDENTICAL at every mult (copies add no new grams; the
  *     checksum proves it) and the overlap matrix flat.
  *   - cm (q60's shape): counters are fixed d·w at every mult, the
  *     estimate exactly linear in copies (merge is addition), and
  *     the inner product flat.
  */
object ScaleSmoke {

  private def heapMb(): Long = {
    val rt = Runtime.getRuntime
    (rt.totalMemory() - rt.freeMemory()) / (1024 * 1024)
  }

  private def timed[A](name: String)(f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"$name%-28s $sec%8.2f s   (driver heap ${heapMb()} MB)")
    (r, sec)
  }

  /** Union `mult` copies of `df` with `idCol` shifted by a stride
    * derived from the measured max id (ADVICE r7: a fixed stride
    * silently collides once the base ids reach it), written to
    * parquet so every stage reads a real on-disk corpus.
    */
  private def scaled(df: DataFrame, idCol: String, mult: Int,
                     out: String): DataFrame = {
    val spark = df.sparkSession
    val stride = df.agg(max(idCol)).head().getLong(0) + 1L
    (0 until mult).map { c =>
      df.withColumn(idCol, col(idCol) + lit(c.toLong * stride))
    }.reduce(_ union _)
      .repartition(32).write.mode("overwrite").parquet(out)
    spark.read.parquet(out)
  }

  def main(args: Array[String]): Unit = {
    val mult = args.headOption.map(_.toInt).getOrElse(10)
    val stages0 = args.drop(1).toSet
    val stages = if (stages0.isEmpty)
      Set("dedup", "prefix", "ivfpq", "bpe", "stream", "theta", "cm", "skew",
        "shardstate", "spike", "planning", "selection", "temporal", "ordering")
    else stages0
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // smaller memory pages: 32 concurrent tasks share one 8 GB heap's
    // execution pool (~90 MB/task at high mult), and a hash aggregate
    // that cannot acquire its FIRST 64 MB page dies with
    // AGGREGATE_OUT_OF_MEMORY instead of spilling — the 100× CC rounds
    // hit exactly this (SCALE_r12). 4 MB pages let every task make
    // progress and spill normally; a real deployment sizes
    // executor cores/memory so this ratio never gets this tight.
    System.setProperty("spark.buffer.pageSize", "4m")
    val spark = graft.core.GraftSession.local("scale-smoke", cpus)
    spark.sparkContext.setLogLevel("WARN")
    // size shuffle partitions to the data, exactly the knob a 100 TB
    // deployment turns: at 100x the 32-partition default leaves each
    // task a 100x-bigger partition slice of a fixed 8 GB heap — the
    // first 100x attempt OOM'd in the minhash band join for exactly
    // this reason (SCALE_r12)
    val shuffleParts = math.max(32, 32 * mult / 25)
    spark.conf.set("spark.sql.shuffle.partitions", shuffleParts.toString)
    println(s"shuffle partitions: $shuffleParts (scaled to mult $mult, $cpus cores)")
    val tmp = s"/tmp/graft_scale_smoke_x$mult"

    lazy val docsAndStride: (DataFrame, Long) = {
      val base = graft.queries.Tables.documents(spark, sfDir)
        .select("doc_id", "text")
      val stride = base.agg(max("doc_id")).head().getLong(0) + 1L
      val d = scaled(base, "doc_id", mult, s"$tmp/documents")
      println(s"documents: ${d.count()} ($mult x ${base.count()})")
      (d, stride)
    }
    def docs = docsAndStride._1
    def docStride = docsAndStride._2

    if (stages("dedup")) dedupStage(docs, tmp)
    if (stages("prefix")) prefixStage(docs, docStride)
    if (stages("ivfpq")) ivfpqStage(spark, sfDir, mult, tmp)
    if (stages("bpe")) bpeStage(docs)
    if (stages("stream")) streamStage(spark, sfDir, mult, tmp)
    if (stages("theta")) thetaStage(spark, sfDir, mult, tmp)
    if (stages("cm")) cmStage(spark, sfDir, mult, tmp)
    if (stages("skew")) skewStage(spark, sfDir, mult, tmp)
    if (stages("shardstate")) shardStateStage(spark, sfDir, mult, tmp)
    if (stages("spike")) spikeSkewStage(spark, sfDir, mult, tmp)
    if (stages("planning")) planningStage(spark, sfDir, mult, tmp)
    if (stages("selection")) selectionStage(spark, sfDir, mult, tmp, docs)
    if (stages("temporal")) temporalStage(spark, sfDir, mult, tmp)
    if (stages("ordering")) orderingStage(spark, sfDir, mult, tmp, docs)
    if (stages("bloom")) bloomStage(spark, sfDir, mult, tmp)
    if (stages("dpp")) dppStage(spark, sfDir, mult, tmp)
    if (stages("quality")) qualityStage(docs)
    if (stages("fullouter")) fullOuterStage(spark, sfDir, mult, tmp)
    if (stages("bloomstream")) bloomStreamStage(spark, sfDir, mult, tmp)
    if (stages("advisor")) advisorStage(spark, sfDir, mult, tmp)
    if (stages("ivfpqindex")) ivfpqIndexStage(spark, sfDir, mult, tmp)
    if (stages("inccc")) incCcStage(docs, tmp, mult, docStride)
    if (stages("delete")) deleteStage(docs, tmp)
    if (stages("streammaint")) streamMaintStage(docs, tmp, mult, docStride)
    if (stages("anndelete")) annDeleteStage(spark, sfDir, mult, tmp)
    if (stages("scopeddelete")) scopedDeleteStage(spark, sfDir, mult, tmp)
    if (stages("interleave")) interleaveStage(spark, sfDir, mult, tmp)
    if (stages("dispatchsweep")) dispatchSweepStage(spark, sfDir, mult, tmp)
    if (stages("perceptual")) perceptualStage(spark, sfDir, mult, tmp)

    println(s"final driver heap: ${heapMb()} MB")
    spark.stop()
  }

  /** A mult-scaled documents corpus whose TAKEDOWN-POOL components are
    * mult-INDEPENDENT: docs with base id ≡ 3 (mod 50) — the pool both
    * deletion stages draw tombstones from — get a per-copy token
    * interleaved between every word (word-bigram shingle sets disjoint
    * across copies, so their near-dup components live WITHIN a copy
    * and keep a corpus-size-independent size: real takedowns hit
    * specific content, not every re-ingest of it); every other doc
    * stays an identical copy, so the corpus-wide state build and the
    * full-relabel CONTROL cost exactly what SCALE_r14's delete stage
    * measured (the 5.4 s → 52 s number the scoped verb exists to fix
    * — an all-distinct corpus would silently change the control).
    */
  private def taggedScaled(spark: SparkSession, sfDir: String, mult: Int,
                           out: String): (DataFrame, Long) = {
    val base = graft.queries.Tables.documents(spark, sfDir)
      .select("doc_id", "text")
    val stride = base.agg(max("doc_id")).head().getLong(0) + 1L
    (0 until mult).map { k =>
      base.select((col("doc_id") + lit(k.toLong * stride)).as("doc_id"),
        when(col("doc_id") % 50 === 3,
            regexp_replace(col("text"), " ", s" z$k "))
          .otherwise(col("text")).as("text"))
    }.reduce(_ unionByName _)
      .repartition(32).write.mode("overwrite").parquet(out)
    (spark.read.parquet(out), stride)
  }

  private def labelCk(l: DataFrame): (Long, Long, Long) = {
    val r = l.agg(count(lit(1)), countDistinct(col("label")),
      sum(pmod(hash(col("node"), col("label")).cast("long"),
        lit(1000000007L)))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** Round-15 SCOPED-DELETION point (VERDICT r14 ask #1's scale row,
    * the number that grew 5.4 s → 52 s from 100× to 500× under the
    * full-corpus relabel): a takedown tombstones ~25 base-copy docs —
    * a fixed, corpus-size-INDEPENDENT set of touched components — and
    * the scoped relabel (touched-slice candidates + CC, untouched
    * labels streamed through) must cost ∝ those components while the
    * r14 full-retained-relabel control re-pays the corpus; both label
    * sets must agree exactly. The one-time state (doc-level sigs +
    * the prior label fixpoint) is the artifact a deployment maintains,
    * timed separately.
    */
  private def scopedDeleteStage(spark: SparkSession, sfDir: String, mult: Int,
                                tmp: String): Unit = {
    val (corpus, stride) = taggedScaled(spark, sfDir, mult, s"$tmp/sd_docs")
    println(s"scopeddelete corpus: ${corpus.count()} docs " +
      s"($mult tagged copies)")
    timed("scopeddelete state build (one-time: sigs + prior labels)") {
      val sigd = Dedup.docSigs(corpus, "text", "doc_id")
        .localCheckpoint(true, org.apache.spark.storage.StorageLevel.DISK_ONLY)
      sigd.write.mode("overwrite").parquet(s"$tmp/sd_sigs")
      Dedup.connectedComponents(
          Dedup.candidatesFromSigs(sigd, "doc_id", assumeUnique = true),
          "doc_a", "doc_b")
        .write.mode("overwrite").parquet(s"$tmp/sd_labels")
    }
    val sigs = spark.read.parquet(s"$tmp/sd_sigs")
    val labels = spark.read.parquet(s"$tmp/sd_labels")
    // the takedown: ~25 copy-0 docs from the TAGGED pool — their
    // components are within-copy, so touched size is a property of
    // the BASE corpus, not of mult
    val tombs = corpus.filter(col("doc_id") < stride &&
        col("doc_id") % 200 === 3)
      .select("doc_id").localCheckpoint(true)
    // the takedown VERB: the scoped-delete kernel's scope (the touched
    // lookup in the labels, the slice from the sigs; collected on the
    // driver arm, streamed scans past it) and its recompute
    // (candidates/CC over the touched slice); the delta's
    // materialization is O(touched), the merge-on-read write a
    // deployment stores beside the label table. One untimed run first:
    // the state build above already warmed the full control's plans,
    // and the verb's first run pays its own planning and codegen
    Dedup.scopedDelete(sigs, tombs, labels, "doc_id", materialize = false).delta.count()
    val (scope, tDelta) = timed("  SCOPED delta (the takedown verb)") {
      val d = Dedup.scopedDelete(sigs, tombs, labels, "doc_id", materialize = false)
      d.delta.count(); d
    }
    println(s"  tombstones: ${tombs.count()}; touched-component slice: " +
      s"${scope.sliceRows.getOrElse(scope.slice.count())} retained sigs " +
      s"(of ${sigs.count()})")
    // the full-view stitch a compaction pass pays (O(corpus) write —
    // deferred to whatever cadence folds the deltas in)
    val (scoped, tView) = timed("  merge-on-read view stitch (compaction-cadence)") {
      val l = scope.labels
        .localCheckpoint(true, org.apache.spark.storage.StorageLevel.DISK_ONLY)
      l.count(); l
    }
    val (full, tFull) = timed("  full retained relabel CONTROL (the r14 path)") {
      val l = Dedup.connectedComponents(
          Dedup.candidatesFromSigs(
            sigs.join(tombs, Seq("doc_id"), "left_anti"), "doc_id",
            assumeUnique = true), "doc_a", "doc_b")
        .localCheckpoint(true, org.apache.spark.storage.StorageLevel.DISK_ONLY)
      l.count(); l
    }
    val cs = labelCk(scoped); val cf = labelCk(full)
    require(cs == cf, s"scoped labels != full relabel labels: $cs vs $cf")
    println(s"  labels identical (nodes/clusters/checksum $cs)")
    println(f"  scoped delta $tDelta%.2f s (+ view stitch $tView%.2f s) vs " +
      f"full $tFull%.2f s — ${tFull / tDelta}%.2fx on the per-takedown verb")
    // the wall claim binds at the scale points: below ~50x the full
    // recompute is itself a couple of seconds and the scoped path's
    // fixed job-launch overhead (~6 small gate/scan jobs) dominates —
    // the crossover the verb exists for is the 100x/500x regime where
    // the control grows with the corpus and the delta stays put
    if (mult >= 50)
      require(tDelta < tFull,
        f"scoped delta must beat the full recompute: $tDelta%.2f vs $tFull%.2f")
  }

  /** Round-16 DISPATCH SWEEP (VERDICT r15 ask #4): the measurement
    * behind [[Dedup.ScopedMinCorpusRows]] / [[Dedup
    * .ScopedMaxTouchedFraction]]. For one corpus size, times the
    * SCOPED relabel against the FULL retained recompute across
    * tombstone fractions from takedown-sized to mass-delete, prints
    * the measured (touched fraction → scoped/full walls) table and
    * what [[Dedup.relabelScopedAutoFromSigs]]' dispatch picks at each
    * point. Run at several mults, this is the 2-D sweep the constants
    * were read off of (SCALE_r16): the corpus-rows floor from the
    * small-mult points (scoped loses below ~100k labeled rows
    * regardless of fraction — fixed gate-job overhead), the fraction
    * ceiling from the large-mult points (scoped loses past roughly a
    * third touched — it pays full's candidate+CC work PLUS the gates).
    */
  private def dispatchSweepStage(spark: SparkSession, sfDir: String, mult: Int,
                                 tmp: String): Unit = {
    val (corpus, stride) = taggedScaled(spark, sfDir, mult, s"$tmp/dw_docs")
    println(s"dispatchsweep corpus: ${corpus.count()} docs ($mult tagged copies)")
    timed("dispatchsweep state build (one-time: sigs + prior labels)") {
      val sigd = Dedup.docSigs(corpus, "text", "doc_id")
        .localCheckpoint(true, org.apache.spark.storage.StorageLevel.DISK_ONLY)
      sigd.write.mode("overwrite").parquet(s"$tmp/dw_sigs")
      Dedup.connectedComponents(
          Dedup.candidatesFromSigs(sigd, "doc_id", assumeUnique = true),
          "doc_a", "doc_b")
        .write.mode("overwrite").parquet(s"$tmp/dw_labels")
    }
    val sigs = spark.read.parquet(s"$tmp/dw_sigs")
    val labels = spark.read.parquet(s"$tmp/dw_labels")
    val labeled = labels.count()
    val cases = Seq(
      ("copy0 %200==3 (takedown-sized)",
        corpus.filter(col("doc_id") < stride && col("doc_id") % 200 === 3)),
      ("all %50==3", corpus.filter(col("doc_id") % 50 === 3)),
      ("all %25==3", corpus.filter(col("doc_id") % 25 === 3)),
      ("all %12==3", corpus.filter(col("doc_id") % 12 === 3)),
      ("all %8==3", corpus.filter(col("doc_id") % 8 === 3)),
      ("all %3==0 (mass delete)", corpus.filter(col("doc_id") % 3 === 0)))
    cases.foreach { case (name, t0) =>
      val tombs = t0.select("doc_id").localCheckpoint(true)
      val ((scope, scoped), tScoped) = timed(f"  scoped [$name]") {
        val d = Dedup.scopedDelete(sigs, tombs, labels, "doc_id", materialize = false)
        val l = d.labels
          .localCheckpoint(true, org.apache.spark.storage.StorageLevel.DISK_ONLY)
        l.count(); (d, l)
      }
      val frac = if (labeled == 0) 0.0 else scope.touchedDocs.toDouble / labeled
      val (full, tFull) = timed(f"  full   [$name]") {
        val l = Dedup.connectedComponents(
            Dedup.candidatesFromSigs(
              sigs.join(broadcast(tombs), Seq("doc_id"), "left_anti"),
              "doc_id", assumeUnique = true), "doc_a", "doc_b")
          .localCheckpoint(true, org.apache.spark.storage.StorageLevel.DISK_ONLY)
        l.count(); l
      }
      val cs = labelCk(scoped); val cf = labelCk(full)
      require(cs == cf, s"dispatchsweep[$name]: scoped != full: $cs vs $cf")
      val pick = if (labeled < Dedup.ScopedMinCorpusRows ||
          frac > Dedup.ScopedMaxTouchedFraction) "FULL" else "SCOPED"
      println(f"  [$name] touched ${scope.touchedDocs}%d / $labeled%d " +
        f"(${frac * 100}%.2f%%): scoped $tScoped%.2f s vs full $tFull%.2f s " +
        f"(${tFull / tScoped}%.2fx); dispatch picks $pick " +
        f"(labels checksum-identical)")
    }
  }

  /** Round-15 STREAMING ADD+DELETE INTERLEAVE point (VERDICT r14 ask
    * #7 — st30's posture with measured walls) in the PERSISTED
    * merge-on-read form a deployment runs: sigs and the
    * signature-distinct index live as parquet tables; an ADD batch
    * appends its doc-level sigs and only its [[Dedup.freshIndexRows]]
    * (signature-distinct growth), a DELETE batch appends tombstones to
    * an accumulated set, runs the SCOPED relabel, and appends only the
    * re-elected representatives ([[Dedup.reElectIndexRows]]) — readers
    * see table∖tombstones (merge-on-read), and the scheduled compact
    * folds both (DedupIndex.compact's pass, not per batch). Per-batch
    * WRITES are O(batch)/O(touched); per-batch walls are reported for
    * both verbs, and the final labels/index must equal from-scratch
    * runs over the live set (st30's oracle shape at scale). The corpus
    * is the tagged-copies one, so delete cost is governed by touched
    * components, not corpus size; tombstone sets are copy-0-sized
    * (corpus-size-independent).
    */
  private def interleaveStage(spark: SparkSession, sfDir: String, mult: Int,
                              tmp: String): Unit = {
    val (corpus, stride) = taggedScaled(spark, sfDir, mult, s"$tmp/il_docs")
    println(s"interleave corpus: ${corpus.count()} docs ($mult tagged copies)")
    val sigsDir = s"$tmp/il_sigs"
    val idxDir = s"$tmp/il_index"
    // the LABEL side now lives in a LabelStore (VERDICT r15 ask #5 —
    // round 15 re-derived this stage's stitch discipline inline; the
    // store owns it: base + a log of per-batch delta/drop/tomb rows)
    val store = s"$tmp/il_store"
    timed("interleave state build (one-time: sigs + distinct index + labels)") {
      val sigd = Dedup.docSigs(corpus, "text", "doc_id")
        .localCheckpoint(true, org.apache.spark.storage.StorageLevel.DISK_ONLY)
      sigd.write.mode("overwrite").parquet(sigsDir)
      Dedup.bandIndexDistinctFromSigs(sigd, "doc_id")
        .write.mode("overwrite").parquet(idxDir)
      LabelStore.create(spark, store, Dedup.connectedComponents(
        Dedup.candidatesFromSigs(sigd, "doc_id", assumeUnique = true),
        "doc_a", "doc_b"))
    }
    // the accumulated tombstone set is the STORE's sidecar now —
    // every sig/index reader anti-joins it (merge-on-read)
    def tombAcc = LabelStore.tombstones(spark, store)
      .withColumnRenamed("node", "doc_id")
    def sigsView = {
      val t = tombAcc
      val s0 = spark.read.parquet(sigsDir)
      if (t.isEmpty) s0
      else s0.join(broadcast(t), Seq("doc_id"), "left_anti")
    }
    def indexView = {
      val t = tombAcc
      val i0 = spark.read.parquet(idxDir)
      if (t.isEmpty) i0
      else i0.join(broadcast(t), Seq("doc_id"), "left_anti")
    }
    val addWalls = Seq.newBuilder[Double]
    val delWalls = Seq.newBuilder[Double]
    val batchDirs = Seq.newBuilder[String]
    (1 to 2).foreach { k =>
      // ADD: one base-sized batch of novel content (fresh copy tag)
      // except every 5th doc, which duplicates a live doc's text
      // exactly (the fold must add ZERO rows for those signatures)
      corpus.filter(col("doc_id") < stride)
        .select((col("doc_id") + lit(stride * (mult + k).toLong)).as("doc_id"),
          when(col("doc_id") % 5 === 0, col("text"))
            .otherwise(regexp_replace(col("text"), " ", s" a$k ")).as("text"))
        .write.mode("overwrite").parquet(s"$tmp/il_batch$k")
      batchDirs += s"$tmp/il_batch$k"
      val batch = spark.read.parquet(s"$tmp/il_batch$k")
      val (_, tAdd) = timed(s"interleave ADD batch $k " +
        "(probe + label fold + sig/index appends)") {
        val index = indexView
        val delta = Dedup.incrementalCandidates(batch, index, "text", "doc_id")
          .select(col("new_id").as("doc_a"), col("old_id").as("doc_b"))
          .unionByName(Dedup.minhashCandidates(batch, "text", "doc_id")
            .select("doc_a", "doc_b"))
        // the store writes ONLY the changed rows + their old labels,
        // emitted directly by the delta producer — the full post-fold
        // table is never materialized or diffed
        val (chg, dropped) = Dedup.incrementalComponentsDelta(
          LabelStore.read(spark, store), delta, "doc_a", "doc_b",
          materialize = false)
        LabelStore.appendDelta(spark, store, chg, dropped)
        val batchSigs = Dedup.docSigs(batch, "text", "doc_id")
          .localCheckpoint(true)
        batchSigs.write.mode("append").parquet(sigsDir)
        Dedup.freshIndexRows(index,
            Dedup.bandIndexDistinctFromSigs(batchSigs, "doc_id"), "doc_id")
          .write.mode("append").parquet(idxDir)
      }
      addWalls += tAdd
      // DELETE: ~25 copy-0 docs from the TAGGED pool (%200 residues 53
      // and 103 are ≡ 3 mod 50), fixed across mult — touched
      // components, never corpus scans; writes = the re-elected reps
      // plus the store's one-directory log batch (O(touched))
      val tombs = sigsView.filter(col("doc_id") < stride &&
          col("doc_id") % 200 === (50 * k + 3).toLong)
        .select("doc_id").localCheckpoint(true)
      val (_, tDel) = timed(s"interleave DELETE batch $k " +
        s"(${tombs.count()} tombstones: store appendDelete + rep re-elect append)") {
        val preSigs = sigsView
        // index re-election FIRST: sigsView/indexView are LAZY plans
        // anchored on the store's tombstone sidecar, and appendDelete
        // is what lands this batch's tombstones — run after it, the
        // views would already exclude the dead reps and the
        // re-election would see nothing to re-elect
        Dedup.reElectIndexRows(indexView, preSigs, tombs, "doc_id")
          .write.mode("append").parquet(idxDir)
        LabelStore.appendDelete(spark, store, preSigs, tombs, "doc_id")
      }
      delWalls += tDel
    }
    val live = batchDirs.result().map(spark.read.parquet(_))
      .foldLeft(corpus)(_ unionByName _)
      .join(broadcast(tombAcc), Seq("doc_id"), "left_anti")
    val labels = LabelStore.read(spark, store)
      .localCheckpoint(true, org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val (fullLabels, _) =
      timed("interleave FULL RE-RUN control (final live set)") {
        val l = Dedup.connectedComponents(
            Dedup.minhashCandidates(live, "text", "doc_id"), "doc_a", "doc_b")
          .localCheckpoint(true, org.apache.spark.storage.StorageLevel.DISK_ONLY)
        l.count(); l
      }
    val ci = labelCk(labels); val cf = labelCk(fullLabels)
    require(ci == cf, s"interleaved labels != full re-run: $ci vs $cf")
    println(s"  final labels identical to the from-scratch live-set run " +
      s"(nodes/clusters/checksum $ci)")
    // the merge-on-read index view equals a from-scratch signature-
    // distinct rebuild over the live sigs (rows keyed (doc, band, bkey))
    val scratchIdx = Dedup.bandIndexDistinctFromSigs(sigsView, "doc_id")
    val idxDiff = indexView.select("doc_id", "band", "bkey")
      .unionByName(scratchIdx.select("doc_id", "band", "bkey"))
      .groupBy("doc_id", "band", "bkey").agg(count(lit(1)).as("n"))
      .filter(col("n") =!= 2).count()
    require(idxDiff == 0,
      s"index view != from-scratch rebuild ($idxDiff rows differ)")
    println("  merge-on-read index view row-identical to a from-scratch rebuild")
    // the store's scheduled fold: compact preserves the answer and
    // clears the delta chain (the compaction-cadence pass)
    val (_, tCompact) = timed("interleave LabelStore.compact (scheduled fold)") {
      LabelStore.compact(spark, store)
    }
    val cc = labelCk(LabelStore.read(spark, store))
    require(cc == ci, s"LabelStore.compact changed the read: $cc vs $ci")
    println(f"  store compact preserved the read (fold wall $tCompact%.2f s)")
    val (as, ds) = (addWalls.result(), delWalls.result())
    println(f"  add walls: ${as.map(w => f"$w%.2f").mkString(", ")} s; " +
      f"delete walls: ${ds.map(w => f"$w%.2f").mkString(", ")} s")
  }

  /** Round-16 PERSISTED-PERCEPTUAL-INDEX point (VERDICT r15 ask #2's
    * scale row): the index's whole value is that the DECODE pass runs
    * once at create/append time — so the append wall must be
    * batch-sized (flat in corpus size), the probe must beat the
    * fresh-operator control (which re-decodes and re-windows the
    * corpus per query), and a takedown must re-elect only dead-rep
    * hash groups with the post-delete probe equal to a fresh pass over
    * the retained corpus.
    */
  private def perceptualStage(spark: SparkSession, sfDir: String, mult: Int,
                              tmp: String): Unit = {
    import graft.llm.Multimodal
    import graft.operators.PerceptualHashIndex
    val base = graft.queries.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text").cast("binary").as("media"))
    val stride = base.agg(max("doc_id")).head().getLong(0) + 1L
    val table = s"$tmp/ph_media"
    val corpus = scaled(base, "doc_id", mult, table)
    println(s"perceptual media corpus: ${corpus.count()} items " +
      s"($mult x ${base.count()})")
    val idx = PerceptualHashIndex(table, "media", "doc_id", s"$tmp/ph_idx")
    timed("perceptual CREATE (one-time full decode + rep election)") {
      idx.create(spark)
    }
    // the landing: one base-sized batch, ids above every live id; every
    // 5th item an exact payload duplicate of a live doc (folds to the
    // existing rep — zero new rep rows for those hashes)
    val before = graft.operators.ZoneMap.dataFiles(spark, table).toSet
    base.select((col("doc_id") + lit(stride * (mult + 1).toLong)).as("doc_id"),
        when(col("doc_id") % 5 === 0, col("media"))
          .otherwise(concat(col("media"), col("doc_id").cast("string")
            .cast("binary"))).as("media"))
      .write.mode("append").parquet(table)
    val landed = graft.operators.ZoneMap.dataFiles(spark, table)
      .filterNot(before)
    timed(s"perceptual APPEND (${landed.size} file(s) — batch decode only)") {
      idx.append(spark, landed)
    }
    val (nPairs, tProbe) = timed("perceptual PROBE from persisted state") {
      idx.pairs(spark).count()
    }
    val (nFresh, tFresh) = timed("perceptual fresh-operator CONTROL " +
      "(re-decode + window + band join per query)") {
      Multimodal.perceptualNearDupPairs(
        Multimodal.fingerprints(spark.read.parquet(table), "media", "doc_id"),
        "doc_id", "ph").count()
    }
    require(nPairs == nFresh,
      s"index probe != fresh operator: $nPairs vs $nFresh pairs")
    println(f"  probe $tProbe%.2f s vs fresh control $tFresh%.2f s " +
      f"(${tFresh / tProbe}%.2fx), $nPairs pairs, answers equal")
    // the takedown: ~25 copy-0 docs — REPS of their cross-copy exact
    // groups (copy-0 ids are group minima), so every one forces a
    // re-election; post-delete probe equals a fresh pass over retained
    val tombs = corpus.filter(col("doc_id") < stride &&
        col("doc_id") % 200 === 3)
      .select("doc_id").localCheckpoint(true)
    timed(s"perceptual DELETE (${tombs.count()} dead-rep tombstones)") {
      idx.delete(spark, tombs)
    }
    val (nPost, _) = timed("perceptual post-delete probe") {
      idx.pairs(spark).count()
    }
    val (nPostFresh, _) = timed("perceptual post-delete fresh CONTROL") {
      Multimodal.perceptualNearDupPairs(
        Multimodal.fingerprints(
          spark.read.parquet(table)
            .join(broadcast(tombs), Seq("doc_id"), "left_anti"),
          "media", "doc_id"),
        "doc_id", "ph").count()
    }
    require(nPost == nPostFresh,
      s"post-delete probe != fresh retained pass: $nPost vs $nPostFresh")
    println(s"  post-delete probe equals the fresh retained-corpus pass " +
      s"($nPost pairs)")
  }

  /** Round-14 ANN-DELETION point (x90's scale row): at deployment
    * dials (sampleSize ≈ √corpus → hundreds of inverted lists) a
    * tombstone batch touches FEW lists, and `IvfPqIndex.delete` must
    * cost ∝ those dirty lists — never a corpus re-encode. Tombstones
    * are drawn from exactly 3 lists' members; the stage pins (a) every
    * CLEAN list's files byte-identical (file identity — the 100-TB
    * claim is that delete I/O is dirty-lists-only), (b) no deleted id
    * ever served, and (c) delete wall ≪ the create wall the naive
    * "rebuild without them" pays.
    */
  private def annDeleteStage(spark: SparkSession, sfDir: String, mult: Int,
                             tmp: String): Unit = {
    val base = graft.queries.Tables.embeddings(spark, sfDir)
    val table = s"$tmp/ann_del_vecs"
    val emb = scaled(base, "vec_id", mult, table)
    println(s"anndelete embeddings: ${emb.count()} ($mult x ${base.count()})")
    // deployment dials: many lists, Lloyd-refined — the layout where
    // dirty-directory pruning has something to prune
    val idx = graft.operators.IvfPqIndex(table, s"$tmp/ann_del_idx",
      sampleSize = 64, lloydRounds = 1)
    val (_, tCreate) = timed("anndelete CREATE (train + full encode, once)") {
      idx.create(spark)
    }
    def filesByCluster(): Map[String, Set[String]] = {
      val root = new org.apache.hadoop.fs.Path(s"$tmp/ann_del_idx/codes")
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(root)
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("cluster="))
        .map(d => d.getPath.getName ->
          fs.listStatus(d.getPath).filter(_.isFile)
            .map(f => s"${f.getPath.getName}@${f.getLen}@${f.getModificationTime}")
            .toSet)
        .toMap
    }
    val before = filesByCluster()
    // tombstones: every member of 3 specific lists' first rows — the
    // shape a takedown batch has (correlated content lands together)
    val victims = idx.content(spark).select("cluster").distinct()
      .orderBy("cluster").limit(3).collect().map(_.getLong(0))
    val dead = idx.content(spark)
      .filter(col("cluster").isin(victims: _*))
      .select("neighbor_id").distinct().localCheckpoint(true)
    println(s"  tombstoning ${dead.count()} vectors from lists ${victims.mkString(",")} " +
      s"of ${before.size}")
    val (_, tDelete) = timed("anndelete DELETE (dirty lists only)") {
      idx.delete(spark, dead.withColumnRenamed("neighbor_id", "vec_id"))
    }
    val after = filesByCluster()
    val dirtyNames = victims.map(c => s"cluster=$c").toSet
    val untouched = before.keys.filterNot(dirtyNames)
      .count(c => after.get(c).contains(before(c)))
    require(untouched == before.size - dirtyNames.size,
      s"clean lists rewritten: $untouched of ${before.size - dirtyNames.size} intact")
    println(s"  $untouched of ${before.size} lists byte-identical (only the " +
      s"${dirtyNames.size} dirty lists moved)")
    require(idx.content(spark)
      .join(dead, Seq("neighbor_id"), "left_semi").isEmpty,
      "a deleted vector survived in the lists")
    println(f"  delete/create ratio: ${tDelete / tCreate}%.3f — delete cost is " +
      "dirty-lists I/O + one tombstone-probe scan, never a re-encode")
    require(tDelete < tCreate / 2,
      f"delete $tDelete%.2f s not decoupled from rebuild $tCreate%.2f s")
  }

  /** Round-14 DELETION point (VERDICT r13 ask #1): the corpus is
    * fingerprinted ONCE into the persisted pair (member-level band
    * index + doc-level `_sigs` sidecar), a tombstone batch (every 10th
    * doc) lands, and labels are recomputed two ways — the DELETE path
    * (anti-join the sidecar, candidates from RETAINED signature rows,
    * CC: DedupIndex.deleteAndRelabel's relational core) vs the honest
    * control (re-fingerprint corpus∖deleted from text + CC). Labels
    * must agree exactly; the delete path must beat the control because
    * it never touches document TEXT — its cost is ∝ retained docs
    * (fixed ~200 B of signature each), while the control's
    * text→signature kernel is linear in document LENGTH. The base
    * fixture's ~60-char docs make that kernel artificially cheaper
    * than the signatures it produces (the one corpus where
    * re-fingerprinting can win), so this stage runs at a realistic
    * ~0.5 KB/doc — still SHORT for web data — by repeating each text
    * 8×: similarity structure is preserved, both paths see the same
    * corpus, and the length-independence claim gets measured instead
    * of asserted.
    */
  private def deleteStage(docs: DataFrame, tmp: String): Unit = {
    val spark = docs.sparkSession
    // (docBytes, tDelete, tRefingerprint) per length point
    val points = Seq.newBuilder[(Long, Double, Double)]
    for (rep <- Seq(1, 8, 32)) {
      val fat0 = docs.select(col("doc_id"),
        concat_ws(" ", array_repeat(col("text"), rep)).as("text"))
      val fat = if (rep == 1) docs
        else fat0.localCheckpoint(true, org.apache.spark.storage.StorageLevel.DISK_ONLY)
      val bytes = fat.agg(avg(length(col("text")))).head().getDouble(0).toLong
      println(s"delete @ ~$bytes B/doc (x$rep text):")
      // the persisted artifact is DedupIndex's pair — the bucketed
      // member-level band rows (the PROBE access path) plus the
      // doc-level `_sigs` sidecar (the DELETE access path; one
      // signature kernel run, checkpointed, feeds both). The first
      // draft relabeled from the member-level rows' band-0 slice and
      // LOST to the re-fingerprint control: the slice decodes all 24
      // per-band copies of the signature array at scan time.
      timed("  state build (one-time: band index + doc-level sigs)") {
        val sigd = Dedup.docSigs(fat, "text", "doc_id")
          .localCheckpoint(true, org.apache.spark.storage.StorageLevel.DISK_ONLY)
        sigd.write.mode("overwrite").parquet(s"$tmp/del_sigs")
        Dedup.bandIndexFromSigs(sigd, "doc_id")
          .write.mode("overwrite").parquet(s"$tmp/del_index")
      }
      val (delLabels, tDel) =
        timed("  DELETE path (tombstone anti-join + retained-sigs relabel)") {
          val retained = spark.read.parquet(s"$tmp/del_sigs")
            .filter(col("doc_id") % 10 =!= 3)
          // assumeUnique: the relabel posture — CC is multiplicity-blind
          val l = Dedup.connectedComponents(
            Dedup.candidatesFromSigs(retained, "doc_id", assumeUnique = true),
            "doc_a", "doc_b")
            .localCheckpoint(true)
          l.count(); l
        }
      val (fullLabels, tFull) =
        timed("  full RE-FINGERPRINT control (text -> candidates + CC)") {
          val l = Dedup.connectedComponents(
            Dedup.minhashCandidates(fat.filter(col("doc_id") % 10 =!= 3),
              "text", "doc_id"), "doc_a", "doc_b")
            .localCheckpoint(true)
          l.count(); l
        }
      val cd = labelCk(delLabels); val cf = labelCk(fullLabels)
      require(cd == cf, s"delete-path labels != re-fingerprint labels: $cd vs $cf")
      println(s"  labels identical (nodes/clusters/checksum $cd)")
      points += ((bytes, tDel, tFull))
    }
    val ps = points.result()
    println("  doc bytes | delete s | re-fingerprint s | ratio")
    ps.foreach { case (b, d, f) =>
      println(f"  $b%9d | $d%8.2f | $f%16.2f | ${f / d}%.2fx")
    }
    // the claim under measurement: the delete path never touches text,
    // so its wall is ~flat in document length while the control's
    // text->signature kernel grows linearly — by web-page sizes the
    // control must have crossed over decisively
    val (_, dSmall, _) = ps.head
    val (_, dBig, fBig) = ps.last
    require(dBig <= dSmall * 1.8,
      f"delete wall not length-flat: $dSmall%.2f -> $dBig%.2f s")
    require(fBig > dBig,
      f"re-fingerprint should exceed the delete path at ~2 KB docs: $fBig%.2f vs $dBig%.2f s")
  }

  /** Round-14 STREAMING-MAINTENANCE point (VERDICT r13 ask #5): st29's
    * production posture against the PERSISTED signature-distinct index
    * — per batch: probe the on-disk index (incrementalCandidates) +
    * batch-internal candidates, fold labels (incrementalComponents),
    * and APPEND only freshIndexRows to the index table. Pins: per-batch
    * wall flat across batches (the fold is corpus-size-independent),
    * index growth = signature-distinct rows only (duplicate-signature
    * batch rows add ZERO rows), and final labels checksum-equal to a
    * full from-scratch run over corpus ∪ all batches — x88's oracle
    * shape at scale.
    */
  private def streamMaintStage(docs: DataFrame, tmp: String, mult: Int,
                               stride: Long): Unit = {
    val spark = docs.sparkSession
    val dir = s"$tmp/sm_index"
    val (labels0, _) =
      timed("streammaint state build (one-time: labels + persisted distinct index)") {
        Dedup.bandIndexDistinct(docs, "text", "doc_id")
          .write.mode("overwrite").parquet(dir)
        val l = Dedup.connectedComponents(
          Dedup.minhashCandidates(docs, "text", "doc_id"), "doc_a", "doc_b")
          .localCheckpoint(true)
        println(s"  index rows: ${spark.read.parquet(dir).count()}, " +
          s"labeled nodes: ${l.count()}")
        l
      }
    var labels = labels0
    val nBatches = 3
    val walls = Seq.newBuilder[Double]
    val batches = Seq.newBuilder[DataFrame]
    (1 to nBatches).foreach { k =>
      // one base-sized copy per batch; every 5th doc gains a novel
      // token so ~20% of each batch's signatures are NEW (growth
      // accounting has something to account), the rest are exact
      // duplicates of corpus signatures (growth must be ZERO for them)
      val batch = docs.filter(col("doc_id") < stride)
        .select((col("doc_id") + lit(stride * (mult + k))).as("doc_id"),
          when(col("doc_id") % 5 === 0,
            concat(col("text"), lit(s" novelbatch$k")))
            .otherwise(col("text")).as("text"))
        .localCheckpoint(true)
      val preRows = spark.read.parquet(dir).count()
      val (_, t) = timed(s"streammaint batch $k (probe + label fold + index append)") {
        val index = spark.read.parquet(dir)
        val delta = Dedup.incrementalCandidates(batch, index, "text", "doc_id")
          .select(col("new_id").as("doc_a"), col("old_id").as("doc_b"))
          .unionByName(Dedup.minhashCandidates(batch, "text", "doc_id")
            .select("doc_a", "doc_b"))
        labels = Dedup.incrementalComponents(labels, delta, "doc_a", "doc_b",
          materialize = false).localCheckpoint(true)
        Dedup.freshIndexRows(index,
            Dedup.bandIndexDistinct(batch, "text", "doc_id"), "doc_id")
          .write.mode("append").parquet(dir)
        println(s"  labeled nodes: ${labels.count()}")
      }
      walls += t
      batches += batch
      val grew = spark.read.parquet(dir).count() - preRows
      val batchRows = Dedup.bandIndex(batch, "text", "doc_id").count()
      println(s"  index grew $grew rows (batch's member-level rows: $batchRows" +
        s" — duplicate signatures folded away)")
      require(grew > 0 && grew < batchRows / 2,
        s"index growth $grew out of band (batch member rows $batchRows)")
    }
    val ws = walls.result()
    println(f"  per-batch walls: ${ws.map(w => f"$w%.2f").mkString(", ")} s")
    require(ws.max <= ws.min * 2.5,
      f"per-batch wall not flat: ${ws.min}%.2f .. ${ws.max}%.2f s")
    val union = batches.result().foldLeft(docs)(_ unionByName _)
    val (fullLabels, _) =
      timed("streammaint FULL RE-RUN control (corpus + all batches)") {
        val l = Dedup.connectedComponents(
          Dedup.minhashCandidates(union, "text", "doc_id"), "doc_a", "doc_b")
          .localCheckpoint(true)
        println(s"  labeled nodes: ${l.count()}")
        l
      }
    val ci = labelCk(labels); val cf = labelCk(fullLabels)
    require(ci == cf, s"streamed labels != full re-run: $ci vs $cf")
    println(s"  final labels identical to the from-scratch union run " +
      s"(nodes/clusters/checksum $ci)")
  }

  /** The PERSISTED IVF-PQ index at mult copies (VERDICT r11 ask #1's
    * scale row): create pays training + the full corpus encode ONCE;
    * probe reads the persisted cluster-partitioned lists with zero
    * training work, so its wall must be decoupled from the (re)build
    * — the difference between an index and a per-query batch job.
    */
  private def ivfpqIndexStage(spark: SparkSession, sfDir: String, mult: Int,
                              tmp: String): Unit = {
    val base = graft.queries.Tables.embeddings(spark, sfDir)
    val table = s"$tmp/embeddings"
    val emb = scaled(base, "vec_id", mult, table)
    println(s"embeddings: ${emb.count()} ($mult x ${base.count()})")
    val idx = graft.operators.IvfPqIndex(table, s"$tmp/ivfpq_idx")
    val (_, tCreate) = timed("ivfpq index CREATE (train + encode, once)") {
      idx.create(spark)
    }
    val probes = base.filter(col("vec_id") % 97 === 0)
    def probeOnce(tag: String): Double = {
      val (n, t) = timed(s"ivfpq index PROBE $tag (persisted, zero training)") {
        idx.probe(spark, probes, k = 3, nprobe = 2).count()
      }
      require(n > 0, "empty probe result")
      t
    }
    probeOnce("cold")
    val tProbe = probeOnce("steady")
    println(f"  probe/create ratio: ${tProbe / tCreate}%.3f " +
      "(probe reads the persisted lists; no Lloyd, no codebooks, no re-encode)")
    require(tProbe < tCreate / 2,
      f"probe wall $tProbe%.2f s is not decoupled from the build $tCreate%.2f s")
    val clusters = idx.content(spark).select("cluster").distinct().count()
    println(s"  inverted lists: $clusters; probe partition-prunes to its nprobe lists")
  }

  /** Round-13 delta verb at mult copies: cluster labels exist for the
    * corpus, ONE more base-sized copy lands as the just-ingested
    * batch. `incrementalComponents` must fold it for O(batch +
    * streamed label-table scans), while the honest control — full
    * candidates + CC over corpus∪batch — re-pays the corpus; both
    * paths' labels must agree exactly (count, cluster count, and a
    * per-row checksum). The state build (corpus labels + the persisted
    * band index) is timed separately: it is the one-time artifact a
    * pipeline maintains, not the per-batch cost.
    */
  private def incCcStage(docs: DataFrame, tmp: String, mult: Int,
                         stride: Long): Unit = {
    val spark = docs.sparkSession
    val batch = docs.filter(col("doc_id") < stride)
      .withColumn("doc_id", col("doc_id") + lit(stride * mult))
      .localCheckpoint(true)
    println(s"inccc: batch ${batch.count()} docs onto corpus ${docs.count()}")
    val ((labels, index), _) =
      timed("inccc state build (one-time: labels + band index)") {
        val cand = Dedup.minhashCandidates(docs, "text", "doc_id")
        val l = Dedup.connectedComponents(cand, "doc_a", "doc_b")
          .localCheckpoint(true)
        // the persisted artifact is the SIGNATURE-DISTINCT index: same
        // connectivity, (distinct sigs)/(docs) the size — the
        // member-level index made this very fold SLOWER than the full
        // re-run (the round-13 falsification bandIndexDistinct cites)
        Dedup.bandIndexDistinct(docs, "text", "doc_id")
          .write.mode("overwrite").parquet(s"$tmp/inccc_index")
        (l, spark.read.parquet(s"$tmp/inccc_index"))
      }
    val (incLabels, tInc) = timed("inccc DELTA FOLD (incr candidates + components)") {
      val newOld = Dedup.incrementalCandidates(batch, index, "text", "doc_id")
        .select(col("new_id").as("doc_a"), col("old_id").as("doc_b"))
      val newNew = Dedup.minhashCandidates(batch, "text", "doc_id")
        .select("doc_a", "doc_b")
      val l = Dedup.incrementalComponents(labels,
        newOld.unionByName(newNew), "doc_a", "doc_b").localCheckpoint(true)
      println(s"  labeled nodes: ${l.count()}")
      l
    }
    val (fullLabels, tFull) =
      timed("inccc FULL RE-RUN control (candidates + CC, corpus+batch)") {
        val l = Dedup.connectedComponents(
          Dedup.minhashCandidates(docs.union(batch), "text", "doc_id"),
          "doc_a", "doc_b").localCheckpoint(true)
        println(s"  labeled nodes: ${l.count()}")
        l
      }
    val ci = labelCk(incLabels); val cf = labelCk(fullLabels)
    require(ci == cf, s"incremental != full: $ci vs $cf")
    println(f"  labels identical (nodes/clusters/checksum $ci); delta fold " +
      f"$tInc%.2f s vs full re-run $tFull%.2f s (${tFull / tInc}%.1fx) — the " +
      "fold pays the batch + streamed label-table scans, the control " +
      "re-pays the corpus")
  }

  private def dedupStage(docs: DataFrame, tmp: String): Unit = {
    val spark = docs.sparkSession
    val (cand, _) = timed("minhash candidates") {
      // pairs land on DISK, not in a localCheckpoint: at 100x the
      // pairs frame is tens of millions of rows, and pinning it in
      // storage memory starves the band join's execution memory into
      // OOM at the 8 GB budget (the r11 x84 lesson, re-learned here
      // at 100x — SCALE_r12). Parquet costs one write pass and keeps
      // the heap flat.
      Dedup.minhashCandidates(docs, "text", "doc_id")
        .write.mode("overwrite").parquet(s"$tmp/dedup_pairs")
      val c = spark.read.parquet(s"$tmp/dedup_pairs")
      println(s"  pairs: ${c.count()}")
      c
    }
    val (labels, _) = timed("connected components") {
      val l = Dedup.connectedComponents(cand, "doc_a", "doc_b")
      println(s"  labeled nodes: ${l.count()}, " +
        s"clusters: ${l.select("label").distinct().count()}")
      l
    }
    timed("drop near-duplicates (labels reuse)") {
      // the (docs, labels) overload: the funnel already computed
      // candidates + components above, so the drop stage is ONE
      // anti-join — not a second full run of the two heaviest stages
      // (VERDICT r12: the text overload triple-paid the candidates
      // wall here)
      println(s"  kept: ${Dedup.dropNearDuplicates(docs, labels, "doc_id").count()}")
    }
  }

  /** x70's probe-side form at the registry's t=0.9: the probe set is
    * pinned to copy-0 ids (doc_id % 29 within the base range), so the
    * ANSWER grows linearly in copies (each probe meets its duplicate
    * in every copy) while the corpus-side prefix index does linear
    * work — the separation the prefix theorem buys.
    */
  private def prefixStage(docs: DataFrame, baseStride: Long): Unit = {
    timed("prefix jaccard join t=0.9") {
      val r = Dedup.prefixJaccardJoin(docs, "text", "doc_id",
        minJaccardE6 = 900000L,
        probeFilter = Some(col("doc_id") % 29 === 0 &&
          col("doc_id") < baseStride))
      println(s"  pairs: ${r.count()}")
    }
  }

  /** x41's full IVF-PQ read path over the scaled vector corpus: the
    * coarse quantizer and codebooks come from the FIXED copy-0 sample
    * (their driver-side footprint must not grow with the corpus), the
    * probe set is fixed, and the scan is pruned to nprobe lists.
    */
  private def ivfpqStage(spark: SparkSession, sfDir: String, mult: Int,
                         tmp: String): Unit = {
    val base = graft.queries.Tables.embeddings(spark, sfDir)
    val emb = scaled(base, "vec_id", mult, s"$tmp/embeddings")
    println(s"embeddings: ${emb.count()} ($mult x ${base.count()})")
    val sample = base.filter(col("vec_id") < 8)
    val probes = base.filter(col("vec_id") % 97 === 0)
    val (cbs, _) = timed("pq codebooks (fixed sample)") {
      Similarity.pqCodebooks(sample, m = 8, subDim = 8)
    }
    println(s"  codebook floats: ${cbs.map(_.map(_._2.size).sum).sum} (corpus-independent)")
    val K = 3
    val (approx, _) = timed("ivfpq topk (nprobe=2)") {
      val r = Similarity.ivfPqTopK(emb, probes, sample, cbs,
        k = K, nprobe = 2, subDim = 8).localCheckpoint(true)
      println(s"  result rows: ${r.count()} (k-bounded)")
      r
    }
    // VERDICT r8 ask #7: answer QUALITY at the scaled corpus, not just
    // latency. The scaled corpus duplicates every vector mult times,
    // so id-level recall is ill-defined (exact top-k is an arbitrary
    // pick among score ties); the tie-aware standard is score recall:
    // an approx neighbor counts iff its EXACT cosine reaches the
    // exact kth-best score of its probe.
    timed(s"recall@$K vs brute force (score-tie-aware)") {
      val exact = Similarity.bruteTopKAgg(emb, probes, K)
      val kth = exact.groupBy("probe_id")
        .agg(min("cos_e6").as("kth_e6"), count(lit(1)).as("nk"))
        .localCheckpoint(true)
      val denom = kth.agg(sum("nk")).head().getLong(0)
      val vecs = emb.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("n_vec"))
      val pv = probes.select(col("vec_id").as("probe_id"),
        col("embedding").as("p_vec"))
      def recallOf(res: DataFrame): Double = {
        val hits = res.join(vecs, "neighbor_id").join(broadcast(pv), "probe_id")
          .select(col("probe_id"),
            Similarity.cosineE6(col("p_vec"), col("n_vec")).as("cos_e6"))
          .join(broadcast(kth), "probe_id")
          .filter(col("cos_e6") >= col("kth_e6")).count()
        hits.toDouble / denom
      }
      // the IVF dial: recall buys linearly more scanned lists — the
      // headline timed path is nprobe=2; 4 and 8 (= exhaustive over
      // the 8 coarse cells) chart the tradeoff at this corpus size
      println(f"  recall@$K nprobe=2: ${recallOf(approx)}%.3f " +
        f"($denom exact slots over ${kth.count()} probes)")
      Seq(4, 8).foreach { np =>
        val t0 = System.nanoTime()
        val r = recallOf(Similarity.ivfPqTopK(emb, probes, sample, cbs,
          k = K, nprobe = np, subDim = 8))
        println(f"  recall@$K nprobe=$np: $r%.3f (${(System.nanoTime() - t0) / 1e9}%.2f s)")
      }
      // past nprobe, residual loss is PQ quantization error — bounded
      // by CODEBOOK size, not architecture: the registry's 8-codeword
      // books (kept tiny for x41's oracle) vs 64-codeword books from
      // a bigger (still fixed, corpus-independent) sample
      val cbs64 = Similarity.pqCodebooks(base.filter(col("vec_id") < 64),
        m = 8, subDim = 8)
      Seq(2, 4).foreach { np =>
        val t0 = System.nanoTime()
        val r = recallOf(Similarity.ivfPqTopK(emb, probes, sample, cbs64,
          k = K, nprobe = np, subDim = 8))
        println(f"  recall@$K nprobe=$np codebook=64: $r%.3f " +
          f"(${(System.nanoTime() - t0) / 1e9}%.2f s)")
      }
    }
  }

  /** x65/x67's tokenizer path: merge learning folds the vocabulary
    * (which the copies do NOT grow — printed to prove it), encode is
    * a broadcast word→token-count join + one partial-agg groupBy over
    * the scaled corpus.
    */
  private def bpeStage(docs: DataFrame): Unit = {
    val toks = docs
      .select(col("doc_id"), explode(TF.tokens(col("text"))).as("w"))
      .filter(col("w").rlike("^[A-Za-z]+$") && length(col("w")) >= 2)
      .localCheckpoint(true)
    val words = toks.groupBy("w").agg(count(lit(1)).as("freq"))
    println(s"vocab: ${words.count()} distinct words (copy-invariant)")
    val (merges, _) = timed("bpe learn (6 rounds)") {
      graft.llm.Bpe.learn(words, 6)
    }
    timed("bpe encode + per-doc agg") {
      val wordTok = graft.llm.Bpe.encodeWords(words, merges)
        .select(col("w"), size(col("syms")).cast("long").as("n_tok"))
      val r = toks.join(broadcast(wordTok), "w")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"), sum("n_tok").as("n_tokens"))
      println(s"  docs encoded: ${r.count()}")
    }
  }

  /** st02's shape over a file stream: `mult` event-time-ordered
    * parquet batches (copy c's timestamps shifted by c·(span+1h)),
    * watermarked tumbling-window aggregation, memory sink. The
    * watermark must evict closed windows batch by batch: max state
    * rows ≈ windows-per-copy + late horizon, NOT total windows — the
    * bound that makes unbounded-input streaming state finite.
    */
  private def streamStage(spark: SparkSession, sfDir: String, mult: Int,
                          tmp: String): Unit = {
    // Tables.events canonicalizes ts to Long NANOSECONDS — shift in
    // that integer domain, derive the engine-facing timestamp via
    // timestamp_micros at the stream boundary
    val ev = graft.queries.Tables.events(spark, sfDir)
      .select("ts", "user_id", "event_type", "value")
    val Seq(tmin, tmax) = ev.agg(min("ts"), max("ts"))
      .head().toSeq.map(_.asInstanceOf[Long])
    val span = tmax - tmin + 3600L * 1000000000L
    val dir = s"$tmp/events_stream"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    // one file per copy, written in event-time order (file-source
    // ordering follows modification time)
    (0 until mult).foreach { c =>
      ev.withColumn("ts", col("ts") + lit(c * span))
        .coalesce(1).write.mode("append").parquet(dir)
    }
    val nIn = spark.read.parquet(dir).count()
    println(s"events: $nIn rows in $mult event-time-ordered files")

    val sdf = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val agg = sdf
      .withColumn("event_time", expr("timestamp_micros(ts DIV 1000)"))
      .withWatermark("event_time", "300 seconds")
      .groupBy(window(col("event_time"), "60 seconds"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_val"))
      .select(col("window.start").cast("long").as("w"),
        col("event_type"), col("n"), col("sum_val"))
    timed(s"stream $mult batches") {
      val q = agg.writeStream.format("memory").queryName("scale_stream")
        .outputMode("append")
        .option("checkpointLocation", s"$tmp/stream_ckpt_${System.nanoTime()}")
        .start()
      try {
        q.processAllAvailable()
        val prog = q.recentProgress.toSeq
        val state = prog.flatMap(_.stateOperators.headOption)
        val execMs = prog.flatMap(p =>
          Option(p.durationMs.get("triggerExecution")).map(_.longValue))
        println(s"  batches: ${prog.size}")
        println(s"  state rows: max ${if (state.isEmpty) 0 else state.map(_.numRowsTotal).max}, " +
          s"last ${state.lastOption.map(_.numRowsTotal).getOrElse(0L)} " +
          s"(input rows $nIn — state bounded by watermark horizon, not input)")
        println(s"  state mem: max ${state.map(_.memoryUsedBytes).foldLeft(0L)(math.max) / 1024} KB")
        println(s"  per-batch exec ms: first=${execMs.headOption.getOrElse(-1L)} " +
          s"median=${if (execMs.isEmpty) -1 else execMs.sorted.apply(execMs.size / 2)} " +
          s"max=${execMs.foldLeft(0L)(math.max)}")
        println(s"  emitted windows: ${spark.table("scale_stream").count()}")
      } finally q.stop()
    }

    // VERDICT r8 ask #8: kill + resume AT SCALE. The same aggregation
    // runs against a parquet FILE sink with a fixed checkpoint: half
    // the input lands, the query is stopped mid-stream (the in-process
    // stand-in for an executor/driver loss — CheckpointRecoverySpec
    // covers the harder kill shapes at test scale), the other half
    // lands, and an IDENTICAL query resumes from the checkpoint. The
    // resumed run's sink must equal the uninterrupted memory-sink run
    // row for row — watermark state, window boundaries, and sink
    // exactly-once all restored from the checkpoint.
    timed(s"stream kill+resume at $mult batches") {
      val dirR = s"$tmp/events_stream_recovery"
      val ckpt = s"$tmp/stream_ckpt_recovery"
      val outR = s"$tmp/stream_out_recovery"
      Seq(dirR, ckpt, outR).foreach(p =>
        fs.delete(new org.apache.hadoop.fs.Path(p), true))
      def land(copies: Range): Unit = copies.foreach { c =>
        ev.withColumn("ts", col("ts") + lit(c * span))
          .coalesce(1).write.mode("append").parquet(dirR)
      }
      def run(): Unit = {
        val q = spark.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", 1).parquet(dirR)
          .withColumn("event_time", expr("timestamp_micros(ts DIV 1000)"))
          .withWatermark("event_time", "300 seconds")
          .groupBy(window(col("event_time"), "60 seconds"), col("event_type"))
          .agg(count(lit(1)).as("n"), sum("value").as("sum_val"))
          .select(col("window.start").cast("long").as("w"),
            col("event_type"), col("n"), col("sum_val"))
          .writeStream.format("parquet")
          .option("path", outR).option("checkpointLocation", ckpt)
          .outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
      }
      land(0 until mult / 2)
      run() // processes the first half, then "dies"
      land(mult / 2 until mult)
      run() // resumes from the checkpoint over the late half
      val sink = spark.read.parquet(outR)
      val mem = spark.table("scale_stream")
      val missing = mem.exceptAll(sink).count()
      val extra = sink.exceptAll(mem).count()
      println(s"  resumed sink rows: ${sink.count()} vs uninterrupted ${mem.count()} " +
        s"(missing $missing, extra $extra)")
      require(missing == 0 && extra == 0,
        s"kill+resume diverged from the uninterrupted run: missing=$missing extra=$extra")
    }
  }

  /** x71's theta-sketch source-overlap at mult copies. Copies add no
    * NEW grams to any source, so the per-source KMV sketches — pure
    * set-functions of the gram sets — must be BIT-IDENTICAL at every
    * mult (the checksum proves it): sketch-build cost is the one
    * linear corpus pass, the full source×source matrix is flat
    * (O(sources²·k) on broadcast KB rows), and nothing downstream of
    * the scan grows with the corpus at all — the invariant that makes
    * the overlap audit a constant-size artifact at 100 TB.
    */
  private def thetaStage(spark: SparkSession, sfDir: String, mult: Int,
                         tmp: String): Unit = {
    import graft.functions.KmvSketch._
    val K = 128
    val base = graft.queries.Tables.documents(spark, sfDir)
      .select("doc_id", "source", "text")
    val stride = base.agg(max("doc_id")).head().getLong(0) + 1L
    (0 until mult).map { c =>
      base.withColumn("doc_id", col("doc_id") + lit(c.toLong * stride))
    }.reduce(_ union _)
      .repartition(32).write.mode("overwrite").parquet(s"$tmp/theta_docs")
    val docs = spark.read.parquet(s"$tmp/theta_docs")
    println(s"theta corpus: ${docs.count()} docs")
    val kmv = udaf(new graft.functions.KmvSketchAggregator(K))
    val (sk, _) = timed("theta sketch build") {
      val s = docs
        .select(col("source"),
          explode(graft.llm.TextFunctions.charGrams(col("text"), 4)).as("gram"))
        .select(col("source"), hash63(col("gram")).as("h"))
        .groupBy("source").agg(kmv(col("h")).as("sk"))
        .localCheckpoint(true)
      println(s"  sources: ${s.count()}")
      s
    }
    timed("theta overlap matrix") {
      val m = sk.select(col("source").as("sa"), col("sk").as("ska"))
        .join(broadcast(sk.select(col("source").as("sb"), col("sk").as("skb"))),
          col("sa") < col("sb"))
        .select(intersectEstimate(col("ska"), col("skb"), K).as("ei"))
        .agg(count(lit(1)), sum(floor(col("ei")).cast("long"))).head()
      println(s"  pairs: ${m.getLong(0)}, sum floor(est_inter): ${m.getLong(1)}")
    }
    val csum = sk.select(explode(col("sk")).as("h"))
      .agg(sum(pmod(col("h"), lit(1000000007L)))).head().getLong(0)
    println(s"  sketch checksum (mult-invariant): $csum")
  }

  /** VERDICT r8 ask #1 — the one 100 TB risk that had no measurement:
    * a Zipf-skewed key distribution (key 0 holds ~20% of ALL rows,
    * key 1 ~10%, key 2 ~5% — the reference's attacked-dst_ip case,
    * hha.py:267) at mult copies of `events`, driving
    *
    *   - AGG: both q25 aggregate classes, measured for what the
    *     measurement actually shows. sum/count/min/max: map-side
    *     combine collapses the hot key to one partial row per
    *     partition, so the UNSALTED plan is already flat — the
    *     numbers validate q25's comment that salting is pure
    *     overhead for distributive aggregates. collect_set: per-key
    *     OUTPUT is the hot key's whole distinct set, so the final
    *     single-task merge is irreducible under any salting that
    *     preserves the output shape — both plans carry it, printed
    *     as the output-bound critical path. Checksums must agree.
    *   - JOIN: fact ⋈ user dim (4 rows/user) with broadcast DISABLED
    *     (the too-big-to-broadcast posture) and a realistic per-
    *     OUTPUT-row cost (the md5-based hash60 fused after the join —
    *     the downstream-feature shape that makes a straggler's extra
    *     output rows hurt), three ways: plain sort-merge with AQE
    *     skew handling OFF (the straggler baseline — one task owns
    *     the hot key's 20% of all output), SaltedJoin (q35's
    *     operator, AQE still off — the manual escape hatch, hot key
    *     spread over 32 tasks), and plain with AQE skew-join ON at a
    *     test-scale split threshold (the session-default mitigation;
    *     the default 256 MB threshold never fires at local scale, so
    *     it is lowered to let AQE demonstrate the same split).
    *     All three checksums must agree.
    *   - DEDUP: the hot-CLUSTER shape — one document duplicated into
    *     ~2% of the corpus. Candidate pairs inside the hot cluster
    *     are the cluster's own quadratic answer (band-bucket joins
    *     emit them; nothing all-pairs across clusters), and CC must
    *     still converge with the hot cluster intact.
    */
  private def skewStage(spark: SparkSession, sfDir: String, mult: Int,
                        tmp: String): Unit = {
    // events is the smallest base table; 4× extra copies put the
    // skewed corpus in the regime where per-task work, not fixed
    // overhead, decides the wall (at mult=50 → 20M fact rows, hot
    // task 4M) — the separation the stage exists to measure
    val skewMult = mult * 4
    val ev = graft.queries.Tables.events(spark, sfDir)
      .select("event_id", "user_id", "value")
    val stride = ev.agg(max("event_id")).head().getLong(0) + 1L
    (0 until skewMult).map { c =>
      ev.withColumn("event_id", col("event_id") + lit(c.toLong * stride))
    }.reduce(_ union _)
      .withColumn("user_id",
        when(pmod(col("event_id"), lit(100)) < 20, lit(0L))
          .when(pmod(col("event_id"), lit(100)) < 30, lit(1L))
          .when(pmod(col("event_id"), lit(100)) < 35, lit(2L))
          .otherwise(col("user_id")))
      .repartition(32).write.mode("overwrite").parquet(s"$tmp/skew_events")
    val fact = spark.read.parquet(s"$tmp/skew_events")
    val n = fact.count()
    val hot = fact.filter(col("user_id") === 0L).count()
    println(f"skew corpus: $n rows ($skewMult copies), hot key 0 holds $hot (${hot * 100.0 / n}%.1f%%)")

    // ---- aggregation: both q25 classes, unsalted vs salted ----
    def sumChecksum(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val r = df.agg(sum("s").as("s"), sum("n").as("n")).head()
      (r.getLong(0), r.getLong(1))
    }
    val (caDirect, tDirA) = timed("agg sum/count UNSALTED") {
      sumChecksum(fact.groupBy("user_id")
        .agg(sum("event_id").as("s"), count(lit(1)).as("n")))
    }
    val (caSalted, tSaltA) = timed("agg sum/count SALTED x32") {
      sumChecksum(graft.operators.SaltedAgg.aggregate(fact, Seq("user_id"),
        salt = pmod(col("event_id"), lit(32)),
        aggs = Seq(graft.operators.SaltedAgg.Sum("event_id", "s"),
          graft.operators.SaltedAgg.Count("n"))))
    }
    require(caDirect == caSalted,
      s"salted/unsalted sum/count diverged: $caDirect vs $caSalted")
    println(f"  distributive aggs: unsalted FLAT under skew ($tDirA%.2f s vs salted " +
      f"$tSaltA%.2f s) — map-side combine collapses the hot key; salting is pure overhead here")
    def setChecksum(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val r = df.agg(sum(size(col("uniq"))).as("sz"),
        sum(pmod(hash(col("uniq")).cast("long"), lit(1000000007L))).as("h")).head()
      (r.getLong(0), r.getLong(1))
    }
    val (cuDirect, tDirS) = timed("agg collect_set UNSALTED") {
      setChecksum(fact.groupBy("user_id")
        .agg(array_sort(collect_set("event_id")).as("uniq")))
    }
    val (cuSalted, tSaltS) = timed("agg collect_set SALTED x32") {
      setChecksum(graft.operators.SaltedAgg.aggregate(fact, Seq("user_id"),
        salt = pmod(col("event_id"), lit(32)),
        aggs = Seq(graft.operators.SaltedAgg.CollectSet("event_id", "uniq"))))
    }
    require(cuDirect == cuSalted,
      s"salted/unsalted collect_set diverged: $cuDirect vs $cuSalted")
    println(f"  holistic agg (collect_set): both bounded by the irreducible per-key " +
      f"output merge ($tDirS%.2f s vs $tSaltS%.2f s) — skew relief requires sharding " +
      "the OUTPUT, not the computation; checksums agree")
    val (szSharded, tShard) = timed("agg collect_set SHARDED OUT x32") {
      graft.operators.SaltedAgg.collectSetSharded(fact, Seq("user_id"),
          "event_id", shardExpr = pmod(col("event_id"), lit(32)), out = "uniq")
        .agg(sum(size(col("uniq")))).head().getLong(0)
    }
    require(szSharded == cuDirect._1,
      s"sharded-output set size diverged: $szSharded vs ${cuDirect._1}")
    println(f"  sharded OUTPUT (collectSetSharded, q63's operator): $tShard%.2f s — " +
      "the hot key's set never assembles in one task; disjoint shard union " +
      s"covers the same $szSharded values")

    // ---- join: straggler baseline vs SaltedJoin vs AQE skew-join ----
    // 4 dim rows per user (the user × feature shape): join OUTPUT is
    // 4× the fact, so the hot task's cost is dominated by real join
    // work, not scan overhead
    val dim = fact.select("user_id").distinct()
      .crossJoin(spark.range(4).select(col("id").as("f")))
      .withColumn("payload", (col("user_id") * 7L + col("f")) % 1001L)
      .drop("f")
      .repartition(32).localCheckpoint(true)
    println(s"  dim rows: ${dim.count()} (4/user; broadcast disabled to force the shuffle-join regime)")
    // per-OUTPUT-row feature hash (md5-based hash60): the downstream
    // work a real pipeline fuses after the join — this is what makes
    // the hot task's 20% of all output rows a wall-clock straggler
    def joinChecksum(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)).as("n"),
        sum(pmod(graft.llm.TextFunctions.hash60(concat_ws(":",
          col("user_id"), col("event_id"), col("payload"))),
          lit(1000000007L))).as("s")).head()
      (r.getLong(0), r.getLong(1))
    }
    val noBroadcast = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val (cjPlain, _) = timed("join plain smj, AQE skew OFF") {
      withConf(spark, noBroadcast :+
          ("spark.sql.adaptive.skewJoin.enabled" -> "false"): _*) {
        joinChecksum(fact.join(dim, "user_id"))
      }
    }
    val (cjSalted, _) = timed("join SALTED x32, AQE skew OFF") {
      withConf(spark, noBroadcast :+
          ("spark.sql.adaptive.skewJoin.enabled" -> "false"): _*) {
        joinChecksum(graft.operators.SaltedJoin.inner(fact, dim,
          Seq("user_id"), salts = 32))
      }
    }
    val (cjAqe, _) = timed("join plain smj, AQE skew ON") {
      withConf(spark, noBroadcast ++ Seq(
          "spark.sql.adaptive.skewJoin.enabled" -> "true",
          "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
          "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8m",
          "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "4m"): _*) {
        joinChecksum(fact.join(dim, "user_id"))
      }
    }
    require(cjPlain == cjSalted && cjPlain == cjAqe,
      s"join checksums diverged: plain=$cjPlain salted=$cjSalted aqe=$cjAqe")
    println(s"  join checksums agree: $cjPlain")

    // ---- dedup: hot-cluster corpus, CC must converge ----
    val docs0 = graft.queries.Tables.documents(spark, sfDir)
      .select("doc_id", "text")
    val nDocs = docs0.count()
    val dStride = docs0.agg(max("doc_id")).head().getLong(0) + 1L
    val hotN = math.max(50L, nDocs * mult / 50L) // ~2% of the scaled corpus
    val hotText = docs0.orderBy("doc_id").select("text").head().getString(0)
    val hotDocs = spark.range(hotN)
      .select((col("id") + lit(dStride * (mult + 1))).as("doc_id"),
        lit(hotText).as("text"))
    (0 until mult).map { c =>
      docs0.withColumn("doc_id", col("doc_id") + lit(c.toLong * dStride))
    }.reduce(_ union _).union(hotDocs)
      .repartition(32).write.mode("overwrite").parquet(s"$tmp/skew_docs")
    val sdocs = spark.read.parquet(s"$tmp/skew_docs")
    println(s"  skewed dedup corpus: ${sdocs.count()} docs (hot cluster ≥ ${hotN + mult})")
    timed("minhash candidates (hot cluster)") {
      val c = Dedup.minhashCandidates(sdocs, "text", "doc_id").localCheckpoint(true)
      println(s"    pairs: ${c.count()}")
      timed("connected components (hot cluster)") {
        val l = Dedup.connectedComponents(c, "doc_a", "doc_b")
        val hotLabelSize = l.groupBy("label").count()
          .agg(max("count")).head().getLong(0)
        println(s"    labeled nodes: ${l.count()}, clusters: " +
          s"${l.select("label").distinct().count()}, largest cluster: $hotLabelSize")
        require(hotLabelSize >= hotN + mult,
          s"hot cluster split: $hotLabelSize < ${hotN + mult}")
      }
    }
  }

  /** st24's sharded set STATE at mult copies under a 20%-hot key
    * (VERDICT r9 ask #4 — the streaming twin of skewStage's batch
    * collectSetSharded measurement). Complete-mode collect_set state
    * is the per-key distinct-value set itself, so a hot key's state
    * ROW grows with the corpus and pins one task's memory; sharding
    * the state BY VALUE splits it into shard-many rows that hash to
    * different partitions. The stage streams the corpus through both
    * shapes and reports per-batch exec, state rows/bytes, and the
    * LARGEST single set row — the quantity a real deployment must
    * bound — then requires the final sharded table to equal the batch
    * q63-shape answer checksum-for-checksum (set state is a pure
    * set-function of the stream, so batching cannot change it).
    */
  private def shardStateStage(spark: SparkSession, sfDir: String, mult: Int,
                              tmp: String): Unit = {
    import spark.implicits._
    val ev = graft.queries.Tables.events(spark, sfDir)
      .select("event_id", "user_id")
    val stride = ev.agg(max("event_id")).head().getLong(0) + 1L
    val dir = s"$tmp/shardstate_events"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    // one file per copy; 20% of rows remapped to the hot user 0
    // (skewStage's mapping), so the hot SET grows with the corpus
    (0 until mult).foreach { c =>
      ev.withColumn("event_id", col("event_id") + lit(c.toLong * stride))
        .withColumn("user_id",
          when(pmod(col("event_id"), lit(100)) < 20, lit(0L))
            .otherwise(col("user_id") % 50))
        .coalesce(1).write.mode("append").parquet(dir)
    }
    val fact = spark.read.parquet(dir)
    val n = fact.count()
    println(s"shardstate corpus: $n rows, hot user 0 holds " +
      s"${fact.filter(col("user_id") === 0L).count()} ($mult files)")

    def setChecksum(df: DataFrame, setCol: String): (Long, Long) = {
      val r = df.agg(sum(size(col(setCol))).as("sz"),
        sum(pmod(hash(col(setCol)).cast("long"), lit(1000000007L))).as("h")).head()
      (r.getLong(0), r.getLong(1))
    }
    // batch q63-shape answer — the oracle the stream must reproduce
    val batchSharded = graft.operators.SaltedAgg.collectSetSharded(
        fact, Seq("user_id"), "event_id",
        shardExpr = pmod(col("event_id"), lit(32)), out = "uniq")
      .withColumn("uniq", array_sort(col("uniq")))
      .localCheckpoint(true)
    val batchCk = setChecksum(batchSharded, "uniq")

    val filesPerTrigger = math.max(1, mult / 8) // ~8 triggers at any mult
    def runStream(name: String, shape: DataFrame => DataFrame,
                  sortedSetCol: String): (Long, Long) = {
      val qname = s"scale_shardstate_$name"
      val (ck, secs) = timed(s"stream complete-mode collect_set [$name]") {
        val q = shape(spark.readStream.schema(fact.schema)
            .option("maxFilesPerTrigger", filesPerTrigger).parquet(dir))
          .writeStream.format("memory").queryName(qname)
          .outputMode("complete")
          .option("checkpointLocation", s"$tmp/shardstate_ckpt_${name}_${System.nanoTime()}")
          .start()
        try {
          q.processAllAvailable()
          val prog = q.recentProgress.toSeq
          val state = prog.flatMap(_.stateOperators.headOption)
          val execMs = prog.flatMap(p =>
            Option(p.durationMs.get("triggerExecution")).map(_.longValue))
          println(s"  [$name] batches: ${prog.size}, state rows last " +
            s"${state.lastOption.map(_.numRowsTotal).getOrElse(0L)}, state mem max " +
            s"${state.map(_.memoryUsedBytes).foldLeft(0L)(math.max) / 1024} KB, " +
            s"per-batch exec ms first=${execMs.headOption.getOrElse(-1L)} " +
            s"last=${execMs.lastOption.getOrElse(-1L)} max=${execMs.foldLeft(0L)(math.max)}")
          val table = spark.table(qname)
            .withColumn(sortedSetCol, array_sort(col(sortedSetCol)))
          val largest = table.agg(max(size(col(sortedSetCol)))).head().getInt(0)
          println(f"  [$name] final rows: ${table.count()}, largest single set row: " +
            f"$largest values (${largest * 100.0 / n}%.1f%% of corpus)")
          setChecksum(table, sortedSetCol)
        } finally q.stop()
      }
      println(f"  [$name] wall $secs%.2f s")
      ck
    }

    val directCk = runStream("direct",
      in => in.groupBy("user_id").agg(collect_set("event_id").as("uniq")),
      "uniq")
    val shardedCk = runStream("sharded_x32",
      in => graft.operators.SaltedAgg.collectSetSharded(
        in, Seq("user_id"), "event_id",
        shardExpr = pmod(col("event_id"), lit(32)), out = "uniq"),
      "uniq")
    require(directCk._1 == batchCk._1,
      s"direct stream total set size diverged from batch: $directCk vs $batchCk")
    require(shardedCk == batchCk,
      s"sharded stream state diverged from the batch q63 answer: $shardedCk vs $batchCk")
    println(s"  sharded streaming state == batch sharded answer (checksum $batchCk); " +
      "hot key's set split across 32 state rows instead of one")
  }

  /** The reference pipeline's OWN skew case (VERDICT r9 ask #5):
    * hha.py:267's scenario — one attacked dst_ip dominating the
    * histogram — run through the ACTUAL r05/r08 plans
    * ([[graft.reference.SpikeDetector]]) at mult copies with 20% of
    * all rows remapped to a single hot IP. The pipeline is
    * structurally skew-immune and the stage measures that claim
    * instead of arguing it: both window aggregates are DISTRIBUTIVE
    * (sum/count partials under a truncating avg), so map-side combine
    * collapses the hot key before the exchange, and the baseline join
    * runs on POST-AGGREGATION frames — one row per key per side — so
    * no join task ever sees the hot key's raw rows. Wall must track
    * the uniform corpus at every mult and the alert set must be
    * IDENTICAL across detect / detectFused / forced-AQE-skew plans.
    */
  private def spikeSkewStage(spark: SparkSession, sfDir: String, mult: Int,
                             tmp: String): Unit = {
    import graft.queries.{RefHistogram, Tables}
    import graft.reference.{SpikeDetector, SpikeParams}
    val t = RefHistogram.tmax(spark, sfDir)
    val hist0 = RefHistogram.derive(Tables.events(spark, sfDir), t)
    val hotIp = 3232235520L
    def land(out: String, hot: Boolean): DataFrame = {
      val scaledHist = (0 until mult).map(_ => hist0).reduce(_ union _)
      val remapped = if (hot)
        scaledHist.withColumn("dst_ip",
          when(pmod(col("timestamp") * 31 + col("CountPkt"), lit(100)) < 20,
            lit(hotIp)).otherwise(col("dst_ip")))
      else scaledHist
      remapped.repartition(32).write.mode("overwrite").parquet(out)
      spark.read.parquet(out)
    }
    val uniform = land(s"$tmp/spike_hist_uniform", hot = false)
    val hot = land(s"$tmp/spike_hist_hot", hot = true)
    val hotShare = hot.filter(col("dst_ip") === hotIp).count() * 100.0 / hot.count()
    println(f"spike corpus: ${hot.count()} rows x2 variants, hot dst_ip holds $hotShare%.1f%%")

    val curStart = t - RefHistogram.CurWindowSec
    def alerts(h: DataFrame, fused: Boolean): DataFrame = {
      val cur = col("timestamp") > curStart
      val prev = col("timestamp") < curStart
      if (fused) SpikeDetector.detectFused(h, cur, prev, SpikeParams())
      else SpikeDetector.detect(h, cur, prev, SpikeParams())
    }
    def checksum(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)).as("n"),
        sum(pmod(hash(col("num_protocol"), col("type_proto"), col("dst_ip"),
          col("sum_val")).cast("long"), lit(1000000007L))).as("h")).head()
      (r.getLong(0), r.getLong(1))
    }
    val (ckUniform, tUniform) = timed("spike detect, UNIFORM corpus") {
      checksum(alerts(uniform, fused = false))
    }
    val (ckHot, tHot) = timed("spike detect, 20%-hot dst_ip") {
      checksum(alerts(hot, fused = false))
    }
    val (ckHotFused, tHotFused) = timed("spike detectFused, 20%-hot dst_ip") {
      checksum(alerts(hot, fused = true))
    }
    val (ckHotAqe, tHotAqe) = timed("spike detect, 20%-hot, forced AQE skew") {
      withConf(spark,
        "spark.sql.adaptive.skewJoin.enabled" -> "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8m",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "4m") {
        checksum(alerts(hot, fused = false))
      }
    }
    require(ckHot == ckHotFused && ckHot == ckHotAqe,
      s"hot-corpus alert sets diverged: detect=$ckHot fused=$ckHotFused aqe=$ckHotAqe")
    println(f"  alerts: uniform ${ckUniform._1} rows, hot ${ckHot._1} rows — identical " +
      "across detect/detectFused/AQE-skew plans on the hot corpus")
    println(f"  walls: uniform $tUniform%.2f s vs hot $tHot%.2f s " +
      f"(fused $tHotFused%.2f s, AQE $tHotAqe%.2f s) — distributive map-side combine " +
      "collapses the hot key before the exchange; the baseline join sees one row per key")
  }

  /** q60's Count-Min join-size estimate at mult copies of lineitem
    * against the fixed orders dimension. CM counters ADD, so the fact
    * sketch at mult copies is EXACTLY mult × the base sketch per
    * counter — the estimate must scale exactly linearly (checksum =
    * the estimate itself divided by mult, printed for cross-run
    * comparison), the sketch stays d·w counters however large the
    * corpus, and the inner product is flat.
    */
  private def cmStage(spark: SparkSession, sfDir: String, mult: Int,
                      tmp: String): Unit = {
    val base = graft.queries.Tables.lineitem(spark, sfDir)
      .select("l_orderkey")
    (0 until mult).map(_ => base).reduce(_ union _)
      .repartition(32).write.mode("overwrite").parquet(s"$tmp/cm_fact")
    val fact = spark.read.parquet(s"$tmp/cm_fact")
    println(s"cm fact: ${fact.count()} rows")
    val (factSk, _) = timed("cm fact sketch build") {
      val s = CmSketch.sketch(fact, col("l_orderkey"), "cnt_a")
        .localCheckpoint(true)
      println(s"  counters: ${s.count()} (fixed d*w regardless of corpus)")
      s
    }
    timed("cm join-size estimate") {
      val dim = CmSketch.sketch(
        graft.queries.Tables.orders(spark, sfDir), col("o_orderkey"), "cnt_b")
      val est = CmSketch.innerProducts(factSk, dim)
        .agg(min("inner_e")).head().getLong(0)
      println(s"  estimate: $est, per-copy (mult-invariant): ${est / mult}")
    }
  }

  /** The two planning-side operators at mult copies (round 10):
    *
    * Sketch-driven broadcast (SketchStats + SketchBroadcastRule,
    * q68's shape): a fact × mult join against a dim × mult whose FILE
    * is far past the 10 MB static threshold, filtered to a 2% class
    * slice. Static stats must sort-merge (they see the whole file);
    * AQE can only convert at runtime AFTER the map stages ran; the
    * sketch hint broadcasts at PLANNING time, so the fact-side
    * exchange never exists. All three answers must be
    * checksum-equal, and the separation should grow with mult —
    * SMJ pays the fact shuffle (linear in corpus), the hinted BHJ
    * pays a scan plus a class-slice broadcast (constant per copy).
    *
    * Zone-map skipping (ZoneMap over a ZOrder layout, q69's shape):
    * events × mult z-ordered into 4·mult files; a ~2% box probe must
    * open only the intersecting files while the full-scan filter
    * reads everything — files-opened is printed as the direct
    * measure, answers checksum-equal.
    */
  private def planningStage(spark: SparkSession, sfDir: String, mult: Int,
                            tmp: String): Unit = {
    import graft.operators.{SketchStats, ZOrder, ZoneMap}
    import graft.operators.ZoneMap.Range
    import graft.queries.Tables

    val ordBase = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_orderpriority"), col("o_totalprice"),
        // statuses in this corpus are uniform thirds; a real dim's
        // rare attribute (country code, flash-sale flag) is modeled
        // deterministically: 2% of orders are 'flash'
        when(col("o_orderkey") % 50 === 0, lit("flash"))
          .otherwise(concat(lit("c"), (col("o_orderkey") % 7).cast("string")))
          .as("o_class"))
    val liBase = Tables.lineitem(spark, sfDir).select("l_orderkey", "l_quantity")
    val stride = ordBase.agg(max("o_orderkey")).head().getLong(0) + 1L
    def copies(df: DataFrame, idCol: String, out: String): DataFrame = {
      (0 until mult).map(c => df.withColumn(idCol, col(idCol) + lit(c * stride)))
        .reduce(_ union _).repartition(32).write.mode("overwrite").parquet(out)
      spark.read.parquet(out)
    }
    val dimPath = s"$tmp/plan_dim"
    val fact = copies(liBase, "l_orderkey", s"$tmp/plan_fact")
    val dim = copies(ordBase, "o_orderkey", dimPath)
    println(s"planning corpus: fact ${fact.count()} rows, dim ${dim.count()} rows " +
      s"('flash' slice ${dim.filter(col("o_class") === "flash").count()})")

    def joinAgg(): (Long, Long) = {
      val r = fact.join(dim.filter(col("o_class") === "flash"),
          col("l_orderkey") === col("o_orderkey"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("l_quantity")).cast("long")).as("s")).head()
      (r.getLong(0), r.getLong(1))
    }
    val (ckSmj, tSmj) = timed("flash join, static stats (AQE off)") {
      withConf(spark, "spark.sql.adaptive.enabled" -> "false") { joinAgg() }
    }
    val (ckAqe, tAqe) = timed("flash join, AQE runtime conversion") { joinAgg() }
    val statsDir = s"$tmp/plan_stats"
    SketchStats.build(dim, col("o_class"), statsDir)
    SketchStats.register(spark, statsDir, dimPath, "o_class",
      avgRowBytes = 64, thresholdBytes = 32L << 20)
    val (ckHint, tHint) = try {
      timed("flash join, sketch-hinted BHJ (AQE off)") {
        withConf(spark, "spark.sql.adaptive.enabled" -> "false") { joinAgg() }
      }
    } finally SketchStats.unregister(dimPath, "o_class")
    require(ckSmj == ckAqe && ckSmj == ckHint,
      s"planning answers diverged: smj=$ckSmj aqe=$ckAqe hint=$ckHint")
    println(f"  checksums equal ($ckSmj); walls: static-SMJ $tSmj%.2f s, " +
      f"AQE $tAqe%.2f s, sketch-BHJ $tHint%.2f s")

    val evBase = Tables.events(spark, sfDir).select(col("event_id"),
      (col("user_id") % 2048).as("uz"),
      (round(col("value") * 100).cast("long") % 2048).as("vz"),
      col("value"))
    val evScaled = (0 until mult).map(_ => evBase).reduce(_ union _)
    val zTable = s"$tmp/plan_zorder"
    val zmPath = s"$tmp/plan_zm"
    timed("z-order layout write") {
      ZOrder.writeZOrdered(evScaled, zTable, Seq("uz", "vz"),
        bits = 11, files = 4 * mult)
    }
    timed("zone-map build (one scan)") {
      ZoneMap.build(spark, zTable, Seq("uz", "vz"), zmPath)
    }
    val box = Seq(Range("uz", 64, 191), Range("vz", 0, 511))
    val total = ZoneMap.fileCount(spark, zmPath)
    val kept = ZoneMap.prunedFiles(spark, zmPath, box).size
    def csum(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("s")).head()
      (r.getLong(0), r.getLong(1))
    }
    val (ckFull, tFull) = timed("box query, full scan") {
      csum(spark.read.parquet(zTable).filter(ZoneMap.boxPredicate(box)))
    }
    val (ckPruned, tPruned) = timed("box query, zone-map pruned") {
      csum(ZoneMap.readPruned(spark, zTable, zmPath, box))
    }
    require(ckFull == ckPruned,
      s"zone-map pruning changed the answer: $ckFull vs $ckPruned")
    println(f"  zone map: opened $kept of $total files " +
      f"(${100.0 * kept / total}%.1f%%), answers equal ($ckFull); " +
      f"full $tFull%.2f s vs pruned $tPruned%.2f s")

    // the same probe through the PLANNING-TIME index: one ordinary
    // scan node whose own numFiles metric shows the skip
    val (ckPlanned, tPlanned) = timed("box query, planning-time FileIndex") {
      val (df, idx) = graft.sources.ZoneMapFileIndex
        .readWithIndex(spark, zTable, zmPath, Set("uz", "vz"))
      val r = df
        .filter(col("uz").between(64, 191) && col("vz").between(0, 511))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("s"))
        .head()
      val (surv, listed) = idx.lastListing.getOrElse((-1, -1))
      println(s"  planned scan opened $surv of $listed files " +
        "(skip inside the scan node's own listing)")
      (r.getLong(0), r.getLong(1))
    }
    require(ckFull == ckPlanned,
      s"planning-time skipping changed the answer: $ckFull vs $ckPlanned")
    println(f"  planning-time path wall $tPlanned%.2f s (answers equal)")
  }

  /** st26's streaming temporal as-of join at mult copies. Claims
    * measured: FMGWS state is one row per KEY at every batch (not per
    * version — numRowsTotal proves it), state MEMORY plateaus instead
    * of growing with the versions seen (the horizon pruning — each
    * copy adds a full version history per key, all of it prunable
    * once the watermark passes), per-batch exec stays flat from first
    * to last batch, and the streamed answer checksum-equals the batch
    * as-of join over the same scaled frames.
    */
  private def temporalStage(spark: SparkSession, sfDir: String, mult: Int,
                            tmp: String): Unit = {
    import spark.implicits._
    import graft.streaming.{TemporalJoin, TemporalRow}
    val ev = graft.queries.Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"),
        graft.queries.Tables.tsSec.as("sec"))
    val Seq(smin, smax) = ev.agg(min("sec"), max("sec"))
      .head().toSeq.map(_.asInstanceOf[Long])
    val span = smax - smin + 3600L
    val idBig = 1000000000L
    val dir = s"$tmp/temporal_stream"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    // one event-time-ordered file per copy: probes = events, versions
    // = the %7 slice deduped per (user, sec) — each copy replays the
    // full version history one span later
    (0 until mult).foreach { c =>
      val probes = ev.filter(col("event_id") % 7 =!= 0)
        .select(col("user_id"), lit(false).as("is_dim"),
          (col("event_id") + c * idBig).as("id"),
          (col("sec") + c * span).as("sec"))
      val dims = ev.filter(col("event_id") % 7 === 0)
        .groupBy("user_id", "sec").agg(max("event_id").as("v"))
        .select(col("user_id"), lit(true).as("is_dim"),
          (col("v") + c * idBig).as("id"),
          (col("sec") + c * span).as("sec"))
      probes.unionByName(dims).coalesce(1).write.mode("append").parquet(dir)
    }
    // far-future sentinel version lands last to flush the tail
    Seq(TemporalRow(-1L, is_dim = true, -1L, smax + mult * span + 1000000L))
      .toDF().coalesce(1).write.mode("append").parquet(dir)
    val nIn = spark.read.parquet(dir).count()
    println(s"temporal rows: $nIn in $mult event-time-ordered files (+ sentinel)")

    timed(s"temporal as-of stream $mult batches") {
      val in = spark.readStream
        .schema(org.apache.spark.sql.Encoders.product[TemporalRow].schema)
        .option("maxFilesPerTrigger", 1).parquet(dir)
      val q = TemporalJoin.join(in.toDF(), watermarkDelaySec = 1)
        .writeStream.format("memory").queryName("scale_temporal")
        .outputMode("append")
        .option("checkpointLocation", s"$tmp/temporal_ckpt_${System.nanoTime()}")
        .start()
      try {
        q.processAllAvailable()
        val prog = q.recentProgress.toSeq
        val state = prog.flatMap(_.stateOperators.headOption)
        val execMs = prog.flatMap(p =>
          Option(p.durationMs.get("triggerExecution")).map(_.longValue))
        val memKb = state.map(_.memoryUsedBytes / 1024)
        println(s"  batches: ${prog.size}; state rows last " +
          s"${state.lastOption.map(_.numRowsTotal).getOrElse(0L)} = keys, " +
          s"not versions (versions fed: ~${nIn / 7})")
        println(s"  state KB per batch: first=${memKb.headOption.getOrElse(0L)} " +
          s"median=${if (memKb.isEmpty) 0 else memKb.sorted.apply(memKb.size / 2)} " +
          s"max=${memKb.foldLeft(0L)(math.max)} (plateau = horizon pruning)")
        println(s"  per-batch exec ms: first=${execMs.headOption.getOrElse(-1L)} " +
          s"median=${if (execMs.isEmpty) -1 else execMs.sorted.apply(execMs.size / 2)} " +
          s"max=${execMs.foldLeft(0L)(math.max)}")
      } finally q.stop()
    }

    timed("batch as-of equivalence") {
      val all = spark.read.parquet(dir).filter(col("id") >= 0)
      val l = all.filter(!col("is_dim"))
        .select(col("id").as("event_id"), col("user_id"),
          col("sec").as("evt_sec"))
      val r = all.filter(col("is_dim"))
        .select(col("user_id"), col("sec").as("ord_sec"),
          col("id").as("o_orderkey"))
      val batch = graft.operators.AsOfJoin.backward(
        l, r, Seq("user_id"), "evt_sec", "ord_sec")
      def csum(df: DataFrame): (Long, Long) = {
        val row = df.agg(count(lit(1)).as("n"),
          sum(col("evt_sec") + coalesce(col("ord_sec"), lit(0L)) +
            coalesce(col("o_orderkey"), lit(0L))).as("s")).head()
        (row.getLong(0), row.getLong(1))
      }
      val cb = csum(batch)
      val cs = csum(spark.table("scale_temporal"))
      require(cb == cs, s"stream diverged from batch as-of: $cb vs $cs")
      println(s"  stream == batch as-of: $cs over ${cs._1} probes")
    }
  }

  /** The selection/transform family (x74/x75/x76). Claims measured:
    *   - x75: the importance-weight table is 4096 longs at EVERY mult
    *     (the driver collect cannot grow — it is keyed by bucket, not
    *     by gram), weight build is one conditional-agg scan, scoring
    *     one join-free scan, top-100 k-bounded: the whole selection
    *     pass is two linear scans however large the corpus.
    *   - x76: scrub time is linear in the covered-position join's
    *     OUTPUT (w· gram rows); the scaled corpus duplicates every
    *     doc, so every >=w-token doc must scrub to empty — the
    *     fully-scrubbed count proves the cover is total, and there is
    *     no pairwise comparison anywhere.
    *   - x74: the balanced sample's aggregate state and output stay
    *     clusters·Q at every mult — the kept count is
    *     corpus-independent while the scan grows linearly.
    */
  private def selectionStage(spark: SparkSession, sfDir: String, mult: Int,
                             tmp: String, docs: DataFrame): Unit = {
    import graft.llm.Selection
    val (w, _) = timed("dsir weights (one scan)") {
      Selection.importanceWeights(docs, col("doc_id") % 11 === 0)
    }
    println(s"  weight table: ${w.length} longs (corpus-independent)")
    timed("dsir score + top-100") {
      val top = Selection
        .importanceScores(docs.filter(col("doc_id") % 11 =!= 0), w)
        .orderBy(col("score_e6").desc, col("doc_id")).limit(100)
      println(s"  selected: ${top.count()} (k-bounded)")
    }
    timed("dup-span scrub") {
      val r = Dedup.scrubDuplicateSpans(docs).localCheckpoint(true)
      val agg = r.agg(count(lit(1)).as("n"),
        sum(when(col("n_removed") === col("n_tokens") &&
          col("n_tokens") >= 5, 1L).otherwise(0L)).as("full"),
        sum("n_removed").as("rm")).head()
      println(s"  docs: ${agg.getLong(0)}, fully scrubbed: ${agg.getLong(1)}, " +
        s"tokens removed: ${agg.getLong(2)}")
    }
    timed("decontamination scrub") {
      val r = Dedup.scrubBenchmarkSpans(docs, col("doc_id") % 97 === 0)
        .localCheckpoint(true)
      val agg = r.agg(count(lit(1)).as("n"), sum("n_removed").as("rm")).head()
      println(s"  training docs: ${agg.getLong(0)}, tokens removed: ${agg.getLong(1)} " +
        s"(benchmark grams broadcast — corpus grams never shuffle for the cover)")
    }
    val base = graft.queries.Tables.embeddings(spark, sfDir)
    val emb = scaled(base, "vec_id", mult, s"$tmp/embeddings_sel")
    println(s"embeddings: ${emb.count()} ($mult x ${base.count()})")
    timed("cluster-balanced sample") {
      implicit val enc: org.apache.spark.sql.Encoder[graft.functions.Scored] =
        org.apache.spark.sql.Encoders.product[graft.functions.Scored]
      val topk = udaf(new graft.functions.TopKAggregator(25))
      val kept = Similarity
        .assignToCentroids(emb, base.filter(col("vec_id") < 8))
        .select(col("cluster"),
          TF.hash60(concat(lit("cbal:"), col("vec_id").cast("string"))).as("score"),
          col("vec_id").as("id"))
        .groupBy("cluster").agg(topk(col("score"), col("id")).as("kept"))
        .select(col("cluster"), posexplode(col("kept")).as(Seq("pos", "t")))
      println(s"  kept rows: ${kept.count()} (clusters x Q, corpus-independent)")
    }
  }

  /** x77/x79/x80's shapes — the sampling/allocation/ordering trio that
    * turns a filtered corpus into a training draw:
    *   - x77 priority sampling: priority is a pure projection, the
    *     top-(k+1) take is TakeOrderedAndProject (per-partition top-49,
    *     driver merge of 32·49 rows) — wall must be the scan, output
    *     fixed at 48 rows, and the published max(w, τ) estimator's
    *     48-row sum must track the true corpus total at every mult.
    *   - x79 waterfilling: the solver runs on |sources| rows however
    *     large the corpus (the count proves it); the apply pass is one
    *     shuffle by source + per-source cumsum. Budget scales with
    *     mult so the allocation problem stays non-degenerate.
    *   - x80 WFQ interleave: virtual times need only a per-source
    *     rank; the global order is `orderBy(vt, …)` — a RANGE-
    *     PARTITIONED sort (no single-partition window at scale; the
    *     registry's row_number position column is the toy form, the
    *     writer's file order is the scale form, x33's posture). The
    *     mixture-prefix guarantee is checked by vt-threshold counts:
    *     below vt T every source has exactly min(⌊T/step⌋, n) docs.
    */
  private def orderingStage(spark: SparkSession, sfDir: String, mult: Int,
                            tmp: String, textDocs: DataFrame): Unit = {
    import org.apache.spark.sql.expressions.Window
    val base = graft.queries.Tables.documents(spark, sfDir)
      .select("doc_id", "source", "n_chars")
    val docs = scaled(base, "doc_id", mult, s"$tmp/documents_ord")
    println(s"ordering docs: ${docs.count()} ($mult x ${base.count()})")
    val totalChars = docs.agg(sum("n_chars")).head().getLong(0)

    timed("x77 priority sample (scan + top-49 take)") {
      val top = docs
        .withColumn("u", pmod(
          TF.hash60(concat(lit("prio:"), col("doc_id").cast("string"))),
          lit(1048576L)) + 1L)
        .withColumn("priority", expr("(n_chars * 1048576) DIV u"))
        .orderBy(col("priority").desc, col("doc_id")).limit(49)
        .withColumn("rk", row_number().over(
          Window.orderBy(col("priority").desc, col("doc_id"))).cast("long"))
        .localCheckpoint(true)
      val tau = top.filter(col("rk") === 49).head().getAs[Long]("priority")
      val est = top.filter(col("rk") <= 48)
        .agg(sum(greatest(col("n_chars"), lit(tau)))).head().getLong(0)
      println(f"  sample: 48 rows (k-bounded at every mult); " +
        f"est corpus chars = $est%,d vs true $totalChars%,d " +
        f"(ratio ${est.toDouble / totalChars}%.3f)")
    }

    timed("x79 waterfilling (solver + budget-capped apply)") {
      val B = 60000L * mult
      val stats = docs.groupBy("source").agg(sum("n_chars").as("t"))
        .withColumn("w_e6",
          when(expr("CAST(substring(source, 4, 10) AS BIGINT)") < 4,
            lit(200000L)).otherwise(lit(12500L)))
        .withColumn("k", expr("t * (200000 DIV w_e6)"))
        .localCheckpoint(true)
      println(s"  solver relation: ${stats.count()} rows (= sources, " +
        "corpus-independent)")
      val prev = Window.orderBy(col("k"), col("source"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val flagged = stats
        .withColumn("cum_t_prev", coalesce(sum("t").over(prev), lit(0L)))
        .withColumn("cum_w_prev", coalesce(sum("w_e6").over(prev), lit(0L)))
        .withColumn("saturated",
          col("t") * (lit(1000000L) - col("cum_w_prev")) <=
            (lit(B) - col("cum_t_prev")) * col("w_e6"))
      val sums = flagged.agg(
        sum(when(col("saturated"), col("t")).otherwise(0L)).as("st"),
        sum(when(col("saturated"), col("w_e6")).otherwise(0L)).as("sw"))
      val alloc = flagged.crossJoin(broadcast(sums))
        .withColumn("alloc", when(col("saturated"), col("t"))
          .otherwise(expr(s"w_e6 * ($B - st) DIV greatest(1000000 - sw, 1)")))
        .select(col("source"), col("saturated"), col("alloc"))
      val kept = docs
        .withColumn("draw",
          TF.hash60(concat(lit("bud:"), col("doc_id").cast("string"))))
        .withColumn("cum_chars", sum("n_chars").over(
          Window.partitionBy("source").orderBy(col("draw"), col("doc_id"))))
        .join(broadcast(alloc), "source")
        .filter(col("cum_chars") <= col("alloc"))
        .localCheckpoint(true)
      val agg = kept.agg(count(lit(1)).as("n"), sum("n_chars").as("c")).head()
      val nSat = alloc.filter(col("saturated")).count()
      println(f"  budget ${B}%,d chars: kept ${agg.getLong(0)}%,d docs / " +
        f"${agg.getLong(1)}%,d chars (<= B), saturated sources: $nSat")
    }

    timed("x80 WFQ interleave (range-partitioned global sort)") {
      val ordered = docs
        .withColumn("w_e6",
          when(expr("CAST(substring(source, 4, 10) AS BIGINT)") < 4,
            lit(200000L)).otherwise(lit(12500L)))
        .withColumn("draw",
          TF.hash60(concat(lit("wrr:"), col("doc_id").cast("string"))))
        .withColumn("k", row_number().over(
          Window.partitionBy("source").orderBy(col("draw"), col("doc_id")))
          .cast("long"))
        .withColumn("vt", expr("k * (1000000000000 DIV w_e6)"))
        .orderBy(col("vt"), col("source"), col("k"))
      ordered.write.mode("overwrite").parquet(s"$tmp/train_order")
      // the mixture-prefix guarantee, checked on the written order:
      // below vt = 8e9 a 0.2-weight source (step 5e6) has exactly 1600
      // docs and a 0.0125-weight source (step 8e7) exactly 100 — 16:1
      // at the prefix, not just in expectation
      val t = 8000000000L
      val mix = spark.read.parquet(s"$tmp/train_order")
        .filter(col("vt") <= t)
        .groupBy("w_e6").agg(
          countDistinct("source").as("srcs"),
          (count(lit(1)) / countDistinct("source")).as("docs_per_src"))
        .orderBy(col("w_e6").desc).collect()
      mix.foreach { r =>
        println(f"  vt<=8e9 prefix: w_e6=${r.getLong(0)} -> " +
          f"${r.getAs[Double]("docs_per_src")}%.1f docs/source " +
          f"over ${r.getLong(1)} sources")
      }
    }

    timed("x81 FIM transform (map-only rewrite)") {
      val n = col("n_chars")
      val rewritten = textDocs
        .withColumn("n_chars", length(col("text")).cast("long"))
        .withColumn("fim", pmod(
          TF.hash60(concat(lit("fim?:"), col("doc_id").cast("string"))),
          lit(2L)) === 0L)
        .withColumn("c1", pmod(
          TF.hash60(concat(lit("fim1:"), col("doc_id").cast("string"))), n + 1L))
        .withColumn("c2", pmod(
          TF.hash60(concat(lit("fim2:"), col("doc_id").cast("string"))), n + 1L))
        .withColumn("lo", least(col("c1"), col("c2")))
        .withColumn("hi", greatest(col("c1"), col("c2")))
        .select(col("doc_id"), col("fim"),
          when(col("fim"), concat(
              lit("<PRE>"), col("text").substr(lit(1), col("lo")),
              lit("<SUF>"), col("text").substr(col("hi") + 1, n - col("hi")),
              lit("<MID>"), col("text").substr(col("lo") + 1,
                col("hi") - col("lo"))))
            .otherwise(col("text")).as("text_fim"))
      rewritten.write.mode("overwrite").parquet(s"$tmp/fim_out")
      val agg = spark.read.parquet(s"$tmp/fim_out")
        .agg(count(lit(1)).as("n"),
          sum(col("fim").cast("long")).as("nf")).head()
      println(f"  rewrote ${agg.getLong(0)}%,d docs, FIM applied to " +
        f"${agg.getLong(1)}%,d (${100.0 * agg.getLong(1) / agg.getLong(0)}%.1f%% " +
        "- the hash rate draw; zero joins, zero shuffles)")
    }

    timed("x82 epoch up-sampling (narrow explode + tail cumsum)") {
      val B = 3000000L * mult
      val stats = docs.groupBy("source").agg(sum("n_chars").as("t"))
        .withColumn("w_e6",
          when(expr("CAST(substring(source, 4, 10) AS BIGINT)") < 4,
            lit(200000L)).otherwise(lit(12500L)))
        .withColumn("target", expr(s"($B * w_e6) DIV 1000000"))
        .withColumn("n_full", expr("target DIV t"))
        .withColumn("rem", expr("target % t"))
        .localCheckpoint(true)
      println(s"  solver relation: ${stats.count()} rows (= sources)")
      val withStats = docs.join(
        broadcast(stats.select("source", "n_full", "rem")), "source")
      val full = withStats.filter(col("n_full") >= 1L)
        .select(col("doc_id"), col("source"),
          explode(sequence(lit(1L), col("n_full"))).as("copy"), col("n_chars"))
      val tail = withStats
        .withColumn("draw",
          TF.hash60(concat(lit("ep:"), col("doc_id").cast("string"))))
        .withColumn("cum", sum("n_chars").over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("source").orderBy(col("draw"), col("doc_id"))))
        .filter(col("cum") <= col("rem"))
        .select(col("doc_id"), col("source"),
          (col("n_full") + 1L).as("copy"), col("n_chars"))
      val out = full.unionByName(tail).localCheckpoint(true)
      val agg = out.agg(count(lit(1)).as("n"), sum("n_chars").as("c")).head()
      println(f"  repetition index: ${agg.getLong(0)}%,d rows / " +
        f"${agg.getLong(1)}%,d chars vs budget $B%,d " +
        "(index only - duplicated text never materialized)")
    }
  }

  /** q71/q72's per-file bloom index at mult copies. Claims measured:
    * the build is ONE scan (wall ∝ corpus), the index stays
    * driver-holdable (files × m/8 bytes — reported), a point/IN probe
    * opens ~keys(+FPP) files instead of all of them through BOTH the
    * driver path list and the planning-time FileIndex, answers
    * checksum-equal to the full scan, and the zone map on the same
    * UNCLUSTERED layout prunes NOTHING (the case split that justifies
    * carrying both index kinds).
    */
  private def bloomStage(spark: SparkSession, sfDir: String, mult: Int,
                         tmp: String): Unit = {
    import graft.operators.{FileBloom, ZoneMap}
    import graft.queries.Tables

    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    val stride = ev.agg(max("event_id")).head().getLong(0) + 1L
    val table = s"$tmp/bloom_events"
    val files = 4 * mult
    timed(s"unclustered layout ($files files)") {
      (0 until mult).map(c => ev.withColumn("event_id",
          col("event_id") + lit(c * stride)))
        .reduce(_ union _)
        .repartition(files, col("value")) // ids scattered across every file
        .write.mode("overwrite").parquet(table)
    }
    val total = spark.read.parquet(table).count()
    val perFile = total / files

    val (m, k) = (262144, 4) // 32 KB/file; ~10 bits/key at 25k rows/file
    val bmPath = s"$tmp/bloom_idx"
    timed("bloom index build (one scan)") {
      FileBloom.build(spark, table, "event_id", bmPath, m, k)
    }
    val idxBytes = ZoneMap.dataFiles(spark, bmPath).map(f =>
      new java.io.File(new java.net.URI(
        if (f.startsWith("file:")) f else s"file://$f").getPath).length).sum
    println(f"  corpus $total%,d rows, $perFile%,d rows/file; index " +
      f"${idxBytes / 1024}%,d KB for $files files (${m / 8} B/file raw)")

    // three present keys (one per copy region) + one absent
    val keys = Seq(lit(17L), lit(stride + 4242L),
      lit((mult - 1) * stride + 99L), lit(mult * stride + 123456789L))
    val keyVals = Seq(17L, stride + 4242L, (mult - 1) * stride + 99L,
      mult * stride + 123456789L)

    def csum(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("s")).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    val (ckFull, tFull) = timed("IN probe, full scan") {
      csum(spark.read.parquet(table)
        .filter(col("event_id").isin(keyVals: _*)))
    }
    val opened = FileBloom.prunedFiles(spark, bmPath, keys).size
    val (ckPruned, tPruned) = timed("IN probe, bloom-pruned read") {
      csum(FileBloom.readPruned(spark, table, bmPath, "event_id", keys))
    }
    require(ckFull == ckPruned,
      s"bloom pruning changed the answer: $ckFull vs $ckPruned")
    println(f"  bloom opened $opened of $files files " +
      f"(${100.0 * opened / files}%.1f%%), answers equal ($ckFull); " +
      f"full $tFull%.2f s vs pruned $tPruned%.2f s")

    val (ckPlanned, tPlanned) = timed("IN probe, planning-time FileIndex") {
      // driver residency (VERDICT r10 ask #1): construction reads only
      // the index's (m, k); the probe job collects (file, flen,
      // fmtime) for PRUNABLE files — names and two longs, flat per
      // file, where the old design held every file's m/8-byte bitset
      // (32 KB/file here = files × 32 KB resident)
      System.gc()
      val heapBefore = heapMb()
      val (df, idx) = graft.sources.BloomFileIndex
        .readWithIndex(spark, table, bmPath, "event_id")
      val r = csum(df.filter(col("event_id").isin(keyVals: _*)))
      val (surv, listed) = idx.lastListing.getOrElse((-1, -1))
      System.gc()
      println(s"  planned scan opened $surv of $listed files " +
        "(skip inside the scan node's own listing)")
      println(f"  driver boundary: ${listed - surv} prunable (file,len,mtime) " +
        f"rows collected vs ${files.toLong * m / 8 / 1048576} MB of bitsets " +
        f"the old design held; heap $heapBefore -> ${heapMb()} MB")
      r
    }
    require(ckFull == ckPlanned,
      s"planning-time bloom skipping changed the answer: $ckFull vs $ckPlanned")
    println(f"  planning-time path wall $tPlanned%.2f s (answers equal)")

    // the zone map CANNOT serve this probe: on a scattered layout
    // every file's [min,max] spans the domain, so nothing prunes
    val zmPath = s"$tmp/bloom_zm"
    ZoneMap.build(spark, table, Seq("event_id"), zmPath)
    val zmKept = ZoneMap.prunedFiles(spark, zmPath,
      Seq(ZoneMap.Range("event_id", keyVals(1), keyVals(1)))).size
    println(s"  zone map on the same layout keeps $zmKept of $files files " +
      "for a mid-domain key (min/max spans the domain: no pruning)")
  }

  /** Stacked planning-time indexes (sources/IndexAdvisor, q76) at
    * mult copies. Layout: 4·mult files, each holding one x band
    * (zone-friendly) with ids scattered across the id domain
    * (bloom-friendly). A mixed probe (x range + id IN) must open the
    * INTERSECTION of the two indexes' survivor sets — strictly fewer
    * files than either alone — with the answer equal to the plain
    * scan, at every mult.
    */
  private def advisorStage(spark: SparkSession, sfDir: String, mult: Int,
                           tmp: String): Unit = {
    import spark.implicits._
    import graft.operators.{FileBloom, ZoneMap}
    import graft.sources.IndexAdvisor
    import graft.sources.IndexAdvisor.Indexes
    val files = 4 * mult
    val perFile = 25000L
    val table = s"$tmp/advisor_t"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(table), true)
    timed(s"banded layout ($files files)") {
      // file f holds x = f and ids scattered mod files: id % files = f
      // repartitionByRange, not hash: hash-partitioning x collides
      // bands into shared files (a 2-3-band file holds 50-75k keys
      // and blows the bloom's per-file fpp); range partitioning keeps
      // ~one band per file
      spark.range(files * perFile)
        .select((col("id") % files).as("x"), col("id"))
        .repartitionByRange(files, col("x"))
        .sortWithinPartitions("x")
        .write.mode("append").parquet(table)
    }
    val (zm, bm) = (s"$tmp/advisor_zm", s"$tmp/advisor_bm")
    timed("zone map + bloom builds") {
      ZoneMap.build(spark, table, Seq("x"), zm)
      FileBloom.build(spark, table, "id", bm, m = 524288, k = 4)
    }
    // ids land in file (id % files): pick one id per target file —
    // files {1, files/2, files-1}; the x range keeps the lower half
    // of the bands, so the intersection is the keys' files inside it
    val targets = Seq(1L, files / 2L, files - 1L)
    val ids = targets.map(f => f + files.toLong * 13L)
    val hi = files / 2L
    val pred = col("x") < hi && col("id").isin(ids: _*)
    def csum(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)).as("n"),
        sum(col("id")).as("s")).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    val (ckPlain, _) = timed("mixed probe, full scan") {
      csum(spark.read.parquet(table).filter(pred))
    }
    val (ckBoth, tBoth) = timed("mixed probe, stacked indexes") {
      val (df, idx) = IndexAdvisor.readWithIndexes(spark, table,
        Indexes(zoneMap = Some((zm, Set("x"))), bloom = Some((bm, "id"))))
      val r = csum(df.filter(pred))
      // the outermost (bloom) layer's listing: `listed` is what the
      // inner zone layer already survived, `surv` the intersection
      val (surv, zoneSurv) = idx match {
        case b: graft.sources.BloomFileIndex =>
          b.lastListing.getOrElse((-1, -1))
        case _ => (-1, -1)
      }
      println(s"  stacked scan opened $surv of $files files " +
        s"(zone layer survived $zoneSurv, bloom intersected to $surv)")
      require(surv < zoneSurv && surv < files / 8,
        s"stack failed to intersect: $surv of $files (zone $zoneSurv)")
      r
    }
    require(ckPlain == ckBoth,
      s"stacked skipping changed the answer: $ckPlain vs $ckBoth")
    println(f"  answers equal ($ckPlain); stacked wall $tBoth%.2f s")
  }

  /** st27's stream-stream FULL OUTER join at mult copies (VERDICT r10
    * ask #5). Claims measured: both sides' buffered state PLATEAUS at
    * the per-copy horizon instead of growing with total input (each
    * copy lands one span later, so the watermark passes the previous
    * copy's match horizon every batch), the far-future sentinels DRAIN
    * the state to themselves (last numRowsTotal = the sentinels, not
    * the corpus), per-batch exec stays flat, and the streamed answer —
    * matches AND both sides' null-extended unmatched rows — checksum-
    * equals the batch full-outer interval join over the same files.
    */
  private def fullOuterStage(spark: SparkSession, sfDir: String, mult: Int,
                             tmp: String): Unit = {
    import spark.implicits._
    val ev = graft.queries.Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"),
        graft.queries.Tables.tsSec.as("sec"))
    val Seq(smin, smax) = ev.agg(min("sec"), max("sec"))
      .head().toSeq.map(_.asInstanceOf[Long])
    val span = smax - smin + 3600L
    val idBig = 1000000000L
    val (ldir, rdir) = (s"$tmp/fo_left", s"$tmp/fo_right")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    Seq(ldir, rdir).foreach(p =>
      fs.delete(new org.apache.hadoop.fs.Path(p), true))
    // one event-time-ordered file per copy per side: evens left,
    // odds right — the same split st27 streams at oracle scale
    (0 until mult).foreach { c =>
      ev.filter(col("event_id") % 2 === 0)
        .select((col("event_id") + c * idBig).as("l_event"),
          col("user_id").as("l_user"), (col("sec") + c * span).as("l_sec"))
        .coalesce(1).write.mode("append").parquet(ldir)
      ev.filter(col("event_id") % 2 =!= 0)
        .select((col("event_id") + c * idBig).as("r_event"),
          col("user_id").as("r_user"), (col("sec") + c * span).as("r_sec"))
        .coalesce(1).write.mode("append").parquet(rdir)
    }
    // two sentinel files per side: the first closes both horizons,
    // the second forces one more batch so the eviction the advanced
    // watermark enables actually runs (watermarks act one batch late)
    val far = smax + mult * span + 1000000L
    Seq(0, 1).foreach { i =>
      Seq((-2L, -1L, far + i * 20)).toDF("l_event", "l_user", "l_sec")
        .coalesce(1).write.mode("append").parquet(ldir)
      Seq((-3L, -1L, far + i * 20)).toDF("r_event", "r_user", "r_sec")
        .coalesce(1).write.mode("append").parquet(rdir)
    }
    val nIn = spark.read.parquet(ldir).count() + spark.read.parquet(rdir).count()
    println(s"full-outer input: $nIn rows in 2x${mult + 2} event-time-ordered files")

    def withTs(df: DataFrame, pre: String): DataFrame = df
      .withColumn(s"${pre}_ts", timestamp_seconds(col(s"${pre}_sec")))
    val cond = col("l_user") === col("r_user") &&
      col("r_ts") > col("l_ts") &&
      col("r_ts") <= col("l_ts") + expr("INTERVAL 1 HOUR")
    def csum(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)).as("n"),
        sum(coalesce(col("l_event"), lit(0L)) + coalesce(col("r_event"), lit(0L)) +
          coalesce(col("l_sec"), lit(0L)) + coalesce(col("r_sec"), lit(0L))).as("s"))
        .head()
      (r.getLong(0), r.getLong(1))
    }

    timed(s"full-outer stream ${mult + 2} batches/side") {
      val l = withTs(spark.readStream
          .schema("l_event LONG, l_user LONG, l_sec LONG")
          .option("maxFilesPerTrigger", 1).parquet(ldir), "l")
        .withWatermark("l_ts", "10 seconds")
      val r = withTs(spark.readStream
          .schema("r_event LONG, r_user LONG, r_sec LONG")
          .option("maxFilesPerTrigger", 1).parquet(rdir), "r")
        .withWatermark("r_ts", "10 seconds")
      val q = l.join(r, cond, "full_outer")
        .select("l_event", "l_user", "l_sec", "r_event", "r_user", "r_sec")
        .writeStream.format("memory").queryName("scale_fullouter")
        .outputMode("append")
        .option("checkpointLocation", s"$tmp/fo_ckpt_${System.nanoTime()}")
        .start()
      try {
        q.processAllAvailable()
        val prog = q.recentProgress.toSeq
        val state = prog.flatMap(_.stateOperators.headOption)
        val execMs = prog.flatMap(p =>
          Option(p.durationMs.get("triggerExecution")).map(_.longValue))
        val rowsMax = state.map(_.numRowsTotal).foldLeft(0L)(math.max)
        val rowsLast = state.lastOption.map(_.numRowsTotal).getOrElse(-1L)
        println(s"  batches: ${prog.size}; state rows max $rowsMax " +
          s"(per-copy horizon, input $nIn), last $rowsLast " +
          "(drained to the sentinels)")
        require(rowsLast <= 8,
          s"state failed to drain to the sentinels: $rowsLast rows remain")
        require(rowsMax < nIn / 4,
          s"state grew with total input: $rowsMax of $nIn")
        println(s"  state mem: max ${state.map(_.memoryUsedBytes).foldLeft(0L)(math.max) / 1024} KB")
        println(s"  per-batch exec ms: first=${execMs.headOption.getOrElse(-1L)} " +
          s"median=${if (execMs.isEmpty) -1 else execMs.sorted.apply(execMs.size / 2)} " +
          s"max=${execMs.foldLeft(0L)(math.max)}")
      } finally q.stop()
    }

    timed("batch full-outer equivalence") {
      val lb = withTs(spark.read.parquet(ldir).filter(col("l_event") >= 0), "l")
      val rb = withTs(spark.read.parquet(rdir).filter(col("r_event") >= 0), "r")
      val cb = csum(lb.join(rb, cond, "full_outer"))
      val cs = csum(spark.table("scale_fullouter")
        .filter((col("l_event").isNull || col("l_event") >= 0) &&
          (col("r_event").isNull || col("r_event") >= 0)))
      require(cb == cs, s"stream diverged from batch full outer: $cb vs $cs")
      println(s"  stream == batch full outer: $cs " +
        "(matches + null-extended rows on both sides)")
    }
  }

  /** st28's streaming bloom-index maintenance at mult copies (VERDICT
    * r10 ask #5). Claims measured: each micro-batch appends stats rows
    * ∝ ONLY its just-landed files (the base table is never rescanned —
    * the per-batch appended counts prove it), a MID-STREAM compactStats
    * folds the accumulated partials to one file without changing any
    * probe, and the final pruned IN probe over the streamed table
    * equals the direct filter — q71's oracle contract at scale.
    */
  private def bloomStreamStage(spark: SparkSession, sfDir: String, mult: Int,
                               tmp: String): Unit = {
    import graft.operators.{FileBloom, ZoneMap}
    val base = graft.queries.Tables.documents(spark, sfDir)
      .select("doc_id", "text", "source", "n_chars")
    val stride = base.agg(max("doc_id")).head().getLong(0) + 1L
    val feed = s"$tmp/bloomstream_feed"
    val table = s"$tmp/bloomstream_t"
    val bm = s"$tmp/bloomstream_bm"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    Seq(feed, table, bm).foreach(p =>
      fs.delete(new org.apache.hadoop.fs.Path(p), true))
    def landFeed(copies: Range): Unit = copies.foreach { c =>
      base.withColumn("doc_id", col("doc_id") + lit(c * stride))
        .coalesce(1).write.mode("append").parquet(feed)
    }
    val perBatch = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
    landFeed(0 until mult / 2)
    timed(s"bloom maintenance stream ($mult batches, mid-stream compact)") {
      val q = spark.readStream
        .schema(base.schema)
        .option("maxFilesPerTrigger", 1).parquet(feed)
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          val before = ZoneMap.dataFiles(spark, table).toSet
          batch.repartition(4, col("text")) // unclustered landing
            .write.mode("append").parquet(table)
          val landed = ZoneMap.dataFiles(spark, table).filterNot(before)
          FileBloom.appendStats(spark, landed, "doc_id", bm,
            m = 262144, k = 4)
          perBatch += ((landed.size,
            spark.read.parquet(bm).count()))
          ()
        }
        .option("checkpointLocation", s"$tmp/bloomstream_ckpt_${System.nanoTime()}")
        .start()
      try {
        q.processAllAvailable()
        val filesBefore = ZoneMap.dataFiles(spark, bm).size
        FileBloom.compactStats(spark, bm) // the nightly pass, mid-stream
        val filesAfter = ZoneMap.dataFiles(spark, bm).size
        println(s"  mid-stream compact: $filesBefore stats files -> $filesAfter")
        landFeed(mult / 2 until mult)
        q.processAllAvailable()
      } finally q.stop()
      val landedCounts = perBatch.map(_._1)
      println(s"  per-batch landed files: min ${landedCounts.min} max " +
        s"${landedCounts.max} (appends track the batch, never the table); " +
        s"index rows after each batch: ${perBatch.map(_._2).mkString(",")}")
      require(landedCounts.forall(_ <= 4),
        "a batch appended more than its own landing")
    }

    def csum(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)).as("n"),
        sum(col("doc_id") + col("n_chars")).as("s")).head()
      (r.getLong(0), r.getLong(1))
    }
    val keys = Seq(7L, 233L, 481L, (mult - 1) * stride + 42L)
    val (ckDirect, tFull) = timed("IN probe, full scan") {
      csum(spark.read.parquet(table).filter(col("doc_id").isin(keys: _*)))
    }
    val opened = FileBloom.prunedFiles(spark, bm, keys.map(lit(_))).size
    val totalFiles = ZoneMap.dataFiles(spark, table).size
    val (ckPruned, tPruned) = timed("IN probe, bloom-pruned read") {
      csum(FileBloom.readPruned(spark, table, bm, "doc_id", keys.map(lit(_))))
    }
    require(ckDirect == ckPruned,
      s"maintained bloom changed the answer: $ckDirect vs $ckPruned")
    println(f"  opened $opened of $totalFiles files; answers equal " +
      f"($ckDirect); full $tFull%.2f s vs pruned $tPruned%.2f s " +
      f"(driver heap ${heapMb()} MB)")
  }

  /** q73's dynamic partition pruning at mult copies. Claims measured:
    * the quarter-filtered dim prunes the month-partitioned fact to
    * ~1/4 of its files AT RUNTIME (no static predicate mentions the
    * partition column — quarter is dim data), the wall tracks the
    * pruned quarter rather than the table, and turning DPP off makes
    * the same plan read every file — the controlled contrast that
    * attributes the win to the mechanism.
    */
  private def dppStage(spark: SparkSession, sfDir: String, mult: Int,
                       tmp: String): Unit = {
    import graft.queries.Tables
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"),
        col("l_shipdate"))
    val stride = li.agg(max("l_orderkey")).head().getLong(0) + 1L
    val table = s"$tmp/dpp_fact"
    timed("month-partitioned fact write") {
      (0 until mult).map(c => li.withColumn("l_orderkey",
          col("l_orderkey") + lit(c * stride)))
        .reduce(_ union _)
        .withColumn("ship_month",
          (year(col("l_shipdate")) * 100 + month(col("l_shipdate"))).cast("int"))
        .repartition(col("ship_month"))
        .write.mode("overwrite").partitionBy("ship_month").parquet(table)
    }
    val dimPath = s"$tmp/dpp_dim"
    spark.read.parquet(table).select("ship_month").distinct()
      .withColumn("quarter", ((col("ship_month") % 100 - 1) / 3 + 1).cast("int"))
      .coalesce(1).write.mode("overwrite").parquet(dimPath)
    val totalFiles = spark.read.parquet(table).inputFiles.length

    def quarterAgg(): (Long, Long) = {
      val r = spark.read.parquet(table)
        .join(broadcast(spark.read.parquet(dimPath)
          .filter(col("quarter") === 2)), Seq("ship_month"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("l_quantity")).cast("long")).as("s")).head()
      (r.getLong(0), r.getLong(1))
    }
    val (ckOff, tOff) = timed("quarter join, DPP off") {
      withConf(spark,
        "spark.sql.optimizer.dynamicPartitionPruning.enabled" -> "false") {
        quarterAgg()
      }
    }
    val (ckOn, tOn) = timed("quarter join, DPP on") { quarterAgg() }
    require(ckOff == ckOn, s"DPP changed the answer: $ckOff vs $ckOn")
    // files actually read: rerun the DPP plan and read the fact scan's
    // own numFiles metric through the AQE wrappers
    val df = spark.read.parquet(table)
      .join(broadcast(spark.read.parquet(dimPath)
        .filter(col("quarter") === 2)), Seq("ship_month"))
      .agg(count(lit(1)))
    df.collect() // head() would execute a separate limit plan, leaving
    // THIS plan's scan metrics untouched
    def scans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scans(q.plan)
      case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(scans)
    }
    val factScan = scans(df.queryExecution.executedPlan)
      .filter(_.relation.partitionSchema.nonEmpty).head
    val factRead = factScan.metrics("numFiles").value
    val bytesRead = factScan.metrics("filesSize").value
    val bytesTotal = factScan.metrics("staticFilesSize").value
    println(f"  answers equal ($ckOn); DPP read $factRead of $totalFiles " +
      f"files = ${bytesRead / 1048576}%,d of ${bytesTotal / 1048576}%,d MB " +
      f"(${100.0 * factRead / totalFiles}%.1f%%); walls: " +
      f"off $tOff%.2f s vs on $tOn%.2f s")
  }

  /** x83/x84's quality rules at mult copies. Claims measured: the
    * map-only composite (x83) and the 9-way windowed-explode
    * repetition suite (x84) stay linear in the corpus — the explode
    * is rows ∝ 9·tokens and every shuffle keys doc-local grams, so
    * nothing quadratic hides behind a toy fixture — and the pass
    * counts scale exactly with the copy factor (the rules are
    * per-doc, so copies decide identically).
    */
  private def qualityStage(docs: DataFrame): Unit = {
    def x83Count(): Long = {
      val base = docs
        .select(col("doc_id"), graft.llm.TextFunctions.tokens(col("text")).as("w"))
        .withColumn("wl", transform(col("w"), x => lower(x)))
        .withColumn("n_words", size(col("w")).cast("long"))
        .withColumn("word_chars",
          aggregate(col("w"), lit(0L), (a, x) => a + length(x)))
        .withColumn("alpha_words",
          size(filter(col("w"), x => x.rlike("[a-zA-Z]"))).cast("long"))
        .withColumn("stop_hits",
          Seq("scan", "column", "window", "order", "sort", "part",
            "agg", "value")
            .map(t => array_contains(col("wl"), t).cast("long"))
            .reduce(_ + _))
        .filter(col("n_words") >= 50L && col("n_words") <= 100000L &&
          col("word_chars") >= col("n_words") * 3L &&
          col("word_chars") <= col("n_words") * 10L &&
          col("alpha_words") * 10L >= col("n_words") * 8L &&
          col("stop_hits") >= 2L)
      base.count()
    }
    val (nPass83, t83cold) = timed("x83 composite (cold)") { x83Count() }
    val (_, t83) = timed("x83 composite (steady)") { x83Count() }
    // two timed runs: the 9-way explode's interpreted lambdas carry
    // several seconds of one-time JIT on their first execution (the
    // same first-run effect the bench's min-of-2 handles) — the
    // steady-state number is the scaling claim
    val (nPass84, t84cold) = timed("x84 repetition (cold)") {
      graft.llm.Repetition.gopherRepetition(docs)
        .filter(col("pass") === 1L).count()
    }
    val (_, t84) = timed("x84 repetition (steady)") {
      graft.llm.Repetition.gopherRepetition(docs)
        .filter(col("pass") === 1L).count()
    }
    println(f"  pass counts: composite $nPass83%,d, repetition $nPass84%,d " +
      f"(per-doc rules: both scale exactly with the copy factor); steady " +
      f"walls x83 $t83%.2f s ($t83cold%.2f cold), x84 $t84%.2f s ($t84cold%.2f cold)")

    // x85's shape at scale: LM counts broadcast (vocabulary-sized),
    // then ONE per-source ranked window — the only data-sized
    // exchange after scoring; tier balance is the split's invariant
    def x85Split(): (Long, Long) = {
      val spark = docs.sparkSession
      import org.apache.spark.sql.expressions.Window
      val bi = docs
        .withColumn("source", (col("doc_id") % 20).cast("string"))
        .select(col("doc_id"), col("source"), expr("shingle_gen(text, 2)"))
        .select(col("doc_id"), col("source"), col("shingle").as("bg"),
          substring_index(col("shingle"), " ", 1).as("w1"))
        .localCheckpoint(true)
      val c2 = bi.groupBy("bg").agg(count(lit(1)).as("c2"))
      val c1 = bi.groupBy("w1").agg(count(lit(1)).as("c1"))
      val scored = bi.join(broadcast(c2), "bg").join(broadcast(c1), "w1")
        .select(col("doc_id"), col("source"),
          expr("(c2 * 1000000) DIV c1").as("p_e6"))
        .groupBy("doc_id", "source")
        .agg(count(lit(1)).as("nb"), sum("p_e6").as("ps"))
        .select(col("doc_id"), col("source"),
          expr("CAST(ps DIV nb AS BIGINT)").as("mean_p_e6"))
      val counts = scored.groupBy("source").agg(count(lit(1)).as("n_src"))
      val split = scored.join(broadcast(counts), "source")
        .withColumn("rk", row_number().over(Window.partitionBy("source")
          .orderBy(col("mean_p_e6").desc, col("doc_id"))).cast("long"))
        .withColumn("tier", expr("CAST((3 * (rk - 1)) DIV n_src AS BIGINT)"))
        .localCheckpoint(true)
      val skew = split.groupBy("source", "tier").count()
        .groupBy("source").agg((max("count") - min("count")).as("d"))
        .agg(max("d")).head().getLong(0)
      (split.count(), skew)
    }
    val ((n85, skew85), t85cold) = timed("x85 perplexity split (cold)") { x85Split() }
    val (_, t85) = timed("x85 perplexity split (steady)") { x85Split() }
    println(f"  x85: $n85%,d docs split, max per-source tier imbalance " +
      f"$skew85 (must be <= 1); steady $t85%.2f s ($t85cold%.2f cold)")
  }
}
