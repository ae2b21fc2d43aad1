package graft.llm

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftSqlShims.inLongSet
import TextFunctions._

/** Document deduplication operators (builder brief: exact hash dedup,
  * MinHash+LSH near-dup, n-gram jaccard). Each is a `DataFrame =>
  * DataFrame` with an explicit scale story — crucially, NOTHING here
  * ever compares all pairs: exact dedup shuffles on a 60-bit content
  * hash, near-dup candidates come from an LSH band-bucket equi-join,
  * and exact jaccard uses a sparse inverted-index join.
  */
object Dedup {

  /** Storage level for DATA-SIZED materializations (token streams,
    * fingerprint streams, edge lists, gram-position frames): the
    * default localCheckpoint level holds blocks DESERIALIZED in
    * storage memory, and at an 8 GB heap a corpus-sized block set
    * starves execution memory into AGGREGATE_OUT_OF_MEMORY — the 100×
    * scale point demonstrated it on the CC edge list (SCALE_r12).
    * DISK_ONLY keeps the checkpoint form's leak-freedom (RDD-owned
    * blocks, ContextCleaner-freed — CacheHygieneSpec) with zero heap
    * residency; re-reads come from the local disk cache. Frames
    * BOUNDED by construction (labels ∝ nodes, vocab tables) keep the
    * default level — their reuse is hot and their size provable. The
    * band-signature frame does NOT qualify: docs × bands rows each
    * carrying the 24-long signature array is GBs deserialized at the
    * 100× point, and it was the flaky heap margin there (SCALE_r12) —
    * it checkpoints DISK_ONLY like every other data-sized frame.
    */
  private[llm] val DataSized = org.apache.spark.storage.StorageLevel.DISK_ONLY

  /** Exact dedup on a content hash: keep the lowest-id row per
    * distinct content, annotated with the duplicate count.
    *
    * Scale: one shuffle on the 60-bit hash (uniform — no skew unless
    * one document dominates, which IS the duplicate being removed;
    * AQE skew-split covers that). Never compares texts pairwise:
    * hash collisions across distinct texts are ~n²/2^60.
    */
  def exactDedup(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy("fp").orderBy(idCol)
    docs
      .withColumn("fp", hash60(col(textCol)))
      .withColumn("rn", row_number().over(w))
      .withColumn("n_dups", count(lit(1)).over(Window.partitionBy("fp")))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  /** MinHash + LSH near-duplicate candidate pairs over word-bigram
    * shingles. Emits (doc_a < doc_b, n_match, est_jaccard_e6) for
    * pairs sharing at least one LSH band whose estimated jaccard
    * (matching signature positions / k) clears `minEstE6`.
    *
    * Scale: the signature is a narrow per-row expression (no shuffle);
    * candidates come from an equi-join on (band, bandKey) — the only
    * shuffle, proportional to Σ bucket² rather than n². Band keys are
    * 60-bit hashes, so buckets hold genuinely-similar docs plus
    * vanishing chance collisions; a hot bucket (mass-duplicated doc)
    * is exactly the skew AQE splits. The groupBy(doc_a, doc_b)
    * deduplicates multi-band hits before the signature compare.
    */
  /** The LSH fingerprint index frame: one row per (doc, band) with the
    * band's bucket key and the full minhash signature — the shape a
    * continuously-ingesting pipeline PERSISTS (partitioned/bucketed by
    * (band, bkey)) so new batches dedup against it without re-hashing
    * the corpus ([[incrementalCandidates]]).
    *
    * No size(sh)>0 guard: it would be pushed below an upstream
    * repartition and rebuild the shingle array once more on the
    * unsplit input. A <2-token doc yields an all-null signature whose
    * pairs score n_match=0 and die at the threshold — same output, no
    * recompute.
    */
  def bandIndex(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    // The signature is ONE native codegen'd expression (MinHashSigText):
    // split, shingle, md5 and all 24 affine mins fused in a single JVM
    // pass over the raw text. The earlier minhashSig(wordShingles(...))
    // form still carried the shingle-building HOFs, which are
    // CodegenFallback — the projection ran interpreted and split(text)
    // was re-evaluated per lambda element, O(tokens²) per document
    // (VERDICT r06 ask #5). Same values (MinHashSigSpec), one
    // whole-stage-codegen projection, linear per-row cost.
    bandIndexFromSigs(
      docs.select(col(idCol), minhashSigText(col(textCol)).as("sig")), idCol)

  /** The band-explosion half of [[bandIndex]] over an already-computed
    * (idCol, sig) frame — so a maintenance path that persists the
    * doc-level signature relation (DedupIndex's `_sigs` sidecar) pays
    * the text→signature kernel ONCE and derives both relations from it.
    */
  def bandIndexFromSigs(sigd: DataFrame, idCol: String): DataFrame =
    sigd.select(
      col(idCol), col("sig"),
      posexplode(array((0 until MinHashBands).map(b => bandKey(col("sig"), b)): _*))
        .as(Seq("band", "bkey")))

  /** The doc-level signature relation itself: one (idCol, sig) row per
    * document — the shape the DELETE path scans (1/[[MinHashBands]]th
    * of the member-level index's rows, and the signature array stored
    * ONCE per doc instead of once per band row).
    */
  def docSigs(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.select(col(idCol), minhashSigText(col(textCol)).as("sig"))

  /** Signature-DISTINCT fingerprint index: one indexed row per
    * (distinct signature, band), carrying the group's MINIMUM id —
    * [[bandIndex]]'s at-scale persisted form for duplicate-dense
    * corpora. Identical signatures carry identical band keys and
    * score est_jaccard = 1.0 against anything any member matches, so
    * probing this index yields the same CONNECTIVITY as the
    * member-level index at (distinct sigs)/(docs) of the size and —
    * decisively — (distinct sigs)/(docs) of the probe join's shuffle:
    * the round-13 inccc falsification measured the member-level index
    * making [[incrementalComponents]]' delta fold SLOWER than a full
    * re-run (33 s vs 12 s at 100×: the fold shuffled 12M sig-carrying
    * index rows while the re-run enjoyed the collapsed self-join), and
    * this is the fix on the same exactness theorem. Cluster
    * maintenance probes this; audits that need member-level pair
    * listings ([[incrementalCandidates]] for x19's answer) keep the
    * full [[bandIndex]]. Docs too short to shingle keep one row each
    * (all-null signatures must not collapse into a pseudo-group; their
    * pairs die at the threshold either way — the minhashCandidates
    * rule).
    */
  def bandIndexDistinct(docs: DataFrame, textCol: String,
                        idCol: String): DataFrame =
    bandIndexDistinctFromSigs(
      docs.select(col(idCol), minhashSigText(col(textCol)).as("sig")), idCol)

  /** [[bandIndexDistinct]] over an already-computed (idCol, sig) frame
    * — the DELETION-side rebuild: after tombstones shrink the
    * doc-level signature relation, the signature-distinct index is
    * re-derived from the RETAINED sigs alone (a deleted doc may have
    * BEEN its signature group's kept representative; the window
    * re-elects the next member — no text is ever re-shingled).
    */
  def bandIndexDistinctFromSigs(sigs: DataFrame, idCol: String): DataFrame = {
    val wSig = Window.partitionBy("sig")
    val reps = sigs.withColumn("rep",
        when(col("sig").getItem(0).isNull, col(idCol))
          .otherwise(min(col(idCol)).over(wSig)))
      .filter(col("rep") === col(idCol)).drop("rep")
    bandIndexFromSigs(reps, idCol)
  }

  /** @param collapseExact collapse EXACT-signature duplicate groups
    *   before the band self-join (default). Real web corpora are
    *   duplicate-dense — 100-copy groups are normal — and the band
    *   self-join emits every `a<b` pair per bucket, so candidate
    *   pairs grow QUADRATICALLY inside exact-dup groups (47.37M
    *   pairs / 474.9 s at the 100× scale point, SCALE_r12). Identical
    *   signatures match on every band and estimate jaccard exactly
    *   1.0 ≥ any threshold, so the collapse is semantics-exact for
    *   CLUSTERING: each signature group links member → group-minimum
    *   id as a STAR edge (n_match = k, est = 1e6 — the values the
    *   pairwise path would compute), and the band self-join runs on
    *   signature-DISTINCT representatives only. Edges become linear
    *   in group size; connected components, node sets, and labels are
    *   IDENTICAL to the full listing's (any member-member or
    *   member-external pair the star set omits is implied through the
    *   representative, whose signature — hence band keys and every
    *   estimate — equals its members'). Pass `false` for the full
    *   quadratic pair LISTING when the pairs themselves are the
    *   answer (the x02/x49/x53/x56 audit queries): per-pair audits
    *   must see member-level pairs, while every cluster consumer
    *   (x20/x35/x55/x68, [[dropNearDuplicates]]) takes the default.
    */
  /** The band self-join scoring tail shared by every candidate
    * producer: `banded` is a (idCol, sig, band, bkey) frame. Band hits
    * are scored immediately and aggregated with max() — the signature
    * arrays never cross the pair-dedup shuffle, keeping the aggregate
    * hash-based (first(array) would force a SortAggregate carrying
    * both arrays per candidate row).
    */
  private def bandPairsFrom(banded: DataFrame, idCol: String,
                            minEstE6: Long): DataFrame = {
    val a = banded.select(col(idCol).as("doc_a"), col("sig").as("sig_a"),
      col("band"), col("bkey"))
    val b = banded.select(col(idCol).as("doc_b"), col("sig").as("sig_b"),
      col("band").as("band_b"), col("bkey").as("bkey_b"))
    a.join(b,
        col("band") === col("band_b") && col("bkey") === col("bkey_b") &&
          col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        sigMatches(col("sig_a"), col("sig_b")).as("n_match"))
      .groupBy("doc_a", "doc_b")
      .agg(max("n_match").as("n_match"))
      .withColumn("est_jaccard_e6",
        floor(lit(1000000.0) * col("n_match") / lit(MinHashK.toDouble)).cast("long"))
      .filter(col("est_jaccard_e6") >= minEstE6)
      .select(col("doc_a"), col("doc_b"), col("n_match"),
        col("est_jaccard_e6"))
  }

  /** The exact-signature-collapse candidate tail over an already-built
    * (idCol, sig) frame: star edges inside signature groups + the band
    * self-join on signature-distinct representatives. Shared by
    * [[minhashCandidates]] (sigd from document text) and
    * [[candidatesFromIndex]] (sigd from persisted fingerprint rows —
    * the deletion-relabel path, which must not touch text).
    */
  private def collapsedCandidates(sigd0: DataFrame, idCol: String,
                                  minEstE6: Long,
                                  materialize: Boolean): DataFrame = {
    // Exact-signature collapse. The group key is the FULL signature
    // array, not a hash of it — grouping stays exact, never "exact
    // up to a 60-bit collision". Docs too short to shingle carry an
    // all-null signature (see [[bandIndex]]); they must NOT collapse
    // into one giant pseudo-group, so each stays its own
    // representative (their band pairs then die at the threshold
    // exactly as on the uncollapsed path). sig[0] decides: a minhash
    // position is null iff the shingle set is empty, i.e. all-or-
    // nothing across positions.
    val wSig = Window.partitionBy("sig")
    val withRep0 = sigd0.withColumn("rep",
      when(col("sig").getItem(0).isNull, col(idCol))
        .otherwise(min(col(idCol)).over(wSig)))
    // two consumers (star edges + representative band frame): one
    // signature pass, eager DISK_ONLY checkpoint — same
    // leak-freedom/heap rationale as the uncollapsed branch
    val withRep = if (materialize) withRep0.localCheckpoint(true, DataSized)
                  else withRep0
    // star edges: member → its group's minimum id. rep < member by
    // construction, so (doc_a, doc_b) ordering holds; n_match/est
    // are the exact values sigMatches would compute on equal sigs.
    val star0 = withRep.filter(col("rep") =!= col(idCol))
      .select(col("rep").as("doc_a"), col(idCol).as("doc_b"),
        lit(MinHashK.toLong).as("n_match"), lit(1000000L).as("est_jaccard_e6"))
    val star = if (minEstE6 <= 1000000L) star0 else star0.limit(0)
    val reps = withRep.filter(col("rep") === col(idCol))
    val banded = reps.select(
      col(idCol), col("sig"),
      posexplode(array((0 until MinHashBands).map(b => bandKey(col("sig"), b)): _*))
        .as(Seq("band", "bkey")))
    bandPairsFrom(banded, idCol, minEstE6).unionByName(star)
  }

  def minhashCandidates(docs: DataFrame, textCol: String, idCol: String,
                        minEstE6: Long = 250000L,
                        materialize: Boolean = true,
                        collapseExact: Boolean = true): DataFrame = {
    if (!collapseExact) {
      // The self-join consumes the (cpu-heavy) signature pipeline twice;
      // materialize it ONCE via eager localCheckpoint. NOT .cache():
      // a cached frame lives in the shared CacheManager until someone
      // calls unpersist, and an operator returning a lazy DataFrame has
      // no "after the consuming action" hook to do that — every call
      // leaked one cache entry for the life of the session (VERDICT r4).
      // Checkpoint blocks are owned by the RDD and freed by the
      // ContextCleaner as soon as the result frame is unreachable
      // (CacheHygieneSpec pins both properties). DISK_ONLY like every
      // data-sized frame: docs × bands rows each carrying the 24-long
      // signature array is GBs DESERIALIZED at the 100× point, and that
      // residency was the margin between the band self-join finishing
      // and heap-OOMing under the 8 GB budget (SCALE_r12 — the stage
      // passed or died run to run before this).
      val banded0 = bandIndex(docs, textCol, idCol)
      val banded = if (materialize) banded0.localCheckpoint(true, DataSized)
                   else banded0
      bandPairsFrom(banded, idCol, minEstE6)
    } else {
      collapsedCandidates(
        docs.select(col(idCol), minhashSigText(col(textCol)).as("sig")),
        idCol, minEstE6, materialize)
    }
  }

  /** Candidate pairs recomputed from a PERSISTED member-level
    * fingerprint index ([[bandIndex]] shape: one (id, sig, band, bkey)
    * row per document per band) WITHOUT touching document text — the
    * deletion-recovery verb: after a tombstone compact drops the
    * deleted docs' rows ([[DedupIndex.compact]]), the retained rows
    * still carry everything the candidate stage needs, so relabeling
    * after a deletion costs a rescan of RETAINED fingerprints + CC,
    * never a corpus re-shingle. Pair set is component-identical to
    * [[minhashCandidates]] over the retained documents (the same
    * exact-signature-collapse theorem; DedupSpec asserts label-set
    * equality, x89 pins it under the DuckDB full-closure oracle).
    *
    * Scale: the (id, sig) frame comes from the index's band-0 slice —
    * every doc has a band-0 row by construction, so one filtered scan,
    * no dedup shuffle. The dropDuplicates guards REPLAYED at-least-once
    * appends (duplicate index rows until a compact folds them): it
    * shuffles a docs-sized narrow frame once, and the signature window
    * right after shuffles the same frame anyway.
    */
  def candidatesFromIndex(index: DataFrame, idCol: String,
                          minEstE6: Long = 250000L,
                          materialize: Boolean = true): DataFrame =
    candidatesFromSigs(
      index.filter(col("band") === 0).select(col(idCol), col("sig")),
      idCol, minEstE6, materialize)

  /** [[candidatesFromIndex]] over the DOC-LEVEL signature relation
    * ([[docSigs]] shape — DedupIndex's `_sigs` sidecar): the preferred
    * delete-relabel scan. The member-level index repeats the signature
    * array on every band row, so deriving sigd from its band-0 slice
    * still DECODES all [[MinHashBands]]× copies at scan time — at the
    * 100× point that decode cost the delete path more than the corpus
    * re-fingerprint it exists to avoid (SCALE_r14's falsified first
    * draw). One row per doc makes the relabel scan ∝ documents.
    */
  /** @param assumeUnique skip the per-doc dedup exchange when the
    *   caller guarantees one row per id — true for a sidecar rewritten
    *   by DedupIndex.compact (its rewrite dedups); false (default) for
    *   anything that may carry replayed at-least-once append rows.
    */
  def candidatesFromSigs(sigs: DataFrame, idCol: String,
                         minEstE6: Long = 250000L,
                         materialize: Boolean = true,
                         assumeUnique: Boolean = false): DataFrame = {
    val sigd = sigs.select(col(idCol), col("sig"))
    collapsedCandidates(
      if (assumeUnique) sigd else sigd.dropDuplicates(idCol),
      idCol, minEstE6, materialize)
  }

  /** Fold a batch's signature-distinct fingerprint rows into an
    * ACCUMULATING signature-distinct index WITHOUT regrowing
    * per-signature multiplicity (ADVICE r13: st29's plain union gave a
    * recurring signature one rep row per batch over the stream's life,
    * re-growing exactly the probe-join bloat [[bandIndexDistinct]]
    * exists to eliminate). The EXISTING representative wins: identical
    * signatures carry identical band keys, so any future batch that
    * matches the dropped batch rep matches the kept one — connectivity
    * (the only thing the index serves) is unchanged, whatever the two
    * ids' order; the new doc itself is edge-connected to the kept rep
    * by the probe that preceded this fold. Null-signature batch rows
    * (docs too short to shingle) all pass through — each is its own
    * representative, per the [[bandIndexDistinct]] rule.
    *
    * Scale: the index side is NEVER shuffled — one streamed scan
    * against the BROADCAST batch signature set finds the already-
    * represented signatures (batch-sized output), and the batch
    * anti-joins that set. Per-batch cost is one linear index scan +
    * O(batch), the same delta economics as the label fold.
    */
  def foldIndexDistinct(index: DataFrame, batchIndex: DataFrame,
                        idCol: String): DataFrame =
    index.unionByName(freshIndexRows(index, batchIndex, idCol))

  /** Just the batch rows [[foldIndexDistinct]] would ADD — the
    * persisted posture's append set: a maintenance loop writes these
    * to the index table (mode append) instead of rewriting the union,
    * so the on-disk index grows by signature-distinct rows only
    * (ScaleSmoke's streammaint stage pins the growth accounting).
    */
  def freshIndexRows(index: DataFrame, batchIndex: DataFrame,
                     idCol: String): DataFrame = {
    // band-0 slice: one row per batch signature. Null signatures are
    // EXCLUDED from `matched` explicitly (ADVICE r14): Spark's EqualTo
    // on ArrayType is ordering-based and treats null ELEMENTS as
    // equal, so an all-null sig in the index would equi-join every
    // later all-null batch sig and the anti-join below would drop
    // null-sig batch docs — violating the bandIndexDistinct rule that
    // every null-sig doc is its own representative. With null sigs
    // filtered from both slices, a null-sig batch row matches nothing
    // in `matched` and always passes through. (Connectivity was never
    // at risk — null band keys match no probe — but the index rows
    // themselves must exist.) sig[0] decides null-ness: minhash
    // positions are all-or-nothing null (see minhashCandidates).
    val sigMax = driverCeiling(SigRowWidth)
    if (sigMax < 0) {
      ccLog.info("freshIndexRows: distributed arm (driver arms off)")
      return distributedFresh(index, batchIndex)
    }
    val batch = collectSlice(batchIndex, sigMax)
    batch.rows match {
      case None =>
        ccLog.info(s"freshIndexRows: distributed arm (${batch.count} batch rows > $sigMax)")
        distributedFresh(index, batch.frame)
      case Some(rows) =>
        // driver arm: with the batch's rows in hand, one query collects
        // the index's band-0 rows under the batch's band-0 keys (equal
        // signatures have equal keys), their signatures are compared
        // here, and the caller's fold reads the index plus local rows
        val sig = batchIndex.schema.fieldIndex("sig")
        val bkey = batchIndex.schema.fieldIndex("bkey")
        val band = batchIndex.schema.fieldIndex("band")
        val zero = rows.filter(r => r.getAs[Number](band).intValue == 0 &&
          !r.isNullAt(sig) && r.getSeq[Any](sig).headOption.exists(_ != null))
        val batchSigs = zero.map(_.getSeq[Any](sig)).toSet
        val matched = collectSlice(bandZeroSigs(index.filter(inLongSet(col("bkey"),
            zero.map(_.getAs[Number](bkey).longValue)))), Long.MaxValue)
          .rows.get.map(_.getSeq[Any](0)).filter(batchSigs).toSet
        val fresh = rows.filterNot(r => !r.isNullAt(sig) && matched(r.getSeq[Any](sig)))
        ccLog.info(s"freshIndexRows: driver arm (${rows.length} batch rows <= $sigMax, " +
          s"${matched.size} of their signatures indexed)")
        index.sparkSession.createDataFrame(java.util.Arrays.asList(fresh: _*),
          batchIndex.schema)
    }
  }

  /** The band-0 slice's non-null signatures: one row per doc's
    * signature. Null signatures never match (see [[freshIndexRows]]).
    */
  private def bandZeroSigs(index: DataFrame): DataFrame =
    index.filter(col("band") === 0 && col("sig").getItem(0).isNotNull).select("sig")

  /** [[freshIndexRows]]' distributed form: the index is streamed once
    * against the broadcast batch signatures.
    */
  private def distributedFresh(index: DataFrame, batchIndex: DataFrame): DataFrame = {
    val matched = bandZeroSigs(index)
      .join(broadcast(bandZeroSigs(batchIndex)), Seq("sig"), "left_semi")
      .distinct()
    batchIndex.join(broadcast(matched), Seq("sig"), "left_anti")
  }

  /** Incremental near-dup detection: a NEW batch of documents against
    * an EXISTING corpus fingerprint index ([[bandIndex]] shape, loaded
    * from wherever the pipeline persists it) — the delta shape of a
    * continuously-ingesting training-data pipeline. Emits
    * (new_id, old_id, n_match, est_jaccard_e6) for new-vs-old pairs
    * only: new-vs-new dedup is [[minhashCandidates]] on the batch, and
    * the corpus itself is NOT re-hashed — only the (small) new batch
    * pays the signature pipeline.
    *
    * Scale: the one shuffle is the (band, bkey) equi-join of batch
    * bands against the index. With the index persisted bucketed by
    * (band, bkey) the join co-locates without exchanging the index at
    * all — each new batch pays only its own bands' shuffle. Same
    * Σ bucket² candidate economics as the batch path; the same
    * hash-agg max keeps signatures out of the pair shuffle.
    */
  def incrementalCandidates(newDocs: DataFrame, index: DataFrame,
                            textCol: String, idCol: String,
                            minEstE6: Long = 250000L): DataFrame =
    incrementalCandidatesFromSigs(
      docSigs(newDocs, textCol, idCol), index, idCol, minEstE6)

  /** [[incrementalCandidates]] over an ALREADY-COMPUTED batch
    * signature relation ([[docSigs]] shape) — so a maintenance loop
    * that needs the batch's signatures for several consumers (the
    * probe here, the sigs-sidecar fold, the distinct-index fold —
    * st29/st30's per-batch shape) pays the text→signature kernel
    * ONCE per batch and derives everything from the cached frame,
    * instead of re-shingling the batch per consumer.
    */
  def incrementalCandidatesFromSigs(newSigs: DataFrame, index: DataFrame,
                                    idCol: String,
                                    minEstE6: Long = 250000L): DataFrame = {
    val n = bandIndexFromSigs(newSigs.select(col(idCol), col("sig")), idCol)
      .select(col(idCol).as("new_id"), col("sig").as("sig_n"),
        col("band"), col("bkey"))
    val o = index
      .select(col(idCol).as("old_id"), col("sig").as("sig_o"),
        col("band").as("band_o"), col("bkey").as("bkey_o"))
    n.join(o,
        col("band") === col("band_o") && col("bkey") === col("bkey_o") &&
          col("new_id") =!= col("old_id"))
      .select(col("new_id"), col("old_id"),
        sigMatches(col("sig_n"), col("sig_o")).as("n_match"))
      .groupBy("new_id", "old_id")
      .agg(max("n_match").as("n_match"))
      .withColumn("est_jaccard_e6",
        floor(lit(1000000.0) * col("n_match") / lit(MinHashK.toDouble)).cast("long"))
      .filter(col("est_jaccard_e6") >= minEstE6)
  }

  /** Connected components over an undirected candidate-pair list —
    * the step that turns near-dup PAIRS into dedup CLUSTERS (one
    * representative kept per component, the rest dropped). Returns one
    * row per node that appears in any pair: (node, label) where label
    * is the component's minimum node id.
    *
    * Algorithm: iterative min-label propagation WITH pointer jumping —
    * each round every node takes the min over its own label, its
    * neighbors' labels, and its label's label (two equi-joins + one
    * hash-agg shuffle per round), until no label changes. Labels
    * decrease monotonically to the component minimum; the pointer-jump
    * term halves the remaining label-chain depth every round, so
    * convergence is O(log diameter) — long chains (measured on the
    * corpus: 35 s of diameter-many rounds without jumping) collapse in
    * a handful of rounds. The driver loop is over ROUNDS, not rows
    * (the same shape Pregel-style systems use); every per-round frame
    * is localCheckpoint'ed so lineage stays flat.
    */
  /** Pair-count ceiling for the driver-local union-find fast path: 1M
    * (src, dst) Long pairs ≈ 16 MB — the same order as the broadcast
    * threshold, i.e. "provably fits on one machine". Below it the
    * whole component structure is solved in one collect instead of
    * O(log d) distributed rounds whose cost is all fixed per-round
    * job overhead at this size; above it the Pregel-style rounds run
    * unchanged (a 100 TB corpus' candidate graph takes that path).
    * The same adaptivity argument as AQE's broadcast demotion, keyed
    * on a MEASURED count, and the outputs are identical: union-find
    * that always points the larger root at the smaller makes every
    * final root the component MINIMUM — exactly min-label
    * propagation's fixpoint.
    */
  private val DriverCcMaxPairs = 1000000L

  /** One INFO line per CC invocation naming the path taken (ADVICE r7:
    * bench numbers for CC-consuming queries should say whether they
    * measured the driver fast path or the distributed rounds).
    */
  private lazy val ccLog = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Row ceiling of a broadcast join side: 2M (node, label) long pairs
    * ~= 64 MB, far under any broadcast limit and far over any
    * takedown's or add batch's touched set. Every batch-path broadcast
    * here is gated on it, so a mass batch degrades to shuffle joins
    * instead of force-broadcasting into a driver OOM.
    */
  private[graft] val BroadcastMaxRows = 2000000L

  /** A frame after [[measure]]: its row count, its rows when they fit
    * the ceiling, and a materialized equivalent to join against — a
    * driver-local relation of those rows, or the checkpointed frame
    * past the ceiling.
    */
  private[graft] final case class Measured(count: Long, rows: Option[Array[Row]],
                                           frame: DataFrame) {
    /** `frame` as a join side: broadcast when its rows fit the ceiling. */
    def side: DataFrame = if (rows.isDefined) broadcast(frame) else frame
  }

  private[llm] def isLocal(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]

  /** Count AND materialize `df` in ONE job, collecting its rows when
    * there are at most `maxRows` of them (none when `maxRows` < 0).
    * This replaces the checkpoint-then-count gate, which paid a
    * separate count query (two AQE jobs: partial and final aggregate)
    * before the consumer read the checkpoint. A frame that is already
    * a local relation (a driver union-find result, a `toDF` of a
    * local Seq) costs no job at all.
    *
    * The driver holds at most `maxRows` rows whatever the frame's
    * size: each task ships its partition's rows only if the partition
    * holds at most maxRows / partitions of them, else just its count.
    * A skewed frame under the ceiling therefore takes the
    * past-the-ceiling branch — the shuffle join, correct at any size.
    * The job reads a lazy checkpoint of `df` at `level`, so that branch
    * reuses the materialized blocks instead of recomputing `df`.
    */
  private def measure(df: DataFrame, maxRows: Long,
                      level: org.apache.spark.storage.StorageLevel): Measured =
    if (isLocal(df)) {
      val rows = df.collect()
      Measured(rows.length, Some(rows).filter(_.length <= maxRows), df)
    } else {
      val cp = df.localCheckpoint(false, level)
      val rdd = cp.rdd
      val perPart = if (maxRows < 0) -1L
                    else maxRows / math.max(1, rdd.getNumPartitions)
      val parts = df.sparkSession.sparkContext.runJob(rdd, (it: Iterator[Row]) => {
        val buf = scala.collection.mutable.ArrayBuffer.empty[Row]
        var n = 0L
        it.foreach { r => n += 1; if (n <= perPart) buf += r }
        (n, if (n <= perPart) buf.toArray else null)
      })
      val count = parts.map(_._1).sum
      if (parts.exists(_._2 == null)) Measured(count, None, cp)
      else {
        val rows = parts.flatMap(_._2)
        Measured(count, Some(rows), df.sparkSession.createDataFrame(
          java.util.Arrays.asList(rows: _*), df.schema))
      }
    }

  /** [[measure]] for a batch-sized broadcast-candidate side, at the
    * default checkpoint level (sides are bounded by the batch).
    */
  private def gate(side: DataFrame): Measured =
    measure(side, broadcastRows, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** Union-find over (src, dst) long pairs already on the driver: every
    * node of the pairs with its component's minimum.
    */
  private def unionFind(pairs: Iterator[(Long, Long)]): Array[(Long, Long)] = {
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x
      while (c != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    pairs.foreach { case (a, b) =>
      if (!parent.containsKey(a)) parent.put(a, a)
      if (!parent.containsKey(b)) parent.put(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
    }
    parent.keySet.toArray(Array.empty[java.lang.Long])
      .map(n => (n.toLong, find(n.toLong)))
  }

  /** [[unionFind]] over (src, dst) long rows, as a (node, label) frame. */
  private def driverUnionFind(rows: Array[Row],
                              spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    unionFind(rows.iterator.map(r => (r.getLong(0), r.getLong(1)))).toSeq
      .toDF("node", "label")
  }

  /** The arm the per-batch verbs take, the one seam over them:
    *  - `Driver` (the default): a batch whose touched slice fits
    *    [[driverCeiling]] is collected in one query per side and folded
    *    on the driver ([[incrementalComponentsDelta]], [[scopedDelete]],
    *    [[freshIndexRows]], [[deleteFromIndexDistinct]]), so the store's
    *    log is written from local rows; past the ceiling, as `Broadcast`;
    *  - `Broadcast`: the distributed arms, each batch-sized join side
    *    broadcast when its measured rows fit [[BroadcastMaxRows]];
    *  - `Shuffle`: the distributed arms past every broadcast gate, as a
    *    mass batch runs them.
    * Specs pick one with `Dedup.arm.withValue(Dedup.Arm.Shuffle) { ... }`
    * to run each arm on the same batch.
    */
  private[graft] sealed trait Arm
  private[graft] object Arm {
    case object Driver extends Arm
    case object Broadcast extends Arm
    case object Shuffle extends Arm
  }
  private[graft] val arm = new scala.util.DynamicVariable[Arm](Arm.Driver)

  /** Row ceiling of a broadcast join side under [[arm]]: -1 (every side
    * shuffled) on the `Shuffle` arm.
    */
  private def broadcastRows: Long =
    if (arm.value == Arm.Shuffle) -1L else BroadcastMaxRows

  /** Row ceiling of a driver arm's collect of rows `width` longs wide:
    * the broadcast budget ([[BroadcastMaxRows]] (node, label) pairs,
    * ~64 MB) in rows of that width, so a (doc, 24-long signature) slice
    * gets the same bytes as a label slice. -1 (the distributed arm)
    * off the `Driver` arm.
    */
  private def driverCeiling(width: Int): Long =
    if (arm.value == Arm.Driver) BroadcastMaxRows * 2 / width else -1L

  /** Run `body`'s queries over driver-local rows as one job each: AQE
    * off (its stage-by-stage scheduling runs one job per exchange) and
    * no size-based broadcast (each broadcast is a job of its own).
    */
  private def localQueries[A](spark: org.apache.spark.sql.SparkSession)(body: => A): A =
    graft.core.GraftSession.withConf(spark,
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")(body)

  /** [[measure]] for a driver arm's collect of a batch-sized frame whose
    * joins all have a hinted broadcast side: planned without AQE
    * ([[localQueries]]), it skips AQE's re-planning after each stage.
    */
  private def collectSlice(df: DataFrame, maxRows: Long): Measured =
    localQueries(df.sparkSession)(
      measure(df, maxRows, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** Width of a (doc id, signature) row in longs. */
  private val SigRowWidth = 1 + MinHashK

  /** `df` canonicalized to (node long, label long), null rows dropped:
    * the form every label-consuming verb reads.
    */
  private[llm] def canonicalLabels(df: DataFrame): DataFrame =
    df.select(col("node").cast("long").as("node"), col("label").cast("long").as("label"))
      .filter(col("node").isNotNull && col("label").isNotNull)

  /** `df`'s (aCol, bCol) edges canonicalized to (a long, b long), null
    * ends dropped.
    */
  private def canonicalEdges(df: DataFrame, aCol: String, bCol: String): DataFrame =
    df.select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull)

  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 50,
                          driverMaxPairs: Long = DriverCcMaxPairs): DataFrame = {
    // materialize the pair producer ONCE: the symmetrizing union has
    // two branches, and an unmaterialized `pairs` (typically the whole
    // minhash candidate pipeline) would run end to end twice.
    // Ids are canonicalized to LONG here so both paths agree on the
    // output type for any integral id column (the driver fast path
    // reads longs), and null-id pairs are dropped uniformly — a null
    // node has no identity to cluster under, and letting one path NPE
    // while the other silently propagated nulls was the ADVICE r7 bug.
    // DISK_ONLY checkpoint, not the default level: the pair frame is
    // DATA-SIZED (47M rows at the 100× scale point), and the default
    // localCheckpoint holds it DESERIALIZED in storage memory — at an
    // 8 GB heap that starves every downstream aggregate into
    // AGGREGATE_OUT_OF_MEMORY (SCALE_r12; the "only checkpoint
    // provably small frames" rule this repo already documents).
    // A DISK_ONLY localCheckpoint keeps the leak-freedom the
    // checkpoint form exists for (blocks owned by the RDD, freed by
    // the ContextCleaner — CacheHygieneSpec) with ZERO heap
    // residency; node-sized frames below keep the default level.
    val m = measure(
      pairs.select(col(aCol).cast("long").as("src"),
          col(bCol).cast("long").as("dst"))
        .filter(col("src").isNotNull && col("dst").isNotNull),
      driverMaxPairs, DataSized)
    // ONE job counts the pairs and, under the ceiling, brings them to
    // the driver — the count-then-collect form paid three
    if (m.rows.isDefined) {
      ccLog.info(s"connectedComponents: driver union-find path " +
        s"(${m.count} pairs <= $driverMaxPairs)")
      return driverUnionFind(m.rows.get, pairs.sparkSession)
    }
    ccLog.info(s"connectedComponents: distributed label-propagation path " +
      s"(${m.count} pairs > $driverMaxPairs)")
    val p = m.frame
    val edges0 = p
      .union(p.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint(false, DataSized) // lazy: nEdges materializes it
    // Right-size the iteration width from the MEASURED edge count (the
    // checkpoint above makes the count free): per-round frames are
    // O(|E|) rows, and driving a 2.5k-row graph through 32-way
    // exchanges is pure task-scheduling overhead — while a 100 TB
    // candidate graph keeps full parallelism. The same number AQE
    // would pick if checkpointed frames had stats (they don't —
    // VERDICT r4 perf note).
    val nEdges = edges0.count()
    val parts = math.max(1L, math.min(edges0.rdd.getNumPartitions.toLong,
      nEdges / 500000L + 1L)).toInt
    val edges = if (parts < edges0.rdd.getNumPartitions)
      edges0.repartition(parts).localCheckpoint(true, DataSized)
    else edges0
    // decimal(38,0) sum: labels are 60-bit ids, so a Long sum would
    // overflow (ANSI-throw) at ~millions of nodes — the fixpoint test
    // must not be the thing that caps the operator's scale
    val labelSum = sum(col("label").cast("decimal(38,0)"))
    var labels = edges.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
      .localCheckpoint(false) // lazy: nNodes materializes it
    // The label table's row count never changes across rounds (same
    // node set, labels only decrease), so the broadcast decision is
    // measured ONCE against the side actually being broadcast: 2M
    // (node, label) long pairs ~= 64 MB. Gating on nEdges (the r5–r7
    // form) under-broadcast badly — a near-dup graph routinely has
    // 30–40× more edges than nodes, so a 100k-node graph was paying
    // per-round O(|E|) shuffle joins its label table never required.
    val nNodes = labels.count()
    // AQE OFF for the round loop alone (restored when the scope exits): the
    // loop already makes every call AQE exists to make — iteration
    // width right-sized from the MEASURED edge count above, the label
    // side broadcast on a MEASURED row count below, and the groupBy
    // key (node) cannot skew since the label table is one row per
    // node. What AQE adds per round here is only stage-by-stage
    // scheduling: each round's plan ran as 2–3 query-stage jobs
    // instead of 1, and at 15 rounds that fixed latency was half the
    // operator's wall (x20b probe: 84 jobs / 6.2 s with AQE, 42 jobs /
    // 3.9 s without, labels identical). Scoped narrowly so every
    // NON-loop plan — including the candidate pipeline that feeds
    // this operator — keeps AQE's coalescing/skew handling.
    // ... and with AQE off, the loop must size its own reduce side:
    // per-round exchanges (the groupBy) run at the MEASURED width
    // `parts` instead of the session's core-count default — the exact
    // number AQE's coalescing produced, now set statically (scale-
    // adaptive: a 100 TB edge list computes parts = |E|/500k).
    graft.core.GraftSession.withConf(pairs.sparkSession,
        "spark.sql.adaptive.enabled" -> "false",
        "spark.sql.shuffle.partitions" -> parts.toString) {
    var converged = false
    var round = 0
    var lastSum = labels.agg(labelSum).head().get(0)
    while (!converged && round < maxIter) {
      // ONE join per round: the label table doubles as a second edge
      // list (node -> label), so gathering "my neighbors' labels" and
      // the pointer-jump "my label's label" is a single equi-join of
      // the combined relation against labels — chains of stale labels
      // still halve every round, with two fewer exchanges per round
      // than the two-join form.
      val rel = edges.union(
        labels.select(col("node").as("src"), col("label").as("dst")))
      // nNodes is MEASURED — hint a broadcast of the label table when
      // it provably fits, exactly the call AQE would make if
      // checkpointed frames carried stats; the per-round cost then
      // collapses to one partial-aggregated exchange (the groupBy)
      // instead of shuffling the full O(|E|) relation twice. Beyond
      // the gate the join degrades gracefully to the shuffle form a
      // 100 TB graph needs anyway.
      val labelsSide = if (nNodes <= 2000000L) broadcast(labels) else labels
      val gathered = rel.join(labelsSide, col("dst") === col("node"))
        .select(col("src").as("node"), col("label"))
      // ONE action per round (VERDICT r4 ask #2): the localCheckpoint
      // is LAZY and the convergence aggregate is the action that
      // materializes it — the eager-checkpoint-then-agg form paid two
      // full passes per round (~23 s of overhead at sf0.1 on a
      // 2.5k-node graph). The agg reads every partition, so the
      // checkpoint is complete when it returns; labels only ever
      // decrease, so an unchanged sum IS the fixpoint.
      val next = labels.union(gathered)
        .groupBy("node").agg(min("label").as("label"))
        .localCheckpoint(false)
      val nextSum = next.agg(labelSum).head().get(0)
      converged = nextSum == lastSum
      lastSum = nextSum
      labels = next
      round += 1
    }
    ccLog.info(s"connectedComponents: fixpoint after $round rounds " +
      s"($nNodes nodes, $nEdges directed edges)")
    labels
    }
  }

  /** End-to-end near-dup removal: keep every document that is either
    * un-clustered or its cluster's representative (minimum id) —
    * [[minhashCandidates]] → [[connectedComponents]] → anti-join. The
    * anti-join ships only the (small) drop list, never the corpus.
    */
  def dropNearDuplicates(docs: DataFrame, textCol: String, idCol: String,
                         minEstE6: Long = 250000L): DataFrame =
    dropNearDuplicates(docs,
      connectedComponents(
        minhashCandidates(docs, textCol, idCol, minEstE6), "doc_a", "doc_b"),
      idCol)

  /** The drop step alone, over ALREADY-COMPUTED cluster labels
    * ([[connectedComponents]]' (node, label) shape) — so a pipeline
    * that has the candidates and clusters in hand does NOT pay the
    * two heaviest funnel stages a second time (VERDICT r12: the
    * text-only overload internally re-ran candidates + CC, and the
    * 100× funnel triple-paid the candidates wall that way). The
    * anti-join ships only the (small) drop list, never the corpus.
    */
  def dropNearDuplicates(docs: DataFrame, labels: DataFrame,
                         idCol: String): DataFrame = {
    val drops = labels.filter(col("node") =!= col("label"))
      .select(col("node").as(idCol))
    docs.join(drops, Seq(idCol), "left_anti")
  }

  /** INCREMENTAL cluster maintenance — the delta verb
    * [[connectedComponents]] lacks: a continuously-ingesting pipeline
    * has delta CANDIDATES ([[incrementalCandidates]] /
    * [[incrementalWinnowing]]) but re-ran full CC over the corpus per
    * batch to fold them in — O(|corpus edges|·log d) for a
    * batch-sized change. This folds `newEdges` into an EXISTING
    * (node, label) table by relabeling only the components the batch
    * touches; untouched rows pass through with their label (and
    * value) unchanged.
    *
    * Correctness rests on the label invariant CC guarantees: every
    * label IS its component's minimum, so each labeled node is
    * connected to its label and components can be merged at the
    * LABEL level — resolve each new edge's endpoints to their current
    * labels (an unlabeled endpoint stands for itself), run CC on that
    * label-level graph (batch-sized: its nodes are touched labels +
    * new node ids), and the result maps old label → merged-component
    * minimum, which equals full CC's fixpoint over the union edge set
    * (x88 pins exactly that equality under the DuckDB full-closure
    * oracle; DedupSpec asserts it on randomized edge splits).
    *
    * The fold IS [[incrementalComponentsDelta]]'s stitch — the prior
    * rows of labels the batch did not drop, plus its changed rows —
    * as [[relabelScopedFromSigs]] is [[scopedDelete]]'s: one kernel,
    * whose arms and ceilings decide how the batch is folded.
    *
    * Scale: the label table is corpus-sized but is never shuffled —
    * the kernel reads it against batch-sized sides (one collect of the
    * touched components' rows on the driver arm; broadcast endpoint
    * and changed-label sets on the distributed arm), and the stitch
    * streams it once more against the broadcast dropped labels.
    * Per-batch cost is therefore linear label-table scans + O(batch),
    * independent of the corpus' EDGE count. Every stage degrades for a
    * MEGA-batch: the broadcast hints are gated on measured counts (past
    * ~2M rows the joins fall back to shuffle joins — ADVICE r13), and
    * the label-level CC past 1M pairs takes the distributed rounds.
    *
    * ADDITIONS ONLY, by design: a deletion can SPLIT a component, and
    * min-label state retains no edges to re-derive the split — the
    * published answer (and this engine's) is to recompute from the
    * retained candidate pairs (DedupIndex keeps them; its tombstone
    * compact is the deletion verb), batching deletions to whatever
    * cadence makes that recompute worth it. Folding a deletion here
    * would silently leave the dead node's bridges intact.
    *
    * @param materialize checkpoint the canonicalized label table
    *   before its streamed scans (default). Pass `false` when the
    *   caller's `labels` is ALREADY materialized — a parquet-backed
    *   table or a frame the fold loop checkpoints itself — so a
    *   per-batch fold doesn't pay a redundant corpus-sized write; with
    *   an unmaterialized lineage each scan would re-run the whole
    *   producing pipeline, hence the default.
    */
  def incrementalComponents(labels: DataFrame, newEdges: DataFrame,
                            aCol: String, bCol: String,
                            materialize: Boolean = true): DataFrame = {
    val lab = canonicalPrior(labels, materialize)
    val (changed, dropped) = componentsDelta(lab, canonicalEdges(newEdges, aCol, bCol))
    lab.join(gate(dropped).side, Seq("label"), "left_anti").select("node", "label")
      .unionByName(changed)
  }

  /** `labels` canonical ([[canonicalLabels]]), checkpointed once when
    * the caller asks: the prior label table every maintenance verb
    * scans more than once.
    */
  private def canonicalPrior(labels: DataFrame, materialize: Boolean): DataFrame = {
    val lab = canonicalLabels(labels)
    if (materialize) lab.localCheckpoint(true, DataSized) else lab
  }

  /** [[incrementalComponents]]' MERGE-ON-READ form and its kernel (the
    * additions-side twin of [[ScopedDelete.delta]]): returns (the
    * CHANGED label rows alone — existing rows whose component was
    * remapped, relabeled, plus the batch's new nodes — and the DROPPED
    * pre-batch labels of those changed rows). The full post-fold table
    * is (prior ∖ rows of dropped labels) ∪ delta — exactly
    * [[graft.llm.LabelStore]]'s stitch and [[incrementalComponents]]'
    * — and the drop invariant holds because min-label components
    * relabel ATOMICALLY: every row of a dropped old label is remapped,
    * hence in the delta.
    *
    * Scale: the corpus-sized relabel scan (and its full-table
    * materialization) disappears — the label scans here feed the
    * batch-sized changed-rows join, so a maintenance loop's per-batch
    * WRITE and COMPUTE are both O(touched components), with the full
    * table reconstructed lazily at read time.
    *
    * Driver arm: a batch of at most [[DriverCcMaxPairs]] edges whose
    * touched components hold at most [[BroadcastMaxRows]] label rows
    * (both counted by the collects themselves) is collected in two
    * queries — the edges, then every label row of the touched
    * endpoints' components — merged at label level by driver
    * union-find, and returned as two local relations, so the writer's
    * one job reads no label table. Past either ceiling the distributed
    * arm runs, reading the collected edges' checkpoint.
    */
  def incrementalComponentsDelta(labels: DataFrame, newEdges: DataFrame,
                                 aCol: String, bCol: String,
                                 materialize: Boolean = true)
      : (DataFrame, DataFrame) =
    componentsDelta(canonicalPrior(labels, materialize), canonicalEdges(newEdges, aCol, bCol))

  /** [[incrementalComponentsDelta]] over canonical labels and edges (a, b). */
  private def componentsDelta(lab: DataFrame, e: DataFrame): (DataFrame, DataFrame) = {
    val labelMax = driverCeiling(2)
    val edgeMax = math.min(DriverCcMaxPairs, labelMax)
    if (edgeMax < 0) {
      ccLog.info("incrementalComponentsDelta: distributed arm (driver arms off)")
      // lazy: the ends gate materializes it — one pass over the
      // candidate producer instead of two
      return distributedDelta(lab, e.localCheckpoint(false))
    }
    val edges = measure(e, edgeMax, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val local = edges.rows.map(driverDelta(lab, _, labelMax))
    local.flatMap(_._2) match {
      case Some(out) =>
        ccLog.info(s"incrementalComponentsDelta: driver arm (${edges.count} edges <= " +
          s"$edgeMax, ${local.get._1} touched label rows <= $labelMax)")
        out
      case None =>
        ccLog.info("incrementalComponentsDelta: distributed arm (" + local.fold(
          s"${edges.count} edges > $edgeMax")(l =>
          s"${l._1} touched label rows > $labelMax") + ")")
        distributedDelta(lab, edges.frame)
    }
  }

  /** [[incrementalComponentsDelta]]'s driver fold over collected edges:
    * (the touched components' label-row count, and the (changed rows,
    * dropped labels) relations when those rows fit `maxRows`). Every
    * label row of a touched endpoint's component is collected in ONE
    * query; the label-level graph, its union-find and the remap run
    * here, with the distributed arm's outputs row for row: the changed
    * rows are the rows of remapped labels, the new nodes are the
    * endpoints with no label row, and the drops are every remapped
    * label-graph node.
    */
  private def driverDelta(lab: DataFrame, edges: Array[Row], maxRows: Long)
      : (Long, Option[(DataFrame, DataFrame)]) = {
    val spark = lab.sparkSession
    import spark.implicits._
    val pairs = edges.map(r => (r.getLong(0), r.getLong(1)))
    val ends = pairs.flatMap { case (a, b) => Array(a, b) }.distinct
    val members = collectSlice(lab.join(
        broadcast(lab.filter(inLongSet(col("node"), ends)).select("label")),
      Seq("label"), "left_semi").select("node", "label"), maxRows)
    members.count -> members.rows.map { rows =>
      val member = rows.map(r => (r.getLong(0), r.getLong(1)))
      val labelOf = member.toMap
      // an endpoint with no label row stands for itself
      val root = unionFind(pairs.iterator.map { case (a, b) =>
        (labelOf.getOrElse(a, a), labelOf.getOrElse(b, b)) }).toMap
      val changed = root.filter { case (n, r) => n != r }
      val changedRows = member.collect { case (n, l) if changed.contains(l) => (n, changed(l)) }
      val newNodes = ends.filterNot(labelOf.contains).map(n => (n, root(n)))
      ((changedRows ++ newNodes).toSeq.toDF("node", "label"),
        changed.keys.toSeq.toDF("label"))
    }
  }

  /** [[incrementalComponentsDelta]]'s distributed arm over canonical
    * labels and materialized edges (a, b): the touched endpoints'
    * labels, the label-level CC and the changed rows, each a streamed
    * scan of the label table against a batch-sized side broadcast
    * under a measured gate.
    */
  private def distributedDelta(lab: DataFrame, e: DataFrame): (DataFrame, DataFrame) = {
    // the touched endpoints' current labels: ONE streamed scan of the
    // label table against the broadcast endpoint set — the batch-sized
    // output is all later stages ever see of the corpus.
    // The broadcast hints are gated on MEASURED counts (the
    // connectedComponents nNodes pattern, ADVICE r13): a mega-batch's
    // endpoint or changed-label set past ~64 MB of long pairs must
    // degrade to a graceful shuffle join, not force-broadcast into a
    // driver OOM — the same 2M-row gate the CC label table uses.
    val ends = gate(e.select(col("a").as("node"))
      .union(e.select(col("b").as("node"))).distinct())
    val touched = lab.join(ends.side, Seq("node"), "left_semi")
      .localCheckpoint(true)
    // endpoints resolve to their current label; an unlabeled endpoint
    // (new node, or an old singleton CC never listed) stands for itself
    val ta = touched.select(col("node").as("a"), col("label").as("la"))
    val tb = touched.select(col("node").as("b"), col("label").as("lb"))
    // distinct AFTER resolution: a batch of exact copies emits one
    // member-level edge per (new doc, old copy), but they all resolve
    // to the same (label, label) pair — the dedup costs one shuffle of
    // a batch-sized frame and shrinks the CC input from member-level
    // to component-level multiplicity (CC is multiplicity-blind, so
    // semantics are untouched)
    val labelEdges = e
      .join(ta, Seq("a"), "left").join(tb, Seq("b"), "left")
      .select(coalesce(col("la"), col("a")).as("la"),
        coalesce(col("lb"), col("b")).as("lb"))
      .distinct()
    // label-level CC: nodes = touched labels + new ids — batch-sized,
    // so this takes the driver union-find path at typical batches and
    // degrades to the distributed rounds for a mega-batch. Only the
    // labels that move are kept: label-graph-sized, so the broadcast is
    // the common case (a local relation on the union-find path: no job)
    val changed = gate(connectedComponents(labelEdges, "la", "lb")
      .select(col("node").as("old_label"), col("label").as("new_label"))
      .filter(col("old_label") =!= col("new_label")))
    val changedRows = lab
      .join(changed.side, col("label") === col("old_label"))
      .select(col("node"), col("new_label").as("label"))
    // endpoints not in the label table enter with their merged label
    // (a label-graph node that did not move keeps its own id). The
    // anti-join runs against `touched` — batch-sized, already in hand —
    // NOT the corpus label table: ends ∩ lab ≡ ends ∩ touched by
    // touched's construction
    val newNodes = ends.frame.join(touched.select("node"), Seq("node"), "left_anti")
      .join(changed.side, col("node") === col("old_label"), "left")
      .select(col("node"), coalesce(col("new_label"), col("node")).as("label"))
    (changedRows.unionByName(newNodes), changed.frame.select(col("old_label").as("label")))
  }

  /** The DELETION-side complement of [[incrementalComponents]], SCOPED
    * to tombstone-touched components (VERDICT r14 ask #1): a deletion
    * can only change components that CONTAINED a deleted doc — edges
    * are pure functions of their two endpoints' signatures, so removing
    * docs deletes edges but never creates or rewires one, and every
    * label outside the touched components is invariant. The round-14
    * form recomputed CC over the ENTIRE retained signature relation per
    * deletion batch — O(corpus) for a takedown touching a handful of
    * clusters; this recomputes over exactly the touched slice
    * ([[scopedDelete]]) and stitches: (prior ∖ rows of touched labels)
    * ∪ the slice's recomputed labels.
    *
    * Inputs: `sigs` is the doc-level signature relation ([[docSigs]]
    * shape — DedupIndex's `_sigs` sidecar or a stream's accumulated
    * state; tombstoned rows may still be present, the slice excludes
    * them, so the verb works before OR after the physical compact).
    * `priorLabels` must be the CC fixpoint over the current
    * pre-deletion corpus ((node, label = component min), complete —
    * exactly what [[connectedComponents]] / [[incrementalComponents]] /
    * a previous call of this maintain).
    *
    * Correctness: the touched slice is CLOSED under candidate pairs —
    * any pair crossing out of it would connect a touched component to
    * an untouched one, contradicting priorLabels' fixpoint — so CC over
    * the slice's pairs equals the from-scratch components restricted to
    * it (splits included: the slice carries every retained member, and
    * the recompute is from pairs, not from min-label state). Untouched
    * rows pass through VERBATIM (never re-derived — DedupSpec proves it
    * by poisoning them and watching the poison survive); x92 pins the
    * whole answer against the DuckDB closure over corpus∖deleted.
    *
    * Scale: the recompute cost is ∝ touched-component rows, flat in
    * corpus size (SCALE_r15 measures it against r14's full-corpus
    * form); [[scopedDelete]] says how the slice is scoped on each arm.
    *
    * @param materialize checkpoint `priorLabels` before its streamed
    *   scans (default); pass `false` when it is already materialized
    *   (parquet-backed, or a fold loop's own checkpoint — st30's shape).
    */
  def relabelScopedFromSigs(sigs: DataFrame, tombstones: DataFrame,
                            priorLabels: DataFrame, idCol: String,
                            minEstE6: Long = 250000L,
                            materialize: Boolean = true): DataFrame =
    scopedDelete(sigs, tombstones, priorLabels, idCol, minEstE6, materialize).labels

  /** A deletion batch after [[scopedDelete]]'s SCOPE phase — what it
    * measured — with the RECOMPUTE phase as [[delta]].
    *
    * @param lab the prior labels, canonical (checkpointed when the
    *   caller asked to materialize them)
    * @param dead the distinct tombstoned node ids (node)
    * @param touchedLabels the labels of the components holding a
    *   tombstone (label): the batch's dropped labels
    * @param touchedDocs the touched components' label rows, tombstones
    *   included
    * @param slice the retained members' (idCol, sig) rows: all the
    *   recompute reads
    * @param sliceRows the slice's row count when the scope collected it
    *   (the driver arm); None when the slice is a distributed plan
    */
  private[graft] final case class ScopedDelete(lab: DataFrame, dead: Measured,
      touchedLabels: Measured, touchedDocs: Long, slice: DataFrame,
      sliceRows: Option[Long], idCol: String, minEstE6: Long) {

    /** The recompute, run on first use: candidates + components over
      * the slice — the touched components' retained members with their
      * new labels (a member left alone is a singleton and absent, the
      * CC convention). On the driver arm the slice is local rows and
      * each query plans as one job ([[localQueries]]). The result is
      * landed (a local relation or a materialized checkpoint), so a
      * writer may extend the state it was read from.
      */
    lazy val delta: DataFrame = sliceRows match {
      case Some(0L) =>
        val spark = slice.sparkSession; import spark.implicits._
        Seq.empty[(Long, Long)].toDF("node", "label")
      case Some(_) => localQueries(slice.sparkSession)(recompute(materialize = false))
      case None => recompute(materialize = true)
    }

    // assumeUnique: CC is multiplicity-blind (the relabel rule), so
    // replayed sidecar rows never force the dedup exchange here either
    private def recompute(materialize: Boolean): DataFrame =
      connectedComponents(candidatesFromSigs(slice, idCol, minEstE6, materialize,
        assumeUnique = true), "doc_a", "doc_b")

    /** The prior labels outside the touched components, verbatim. */
    def untouched: DataFrame =
      lab.join(touchedLabels.side, Seq("label"), "left_anti").select("node", "label")

    /** The post-deletion label table: [[untouched]] ∪ [[delta]]. */
    def labels: DataFrame = untouched.unionByName(delta)
  }

  /** The scoped deletion KERNEL: every deletion verb computes its labels
    * here ([[relabelScopedFromSigs]], [[relabelScopedAutoFromSigs]],
    * [[LabelStore.appendDelete]]). SCOPE, eagerly: tombstones → the
    * labels of the components holding them → those components'
    * retained members' signatures, plus the counts that took. RECOMPUTE,
    * lazily: [[ScopedDelete.delta]] (a dispatch that picks the full
    * relabel never pays it).
    *
    * Driver arm ([[arm]]): the tombstones, every label row of the
    * touched components (ONE query) and the retained members'
    * signatures (one more) are collected, each under its share of the
    * broadcast budget ([[driverCeiling]]). Only components left with two
    * or more retained members enter the slice: no candidate pair leaves
    * a prior component (the scoping theorem), so the rest become
    * singletons. Past any ceiling, or off the driver arm, the same
    * frames are streamed joins against batch-sized sides broadcast
    * under measured gates, so a mass takedown degrades to shuffle joins
    * instead of a driver OOM. Both arms give the same touched labels
    * and the same delta.
    */
  private[graft] def scopedDelete(sigs: DataFrame, tombstones: DataFrame,
                                  priorLabels: DataFrame, idCol: String,
                                  minEstE6: Long = 250000L,
                                  materialize: Boolean = true): ScopedDelete = {
    val lab = canonicalPrior(priorLabels, materialize)
    val dead = tombstones.select(col(idCol).cast("long").as("node"))
      .filter(col("node").isNotNull)
    val slice = sigs.select(col(idCol), col("sig"))
    driverScope(lab, dead, slice, idCol, minEstE6) match {
      case Right(d) => d
      case Left(why) =>
        ccLog.info(s"scoped delete: distributed arm ($why)")
        distributedScope(lab, dead, slice, idCol, minEstE6)
    }
  }

  /** [[scopedDelete]]'s driver arm; Left(why) past a ceiling or off the arm. */
  private def driverScope(lab: DataFrame, dead: DataFrame, sigs: DataFrame,
                          idCol: String, minEstE6: Long): Either[String, ScopedDelete] = {
    val labelMax = driverCeiling(2)
    val sigMax = driverCeiling(SigRowWidth)
    if (labelMax < 0) return Left("driver arms off")
    val spark = lab.sparkSession
    val d = measure(dead, labelMax, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    if (d.rows.isEmpty) return Left(s"${d.count} tombstones > $labelMax")
    val deadIds = d.rows.get.map(_.getLong(0)).distinct.toSeq
    val members = collectSlice(lab.join(
        broadcast(lab.filter(inLongSet(col("node"), deadIds)).select("label")),
      Seq("label"), "left_semi").select("node", "label"), labelMax)
    if (members.rows.isEmpty) return Left(s"${members.count} touched label rows > $labelMax")
    val deadSet = deadIds.toSet
    val rows = members.rows.get.map(r => (r.getLong(0), r.getLong(1)))
    val retained = rows.filterNot(r => deadSet(r._1)).groupBy(_._2).values
      .map(_.map(_._1).distinct).filter(_.length > 1).flatten.toSeq
    // no retained pair: an empty local slice, no query
    val slice = collectSlice(if (retained.isEmpty) sigs.limit(0)
      else sigs.filter(inLongSet(col(idCol), retained)), sigMax)
    if (slice.rows.isEmpty) return Left(s"${slice.count} slice rows > $sigMax")
    ccLog.info(s"scoped delete: driver arm (${deadIds.length} tombstones, " +
      s"${rows.length} touched label rows <= $labelMax, ${slice.count} slice rows <= $sigMax)")
    val touched = rows.collect { case (n, l) if deadSet(n) => l }.distinct.toSeq
    Right(ScopedDelete(lab, localIds(spark, deadIds, "node"),
      localIds(spark, touched, "label"), rows.length, slice.frame, Some(slice.count),
      idCol, minEstE6))
  }

  /** Driver-held ids as a measured local frame of one long column. */
  private def localIds(spark: org.apache.spark.sql.SparkSession, ids: Seq[Long],
                       name: String): Measured = {
    import spark.implicits._
    Measured(ids.length, Some(ids.map(Row(_)).toArray), ids.toDF(name))
  }

  /** [[scopedDelete]]'s distributed arm: the label table and the
    * signature relation are each scanned ONCE, streamed against gated
    * batch-sized sides (tombstones → touched labels → touched members).
    */
  private def distributedScope(lab: DataFrame, dead: DataFrame, sigs: DataFrame,
                               idCol: String, minEstE6: Long): ScopedDelete = {
    // tombstones: two consumers (label lookup + slice anti-join),
    // batch-sized
    val d = gate(dead.distinct())
    // labels of components containing a tombstone: one streamed label
    // scan; a tombstoned doc absent from the labels was a CC singleton
    // — no pairs, nothing to recompute for it. Both touched sides are
    // joined back against `lab`, so they re-alias its columns: past
    // the gate a side is a checkpoint of lab's own projection, and with
    // AQE off the analyzer fails on the shared attribute ("Failure when
    // resolving conflicting references in Join").
    val touchedLabels = gate(lab.join(d.side, Seq("node"), "left_semi")
      .select(col("label").as("label")).distinct())
    // every member of a touched component, tombstoned or not — the
    // recompute must see all retained members to re-derive splits
    val touchedDocs = gate(lab.join(touchedLabels.side, Seq("label"), "left_semi")
      .select(col("node").as("node")))
    val slice = sigs
      .join(touchedDocs.side.withColumnRenamed("node", idCol), Seq(idCol), "left_semi")
      .join(d.side.withColumnRenamed("node", idCol), Seq(idCol), "left_anti")
    ScopedDelete(lab, d, touchedLabels, touchedDocs.count, slice, None, idCol, minEstE6)
  }

  /** The scoped relabel's MEASURED dispatch floor: below this many
    * labeled rows the full retained-corpus recompute is itself a
    * couple of seconds and the scoped path's fixed overhead (~6 small
    * gate/scan jobs) dominates. SCALE_r16's dispatchsweep: at the 10×
    * point (50k labeled rows) scoped NEVER clearly wins — 0.82× at
    * 0.2% touched, 1.05× at 2% — while at 30× (150k rows) it wins
    * 1.07×/1.28× at the same fractions. 100k splits the measured
    * 50k–150k bracket.
    */
  private[graft] val ScopedMinCorpusRows = 100000L

  /** The touched-FRACTION ceiling for the scoped arm: past it the
    * "touched slice" approaches the corpus and the scoped path pays
    * the full recompute's candidate+CC work PLUS its own gate scans.
    * SCALE_r16's dispatchsweep at the 100× point (500k labeled rows):
    * scoped 2.25× ahead at 0.02% touched, 1.55× at 2%, already 0.90×
    * (losing) at 26%, 0.67–0.98× from 39% up. The crossover lies in
    * (2%, 26%); 0.10 sits inside it, biased toward full because the
    * full arm's worst mischoice costs a bounded ~1.5× while the
    * scoped arm's grows with the slice.
    */
  private[graft] val ScopedMaxTouchedFraction = 0.10

  /** [[relabelScopedFromSigs]] with the COST DISPATCH in front
    * (VERDICT r15 ask #4 — callers previously had to eyeball the
    * crossover themselves): the scoped stitch when the corpus is big
    * and the touched fraction small; the full retained-corpus
    * recompute (one candidates+CC pass over sigs∖tombstones — the
    * [[graft.llm.DedupIndex.relabel]] arm) when the corpus is below
    * [[ScopedMinCorpusRows]] labeled rows or the takedown touched more
    * than [[ScopedMaxTouchedFraction]] of them. Both arms return the
    * same labels by the scoping theorem (DedupSpec pins the equality
    * through this verb); the dispatch reads the touched-row count
    * [[scopedDelete]]'s scope measured, plus one labeled-row count, and
    * the full arm never runs the scoped recompute.
    */
  def relabelScopedAutoFromSigs(sigs: DataFrame, tombstones: DataFrame,
                                priorLabels: DataFrame, idCol: String,
                                minEstE6: Long = 250000L,
                                materialize: Boolean = true,
                                minCorpusRows: Long = ScopedMinCorpusRows,
                                maxTouchedFraction: Double = ScopedMaxTouchedFraction)
      : DataFrame = {
    val d = scopedDelete(sigs, tombstones, priorLabels, idCol, minEstE6, materialize)
    val corpus = d.lab.count()
    val pickFull = corpus < minCorpusRows ||
      (corpus > 0L && d.touchedDocs.toDouble / corpus > maxTouchedFraction)
    ccLog.info(s"relabelScopedAuto: ${if (pickFull) "FULL" else "SCOPED"} arm " +
      s"(touched ${d.touchedDocs} of $corpus labeled rows)")
    if (pickFull)
      connectedComponents(
        candidatesFromSigs(
          sigs.select(col(idCol), col("sig"))
            .join(d.dead.side.withColumnRenamed("node", idCol), Seq(idCol), "left_anti"),
          idCol, minEstE6, assumeUnique = true),
        "doc_a", "doc_b")
    else d.labels
  }

  /** Remove tombstoned docs from an accumulating SIGNATURE-DISTINCT
    * index ([[bandIndexDistinct]] shape) without re-deriving it from
    * the full signature relation — the index-maintenance half of the
    * scoped deletion verb (round 14 rebuilt the whole index per delete
    * batch via [[bandIndexDistinctFromSigs]]). Only signature groups
    * whose KEPT REPRESENTATIVE was deleted change: their next-minimum
    * retained member is re-elected from `retainedSigs` (a deleted doc
    * may have BEEN its group's rep); every other index row passes
    * through. Null-signature docs are each their own representative,
    * so a deleted one just drops — and null sigs are excluded from the
    * re-election sig-joins explicitly (the freshIndexRows ordering-
    * based-array-equality rule, ADVICE r14).
    *
    * Scale: the index and the signature relation are each streamed
    * ONCE against broadcast batch-sized sets (tombstones; dead-rep
    * signatures, bounded by |tombstones|); the re-election window
    * shuffles only the dead-rep groups' retained members.
    *
    * @param retainedSigs the doc-level signature relation — tombstoned
    *   rows may still be present (they are anti-joined out here).
    */
  def deleteFromIndexDistinct(index: DataFrame, retainedSigs: DataFrame,
                              tombstones: DataFrame, idCol: String): DataFrame = {
    // measured broadcast gate (the incrementalComponents 2M rule): a
    // mass takedown must degrade to shuffle joins, not driver-OOM.
    // The deduped dead frame and its gated side are built ONCE and
    // passed into the re-election (ADVICE r15: the public overload
    // rebuilt and re-measured the identical frame — extra eager jobs
    // per delete batch on the hot maintenance path).
    def distributed(why: String): DataFrame = {
      ccLog.info(s"deleteFromIndexDistinct: distributed arm ($why)")
      val deadSide = gate(tombstones.select(col(idCol)).distinct()).side
      index.join(deadSide, Seq(idCol), "left_anti")
        .unionByName(reElectRows(index, retainedSigs, deadSide, idCol))
    }
    val sigMax = driverCeiling(SigRowWidth)
    if (sigMax < 0) return distributed("driver arms off")
    val level = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val dead = measure(tombstones.select(col(idCol)).filter(col(idCol).isNotNull),
      sigMax, level)
    if (dead.rows.isEmpty) return distributed(s"${dead.count} tombstones > $sigMax")
    // driver arm: ONE query collects the retained rows of every
    // signature group whose kept representative is tombstoned, the
    // group minimum is re-elected here, and the caller's fold reads
    // the index filtered by the tombstone set plus local rows
    val ids = dead.rows.get.map(_.getAs[Number](0).longValue)
    val live = coalesce(not(inLongSet(col(idCol), ids)), lit(true))
    val group = collectSlice(retainedSigs.select(col(idCol), col("sig"))
        .filter(col("sig").getItem(0).isNotNull && live)
        .join(broadcast(bandZeroSigs(index.filter(inLongSet(col(idCol), ids)))),
          Seq("sig"), "left_semi")
        .select(col(idCol), col("sig")), sigMax)
    group.rows match {
      case None => distributed(s"${group.count} retained rows of dead-representative " +
        s"groups > $sigMax")
      case Some(rows) =>
        def id(r: Row) = r.getAs[Number](0).longValue
        val minOf = rows.groupBy(_.getSeq[Any](1)).map { case (sig, rs) => sig -> rs.map(id).min }
        val reps = rows.filter(r => id(r) == minOf(r.getSeq[Any](1)))
        ccLog.info(s"deleteFromIndexDistinct: driver arm (${dead.count} tombstones, " +
          s"${rows.length} retained rows of ${minOf.size} dead-representative groups " +
          s"<= $sigMax)")
        index.filter(live)
          .unionByName(bandIndexFromSigs(index.sparkSession.createDataFrame(
            java.util.Arrays.asList(reps: _*), group.frame.schema), idCol))
    }
  }

  /** Just the rows [[deleteFromIndexDistinct]] would ADD — the
    * re-elected representatives of sig groups whose kept rep was
    * deleted: the persisted posture's APPEND set ([[freshIndexRows]]'
    * deletion-side twin). A maintenance loop appends these to the
    * index table and lets readers anti-join the tombstone set
    * (merge-on-read) until the scheduled compact folds both — so a
    * delete batch writes O(touched groups) rows, never the relation
    * (ScaleSmoke's interleave stage runs exactly this posture).
    */
  def reElectIndexRows(index: DataFrame, retainedSigs: DataFrame,
                       tombstones: DataFrame, idCol: String): DataFrame =
    reElectRows(index, retainedSigs,
      gate(tombstones.select(col(idCol)).distinct()).side, idCol)

  /** [[reElectIndexRows]] over an already-deduped/materialized/gated
    * tombstone side — so [[deleteFromIndexDistinct]] shares one dead
    * side between its anti-join and the re-election instead of
    * measuring it twice per delete batch (ADVICE r15).
    */
  private def reElectRows(index: DataFrame, retainedSigs: DataFrame,
                          deadSide: DataFrame, idCol: String): DataFrame = {
    val drsSide = gate(index
      .filter(col("band") === 0 && col("sig").getItem(0).isNotNull)
      .join(deadSide, Seq(idCol), "left_semi")
      .select("sig").distinct()).side
    bandIndexDistinctFromSigs(
      retainedSigs.select(col(idCol), col("sig"))
        .filter(col("sig").getItem(0).isNotNull)
        .join(drsSide, Seq("sig"), "left_semi")
        .join(deadSide, Seq(idCol), "left_anti"), idCol)
  }

  /** Exact token-set jaccard from a probe subset to the whole corpus
    * via an inverted-index join: explode distinct tokens, equi-join on
    * the token, count co-occurrences, jaccard = |∩| / (|A|+|B|−|∩|).
    *
    * Scale: sparse — cost is Σ_token df_probe(token)·df(token), never
    * materializing n² pairs. For web-scale corpora the standard
    * guards apply and are knobs here: drop ultra-high-df tokens
    * (`maxDocFreq`, the prefix-filtering idea) and keep the probe set
    * bounded. The corpus' 31-word vocab makes every token high-df, so
    * tests run with the cap off.
    */
  def tokenJaccardPairs(docs: DataFrame, textCol: String, idCol: String,
                        probeFilter: org.apache.spark.sql.Column,
                        minJaccardE6: Long = 900000L,
                        maxDocFreq: Option[Long] = None,
                        materialize: Boolean = true): DataFrame = {
    // One tokenize pass, materialized: the probe side, the corpus
    // side, and the size table below all consume this frame —
    // unmaterialized, the self-join recomputes the tokenize+explode on
    // every branch (the same trap minhashCandidates documents). Eager
    // localCheckpoint, not .cache(), for the same leak-freedom reason.
    val toks0 = docs.select(col(idCol),
      explode(array_distinct(tokens(col(textCol)))).as("tok"))
    val toks = if (materialize) toks0.localCheckpoint(true, DataSized) else toks0
    // |distinct tokens| == row count of the exploded frame per doc
    val sizes = toks.groupBy(idCol).agg(count(lit(1)).as("n_tok"))

    val pruned = maxDocFreq match {
      case Some(cap) =>
        val df = toks.groupBy("tok").agg(count(lit(1)).as("df")).filter(col("df") <= cap)
        toks.join(df.select("tok"), Seq("tok"), "left_semi")
      case None => toks
    }

    // probes are broadcast: the token key has vocabulary cardinality
    // (here 31 values) so a shuffle join on it is maximally skewed;
    // broadcasting the (small by construction) probe side streams the
    // corpus without any shuffle, and the following pair-count agg is
    // map-side-combined down to distinct pairs before its exchange.
    val probes = pruned.filter(probeFilter)
      .select(col(idCol).as("probe_id"), col("tok"))
    val inter = pruned.select(col(idCol).as("other_id"), col("tok"))
      .join(broadcast(probes), Seq("tok"))
      .filter(col("probe_id") =!= col("other_id"))
      .groupBy("probe_id", "other_id")
      .agg(count(lit(1)).as("n_inter"))

    inter
      .join(sizes.select(col(idCol).as("probe_id"), col("n_tok").as("n_a")), Seq("probe_id"))
      .join(sizes.select(col(idCol).as("other_id"), col("n_tok").as("n_b")), Seq("other_id"))
      .withColumn("jaccard_e6",
        floor(lit(1000000.0) * col("n_inter") / (col("n_a") + col("n_b") - col("n_inter")))
          .cast("long"))
      .filter(col("jaccard_e6") >= minJaccardE6)
      .select("probe_id", "other_id", "n_inter", "jaccard_e6")
  }

  /** EXACT-threshold token-set similarity join with prefix filtering
    * (the SSJoin/PPJoin family — Chaudhuri et al. ICDE'06, Xiao et
    * al. WWW'08): all pairs with token-set jaccard >= t, with NO
    * false negatives — the exact counterpart of minhash LSH (which
    * trades recall for speed probabilistically).
    *
    * The pruning theorem: order the vocabulary totally (here by
    * document frequency ascending, rarest first, token as
    * tiebreak) and index only each doc's PREFIX — its first
    * |x| - ceil(t·|x|) + 1 tokens under that order. Any pair with
    * J >= t shares at least one token inside both prefixes: J >= t
    * implies the overlap i >= t·max(|x|,|y|), so fewer than
    * |x| - i + 1 <= prefix-length non-shared tokens can precede the
    * first shared token in either doc. Candidates therefore come
    * from an equi-join of PREFIXES — Σ df² over the rarest tokens,
    * a vanishing fraction of the full inverted index's fan-out —
    * and each candidate is verified with the exact intersection
    * count restricted to candidate pairs. The prefix length is
    * computed in integer arithmetic ((sz·t + 999999) DIV 1e6): a
    * float ceil that rounds an exact integer boundary UP would
    * silently shorten the prefix and break the no-false-negative
    * guarantee.
    *
    * Scale: one tokenize pass (materialized), one df aggregation
    * (vocabulary-sized), one per-doc rank window (shuffle on the doc
    * key), the prefix-only pair join — with the PPJoin SIZE filter
    * (t·|x| <= |y| <= |x|/t, also implied by J >= t) applied inside
    * it so size-discordant collisions never reach the shuffle — and
    * a candidate-restricted verify join. Never all-pairs; the
    * df-ascending order makes hot tokens land in suffixes, so the
    * pair join's skew is bounded by construction rather than capped
    * by a knob (compare [[tokenJaccardPairs]]' dfCap, which trades
    * recall).
    */
  def prefixJaccardJoin(docs: DataFrame, textCol: String, idCol: String,
                        minJaccardE6: Long = 600000L,
                        probeFilter: Option[Column] = None,
                        materialize: Boolean = true): DataFrame = {
    val toks0 = docs.select(col(idCol),
      explode(array_distinct(tokens(col(textCol)))).as("tok"))
    // four consumers (df, sizes, prefix build, verify join) — one
    // tokenize pass, eager localCheckpoint for leak-freedom
    val toks = if (materialize) toks0.localCheckpoint(true, DataSized) else toks0
    val sz = toks.groupBy(idCol).agg(count(lit(1)).as("sz"))
    val dfr = toks.groupBy("tok").agg(count(lit(1)).as("df"))

    val w = Window.partitionBy(idCol).orderBy(col("df"), col("tok"))
    val pfx = toks.join(dfr, "tok")
      .join(sz, idCol)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <=
        expr(s"sz - ((sz * $minJaccardE6 + 999999) DIV 1000000) + 1"))
      .select(col(idCol), col("tok"), col("sz"))

    // symmetric self-join (a < b, each unordered pair once) by
    // default; with a probe predicate, side A is the probe set and
    // every (probe, other) ordered pair appears — the x03 convention,
    // and the output-size throttle for corpora whose full exact join
    // is quadratic BY ANSWER (see x70's scaladoc)
    val pfxA = probeFilter.fold(pfx)(pfx.filter(_))
    val pairPred = if (probeFilter.isDefined)
      col("doc_a") =!= col("doc_b") else col("doc_a") < col("doc_b")
    // PPJoin SIZE filter, applied inside the candidate join: J >= t
    // forces t·|x| <= |y| <= |x|/t (the intersection is at most the
    // smaller set, the union at least the larger), so size-discordant
    // prefix collisions — the common case around hot template tokens —
    // die before the verify join ever shuffles them. Lossless, like
    // the prefix bound itself; integer arithmetic throughout.
    val cand = pfxA.select(col(idCol).as("doc_a"), col("tok"),
        col("sz").as("sz_pa"))
      .join(pfx.select(col(idCol).as("doc_b"), col("tok"),
        col("sz").as("sz_pb")), "tok")
      .filter(pairPred &&
        col("sz_pb") * lit(1000000L) >= col("sz_pa") * lit(minJaccardE6) &&
        col("sz_pa") * lit(1000000L) >= col("sz_pb") * lit(minJaccardE6))
      .select("doc_a", "doc_b").distinct()

    val inter = cand
      .join(toks.select(col(idCol).as("doc_a"), col("tok")), "doc_a")
      .join(toks.select(col(idCol).as("doc_b"), col("tok")), Seq("doc_b", "tok"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_inter"))

    inter
      .join(sz.select(col(idCol).as("doc_a"), col("sz").as("sz_a")), "doc_a")
      .join(sz.select(col(idCol).as("doc_b"), col("sz").as("sz_b")), "doc_b")
      .withColumn("jaccard_e6",
        expr("(n_inter * 1000000) DIV (sz_a + sz_b - n_inter)"))
      .filter(col("jaccard_e6") >= minJaccardE6)
      .select("doc_a", "doc_b", "n_inter", "jaccard_e6")
  }

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
    * standard — SIGMOD'03): over each sliding window of `w`
    * consecutive `k`-char-gram hashes keep the window MINIMUM. The
    * winnowing theorem guarantees any substring match of length >=
    * k+w-1 yields at least one shared fingerprint, at ~2/(w+1)
    * expected density — a third dedup family next to minhash
    * (bag-of-shingles, blind to ordering) and simhash (global
    * near-angle): winnowing is LOCAL, so it survives substring
    * REORDERING and catches partial overlap (quotes, boilerplate
    * splices) that whole-document sketches dilute away.
    *
    * One row per distinct (doc, fingerprint). Scale: pure per-row
    * expression work + one explode — no shuffle; the consumer joins
    * on `fp`, which is where [[winnowingPairs]]' df-cap bounds
    * fan-out.
    */
  def winnowingFingerprints(docs: DataFrame, textCol: String, idCol: String,
                            k: Int = 8, w: Int = 4): DataFrame =
    docs
      .filter(length(col(textCol)) >= k + w - 1)
      // ONE native codegen'd expression (WinnowFps): gram md5s, window
      // minima and first-occurrence dedup fused in a single pass —
      // value-identical to the HOF specification
      // array_distinct(transform(..., i => array_min(slice(gh, i, w))))
      // over charGramHashes (WinnowFpsSpec pins parity), without the
      // two interpreted lambda passes or the full per-gram hash array
      // per row.
      .select(col(idCol),
        call_function("winnow_fps", col(textCol), lit(k), lit(w)).as("fps"))
      // explode_OUTER, deliberately: a plain explode makes
      // InferFiltersFromGenerate add `size(fps)>0 AND isnotnull(fps)`
      // below the Generate, and pushdown then inlines the fps
      // expression into a scan-level filter — re-running the whole
      // kernel once more per row just to check non-emptiness (with
      // the pre-fusion HOF form that recompute was O(len²) md5 calls,
      // measured 110 s vs 0.4 s on 500 docs). explode_outer infers
      // nothing; it is equivalent here because the length guard makes
      // fps non-empty (len >= k+w-1 ⇒ windows >= 1), so no null-fp
      // rows can appear.
      .select(col(idCol), explode_outer(col("fps")).as("fp"))

  /** Candidate overlap pairs from shared winnowing fingerprints, with
    * MOSS's own boilerplate rule: a fingerprint appearing in more
    * than `dfCap` docs is template/boilerplate, not evidence of
    * copying, and is dropped BEFORE the pair join — that cap is what
    * bounds per-fingerprint join fan-out (Σ df² economics, the same
    * argument as [[tokenJaccardPairs]]' maxDocFreq) at corpus scale.
    * Pairs need `minShared` distinct shared fingerprints to survive.
    */
  def winnowingPairs(docs: DataFrame, textCol: String, idCol: String,
                     k: Int = 8, w: Int = 4, dfCap: Long = 16L,
                     minShared: Long = 3L,
                     materialize: Boolean = true): DataFrame = {
    // one md5-heavy fingerprint pass feeds the df-count AND both join
    // sides; eager localCheckpoint (not cache) for leak-freedom, as
    // everywhere in this file
    val fps0 = winnowingFingerprints(docs, textCol, idCol, k, w)
    val fps = if (materialize) fps0.localCheckpoint(true, DataSized) else fps0
    val rare = fps.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") <= dfCap).select("fp")
    val kept = fps.join(rare, "fp")
    val a = kept.select(col(idCol).as("doc_a"), col("fp"))
    val b = kept.select(col(idCol).as("doc_b"), col("fp"))
    a.join(b, "fp").filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Incremental winnowing: a NEW batch probed against a persisted
    * fingerprint index ([[winnowingFingerprints]] shape — one (doc,
    * fp) row per distinct fingerprint) without re-fingerprinting the
    * corpus — the winnowing sibling of [[incrementalCandidates]].
    * The MOSS df-cap is computed over the INDEX: the corpus is what
    * defines boilerplate, and a batch must not shift it. Emits
    * (new_id, old_id, n_shared) for new-vs-old pairs only; new-vs-new
    * overlap is [[winnowingPairs]] on the batch.
    *
    * Scale: only the batch pays the md5-per-gram pipeline; the one
    * shuffle is the fp equi-join, and an index persisted bucketed by
    * fp co-locates it — the same delta economics as the minhash
    * index path.
    */
  def incrementalWinnowing(newDocs: DataFrame, fpIndex: DataFrame,
                           textCol: String, idCol: String,
                           k: Int = 8, w: Int = 4, dfCap: Long = 16L,
                           minShared: Long = 3L): DataFrame = {
    val newFps = winnowingFingerprints(newDocs, textCol, idCol, k, w)
      .select(col(idCol).as("new_id"), col("fp"))
    val rare = fpIndex.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") <= dfCap).select("fp")
    val kept = fpIndex.join(rare, "fp")
      .select(col(idCol).as("old_id"), col("fp"))
    newFps.join(kept, "fp")
      .groupBy("new_id", "old_id").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** SimHash near-dup pairs under TWO-band pigeonhole blocking: a
    * hamming<=1 pair differs in at most one bit, which lives in
    * exactly one of the two 8-bit halves — so the pair agrees on at
    * least one FULL half, and the candidate set is the union of both
    * band equi-joins (never all-pairs), deduped before the exact
    * hamming filter. Extracted from the x26 registry query so other
    * consumers (the x56 family-agreement audit) reuse one definition.
    *
    * Scale: two equi-joins on 8-bit band keys — bucket sizes are
    * n/256-ish, so candidates are Σ bucket², the same economics as
    * minhash LSH with the hamming check as the exact confirm.
    */
  def simhashPairs(docs: DataFrame, textCol: String, idCol: String,
                   maxHamming: Long = 1L): DataFrame = {
    val sims = docs
      .select(col(idCol),
        transform(tokens(col(textCol)), t => hash60(t)).as("th"))
      .select(col(idCol), simhashFromHashes(col("th")).as("simhash"))
    val banded = sims.select(col(idCol), col("simhash"),
        explode(array(
          struct(lit(0L).as("band"), (col("simhash") % 256).as("bkey")),
          struct(lit(1L).as("band"), shiftright(col("simhash"), 8).as("bkey")))).as("bb"))
      .select(col(idCol), col("simhash"),
        col("bb.band").as("band"), col("bb.bkey").as("bkey"))
    val a = banded.select(col(idCol).as("doc_a"), col("simhash").as("sim_a"),
      col("band"), col("bkey"))
    val b = banded.select(col(idCol).as("doc_b"), col("simhash").as("sim_b"),
      col("band"), col("bkey"))
    a.join(b, Seq("band", "bkey"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b", "sim_a", "sim_b").distinct()
      .withColumn("hamming",
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
  }

  /** Containment scores over shared winnowing fingerprints:
    * n_shared / |fps(smaller doc)| as a floored e6 integer. THE
    * distinctive winnowing consumer — a document spliced or quoted
    * inside a larger one shares most of ITS OWN fingerprints while
    * symmetric measures (jaccard over the union) dilute toward zero
    * as the containing document grows. Sizes are counted over the
    * same df-capped fingerprint set as the pair join, so boilerplate
    * neither creates pairs nor inflates denominators.
    *
    * Scale: identical plan family to [[winnowingPairs]] — the df-cap
    * bounds per-fingerprint fan-out; the two size joins are
    * hash-aggregated (doc, n_fp) frames, broadcastable.
    */
  def winnowingContainment(docs: DataFrame, textCol: String, idCol: String,
                           k: Int = 8, w: Int = 4, dfCap: Long = 16L,
                           minContE6: Long = 500000L,
                           materialize: Boolean = true): DataFrame = {
    val fps0 = winnowingFingerprints(docs, textCol, idCol, k, w)
    val fps = if (materialize) fps0.localCheckpoint(true, DataSized) else fps0
    val rare = fps.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") <= dfCap).select("fp")
    // sizes + both join sides read the capped set: materialize it too
    val kept0 = fps.join(rare, "fp")
    val kept = if (materialize) kept0.localCheckpoint(true, DataSized) else kept0
    val sizes = kept.groupBy(idCol).agg(count(lit(1)).as("n_fp"))
    val a = kept.select(col(idCol).as("doc_a"), col("fp"))
    val b = kept.select(col(idCol).as("doc_b"), col("fp"))
    a.join(b, "fp").filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_shared"))
      .join(sizes.select(col(idCol).as("doc_a"), col("n_fp").as("n_a")), "doc_a")
      .join(sizes.select(col(idCol).as("doc_b"), col("n_fp").as("n_b")), "doc_b")
      .withColumn("containment_e6",
        expr("(n_shared * 1000000) DIV least(n_a, n_b)"))
      .filter(col("containment_e6") >= minContE6)
      .select("doc_a", "doc_b", "n_shared", "containment_e6")
  }

  /** Duplicate-span REMOVAL — the corpus TRANSFORM whose audit-only
    * counterpart is x60's span coverage (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better",
    * removes the duplicated substrings themselves rather than whole
    * documents): every word `w`-gram appearing in at least `minDocs`
    * DISTINCT documents marks its `w` token positions as covered in
    * every document containing it; each document is rewritten keeping
    * only uncovered tokens, in order. Emits `(idCol, n_tokens,
    * n_removed, text_scrubbed)` for EVERY input doc — docs shorter
    * than `w` tokens or with no duplicated grams pass through intact.
    *
    * Scale: never pairwise — the duplicated-gram set is a group-count
    * over (gram hash, doc) with map-side combine, the cover join is an
    * equi-join on the 60-bit gram hash (uniform), and reassembly is a
    * per-doc bounded aggregation (state = one document's tokens). The
    * gram and token frames are each consumed twice, so they
    * materialize once via eager localCheckpoint (the x28 rule:
    * checkpoint, not cache — leak-free).
    */
  def scrubDuplicateSpans(docs: DataFrame, textCol: String = "text",
                          idCol: String = "doc_id",
                          w: Int = 5, minDocs: Int = 2): DataFrame = {
    require(w >= 2, s"span width must be >= 2, got $w")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val base = docs.select(col(idCol), tokens(col(textCol)).as("t"))
      .localCheckpoint(true, DataSized)
    val grams = base.filter(size(col("t")) >= w)
      .select(col(idCol),
        posexplode(transform(wordShingles(col("t"), w), g => hash60(g)))
          .as(Seq("s0", "h")))
      .select(col(idCol), (col("s0") + 1).as("s"), col("h"))
      .localCheckpoint(true, DataSized)
    val dup = grams.groupBy("h")
      .agg(countDistinct(col(idCol)).as("nd"))
      .filter(col("nd") >= minDocs).select("h")
    // overlapping dup spans yield repeated (doc, p) rows — harmless:
    // the anti join below is existence-only, so no dedup shuffle here
    val covered = grams.join(dup, "h")
      .select(col(idCol), explode(sequence(col("s"), col("s") + (w - 1))).as("p"))
    rewriteUncovered(base, covered, idCol)
  }

  /** Targeted DECONTAMINATION scrub — [[scrubDuplicateSpans]] with the
    * span source swapped: every word `w`-gram that appears in ANY
    * benchmark document (`benchPred`) is scrubbed from every
    * NON-benchmark document; the rewritten non-benchmark corpus is
    * returned. This is the remove-the-leak transform whose audit-only
    * counterpart is x28's contamination score — run it before training
    * so eval n-grams cannot be memorized from the training set.
    *
    * Scale: the benchmark gram set is small by definition (the x28
    * broadcast rule), so the cover join is a broadcast semi-probe of
    * the corpus gram stream — no shuffle of corpus grams at all;
    * rewrite is the same bounded per-doc aggregation as
    * [[scrubDuplicateSpans]].
    *
    * Caveat (shared with the published remove-the-span recipes):
    * joining survivors re-creates adjacency, so a NEW w-gram spanning
    * a removal site could in principle equal a benchmark gram. The
    * spec asserts zero residual contamination on the fixture; a
    * deployment wanting the strict guarantee inserts a boundary
    * token at each removal site instead of plain concatenation.
    */
  def scrubBenchmarkSpans(docs: DataFrame, benchPred: Column,
                          textCol: String = "text",
                          idCol: String = "doc_id",
                          w: Int = 5): DataFrame = {
    require(w >= 2, s"span width must be >= 2, got $w")
    val base = docs
      .select(col(idCol), benchPred.as("is_bench"), tokens(col(textCol)).as("t"))
      .localCheckpoint(true, DataSized)
    val benchGrams = base.filter(col("is_bench") && size(col("t")) >= w)
      .select(explode(transform(wordShingles(col("t"), w), g => hash60(g))).as("h"))
      .distinct()
    val corpusGrams = base.filter(!col("is_bench") && size(col("t")) >= w)
      .select(col(idCol),
        posexplode(transform(wordShingles(col("t"), w), g => hash60(g)))
          .as(Seq("s0", "h")))
      .select(col(idCol), (col("s0") + 1).as("s"), col("h"))
    val covered = corpusGrams.join(broadcast(benchGrams), "h")
      .select(col(idCol), explode(sequence(col("s"), col("s") + (w - 1))).as("p"))
    rewriteUncovered(base.filter(!col("is_bench")).select(col(idCol), col("t")),
      covered, idCol)
  }

  /** Shared rewrite tail of the span scrubs: drop covered token
    * positions, reassemble each document's survivors in order, and
    * account `(n_tokens, n_removed)` for EVERY doc in `base` — docs
    * with all positions covered come back as the empty string.
    */
  private def rewriteUncovered(base: DataFrame, covered: DataFrame,
                               idCol: String): DataFrame = {
    val toks = base
      .select(col(idCol), posexplode(col("t")).as(Seq("p0", "tok")))
      .select(col(idCol), (col("p0") + 1).as("p"), col("tok"))
    val kept = toks.join(covered, Seq(idCol, "p"), "left_anti")
    val re = kept.groupBy(idCol).agg(
      concat_ws(" ", transform(
        array_sort(collect_list(struct(col("p"), col("tok")))),
        x => x("tok"))).as("text_scrubbed"),
      count(lit(1)).as("n_kept"))
    base.select(col(idCol), size(col("t")).cast("long").as("n_tokens"))
      .join(re, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("text_scrubbed"), lit("")).as("text_scrubbed"))
  }
}
