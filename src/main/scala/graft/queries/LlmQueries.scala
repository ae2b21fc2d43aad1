package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.llm.{Dedup, DedupIndex, Multimodal, Retrieval, Selection, Similarity, TextFunctions => TF}

/** LLM-training-data pipeline queries (builder brief: dedup,
  * similarity search, text analysis, multimodal — first-class
  * components) over the `documents` and `embeddings` tables, each with
  * a DuckDB oracle computing the identical algorithm.
  *
  * Oracle-parity rules on top of GeneralQueries' (exact integer
  * outputs, total ORDER BY, matching column names):
  *   - the one hash primitive is TF.hash60 = first 15 md5 hex digits
  *     as a long — `('0x'||substr(md5(x),1,15))::BIGINT` in DuckDB;
  *   - minhash/simhash constants are interpolated into the SQL from
  *     the same Scala values the Spark expressions use;
  *   - float reductions (dot products) are left folds from 0.0 in
  *     array order in BOTH engines (Spark `aggregate`, DuckDB
  *     `list_reduce(list_prepend(0.0, ...))`) — bit-identical IEEE —
  *     then scaled×1e6 and floored to longs before comparison.
  */
object LlmQueries {

  private val P = TF.HashPrime
  private val K = TF.MinHashK

  /** DuckDB rendering of TF.hash60. */
  private def dH(x: String) = s"(('0x'||substr(md5($x),1,15))::BIGINT)"

  /** DuckDB rendering of a left-fold double sum. */
  private def dSum(l: String) =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), $l), (acc, v) -> acc + v)"

  /** DuckDB rendering of dot(a, b) over float lists, in double. */
  private def dDot(a: String, b: String) =
    dSum(s"list_transform(generate_series(1, len($a)), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))")

  /** x72/x73's SQ8 quantization, shared: per-vector max-abs scale and
    * the FLOOR quantizer to [-127, 127] (floor, not round — rounding
    * ties differ between engines; floor on identical IEEE doubles
    * does not). Both sides of the oracle evaluate the same tree.
    */
  private def sq8Scale(v: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    array_max(transform(v, x => abs(x.cast("double"))))
  private def sq8Codes(v: org.apache.spark.sql.Column,
                       scale: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(scale === 0d, transform(v, _ => lit(0L)))
      .otherwise(transform(v, x =>
        floor(x.cast("double") * lit(127d) / scale).cast("long")))
  /** DuckDB rendering of the same scale / codes. */
  private def dSq8Scale(v: String) =
    s"list_max(list_transform($v, x -> abs(CAST(x AS DOUBLE))))"
  private def dSq8Codes(v: String, scale: String) =
    s"""CASE WHEN $scale = 0 THEN list_transform($v, x -> CAST(0 AS BIGINT))
       |     ELSE list_transform($v, x -> CAST(floor(CAST(x AS DOUBLE) * 127 / $scale) AS BIGINT))
       |END""".stripMargin

  /** DuckDB rendering of Similarity.cosineE6 (floored e6 long). */
  private def cosSql(a: String, b: String) =
    s"""CAST(floor(1000000.0 * ${dDot(a, b)}
       |              / (sqrt(${dDot(a, a)}) * sqrt(${dDot(b, b)}))) AS BIGINT)""".stripMargin

  private val enStops = TF.LangProfiles.head._2

  // ---- shared chunk pipeline (x31 / x33 / x34) --------------------
  // Context/stride and the epoch-0 shuffle key live in ONE place, in
  // both engines' renderings — the three queries must stay on the
  // same chunk grid or x31/x34's exactly-once coverage invariant
  // silently breaks (review finding: the pipeline was triplicated).

  private val ChunkContext = 32
  private val ChunkStride = 24
  private val BpeEncodeRounds = 6

  /** (doc_id, t, start): exploded stride-aligned chunk starts. */
  private def chunkStarts(docs: org.apache.spark.sql.DataFrame) =
    docs.select(col("doc_id"), TF.tokens(col("text")).as("t"))
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(0), size(col("t")) - 1, lit(ChunkStride))).as("start"))

  /** (doc_id, chunk_start, n_chunk_tokens, shuffle_key): the chunk
    * grid under the deterministic epoch-0 shuffle order.
    */
  private def shuffledChunks(docs: org.apache.spark.sql.DataFrame) =
    chunkStarts(docs)
      .select(col("doc_id"), col("start").cast("long").as("chunk_start"),
        size(slice(col("t"), col("start") + 1, lit(ChunkContext)))
          .cast("long").as("n_chunk_tokens"))
      .withColumn("shuffle_key", TF.hash60(concat_ws(":",
        lit("ep0"), col("doc_id").cast("string"), col("chunk_start").cast("string"))))

  val all: Map[String, (SparkSession, String) => DataFrame] =
    allBase ++ budgetMixture ++ fimAndEpochs

  private def allBase: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact dedup: content-hash groupBy, keep lowest id + dup count.
    "x01_exact_dedup" -> ((s, d) => {
      Dedup.exactDedup(Tables.documents(s, d), "text", "doc_id")
        .select("doc_id", "fp", "n_dups", "lang", "n_chars")
        .orderBy("doc_id")
    }),

    // MinHash + LSH near-dup candidates over word-bigram shingles:
    // shingle → k=24 signature → 12 bands × 2 rows → band-bucket
    // equi-join (the ONLY big shuffle; never all-pairs) → est jaccard.
    // splitForCpu parallelizes the cpu-bound hashing over the
    // single-split local input and inserts nothing when the input
    // arrives pre-split (SplitForCpuSpec proves both plans).
    "x02_minhash_lsh" -> ((s, d) => {
      // collapseExact = false: this entry IS the audit-grade pair
      // LISTING (its oracle enumerates every qualifying pair), so the
      // member-level pairs inside exact-signature groups are the
      // answer. Cluster consumers (x20/x35/x55/x68) take the default
      // star-collapsed path — provably component-identical.
      Dedup.minhashCandidates(
          Tables.splitForCpu(s, Tables.documents(s, d), "doc_id"),
          "text", "doc_id", collapseExact = false)
        .orderBy("doc_a", "doc_b")
    }),

    // Incremental dedup: the NEW tenth of the corpus (doc_id % 10 = 0)
    // against the fingerprint index of the OTHER nine tenths — only
    // new-vs-old pairs fire; the "old" corpus is never re-paired with
    // itself. In production the index is persisted (bucketed by band
    // key) and only the batch pays the signature pipeline.
    "x19_incremental_dedup" -> ((s, d) => {
      val docs = Tables.splitForCpu(s, Tables.documents(s, d), "doc_id")
      val index = Dedup.bandIndex(docs.filter(col("doc_id") % 10 =!= 0), "text", "doc_id")
      Dedup.incrementalCandidates(docs.filter(col("doc_id") % 10 === 0), index,
          "text", "doc_id")
        .orderBy("new_id", "old_id")
    }),

    // The multimodal DECODE path made driver-visible: typed MediaRecord
    // boundary → per-partition batched decode (mapPartitions seam) →
    // features. The stub decode is a deterministic byte-level function,
    // so DuckDB mirrors it exactly (corpus is ASCII: ascii(char) ==
    // byte). x12 covers the metadata-only pruning path; this covers
    // the decode stage itself.
    "x21_multimodal_decode" -> ((s, d) => {
      val media = Multimodal.fromDocuments(
        Tables.splitForCpu(s, Tables.documents(s, d), "doc_id"))
      Multimodal.extractFeatures(media).toDF()
        .select(col("doc_id"), col("byte_len"), col("checksum"),
          element_at(col("byte_hist"), 3).as("h2"),
          element_at(col("byte_hist"), 4).as("h3"),
          element_at(col("byte_hist"), 7).as("h6"),
          element_at(col("byte_hist"), 8).as("h7"),
          col("n_frames").cast("long").as("n_frames"),
          col("mime"))
        .orderBy("doc_id")
    }),

    // Char-ngram language ID (the brief's "n-gram heuristic" form;
    // x06 is the word/stopword form): trigram array materialized once,
    // per-language filter counts materialized once, then the same
    // tie-ordered argmax chain as x06 over the materialized columns.
    "x25_lang_id_ngram" -> ((s, d) => {
      val grams = TF.charGrams(col("text"), 3)
      val hitCols = TF.LangTrigramProfiles.map { case (lang, gs) =>
        TF.hits(col("g3"), gs).as(s"tri_$lang")
      }
      val scoreRefs = TF.LangTrigramProfiles.map { case (lang, _) => lang -> col(s"tri_$lang") }
      Tables.splitForCpu(s, Tables.documents(s, d), "doc_id")
        .select(col("doc_id"), col("lang"), grams.as("g3"))
        .select(col("doc_id") +: col("lang") +: hitCols: _*)
        .withColumn("pred_lang", TF.predictLangFromScores(scoreRefs))
        .orderBy("doc_id")
    }),

    // Text normalization — the canonical cleaning step ahead of dedup
    // (lowercase, strip non-alphanumerics, collapse runs of spaces,
    // trim): emitted as the normalized content hash + changed flag, so
    // exact dedup can run on normalized content without materializing
    // a second text column. All codegen'd string built-ins.
    "x23_normalize" -> ((s, d) => {
      val norm = trim(regexp_replace(
        regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " "))
      Tables.documents(s, d)
        .select(col("doc_id"), norm.as("norm"))
        .select(col("doc_id"),
          TF.hash60(col("norm")).as("norm_h"),
          length(col("norm")).cast("long").as("norm_len"))
        .orderBy("doc_id")
    }),

    // Frame sampling (brief: "decode / feature-extract / resize /
    // frame-sample"): every 4th 64-byte frame of each payload, with a
    // per-frame content hash — pure codegen'd column expressions
    // (sequence + explode + substr + md5), no decode boundary needed
    // for sampling. Output size is len/256 rows per doc, set by the
    // stride knob.
    "x22_frame_sample" -> ((s, d) => {
      val nFrames = ceil(length(col("text")) / lit(64.0)).cast("int")
      Tables.documents(s, d)
        .filter(length(col("text")) > 0)
        .select(col("doc_id"), col("text"),
          explode(sequence(lit(0), nFrames - 1, lit(4))).as("frame_idx"))
        .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
          TF.hash60(col("text").substr(col("frame_idx") * 64 + 1, lit(64))).as("frame_h"))
        .orderBy("doc_id", "frame_idx")
    }),

    // Dedup clusters: connected components over the x02 candidate
    // pairs — the step that turns near-dup pairs into keep/drop
    // decisions (cluster_rep = the component's min doc_id = the kept
    // document). Only documents with at least one candidate edge
    // appear; cluster_size counts the component.
    "x20_dedup_clusters" -> ((s, d) => {
      val docs = Tables.splitForCpu(s, Tables.documents(s, d), "doc_id")
      val labels = Dedup.connectedComponents(
        Dedup.minhashCandidates(docs, "text", "doc_id"), "doc_a", "doc_b")
      val sizes = labels.groupBy("label").agg(count(lit(1)).as("cluster_size"))
      labels.join(sizes, "label")
        .select(col("node").as("doc_id"), col("label").as("cluster_rep"),
          col("cluster_size"))
        .orderBy("doc_id")
    }),

    // x20's clusters computed down the DISTRIBUTED label-propagation
    // rounds (driverMaxPairs = 0 disables the measured-count fast
    // path): at oracle scale every CC consumer stays under the 1M-pair
    // gate, so the rounds that a 100 TB candidate graph would run had
    // spec/smoke proof but no driver oracle row (VERDICT r7 ask #2).
    // Same closure oracle as x20 — the hash match IS the path-
    // equivalence proof on the real corpus.
    "x20b_clusters_distributed" -> ((s, d) => {
      val docs = Tables.splitForCpu(s, Tables.documents(s, d), "doc_id")
      val labels = Dedup.connectedComponents(
        Dedup.minhashCandidates(docs, "text", "doc_id"), "doc_a", "doc_b",
        driverMaxPairs = 0L)
      val sizes = labels.groupBy("label").agg(count(lit(1)).as("cluster_size"))
      labels.join(sizes, "label")
        .select(col("node").as("doc_id"), col("label").as("cluster_rep"),
          col("cluster_size"))
        .orderBy("doc_id")
    }),

    // LEAKAGE-SAFE train/valid/test split: near-duplicate documents
    // must land in the SAME split, or the held-out set is contaminated
    // by training-set twins — the failure x28 measures after the fact,
    // prevented here by construction. The split key is a deterministic
    // hash of the dedup CLUSTER representative (x20's components;
    // singletons represent themselves), so assignment is stable under
    // repartitioning and re-runs and every cluster moves atomically:
    // 8/1/1 train/valid/test. At 100 TB the cluster labels are the
    // already-computed x20 frame — the split itself adds one broadcast
    // -free left join on doc_id and a codegen'd hash, no new shuffle
    // beyond the label join.
    "x68_leakage_safe_split" -> ((s, d) => {
      val docs = Tables.splitForCpu(s, Tables.documents(s, d), "doc_id")
      val labels = Dedup.connectedComponents(
          Dedup.minhashCandidates(docs, "text", "doc_id"), "doc_a", "doc_b")
        .select(col("node").as("doc_id"), col("label").as("rep"))
      val h = pmod(TF.hash60(concat(lit("split:"), col("rep"))), lit(10L))
      docs.select(col("doc_id")).join(labels, Seq("doc_id"), "left")
        .withColumn("rep", coalesce(col("rep"), col("doc_id")))
        .withColumn("split",
          when(h < 8, "train").when(h === 8, "valid").otherwise("test"))
        .select("doc_id", "rep", "split")
        .orderBy("doc_id")
    }),

    // Exact unigram jaccard, probe subset → corpus, inverted-index
    // join (sparse; df-cap knob for web-scale vocabularies).
    "x03_token_jaccard" -> ((s, d) => {
      Dedup.tokenJaccardPairs(Tables.documents(s, d), "text", "doc_id",
          probeFilter = col("doc_id") % 50 === 0)
        .orderBy("probe_id", "other_id")
    }),

    // Per-document token statistics (token counting / length stats).
    "x04_token_stats" -> ((s, d) => {
      val toks = TF.tokens(col("text"))
      Tables.documents(s, d).select(
          col("doc_id"),
          size(toks).cast("long").as("n_tokens"),
          size(array_distinct(toks)).cast("long").as("n_distinct"),
          aggregate(toks, lit(0L), (acc, t) => acc + length(t).cast("long"))
            .as("total_tok_chars"),
          TF.hits(toks, enStops).as("stop_hits"))
        .withColumn("avg_tok_len_e3",
          floor(lit(1000.0) * col("total_tok_chars") / col("n_tokens")).cast("long"))
        .orderBy("doc_id")
    }),

    // Corpus term frequencies: explode → two-level hash agg (partial
    // map-side combine keeps the shuffle ∝ vocabulary, not corpus).
    "x05_term_freq" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"), explode(TF.tokens(col("text"))).as("token"))
        .groupBy("token")
        .agg(count(lit(1)).as("n_occ"), countDistinct("doc_id").as("n_docs"))
        .orderBy(col("n_occ").desc, col("token"))
    }),

    // Heuristic language ID: stopword-profile hits + argmax. The hit
    // counts are materialized once (first select, parallelized via
    // splitForCpu over the single-split input) and the argmax chain
    // reads the materialized columns — inlining would re-tokenize per
    // comparison (measured 5.6s -> sub-second).
    "x06_lang_id" -> ((s, d) => {
      val toks = TF.tokens(col("text"))
      val hitCols = TF.LangProfiles.map { case (lang, words) =>
        TF.hits(toks, words).as(s"hits_$lang")
      }
      val scoreRefs = TF.LangProfiles.map { case (lang, _) => lang -> col(s"hits_$lang") }
      Tables.splitForCpu(s, Tables.documents(s, d), "doc_id")
        .select(col("doc_id") +: col("lang") +: hitCols: _*)
        .withColumn("pred_lang", TF.predictLangFromScores(scoreRefs))
        .withColumn("matches_declared",
          (col("lang") === col("pred_lang")).cast("long"))
        .orderBy("doc_id")
    }),

    // Quality scoring: char-class ratios + stopword ratio + length
    // score, composed into an integer-scaled quality value.
    "x07_quality_score" -> ((s, d) => {
      val toks = TF.tokens(col("text"))
      Tables.documents(s, d).select(
          col("doc_id"),
          length(col("text")).cast("long").as("len_chars"),
          length(regexp_replace(col("text"), "[^a-z]", "")).cast("long").as("n_alpha"),
          (length(col("text")) - length(regexp_replace(col("text"), " ", "")))
            .cast("long").as("n_space"),
          size(toks).cast("long").as("n_tokens"),
          TF.hits(toks, enStops).as("stop_hits"))
        .withColumn("stop_ratio_e3",
          floor(lit(1000.0) * col("stop_hits") / col("n_tokens")).cast("long"))
        .withColumn("quality_e3",
          floor(lit(1000.0) *
            (lit(0.5) * least(lit(1.0), col("n_tokens") / lit(100.0)) +
             lit(0.5) * (col("stop_hits") / col("n_tokens")))).cast("long"))
        .orderBy("doc_id")
    }),

    // Document fingerprinting: rolling 60-bit hashes of char 8-grams;
    // min/max/distinct-count summarize the gram set (winnowing-style).
    "x08_fingerprint" -> ((s, d) => {
      // Materialize the gram-hash array ONCE: the four summaries below
      // each reference it, and HOFs are interpreted (no subexpression
      // elimination across uses) — inlining re-ran the md5-per-gram
      // transform 4x. CollapseProject leaves the two projections
      // separate because the array expr is non-cheap and multi-used.
      // splitForCpu parallelizes the per-char hashing over the
      // single-split local input (no-op on pre-split input).
      Tables.splitForCpu(s, Tables.documents(s, d), "doc_id")
        .filter(length(col("text")) >= 8)
        .select(col("doc_id"), TF.charGramHashesNative(col("text"), 8).as("gh"))
        .select(
          col("doc_id"),
          size(col("gh")).cast("long").as("n_grams"),
          size(array_distinct(col("gh"))).cast("long").as("n_distinct_grams"),
          array_min(col("gh")).as("fp_min"),
          array_max(col("gh")).as("fp_max"))
        .orderBy("doc_id")
    }),

    // SimHash: 16-bit frequency-weighted token simhash + its high
    // byte as a blocking bucket.
    "x09_simhash" -> ((s, d) => {
      // token hashes materialized once (16 bit-votes reference them;
      // inlining re-hashed every token 16x), hashing parallelized
      // over the single-split local input
      Tables.splitForCpu(s, Tables.documents(s, d), "doc_id")
        .select(col("doc_id"),
          transform(TF.tokens(col("text")), t => TF.hash60(t)).as("th"))
        .select(col("doc_id"), TF.simhashFromHashes(col("th")).as("simhash"))
        .withColumn("bucket", shiftright(col("simhash"), 8))
        .orderBy("doc_id")
    }),

    // SimHash near-dup PAIRS (VERDICT r4 ask #6 — the consumer x09's
    // fingerprint was missing): self-join on the blocking bucket (the
    // simhash high byte), then hamming distance via
    // bit_count(simhash_a XOR simhash_b) — every step codegen'd, and
    // the only shuffle is the bucket equi-join (256 buckets of
    // near-uniform size; never all-pairs). The x14 counterpart for the
    // text-fingerprint side of the dedup story.
    // Two-band pigeonhole blocking + exact hamming confirm; the
    // single-band (>>8) form silently missed every pair whose
    // differing bit sat in the high byte (round-5 review finding).
    // Logic lives in Dedup.simhashPairs (x56 reuses it).
    "x26_simhash_neardup" -> ((s, d) =>
      Dedup.simhashPairs(
        Tables.splitForCpu(s, Tables.documents(s, d), "doc_id"),
        "text", "doc_id", maxHamming = 1L)
        .orderBy("doc_a", "doc_b")),

    // Lloyd convergence driver (VERDICT r4 ask #7): two refinement
    // rounds of the IVF quantizer, each feeding its e6-integer means
    // back as float centroids — deterministic by x24's construction,
    // so even the ITERATED means hash-match the unrolled DuckDB
    // mirror. Output = the final round in x24's shape.
    "x27_ivf_lloyd" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.lloydIterateE6(emb, emb.filter(col("vec_id") < 8), maxRounds = 2)
        .orderBy("cluster", "pos")
    }),

    // Brute-force cosine top-k (similarity-search baseline): probes
    // broadcast, corpus scanned once, per-probe window top-k.
    "x10_cosine_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.bruteTopK(emb, emb.filter(col("vec_id") < 10), k = 5)
        .orderBy("probe_id", "rnk")
    }),

    // Bucketed ANN: sign-projection LSH code → equi-join on bucket →
    // per-probe top-k within bucket (the scale path).
    "x11_ann_lsh" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.bucketedTopK(emb, emb.filter(col("vec_id") % 100 === 0), k = 3)
        .orderBy("probe_id", "rnk")
    }),

    // Same top-k semantics as x10 through the bounded typed
    // Aggregator (map-side-capped state instead of a ranking window);
    // both implementations must independently match the one oracle.
    "x13_cosine_topk_agg" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.bruteTopKAgg(emb, emb.filter(col("vec_id") < 10), k = 5)
        .orderBy("probe_id", "rnk")
    }),

    // Embedding-cosine near-dup pairs within sign buckets (the dedup
    // side of ANN: pairs, not probe top-k; never all-pairs).
    "x14_embedding_neardup" -> ((s, d) => {
      Similarity.bucketedNearDupPairs(Tables.embeddings(s, d), minCosE6 = 250000L)
        .orderBy("vec_a", "vec_b")
    }),

    // HLL sketch distinct (approx_count_distinct) next to the exact
    // count. NO DuckDB oracle — the two engines' HLL sketches differ
    // by design, so the driver records the weaker rows-only check;
    // the accuracy bound is asserted in SketchSpec instead.
    "q18_approx_distinct" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy("event_type")
        .agg(
          approx_count_distinct("user_id").as("approx_users"),
          countDistinct("user_id").as("exact_users"))
        .orderBy("event_type")
    }),

    // q18's HLL estimate with its error bound made DRIVER-CHECKABLE
    // (VERDICT r7 ask #5): the estimate itself has no cross-engine
    // oracle, but |est - exact| <= rsd * exact — the configured 5%
    // relative standard deviation — is a deterministic predicate on
    // the same data, and the exact side is what DuckDB computes. The
    // oracle asserts the bound HOLDS (within_rsd = 1 per group), so a
    // sketch regression breaks the hash instead of hiding behind a
    // rows-only check. Integer arithmetic: |a-e|*100 <= e*5.
    "q18b_approx_distinct_bound" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy("event_type")
        .agg(
          approx_count_distinct("user_id").as("a"),
          countDistinct("user_id").as("e"))
        .select(col("event_type"),
          (abs(col("a") - col("e")) * lit(100L) <= col("e") * lit(5L))
            .cast("long").as("within_rsd"))
        .orderBy("event_type")
    }),

    // IVF coarse-quantized ANN: 8 sampled centroids partition the
    // corpus; probes search only their own cluster.
    "x16_ivf_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.ivfTopK(emb,
          probes = emb.filter(col("vec_id") % 100 === 0),
          centroids = emb.filter(col("vec_id") < 8),
          k = 3)
        .orderBy("probe_id", "rnk")
    }),

    // Multi-probe IVF (the recall path over x16): each probe searches
    // its 2 closest clusters' inverted lists — same plan shape, twice
    // the candidate lists, recall strictly ≥ single-probe (RecallSpec).
    "x17_ivf_multiprobe" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.ivfTopK(emb,
          probes = emb.filter(col("vec_id") % 100 === 0),
          centroids = emb.filter(col("vec_id") < 8),
          k = 3, nprobe = 2)
        .orderBy("probe_id", "rnk")
    }),

    // One Lloyd refinement round for the IVF quantizer in e6-integer
    // arithmetic (order-free sums → cross-engine deterministic means;
    // a float-mean refinement could never pass the hash gate).
    "x24_ivf_refine" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.refineCentroidsE6(emb, emb.filter(col("vec_id") < 8))
        .orderBy("cluster", "pos")
    }),

    // Multi-table LSH ANN (the recall path over x11): 3 offset plane
    // sets, candidates unioned across tables — one sign flip no longer
    // hides a neighbor unless all 3 tables disagree.
    "x18_ann_multitable" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.multiTableTopK(emb, emb.filter(col("vec_id") % 100 === 0),
          k = 3, tables = 3, planes = 8)
        .orderBy("probe_id", "rnk")
    }),

    // Token counting beyond whitespace (builder brief: "whitespace +
    // a BPE-ish regex"): regex-run counts and a 4-char-chunk subword
    // estimate (the ceil(len/4) proxy for BPE token inflation).
    "x15_subword_stats" -> ((s, d) => {
      val toks = TF.tokens(col("text"))
      val lens = transform(toks, t => length(t).cast("long"))
      Tables.documents(s, d).select(
          col("doc_id"),
          size(toks).cast("long").as("n_ws_tokens"),
          regexp_count(col("text"), lit("[a-z]+")).cast("long").as("n_alpha_runs"),
          aggregate(toks, lit(0L),
            (acc, t) => acc + ceil(length(t) / lit(4.0)).cast("long")).as("n_subwords"),
          array_min(lens).as("min_tok_len"),
          array_max(lens).as("max_tok_len"))
        .orderBy("doc_id")
    }),

    // Test-set CONTAMINATION check — the training-data op that keeps
    // benchmark answers out of the corpus: every corpus document is
    // scored against every "benchmark" document (here doc_id % 97 = 0)
    // by distinct word-trigram overlap. Scale shape: the pair producer
    // is an equi-join on the shingle hash (inverted index), never
    // all-pairs, and the benchmark side is broadcast — it is small BY
    // DEFINITION (benchmarks are thousands of docs, the corpus is
    // billions), so the corpus never shuffles at all.
    "x28_contamination" -> ((s, d) => {
      val toks = Tables.splitForCpu(s, Tables.documents(s, d), "doc_id")
        .select(col("doc_id"), TF.tokens(col("text")).as("t"))
      // trigram-hash array materialized once per doc (HOFs are
      // interpreted; inlining would re-hash per consumer — the x08
      // rule), and the whole gram frame materialized ONCE via eager
      // localCheckpoint: three consumers (both join sides + the
      // benchmark totals) would otherwise each re-run the hash
      // pipeline — 6 scans / 3 hash passes, PlanAudit-pinned down to
      // one. Checkpoint, not cache: leak-free (the CacheHygieneSpec
      // rule).
      val grams = toks.filter(size(col("t")) >= 3)
        .select(col("doc_id"), TF.wordShingles(col("t"), 3).as("sh"))
        .select(col("doc_id"),
          array_distinct(transform(col("sh"), x => TF.hash60(x))).as("ghs"))
        .localCheckpoint(true)
      val exploded = grams.select(col("doc_id"), explode(col("ghs")).as("h"))
      val bench = exploded.filter(col("doc_id") % 97 === 0)
        .select(col("doc_id").as("bench_id"), col("h"))
      val corpus = exploded.filter(col("doc_id") % 97 =!= 0)
      val benchTotals = grams.filter(col("doc_id") % 97 === 0)
        .select(col("doc_id").as("bench_id"),
          size(col("ghs")).cast("long").as("bench_grams"))
      corpus.join(broadcast(bench), "h")
        .groupBy("doc_id", "bench_id")
        .agg(count(lit(1)).as("n_overlap"))
        .join(broadcast(benchTotals), "bench_id")
        .withColumn("contamination_e6",
          floor(lit(1000000.0) * col("n_overlap") / col("bench_grams")).cast("long"))
        .select("doc_id", "bench_id", "n_overlap", "bench_grams", "contamination_e6")
        .orderBy("doc_id", "bench_id")
    }),

    // Repetition / boilerplate metrics (Gopher-style quality rules):
    // duplicate-token fraction and the most-frequent-bigram share per
    // document. ONE corpus scan: tokens and bigrams explode together
    // as tagged grams, a (doc, kind, gram) hash agg counts both
    // vocabularies (map-side combine keeps the shuffle ∝ distinct
    // grams), and a per-doc conditional agg folds the five summaries —
    // no self-join, no window, no second scan (the naive two-branch
    // form paid 4 scans / 8 exchanges; PlanAudit pinned this at 2/4).
    "x29_repetition" -> ((s, d) => {
      val tagged = Tables.splitForCpu(s, Tables.documents(s, d), "doc_id")
        .select(col("doc_id"), TF.tokens(col("text")).as("t"))
        .filter(size(col("t")) >= 2)
        .select(col("doc_id"), explode(concat(
          transform(col("t"), x => struct(lit("t").as("kind"), x.as("g"))),
          transform(TF.wordShingles(col("t"), 2),
            x => struct(lit("b").as("kind"), x.as("g"))))).as("kg"))
        .select(col("doc_id"), col("kg.kind").as("kind"), col("kg.g").as("g"))
      tagged
        .groupBy("doc_id", "kind", "g").agg(count(lit(1)).as("cnt"))
        .groupBy("doc_id").agg(
          sum(when(col("kind") === "t", col("cnt"))).as("n_tokens"),
          count(when(col("kind") === "t", lit(1))).as("n_distinct_tokens"),
          sum(when(col("kind") === "b", col("cnt"))).as("n_bigrams"),
          count(when(col("kind") === "b", lit(1))).as("n_distinct_bigrams"),
          max(when(col("kind") === "b", col("cnt"))).as("top_bigram_cnt"))
        .withColumn("top_bigram_share_e6",
          floor(lit(1000000.0) * col("top_bigram_cnt") / col("n_bigrams")).cast("long"))
        .withColumn("dup_token_frac_e6",
          floor(lit(1000000.0) * (col("n_tokens") - col("n_distinct_tokens"))
            / col("n_tokens")).cast("long"))
        .orderBy("doc_id")
    }),

    // PII / pattern redaction — the scrubbing pass a training pipeline
    // runs before anything else: per-pattern match counts plus the
    // redacted content hash (so exact dedup can run on scrubbed text
    // without materializing it twice). Every step is a codegen'd
    // regexp built-in over the row — embarrassingly parallel, no
    // shuffle at all before the final presentation sort. Patterns are
    // written with [.]-style classes so the same source string means
    // the same regex in Java and RE2.
    "x30_pii_redact" -> ((s, d) => {
      val NumRun = "[0-9]+"
      val Email = "[a-z0-9._%+-]+@[a-z0-9.-]+[.][a-z]{2,}"
      val redacted = regexp_replace(col("props"), NumRun, "<NUM>")
      Tables.events(s, d).select(
          col("event_id"),
          regexp_count(col("props"), lit(NumRun)).cast("long").as("n_num_runs"),
          regexp_count(col("props"), lit(Email)).cast("long").as("n_emails"),
          TF.hash60(redacted).as("redacted_h"),
          length(redacted).cast("long").as("redacted_len"))
        .orderBy("event_id")
    }),

    // Overlapping token-window CHUNKING — the step that turns documents
    // into training sequences (context 32 tokens, stride 24 → 8-token
    // overlap). One generator (explode of the stride sequence) per doc,
    // then pure per-row slicing; output is ∝ corpus tokens / stride,
    // never buffered per doc.
    "x31_chunk" -> ((s, d) => {
      chunkStarts(Tables.documents(s, d))
        .select(col("doc_id"), col("start"),
          slice(col("t"), col("start") + 1, lit(ChunkContext)).as("ct"))
        .select(col("doc_id"),
          col("start").cast("long").as("chunk_start"),
          size(col("ct")).cast("long").as("n_chunk_tokens"),
          TF.hash60(array_join(col("ct"), " ")).as("chunk_h"))
        .orderBy("doc_id", "chunk_start")
    }),

    // Deterministic TRAINING-ORDER shuffle — the global randomization
    // pass between chunking and batching: every chunk gets a seeded
    // hash position ('ep0' = the epoch salt; a new epoch reshuffles by
    // changing it), and the corpus streams in shuffle_key order. No
    // rand() (irreproducible across retries) and no global
    // row_number() (a single-partition window): the KEY is the order —
    // range-partitioning by it at write time yields globally shuffled
    // shards with zero driver state.
    "x33_training_order" -> ((s, d) => {
      shuffledChunks(Tables.documents(s, d))
        .orderBy("shuffle_key", "doc_id", "chunk_start")
    }),

    // SEQUENCE PACKING — fill fixed token budgets (256 here) with
    // shuffled chunks, the last step before tensors: chunks hash into
    // 64 independent packing buckets, and within each bucket a running
    // token count assigns greedy sequence ids (a chunk straddling the
    // boundary stays with the earlier sequence — the documented
    // overflow policy). The bucket split is the scale design: packing
    // is inherently sequential, so parallelism comes from 64 (or 64k)
    // independent streams, each a bounded window — never one global
    // cumulative sum.
    "x34_sequence_packing" -> ((s, d) => {
      val budget = 256L
      val chunks = shuffledChunks(Tables.documents(s, d))
      val w = Window.partitionBy("bucket")
        .orderBy("shuffle_key", "doc_id", "chunk_start")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      chunks
        .withColumn("bucket", pmod(col("shuffle_key"), lit(64L)))
        .withColumn("cum_tokens", sum("n_chunk_tokens").over(w))
        // bucket in the HIGH bits (<<40): 64 buckets × up to 2^40
        // sequences each stays under 2^46 — the old ×1e6 form
        // collided across buckets past ~256M tokens/bucket (review
        // finding: exactly the 100 TB scale the scaladoc claims)
        .withColumn("seq_id",
          col("bucket") * (1L << 40) + floor((col("cum_tokens") - 1) / budget).cast("long"))
        .select("doc_id", "chunk_start", "n_chunk_tokens", "bucket", "cum_tokens", "seq_id")
        .orderBy("bucket", "cum_tokens", "doc_id", "chunk_start")
    }),

    // TF-IDF top terms per document, in integer-exact arithmetic
    // (score = tf·N/(len·df), ×1e6, integer division — both engines
    // truncate identically on non-negative longs, where a float idf
    // could differ in the last ulp and break the hash gate). Shape:
    // one explode → (doc,term) hash agg, two derived aggs (doc length,
    // document frequency), a broadcast scalar N, and a per-doc top-k
    // window over ≤|vocab| rows per doc.
    "x32_tfidf" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      // tf is consumed three times (itself + both derived aggs):
      // materialize the explode+agg ONCE (eager localCheckpoint, the
      // leak-free Dedup pattern) — unmaterialized, the plan re-scanned
      // and re-aggregated the corpus per consumer (8 scans /
      // 22 exchanges, PlanAudit-pinned down to one scan)
      val tf = docs
        .select(col("doc_id"), explode(TF.tokens(col("text"))).as("token"))
        .groupBy("doc_id", "token").agg(count(lit(1)).as("cnt"))
        .localCheckpoint(true)
      val dlen = tf.groupBy("doc_id").agg(sum("cnt").as("doc_len"))
      val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("score_e6").desc, col("token"))
      tf.join(dlen, "doc_id").join(dfreq, "token").crossJoin(broadcast(n))
        .withColumn("score_e6",
          expr("(cnt * 1000000 * n_docs) DIV (doc_len * df)"))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 3)
        .select("doc_id", "token", "cnt", "df", "score_e6", "rnk")
        .orderBy("doc_id", "rnk")
    }),

    // The corpus-cleaning FUNNEL end to end, composed from the public
    // operators a real pipeline would chain: normalize (x23's cleaning)
    // → exact dedup on the normalized hash → near-dup clustering drop
    // (Dedup.dropNearDuplicates = minhash candidates → connected
    // components → anti-join, all on the NORMALIZED text) → token-count
    // quality floor. One oracle hash-gates the whole composition —
    // operators that each pass alone can still disagree when chained
    // (column contracts, null edges), which is exactly what this pins.
    "x35_pipeline_e2e" -> ((s, d) => {
      val norm = trim(regexp_replace(
        regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " "))
      val d0 = Tables.splitForCpu(s, Tables.documents(s, d), "doc_id")
        .select(col("doc_id"), norm.as("norm"))
        .withColumn("norm_h", TF.hash60(col("norm")))
      val w = Window.partitionBy("norm_h").orderBy("doc_id")
      val kept1 = d0.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).drop("rn")
      Dedup.dropNearDuplicates(kept1, "norm", "doc_id")
        .select(col("doc_id"), col("norm_h"),
          size(TF.tokens(col("norm"))).cast("long").as("n_tokens"))
        .filter(col("n_tokens") >= 20)
        .orderBy("doc_id")
    }),

    // Boilerplate-span mining (the C4/CCNet cleaning primitive: find
    // token spans that repeat across documents — headers, footers,
    // cookie banners — so a cleaning pass can strip them). Every
    // 3-token span, counted by distinct-document frequency; spans in
    // >= 3 distinct docs are the boilerplate set. Scale shape: the
    // span generation is the native shingle_gen generator — linear in
    // corpus tokens, where explode(wordShingles(tokens)) re-evaluated
    // split(text) inside the HOF lambda per element (O(tokens²)/doc);
    // the two-level agg shuffles once on (gram, doc_id) — map-side
    // partials collapse within-doc repeats — then once on the
    // (already tiny) per-gram frame. No count(DISTINCT) Expand
    // doubling the exploded rows.
    "x36_boilerplate_spans" -> ((s, d) => {
      Tables.splitForCpu(s, Tables.documents(s, d), "doc_id")
        .select(col("doc_id"), expr("shingle_gen(text, 3)"))
        .select(col("doc_id"), col("shingle").as("gram"))
        .groupBy("gram", "doc_id").agg(count(lit(1)).as("occ"))
        .groupBy("gram")
        .agg(count(lit(1)).as("n_docs"), sum("occ").as("n_occ"))
        .filter(col("n_docs") >= 3)
        .orderBy(col("n_docs").desc, col("gram"))
    }),

    // Unigram-LM document scoring (the KenLM-filter shape: score each
    // doc against a language model fit on the corpus itself; low
    // scores = rare-token-heavy outliers). The model here is the
    // corpus unigram distribution and the score is the per-token mean
    // model probability ×1e6 in exact integer arithmetic (DIV), so
    // both engines agree bit-for-bit. int64 headroom: wsum*1e6 needs
    // doc_len*max_gcnt < 9e12 — holds to ~1e9-token corpora with 1e4
    // docs; past that, promote wsum to decimal(38,0).
    // Scale shape: tf is ONE explode+agg pass (materialized once —
    // x32's pattern); the token-frequency model joins back BROADCAST
    // (a vocab is ~1e7 entries × 16 B at web scale — fits), so the
    // only corpus-sized shuffle is the tf aggregation itself.
    "x37_unigram_lm" -> ((s, d) => {
      val tf = Tables.splitForCpu(s, Tables.documents(s, d), "doc_id")
        .select(col("doc_id"), explode(TF.tokens(col("text"))).as("token"))
        .groupBy("doc_id", "token").agg(count(lit(1)).as("cnt"))
        .localCheckpoint(true)
      val g = tf.groupBy("token").agg(sum("cnt").as("gcnt"))
      val tot = g.agg(sum("gcnt").as("total"))
      tf.join(broadcast(g), "token")
        .groupBy("doc_id")
        .agg(sum("cnt").as("doc_len"),
          sum(col("cnt") * col("gcnt")).as("wsum"))
        .crossJoin(broadcast(tot))
        .select(col("doc_id"), col("doc_len"),
          expr("(wsum * 1000000) DIV (doc_len * total)").as("score_e6"))
        .orderBy("doc_id")
    }),

    // Sparse retrieval — the text-side complement of the embedding ANN
    // family (x10–x18): score query docs against the corpus through an
    // INVERTED INDEX (token → postings) with integer tf/df weights
    // (w_e6 = tf/(doc_len·df), the 1/df factor playing idf), then
    // bounded top-3 per query. The token equi-join IS the
    // postings-list intersection — pairs exist only where a token is
    // shared, never all-pairs. Scale note: join fan-out per token is
    // |probe postings|×|corpus postings|, dominated by high-df tokens;
    // a web-scale deployment caps df (x03's df-cap knob) — this
    // corpus' toy vocab is all high-df, so the cap stays off here.
    "x38_sparse_retrieval" -> ((s, d) => {
      val tf = Tables.splitForCpu(s, Tables.documents(s, d), "doc_id")
        .select(col("doc_id"), explode(TF.tokens(col("text"))).as("token"))
        .groupBy("doc_id", "token").agg(count(lit(1)).as("cnt"))
        .localCheckpoint(true)
      val dlen = tf.groupBy("doc_id").agg(sum("cnt").as("doc_len"))
      val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
      val w = tf.join(dlen, "doc_id").join(dfreq, "token")
        .select(col("doc_id"), col("token"),
          expr("(cnt * 1000000) DIV (doc_len * df)").as("w_e6"))
        .localCheckpoint(true) // probe side + corpus side read it
      val probes = w.filter(col("doc_id") % 97 === 0)
        .select(col("doc_id").as("q_id"), col("token"), col("w_e6").as("qw_e6"))
      val win = Window.partitionBy("q_id")
        .orderBy(col("score_e12").desc, col("doc_id"))
      probes.join(w, "token")
        .filter(col("doc_id") =!= col("q_id"))
        .groupBy("q_id", "doc_id")
        .agg(sum(col("qw_e6") * col("w_e6")).as("score_e12"))
        .withColumn("rnk", row_number().over(win).cast("long"))
        .filter(col("rnk") <= 3)
        .orderBy("q_id", "rnk")
    }),

    // Product quantization, encode side (the IVF-PQ compression half:
    // dim·4 bytes → M codes per vector, 64× here). Codebooks are
    // sampled like x16's coarse centroids (8 subspaces × 8 codewords
    // over dim 64) and inlined as literals, so encoding is a pure
    // per-row projection — no join, no shuffle, folds into the scan.
    "x39_pq_encode" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val cbs = Similarity.pqCodebooks(emb.filter(col("vec_id") < 8), m = 8, subDim = 8)
      Similarity.pqEncode(Tables.splitForCpu(s, emb, "vec_id"), cbs, subDim = 8)
        .orderBy("vec_id", "subspace")
    }),

    // PQ asymmetric-distance top-k (the IVFADC read path): probes
    // precompute an e9-integer LUT of distances to every codeword
    // (M·ks rows per probe, broadcast), the encoded corpus joins it
    // on (subspace, code), and Σ over subspaces is an order-free
    // integer sum — raw corpus vectors are never touched at query
    // time. Exact-oracle-checkable precisely because every float op
    // happens before the integer scaling.
    "x40_pq_adc_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val cbs = Similarity.pqCodebooks(emb.filter(col("vec_id") < 8), m = 8, subDim = 8)
      Similarity.pqTopK(
          Tables.splitForCpu(s, emb, "vec_id"),
          probes = emb.filter(col("vec_id") % 97 === 0),
          codebooks = cbs, k = 3, subDim = 8)
        .orderBy("probe_id", "rnk")
    }),

    // Full IVF-PQ (the FAISS IVFADC read path end to end): coarse
    // quantizer prunes to each probe's 2 inverted lists, ADC scores
    // only those lists through the broadcast integer LUT — the
    // composition of x16's pruning and x40's compression. Both
    // quantizers share the vec_id<8 sample (a production build
    // Lloyd-refines each; x27 shows the loop).
    "x41_ivfpq_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val sample = emb.filter(col("vec_id") < 8)
      val cbs = Similarity.pqCodebooks(sample, m = 8, subDim = 8)
      Similarity.ivfPqTopK(
          Tables.splitForCpu(s, emb, "vec_id"),
          probes = emb.filter(col("vec_id") % 97 === 0),
          centroids = sample, codebooks = cbs,
          k = 3, nprobe = 2, subDim = 8)
        .orderBy("probe_id", "rnk")
    }),

    // Residual IVF-PQ encode (what production FAISS actually trains):
    // codes quantize v − centroid, the part the coarse quantizer
    // missed. Worth it exactly when the centroids explain real
    // variance — x45 measures both schemes' reconstruction error as
    // checked integers (on this corpus' unclustered synthetic
    // vectors, raw codes win; on clustered data the residual form
    // does — the POINT is that the engine decides by measurement).
    // Codebooks come from the residuals of a SEPARATE sample (ids
    // 8..15; the centroid sample's own residuals are identically
    // zero), computed driver-side with the exact fold/floor
    // arithmetic the expression path uses. One shuffle-free
    // projection end to end.
    "x42_pq_residual_encode" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val cents = emb.filter(col("vec_id") < 8)
      val cbs = Similarity.residualCodebooks(
        emb.filter(col("vec_id") >= 8 && col("vec_id") < 16), cents, m = 8, subDim = 8)
      Similarity.ivfPqResidualEncode(
          Tables.splitForCpu(s, emb, "vec_id"), cents, cbs, subDim = 8)
        .orderBy("vec_id", "subspace")
    }),

    // Residual IVF-PQ search — x41's read path over x42's residual
    // codes: each probe's integer LUT is computed against its residual
    // in each probed cluster, so LUT rows key on (probe, cluster,
    // subspace, code) and still broadcast. The complete production
    // FAISS IVFADC pipeline, exact-oracle-gated end to end.
    "x43_ivfpq_residual_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val cents = emb.filter(col("vec_id") < 8)
      val cbs = Similarity.residualCodebooks(
        emb.filter(col("vec_id") >= 8 && col("vec_id") < 16), cents, m = 8, subDim = 8)
      Similarity.ivfPqResidualTopK(
          Tables.splitForCpu(s, emb, "vec_id"),
          probes = emb.filter(col("vec_id") % 97 === 0),
          centroids = cents, codebooks = cbs,
          k = 3, nprobe = 2, subDim = 8)
        .orderBy("probe_id", "rnk")
    }),

    // Dataset card — the one-row corpus summary a training-data
    // release publishes (docs, tokens, vocab, dup rate, language
    // spread, median length). The projected (id, lang, len, hash)
    // frame materializes once and feeds every branch. Honest scale
    // note: the exact global median ranks a single-partition window
    // over the 3-column frame — fine to ~1e8 docs; a 100 TB card
    // swaps in q27's mergeable quantile sketch (exactness is an
    // oracle constraint here, not a product one).
    "x44_dataset_card" -> ((s, d) => {
      val docs = Tables.splitForCpu(s, Tables.documents(s, d), "doc_id")
        .select(col("doc_id"), col("lang"),
          size(TF.tokens(col("text"))).cast("long").as("n_tokens"),
          TF.hash60(col("text")).as("h"))
        .localCheckpoint(true)
      val base = docs.agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").as("n_tokens"),
        count_distinct(col("lang")).as("n_langs"),
        min("n_tokens").as("min_len"), max("n_tokens").as("max_len"))
      val vocab = Tables.documents(s, d)
        .select(explode(TF.tokens(col("text"))).as("t"))
        .agg(count_distinct(col("t")).as("vocab_size"))
      val dups = docs.groupBy("h").agg(count(lit(1)).as("n"))
        .agg((sum("n") - count(lit(1))).as("n_dup_docs"))
      val w = Window.orderBy("n_tokens", "doc_id")
      val median = docs
        .withColumn("rn", row_number().over(w).cast("long"))
        .crossJoin(broadcast(docs.agg(count(lit(1)).as("n"))))
        .filter(col("rn") === ceil(col("n") / lit(2.0)).cast("long"))
        .select(col("n_tokens").as("median_len"))
      base.crossJoin(broadcast(vocab)).crossJoin(broadcast(dups))
        .crossJoin(broadcast(median))
    }),

    // Quantizer justification as a CHECKED NUMBER: total squared
    // reconstruction error of raw-vector codes (x39) vs residual
    // codes (x42) at the same bit budget, e9-floored per subspace
    // then integer-summed. The per-subspace argmin distance IS the
    // reconstruction error, so no decode pass exists in the plan.
    "x45_pq_error" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val cents = emb.filter(col("vec_id") < 8)
      val rawCbs = Similarity.pqCodebooks(cents, m = 8, subDim = 8)
      val resCbs = Similarity.residualCodebooks(
        emb.filter(col("vec_id") >= 8 && col("vec_id") < 16), cents, m = 8, subDim = 8)
      Similarity.pqReconErrors(
          Tables.splitForCpu(s, emb, "vec_id"), cents, rawCbs, resCbs, subDim = 8)
        .agg(sum("raw_e9").as("raw_err_e9"), sum("res_e9").as("res_err_e9"),
          count(lit(1)).as("n_vecs"))
    }),

    // Mixture-weight sampling — the data-mixing step of a corpus
    // build (wiki ×3, CC ×0.3, ...): per-source keep-rates applied by
    // SEEDED HASH, not rand() — reproducible across runs, executors,
    // and engines, and a doc's fate never depends on partitioning
    // (x21/q21's hash-sample discipline, lifted to per-group rates).
    // The per-source rate itself derives from the source name here so
    // the oracle can recompute it; production passes a weights map.
    // One scan, one group-by; the kept set needs no second pass.
    "x46_mixture_sample" -> ((s, d) => {
      val w = TF.hash60(col("source")) % 9L * 100L + 100L // 100..900 per-mille
      val keep = TF.hash60(concat(lit("mix:"), col("doc_id").cast("string"))) % 1000L < w
      Tables.splitForCpu(s, Tables.documents(s, d), "doc_id")
        .select(col("source"), w.as("w_permille"), keep.cast("long").as("kept"))
        .groupBy("source", "w_permille")
        .agg(count(lit(1)).as("n_docs"), sum("kept").as("n_kept"))
        .orderBy("source")
    }),

    // The native GENERATOR (UDTF) through the SQL registry: LATERAL
    // VIEW shingle_gen fuses tokenize → shingle → posexplode into one
    // per-row pass (no intermediate arrays in the plan), exercising
    // the third and last extension injection surface (scalar expr =
    // parse_ipv4/x13's path, aggregate = TopKAggregator, generator =
    // this). ShingleGenSpec pins parity with the composed
    // posexplode(wordShingles(...)) form.
    "x47_shingle_gen" -> ((s, d) => {
      Tables.documents(s, d).createOrReplaceTempView("v_docs")
      s.sql("""
        SELECT doc_id, t.pos, t.shingle
        FROM v_docs LATERAL VIEW shingle_gen(text, 2) t AS pos, shingle
        WHERE doc_id % 10 = 0
        ORDER BY doc_id, pos
      """)
    }),

    // Feature hashing (the HashingTF trick, as plain SQL): tokens
    // hash into a FIXED 16-dim space — no vocabulary build, no
    // fit/transform state, which is why the hashing trick scales
    // where a dictionary vectorizer needs a global vocab pass. Long
    // (doc, dim, weight) form rather than array columns so the oracle
    // hashes scalars. Feeds a downstream linear quality classifier
    // the way x07's hand rules do, but learned-weight-ready.
    "x48_hashing_tf" -> ((s, d) => {
      Tables.splitForCpu(s, Tables.documents(s, d), "doc_id")
        .select(col("doc_id"), explode(TF.tokens(col("text"))).as("token"))
        .select(col("doc_id"), pmod(TF.hash60(col("token")), lit(16L)).as("dim"))
        .groupBy("doc_id", "dim").agg(count(lit(1)).as("weight"))
        .orderBy("doc_id", "dim")
    }),

    // MinHash estimator CALIBRATION — validates the LSH estimator
    // against ground truth instead of trusting it: for every x02
    // candidate pair, the exact bigram-shingle jaccard (the quantity
    // the signature estimates) is computed and aggregated per
    // estimate decile → (bucket, n_pairs, mean exact, mean est). The
    // exact side joins distinct shingles ONLY over candidate pairs —
    // never all-pairs — so calibration costs Σ shared-shingles over
    // candidates, not corpus². Two independent operators cross-check
    // each other inside one oracle; a threshold/band retune reads
    // this table, not a hunch.
    "x49_minhash_calibration" -> ((s, d) => {
      val docs = Tables.splitForCpu(s, Tables.documents(s, d), "doc_id")
        .select(col("doc_id"), col("text"))
      // full listing (collapseExact = false): calibration is per PAIR
      val cand = Dedup.minhashCandidates(docs, "text", "doc_id",
        collapseExact = false)
      // native generator: linear shingle emission (the HOF-array form
      // re-split the text per element — see x36)
      val ds = docs.select(col("doc_id"), expr("shingle_gen(text, 2)"))
        .select(col("doc_id"), col("shingle").as("g")).distinct()
      val nsz = ds.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val inter = cand.select("doc_a", "doc_b")
        .join(ds.select(col("doc_id").as("doc_a"), col("g")), "doc_a")
        .join(ds.select(col("doc_id").as("doc_b"), col("g")), Seq("doc_b", "g"))
        .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("ninter"))
      cand
        .join(inter, Seq("doc_a", "doc_b"), "left_outer")
        .na.fill(0L, Seq("ninter")) // a band can collide with zero overlap
        .join(nsz.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
        .join(nsz.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
        .select(col("est_jaccard_e6"),
          expr("(ninter * 1000000) DIV (na + nb - ninter)").as("exact_e6"))
        .groupBy(expr("est_jaccard_e6 DIV 100000").as("est_bucket"))
        .agg(count(lit(1)).as("n_pairs"),
          expr("sum(exact_e6) DIV count(1)").as("mean_exact_e6"),
          expr("sum(est_jaccard_e6) DIV count(1)").as("mean_est_e6"))
        .orderBy("est_bucket")
    }),

    // WINNOWING fingerprints (the MOSS/plagiarism-detection standard,
    // a third dedup family next to minhash and simhash): per sliding
    // window of w=4 consecutive 8-char-gram hashes keep the MINIMUM —
    // guaranteeing any shared substring of length >= k+w-1 yields at
    // least one shared fingerprint (the winnowing theorem), at ~2/(w+1)
    // fingerprint density. Robust to substring REORDERING, which
    // bag-of-shingles minhash is blind to. Candidates come from the
    // fingerprint equi-join with a DF-CAP (MOSS's own rule: a
    // fingerprint in >16 docs is boilerplate, not evidence of copying
    // — and the cap is what bounds per-fp join fan-out at corpus
    // scale, x03's knob).
    "x50_winnowing" -> ((s, d) =>
      graft.llm.Dedup.winnowingPairs(
        Tables.splitForCpu(s, Tables.documents(s, d), "doc_id"),
        "text", "doc_id", k = 8, w = 4, dfCap = 16L, minShared = 3L)
        .orderBy("doc_a", "doc_b")),

    // Survivor-policy dedup: the same near-dup clusters as x20, but
    // the survivor is the LONGEST member (ties to the lowest id), not
    // the minimum id — the real curation policy ("keep the most
    // complete version") decoupled from the clustering itself. One
    // window over the (tiny) labeled frame on top of x20's plan.
    "x55_dedup_keep_longest" -> ((s, d) => {
      val docs = Tables.splitForCpu(s, Tables.documents(s, d), "doc_id")
      val labels = Dedup.connectedComponents(
        Dedup.minhashCandidates(docs, "text", "doc_id"), "doc_a", "doc_b")
      val meta = Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
      val w = Window.partitionBy("label")
        .orderBy(col("n_chars").desc, col("node"))
      labels.join(meta, col("node") === col("doc_id"))
        .withColumn("kept", (row_number().over(w) === 1).cast("long"))
        .select(col("node").as("doc_id"), col("label").as("cluster_rep"),
          col("n_chars"), col("kept"))
        .orderBy("doc_id")
    }),

    // MMR diversified retrieval (λ=0.5, division-free): the re-ranker
    // that keeps a retrieval result from being k copies of one
    // document. Distributed bounded pool, k greedy driver rounds,
    // oracle = the greedy unrolled as chained LIMIT-1 CTEs.
    "x58_mmr_topk" -> ((s, d) =>
      Similarity.mmrTopK(Tables.embeddings(s, d), probeId = 0L,
          k = 3, poolSize = 20)
        .orderBy("rnk")),

    // N-gram novelty (memorization-risk scoring): the share of a
    // doc's distinct 8-grams that appear in NO other document —
    // duplicated text is what models memorize, and a low-novelty doc
    // is a near-verbatim recombination even when no single pair
    // flags it. One explode (explode_OUTER — the same
    // InferFiltersFromGenerate trap x50 documents: a plain explode
    // pushes a scan filter that re-runs the md5 transform per
    // element), one df aggregate, one join back.
    "x57_ngram_novelty" -> ((s, d) => {
      val grams = Tables.splitForCpu(s, Tables.documents(s, d), "doc_id")
        .filter(length(col("text")) >= 8)
        .select(col("doc_id"),
          explode_outer(array_distinct(TF.charGramHashesNative(col("text"), 8))).as("g"))
        .localCheckpoint(true) // df count + per-doc stats read it
      // grams are per-doc distinct, so count(*) IS the doc frequency
      val dfreq = grams.groupBy("g").agg(count(lit(1)).as("df"))
      grams.join(dfreq, "g")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_novel"))
        .withColumn("novelty_e6", expr("(n_novel * 1000000) DIV n_grams"))
        .orderBy("doc_id")
    }),

    // Dedup-family agreement audit: which near-dup pairs do minhash
    // (bag-of-shingles jaccard), simhash (global near-angle), and
    // winnowing (local substring) each flag, and how much do they
    // overlap? The 2³-cell matrix is how a curator picks thresholds
    // and families for a corpus — methods disagreeing wildly means
    // the dup structure is partial-overlap (winnowing's case), not
    // whole-document. Flags union positionally, collapse per pair
    // with max(), then count by flag combination — three existing
    // pipelines plus two tiny aggregates, no new shuffle class.
    "x56_dedup_agreement" -> ((s, d) => {
      val docs = Tables.splitForCpu(s, Tables.documents(s, d), "doc_id")
      def flagged(df: DataFrame, m: Int, sh: Int, w: Int) =
        df.select(col("doc_a"), col("doc_b"),
          lit(m.toLong).as("mh"), lit(sh.toLong).as("sh"), lit(w.toLong).as("wn"))
      // full listing: the agreement matrix counts member-level PAIRS
      flagged(Dedup.minhashCandidates(docs, "text", "doc_id",
        collapseExact = false), 1, 0, 0)
        .union(flagged(Dedup.simhashPairs(docs, "text", "doc_id"), 0, 1, 0))
        .union(flagged(Dedup.winnowingPairs(docs, "text", "doc_id"), 0, 0, 1))
        .groupBy("doc_a", "doc_b")
        .agg(max("mh").as("mh"), max("sh").as("sh"), max("wn").as("wn"))
        .groupBy("mh", "sh", "wn").agg(count(lit(1)).as("n_pairs"))
        .orderBy("mh", "sh", "wn")
    }),

    // Winnowing containment: n_shared / |fps(smaller doc)| — detects a
    // document spliced INSIDE another, where jaccard-style symmetric
    // scores dilute toward zero as the container grows. Sizes count
    // the same df-capped fingerprint set the pair join uses.
    "x54_winnowing_containment" -> ((s, d) =>
      graft.llm.Dedup.winnowingContainment(
        Tables.splitForCpu(s, Tables.documents(s, d), "doc_id"),
        "text", "doc_id", k = 8, w = 4, dfCap = 16L, minContE6 = 500000L)
        .orderBy("doc_a", "doc_b")),

    // Cross-source duplication audit: the near-dup pair stream rolled
    // up to a source×source overlap matrix — the governance view a
    // corpus curator reads ("how much of source A is copied in source
    // B") before setting mixture weights. Pure composition: x02's
    // candidate pairs + two joins to the (doc, source) map + one
    // aggregate; pair keys are normalized with least/greatest because
    // doc_a < doc_b does NOT order the sources. Scale: the pair frame
    // is post-threshold (small); AQE broadcasts it against the doc→
    // source map, so the audit adds no new shuffle class.
    "x53_source_overlap" -> ((s, d) => {
      val docs = Tables.splitForCpu(s, Tables.documents(s, d), "doc_id")
      // full listing: the overlap matrix counts member-level PAIRS
      val pairs = Dedup.minhashCandidates(docs, "text", "doc_id",
        collapseExact = false)
      val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
      pairs
        .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), "doc_a")
        .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), "doc_b")
        .select(least(col("sa"), col("sb")).as("source_lo"),
          greatest(col("sa"), col("sb")).as("source_hi"),
          col("est_jaccard_e6"))
        .groupBy("source_lo", "source_hi")
        .agg(count(lit(1)).as("n_pairs"), sum("est_jaccard_e6").as("sum_est_e6"))
        .orderBy("source_lo", "source_hi")
    }),

    // BM25 retrieval (the web-scale sparse-ranking standard) in FULLY
    // RATIONAL integer arithmetic — BM25's ln-idf and float length
    // normalization can never pass a cross-engine hash gate, so both
    // factors become floored integer ratios with k1=1.2, b=0.75:
    //   idf_e6  = (1e6·(2(N−df)+1)) DIV (2df+1)      [the +0.5 idf, ×2]
    //   sat     = (880·tf·L) DIV (400·tf·L + 120·L + 360·len·N)
    //             [tf(k1+1)/(tf+k1(1−b+b·len/avg)) with avg=L/N,
    //              every coefficient ×400·L to clear the fractions]
    //   score_e6 = Σ_t (idf_e6 · sat_e6) DIV 1e6
    // Σ of floored per-term integers is order-free ⇒ deterministic.
    // sat is floored to e6 BEFORE the idf product so every
    // intermediate stays far inside Long even at SF 1 (worst factor
    // sat numerator 8.8e8·tf·L ≈ 4e16; idf_e6·sat_e6 ≈ 7e16).
    // Same inverted-index economics as x38: probes broadcast, join on
    // token, never n² — BM25 is a different SCORE on the same plan.
    "x52_bm25" -> ((s, d) =>
      Retrieval.bm25TopK(
          Tables.splitForCpu(s, Tables.documents(s, d), "doc_id"), k = 3)
        .orderBy("q_id", "rnk")),

    // Hybrid retrieval: BM25 (lexical) and brute cosine (dense) top-10
    // lists fused by reciprocal-rank fusion — the standard RAG-stack
    // combiner (a doc ranked well by EITHER signal surfaces; rank
    // positions, not incomparable scores, are what's summed). Probes
    // are the same %97 sample in both legs (doc_id ≡ vec_id).
    // Scale: each leg bounds its output at |probes|·10 rows before
    // the fusion join — the fusion itself is asymptotically free.
    "x59_rrf_hybrid" -> ((s, d) => {
      val sparse = Retrieval.bm25TopK(
        Tables.splitForCpu(s, Tables.documents(s, d), "doc_id"), k = 10)
        .select("q_id", "doc_id", "rnk")
      val emb = Tables.embeddings(s, d)
      val dense = Similarity.bruteTopKAgg(
          emb, emb.filter(col("vec_id") % 97 === 0), k = 10)
        .select(col("probe_id").as("q_id"),
          col("neighbor_id").as("doc_id"), col("rnk"))
      Retrieval.rrfFuse(sparse, dense, k = 3).orderBy("q_id", "rnk")
    }),

    // Exact-substring duplication coverage (the ExactSubstr
    // counterpart to x50's winnowing: EVERY overlapping 8-token
    // window, not a selected fingerprint subset): a window is
    // "duplicated" when its hash occurs in >= 2 DISTINCT documents;
    // each doc reports what fraction of its windows that is — the
    // span-level memorization signal (a doc can be 40% verbatim-
    // copied without any single pair passing a jaccard gate).
    // Scale shape: one explode + one hash-key groupBy builds the dup
    // set; the dup membership check is a LEFT SEMI equi-join on the
    // window hash (the dup set is corpus-sized at web scale — never
    // broadcast it); no pair of documents is ever materialized.
    "x60_exact_substring" -> ((s, d) => {
      val docs = Tables.splitForCpu(s, Tables.documents(s, d), "doc_id")
      val pos = docs
        .select(col("doc_id"), expr("shingle_gen(text, 8)"))
        .select(col("doc_id"), TF.hash60(col("shingle")).as("gh"))
        .localCheckpoint(true) // three consumers: dup set, totals, semi-probe
      val dup = pos.groupBy("gh")
        .agg(countDistinct("doc_id").as("nd"))
        .filter(col("nd") >= 2).select("gh")
      val tot = pos.groupBy("doc_id").agg(count(lit(1)).as("n_win"))
      val dupWin = pos.join(dup, Seq("gh"), "left_semi")
        .groupBy("doc_id").agg(count(lit(1)).as("n_dup_win"))
      tot.join(dupWin, Seq("doc_id"), "left_outer")
        .na.fill(0L, Seq("n_dup_win"))
        .select(col("doc_id"), col("n_win"), col("n_dup_win"),
          expr("(n_dup_win * 1000000) DIV n_win").as("dup_frac_e6"))
        .orderBy("doc_id")
    }),

    // Bigram-LM fluency scoring (the conditional-probability upgrade
    // of x37's unigram model): corpus-trained P(w2|w1) =
    // count(w1 w2)/count(w1-as-prefix), each doc scored by the mean
    // e6 conditional probability over its bigram positions — the
    // perplexity-style quality filter every corpus pipeline runs,
    // kept in exact integer arithmetic so the oracle hash-matches.
    // Scale shape: ONE explode+agg pass builds both count tables off
    // the same materialized bigram frame; both models join back
    // BROADCAST (vocab- and bigram-vocab-sized, not corpus-sized);
    // the only corpus shuffle is the bigram aggregation itself.
    "x61_bigram_lm" -> ((s, d) => {
      val docs = Tables.splitForCpu(s, Tables.documents(s, d), "doc_id")
      val bi = docs
        .select(col("doc_id"), TF.tokens(col("text")).as("tk"))
        .filter(size(col("tk")) >= 2)
        .select(col("doc_id"), explode(TF.wordShingles(col("tk"), 2)).as("bg"))
        .select(col("doc_id"), col("bg"),
          substring_index(col("bg"), " ", 1).as("w1"))
        .localCheckpoint(true) // three consumers: c2, c1, the scoring join
      val c2 = bi.groupBy("bg").agg(count(lit(1)).as("c2"))
      val c1 = bi.groupBy("w1").agg(count(lit(1)).as("c1"))
      bi.join(broadcast(c2), "bg").join(broadcast(c1), "w1")
        .select(col("doc_id"), expr("(c2 * 1000000) DIV c1").as("p_e6"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"), sum("p_e6").as("psum_e6"))
        .select(col("doc_id"), col("n_bigrams"),
          expr("psum_e6 DIV n_bigrams").as("mean_p_e6"))
        .orderBy("doc_id")
    }),

    // Edit-distance<=1 near-dup join via DELETION NEIGHBORHOODS: two
    // strings within one edit share a single-deletion variant, so
    // generating len+1 variants per DISTINCT title and equi-joining
    // on the variant yields a candidate superset verified by one
    // levenshtein call per candidate — the fuzzy-match pattern that
    // replaces the O(n²) all-pairs edit-distance scan. Dedup to
    // distinct titles FIRST: identical titles (exact dups) would
    // otherwise multiply every neighborhood pairwise.
    // Scale shape: variants are linear in input (len+1 per title);
    // the variant equi-join is the only shuffle; levenshtein runs on
    // candidates only, never on the cross product.
    "x62_edit_distance_join" -> ((s, d) => {
      val titles = Tables.documents(s, d)
        .select(substring(col("text"), 1, 12).as("ti"), col("doc_id"))
        .groupBy("ti").agg(min("doc_id").as("rep_id"))
      val delVars = transform(
        sequence(lit(0), length(col("ti"))),
        i => when(i === lit(0), col("ti"))
          .otherwise(concat(col("ti").substr(lit(1), i - 1),
            col("ti").substr(i + 1, length(col("ti"))))))
      val vars = titles
        .select(col("ti"), col("rep_id"), explode(delVars).as("v"))
        .localCheckpoint(true) // both sides of the self-join read it
      val a = vars.select(col("v"), col("ti").as("ti_a"), col("rep_id").as("doc_a"))
      val b = vars.select(col("v"), col("ti").as("ti_b"), col("rep_id").as("doc_b"))
      a.join(b, "v")
        .filter(col("ti_a") < col("ti_b"))
        .select("doc_a", "doc_b", "ti_a", "ti_b").distinct()
        .filter(levenshtein(col("ti_a"), col("ti_b")) <= 1)
        .orderBy("doc_a", "doc_b")
    }),

    // Heavy-hitter vocabulary (boilerplate-token detection) through a
    // BOUNDED-MEMORY sketch: a Misra–Gries typed aggregate (30
    // counters, functions/MisraGriesAggregator) whose partial buffers
    // merge map-side, so the candidate pass shuffles O(k) counters
    // per partition instead of the full vocabulary — then one exact
    // recount over the guaranteed-superset candidates makes the
    // output deterministic (the sketch's extra candidates fail the
    // exact n/(k+1) threshold; true heavy hitters provably survive
    // the sketch under ANY partitioning). Two passes total; the
    // second touches only candidate tokens via a broadcast semi-join.
    "x63_heavy_hitters" -> ((s, d) => {
      val mgK = 30
      val mg = udaf(new graft.functions.MisraGriesAggregator(mgK))
      val toks = Tables.splitForCpu(s, Tables.documents(s, d), "doc_id")
        .select(explode(TF.tokens(col("text"))).as("w"))
        .localCheckpoint(true) // two passes: sketch+total, exact recount
      val cand = toks
        .agg(count(lit(1)).as("n_total"), mg(col("w")).as("cands"))
        .select(col("n_total"), explode(col("cands")).as("w"))
      toks.join(broadcast(cand), "w")
        .groupBy("w", "n_total").agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") * (mgK + 1) > col("n_total"))
        .select(col("w"), col("cnt"))
        .orderBy("w")
    }),

    // Robust per-type outlier flagging (median/MAD, the quality
    // filter that survives the heavy tails a mean/stddev z-score
    // drowns in) in EXACT integer arithmetic: med2 = 2·median and
    // mad4 = 4·MAD are integers even at even group sizes (2× the
    // midpoint average), so the 3-MAD gate |v−med| > 3·MAD becomes
    // 2·dev2 > 3·mad4 with no floats anywhere near the hash gate.
    // Scale shape: two grouped exact-median aggregates over the fact
    // table; both tiny per-type models join back broadcast.
    "x64_mad_outliers" -> ((s, d) => {
      val e = Tables.events(s, d).select(col("event_id"), col("event_type"),
        round(col("value") * 100).cast("long").as("value_c"))
      val med = e.groupBy("event_type")
        .agg((median(col("value_c")) * 2).cast("long").as("med2"))
      val dev = e.join(broadcast(med), "event_type")
        .withColumn("dev2", abs(col("value_c") * 2 - col("med2")))
      val mad = dev.groupBy("event_type")
        .agg((median(col("dev2")) * 2).cast("long").as("mad4"))
      dev.join(broadcast(mad), "event_type")
        .filter(col("dev2") * 2 > col("mad4") * 3)
        .select("event_id", "event_type", "value_c")
        .orderBy("event_id")
    }),

    // One BPE training round at corpus scale (the map-reduce half of
    // GPT-style vocabulary learning): compress the corpus to its
    // word-frequency table FIRST (|vocab| rows — the standard trick
    // that makes tokenizer training tractable at 100 TB), then count
    // adjacent-symbol pairs weighted by word frequency. One shuffle
    // for the vocab, one for the pair aggregate, top-k via
    // TakeOrdered. The multi-round greedy trainer (merge application
    // as a codegen'd fold, rounds on the driver) is llm/Bpe.learn,
    // asserted against a plain-Scala reference in BpeSpec; the oracle
    // covers the round-defining pair statistics.
    "x65_bpe_pairs" -> ((s, d) => {
      val words = Tables.documents(s, d)
        .select(explode(TF.tokens(col("text"))).as("w"))
        .filter(col("w").rlike("^[A-Za-z]+$") && length(col("w")) >= 2)
        .groupBy("w").agg(count(lit(1)).as("freq"))
      graft.llm.Bpe.pairCounts(
          words.select(graft.llm.Bpe.initialSymbols(col("w")).as("syms"),
            col("freq")))
        .select(concat(col("a"), col("b")).as("pair"), col("cnt"))
        .orderBy(col("cnt").desc, col("pair"))
        .limit(20)
    }),

    // BPE ENCODE at corpus scale — the application half of x65's
    // trainer. Learn R merges (rounds on the driver, data on the
    // cluster — llm/Bpe.learn), encode the VOCABULARY once (|vocab|
    // rows, zero shuffles: the R folds fuse into one projection),
    // then broadcast the word→token-count table over the corpus and
    // aggregate per document. The corpus pays one explode + one
    // broadcast join + one partial-aggregated groupBy(doc_id) — it is
    // never re-folded per occurrence, which is what makes tokenizer
    // application tractable at 100 TB. The oracle replays the full
    // 6-round learn+encode relationally (unrolled CTEs; greedy merge
    // as a list_reduce fold with the same no-re-fuse scan order).
    "x67_bpe_encode" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), explode(TF.tokens(col("text"))).as("w"))
        .filter(col("w").rlike("^[A-Za-z]+$") && length(col("w")) >= 2)
      val words = toks.groupBy("w").agg(count(lit(1)).as("freq"))
      val merges = graft.llm.Bpe.learn(words, BpeEncodeRounds)
      val wordTok = graft.llm.Bpe.encodeWords(words, merges)
        .select(col("w"), size(col("syms")).cast("long").as("n_tok"))
      toks.join(broadcast(wordTok), "w")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"),
          sum("n_tok").as("n_tokens"),
          sum(length(col("w"))).cast("long").as("n_chars"))
        .orderBy("doc_id")
    }),

    // CURRICULUM BUCKETS: exact length-decile assignment for
    // curriculum-ordered training WITHOUT a global sort. The trick is
    // distribution counting: aggregate to one row per distinct length
    // (bounded cardinality — lengths, not documents), prefix-sum that
    // tiny frame (the only single-partition window, same pattern as
    // q49's carry), and broadcast the value→bucket map back over the
    // corpus. bucket = floor(10·rank_before/n) — every tie lands in
    // one bucket, all integer arithmetic. A rank/ntile window over the
    // raw corpus would globally sort 100 TB; this sorts |distinct
    // lengths| rows.
    "x66_curriculum_buckets" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
      val dist = docs.groupBy("n_chars").agg(count(lit(1)).as("cnt"))
      val w = Window.orderBy("n_chars").rowsBetween(Window.unboundedPreceding, -1)
      val tot = dist.agg(sum("cnt").as("n"))
      val buckets = dist
        .withColumn("cum", coalesce(sum("cnt").over(w), lit(0L)))
        .crossJoin(broadcast(tot))
        .select(col("n_chars"), expr("(10 * cum) div n").as("bucket"))
      docs.join(broadcast(buckets), "n_chars")
        .select("doc_id", "n_chars", "bucket")
        .orderBy("doc_id")
    }),

    // SemDeDup semantic dedup (cluster-then-compare over embeddings):
    // argmax-centroid assignment restricts pairs to within-cluster,
    // cos >= 0.25 pairs connect into semantic groups, the minimum id
    // survives. Output = the drop list with each loser's kept
    // representative — the embedding-space sibling of x20's minhash
    // cluster dedup, sharing its closure oracle pattern.
    "x51_semantic_dedup" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.semanticDedupDrops(emb,
          centroids = emb.filter(col("vec_id") < 8), minCosE6 = 250000L)
        .orderBy("vec_id")
    }),

    // Multimodal metadata pass: opaque binary payload + typed
    // metadata; deterministic byte-level features (the decode seam for
    // real codecs is graft.llm.Multimodal.extractFeatures).
    "x12_multimodal_meta" -> ((s, d) => {
      Tables.documents(s, d)
        .withColumn("media", col("text").cast("binary"))
        .select(
          col("doc_id"),
          length(col("media")).cast("long").as("byte_len"),
          TF.hash60(col("text")).as("content_h"),
          // ceil(len/64), matching Multimodal.decodeStub's frame
          // sampling exactly (ADVICE r3: the floor(..)+1 variant
          // disagreed at exact multiples of 64 and on empty input)
          ceil(col("n_chars") / lit(64.0)).cast("long").as("n_frames"),
          ascii(substring(col("text"), 1, 1)).cast("long").as("first_byte"),
          col("lang"), col("source"))
        .orderBy("doc_id")
    }),

    // Per-source QUOTA cap (domain balancing — the corpus-curation
    // step that stops one domain from flooding the mixture; x46 thins
    // by RATE, this caps by COUNT): keep at most Q docs per source,
    // chosen by deterministic per-doc hash — a reproducible uniform
    // sample (q21's seeded-hash discipline), rank included so the
    // downstream mixer can tighten the quota without re-running.
    // Scale shape: the BOUNDED top-k typed aggregate caps per-source
    // state at Q BEFORE the shuffle (map-side partials), so the
    // exchange carries |sources|·Q rows — a ranking window would
    // shuffle and sort the whole corpus per source, and per-source
    // row counts are exactly where web corpora skew worst.
    "x69_source_quota" -> ((s, d) => {
      val Q = 50
      implicit val enc: org.apache.spark.sql.Encoder[graft.functions.Scored] =
        org.apache.spark.sql.Encoders.product[graft.functions.Scored]
      val topk = udaf(new graft.functions.TopKAggregator(Q))
      Tables.documents(s, d)
        .select(col("source"),
          TF.hash60(concat(lit("quota:"), col("doc_id").cast("string"))).as("score"),
          col("doc_id").as("id"))
        .groupBy("source")
        .agg(topk(col("score"), col("id")).as("kept"))
        .select(col("source"), posexplode(col("kept")).as(Seq("pos", "t")))
        .select(col("source"), col("t.id").as("doc_id"),
          (col("pos") + 1).cast("long").as("rk"))
        .orderBy("source", "rk")
    }),

    // EXACT-threshold similarity join (Dedup.prefixJaccardJoin, the
    // SSJoin/PPJoin family): every (probe, other) pair with token-set
    // jaccard >= 0.9 — no false negatives, the exact counterpart of
    // x02's probabilistic LSH and the LOSSLESS counterpart of x03's
    // df-capped inverted index (the cap trades recall; the prefix
    // theorem does not). Candidates come from an equi-join of doc
    // PREFIXES under the global df-ascending token order (at t=0.9
    // the prefix is ~|x|/10 tokens, the rarest ones); the oracle is
    // the brute-force inverted-index join, so the hash match proves
    // the pruning loses nothing. Probe-side restriction (x03's
    // convention), deliberately: this corpus is template-generated,
    // so the FULL self-join's answer is quadratic in cluster size
    // (7M pairs at t=0.6 on sf0.1) — no join algorithm outruns its
    // own output; corpus-wide loose bands are what the probabilistic
    // family (x02/x09/x50) is for.
    "x70_prefix_jaccard_join" -> ((s, d) => {
      Dedup.prefixJaccardJoin(
          Tables.splitForCpu(s, Tables.documents(s, d), "doc_id"),
          "text", "doc_id", minJaccardE6 = 900000L,
          probeFilter = Some(col("doc_id") % 29 === 0))
        .orderBy("doc_a", "doc_b")
    }),

    // x70's SYMMETRIC form (no probe set: every unordered pair once,
    // a < b) on a corpus slice whose full answer is not quadratic —
    // one source at t=0.6 (206 pairs at sf0.01; 16k at sf0.1). The
    // probe-side registry entry left the a<b candidate predicate
    // spec-only (VERDICT r7 ask #6); the brute-force oracle on the
    // same slice makes its completeness driver-checked too.
    "x70b_prefix_jaccard_selfjoin" -> ((s, d) => {
      Dedup.prefixJaccardJoin(
          Tables.splitForCpu(s,
            Tables.documents(s, d).filter(col("source") === "src0"), "doc_id"),
          "text", "doc_id", minJaccardE6 = 600000L)
        .orderBy("doc_a", "doc_b")
    }),

    // CONTENT-OVERLAP GOVERNANCE AT SKETCH COST — x53's question
    // ("how much of source A's content appears in B") answered from
    // per-source THETA/KMV sketches of the char-4-gram sets instead
    // of the near-dup pair pipeline: one linear pass builds a k=128
    // sketch (1 KB) per source with map-side combine; the full
    // source×source matrix is then O(k) array intersections on
    // broadcast KB rows. At 100 TB x53 costs the whole candidate
    // pipeline and this costs one scan — the curator's first-look
    // tool before committing to pair-level dedup. Exact sides are
    // recomputed only for the driver check (q55/q58 lifecycle note);
    // flags: sizes within a just-under-4σ·rsd margin (rsd = 1/√126 ≈
    // 8.9%; 4σ = 35.6%, the flag uses 35%), intersection within the
    // same margin of the UNION (theta set-op error is union-relative,
    // functions/KmvSketchAggregator scaladoc). Disjoint source pairs
    // survive the exact-side join (left join + coalesce 0 — ADVICE
    // r8), so their near-zero estimates are asserted too.
    "x71_source_overlap_sketch" -> ((s, d) => {
      import graft.functions.KmvSketch._
      val K = 128
      val kmv = udaf(new graft.functions.KmvSketchAggregator(K))
      val grams = Tables.splitForCpu(s, Tables.documents(s, d), "doc_id")
        .select(col("source"), explode(TF.charGrams(col("text"), 4)).as("gram"))
      val sk = grams.select(col("source"), hash63(col("gram")).as("h"))
        .groupBy("source").agg(kmv(col("h")).as("sk"))
      val sg = grams.distinct()
      val exSize = sg.groupBy("source").agg(count(lit(1)).as("n_ex"))
      val exInter = sg.as("a")
        .join(sg.as("b"),
          col("a.gram") === col("b.gram") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
        .agg(count(lit(1)).as("exact_inter"))
      sk.select(col("source").as("source_a"), col("sk").as("ska"))
        .join(broadcast(sk.select(col("source").as("source_b"), col("sk").as("skb"))),
          col("source_a") < col("source_b"))
        .join(broadcast(exSize.select(col("source").as("source_a"), col("n_ex").as("exact_a"))), "source_a")
        .join(broadcast(exSize.select(col("source").as("source_b"), col("n_ex").as("exact_b"))), "source_b")
        .join(broadcast(exInter), Seq("source_a", "source_b"), "left")
        .withColumn("exact_inter", coalesce(col("exact_inter"), lit(0L)))
        .withColumn("exact_union", col("exact_a") + col("exact_b") - col("exact_inter"))
        .select(col("source_a"), col("source_b"), col("exact_a"), col("exact_b"),
          col("exact_inter"), col("exact_union"),
          withinPct(estimate(col("ska"), K), col("exact_a"), 35).as("within_a"),
          withinPct(estimate(col("skb"), K), col("exact_b"), 35).as("within_b"),
          (abs(intersectEstimate(col("ska"), col("skb"), K)
              - col("exact_inter").cast("double"))
            <= col("exact_union").cast("double") * lit(0.35))
            .cast("long").as("within_inter"))
        .orderBy("source_a", "source_b")
    }),

    // INT8 EMBEDDING QUANTIZATION — the storage op an embedding
    // pipeline runs before ANN indexing ships: per-vector max-abs
    // symmetric scale, FLOOR quantizer to [-127, 127] (floor, not
    // round — banker's-rounding ties differ between engines; floor
    // on identical IEEE doubles does not), 4× smaller than float32
    // with dequantization error provably < scale/127. Pure per-row
    // codegen'd array expressions, no shuffle before the
    // presentation sort — embarrassingly parallel at any corpus
    // size. Both engines compute the identical double-precision
    // expression tree (the x10 cosineE6 determinism pattern), so the
    // CODES themselves are hash-checked cross-engine via their
    // sum/min/max, and the error bound rides as a flag.
    "x72_int8_quantize" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      emb
        .withColumn("__scale", sq8Scale(col("embedding")))
        .withColumn("__codes", sq8Codes(col("embedding"), col("__scale")))
        .select(col("vec_id"),
          size(col("embedding")).cast("long").as("n_dims"),
          aggregate(col("__codes"), lit(0L), (a, x) => a + x).as("sum_code"),
          array_min(col("__codes")).as("min_code"),
          array_max(col("__codes")).as("max_code"),
          when(col("__scale") === 0d, lit(1L)).otherwise(
            (array_max(zip_with(col("__codes"), col("embedding"), (c, v) =>
              abs(c.cast("double") * col("__scale") / lit(127d)
                - v.cast("double"))))
              <= col("__scale") / lit(127d) * lit(1.0000001d)).cast("long"))
            .as("within_err"))
        .orderBy("vec_id")
    }),

    // SQ8 TOP-K READ PATH — the search over x72's quantized codes
    // (faiss's SQ8 posture: 4× less memory traffic than float32,
    // decode-free scoring): approximate dot = (Σ ca·cb)·sa·sb/127²,
    // where the inner Σ is EXACT INTEGER arithmetic — so unlike
    // float ANN scores the whole ranking is deterministic and the
    // SCORES are hash-checked cross-engine (the x10 brute-force
    // pattern, with dot_e6 floored after an identically-ordered
    // double rescale). Same scan/broadcast shape as x10: one corpus
    // pass, probe side broadcast, output k-bounded.
    "x73_sq8_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      def quantized(df: DataFrame, idAs: String, codesAs: String,
                    scaleAs: String): DataFrame =
        df.withColumn("__s", sq8Scale(col("embedding")))
          .select(col("vec_id").as(idAs),
            sq8Codes(col("embedding"), col("__s")).as(codesAs),
            col("__s").as(scaleAs))
      val c = quantized(emb, "neighbor_id", "c_codes", "c_scale")
      val p = quantized(emb.filter(col("vec_id") < 10),
        "probe_id", "p_codes", "p_scale")
      val w = Window.partitionBy("probe_id")
        .orderBy(col("dot_e6").desc, col("neighbor_id"))
      c.crossJoin(broadcast(p))
        .filter(col("neighbor_id") =!= col("probe_id"))
        .withColumn("__idot",
          aggregate(zip_with(col("c_codes"), col("p_codes"), (x, y) => x * y),
            lit(0L), (a, x) => a + x))
        .withColumn("dot_e6",
          floor(lit(1000000d) * col("__idot").cast("double")
            * col("c_scale") * col("p_scale") / lit(16129d)).cast("long"))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 5)
        .select("probe_id", "neighbor_id", "dot_e6", "rnk")
        .orderBy("probe_id", "rnk")
    }),

    // CLUSTER-BALANCED SUBSET SELECTION — the semantic-diversity
    // counterpart of x69's per-source quota (the cluster-cap step a
    // balanced training mixture runs after embedding; cf. SemDeDup's
    // cluster-then-prune posture, Abbas et al. 2023): every vector is
    // assigned to its nearest of 8 fixed centroids by the IVF coarse
    // quantizer's argmax-integer-cosine (deterministic cross-engine,
    // ties to the lower centroid id), then each semantic cluster's
    // contribution is capped at Q = 25 by the bounded top-k aggregate
    // over a deterministic per-vector hash draw — survivors are a
    // uniform pseudo-random draw WITHIN each cluster, no cluster
    // dominates, and aggregate state is |clusters|·Q regardless of
    // corpus size. Scale shape: assignment is the collected-literal
    // coarse quantizer fused into the scan (Similarity
    // .assignToCentroids — no join, no shuffle), so the ONLY exchange
    // carrying data is the quota aggregation's |clusters|·Q partials;
    // the oracle replays assignment + windowed quota exactly.
    "x74_cluster_balanced_sample" -> ((s, d) => {
      val Q = 25
      implicit val enc: org.apache.spark.sql.Encoder[graft.functions.Scored] =
        org.apache.spark.sql.Encoders.product[graft.functions.Scored]
      val topk = udaf(new graft.functions.TopKAggregator(Q))
      val emb = Tables.embeddings(s, d)
      val assigned = Similarity.assignToCentroids(
        emb, emb.filter(col("vec_id") < 8))
      assigned
        .select(col("cluster"),
          TF.hash60(concat(lit("cbal:"), col("vec_id").cast("string"))).as("score"),
          col("vec_id").as("id"))
        .groupBy("cluster")
        .agg(topk(col("score"), col("id")).as("kept"))
        .select(col("cluster"), posexplode(col("kept")).as(Seq("pos", "t")))
        .select(col("cluster"), col("t.id").as("vec_id"),
          (col("pos") + 1).cast("long").as("rk"))
        .orderBy("cluster", "rk")
    }),

    // DSIR-STYLE IMPORTANCE SELECTION (Xie et al. 2023, e6-integer
    // variant — llm/Selection.scala's scaladoc): target domain =
    // doc_id % 11 == 0 (the x28 mod-split convention), features =
    // hashed word bigrams in 4096 buckets. The weight table is one
    // conditional-aggregation scan collected like a codebook; scoring
    // fuses into the raw-pool scan as a literal-array fold (no join,
    // no shuffle), and the top-100 is TakeOrderedAndProject — the
    // whole selection pass is two corpus scans however large the
    // corpus. Oracle replays buckets, integer weights, and ranking.
    "x75_dsir_select" -> ((s, d) => {
      val docs = Tables.splitForCpu(s, Tables.documents(s, d), "doc_id")
      val weights = Selection.importanceWeights(docs, col("doc_id") % 11 === 0)
      val scored = Selection.importanceScores(
        docs.filter(col("doc_id") % 11 =!= 0), weights)
      scored.orderBy(col("score_e6").desc, col("doc_id")).limit(100)
        .withColumn("rk", row_number().over(
          Window.orderBy(col("score_e6").desc, col("doc_id"))).cast("long"))
        .select("doc_id", "n_grams", "score_e6", "rk")
        .orderBy("rk")
    }),

    // DUPLICATE-SPAN SCRUB (Lee et al. 2022's remove-the-substring
    // posture; Dedup.scrubDuplicateSpans scaladoc has the scale
    // story): every word 5-gram shared by >= 2 distinct docs is
    // scrubbed from ALL of them; the rewritten corpus — full
    // text_scrubbed strings — is hash-compared against the oracle's
    // independent replay, so the transform itself (not just counts)
    // is cross-engine exact.
    "x76_dup_span_scrub" -> ((s, d) =>
      Dedup.scrubDuplicateSpans(
          Tables.splitForCpu(s, Tables.documents(s, d), "doc_id"))
        .orderBy("doc_id")),

    // PRIORITY SAMPLING (Duffield–Lund–Thorup, JACM 2007; Ohlsson's
    // sequential Poisson sampling) — the WEIGHTED counterpart of
    // q21's uniform seeded sample and x69's unweighted quota: doc
    // weight = n_chars, priority = w·2^20 DIV u for a deterministic
    // per-doc hash draw u ∈ [1, 2^20], keep the top 48 priorities,
    // and attach the published estimator est = max(w, τ) with τ = the
    // 49th priority — Σ est over the sample is unbiased for Σ w over
    // the corpus, which is what lets a 48-doc sample answer
    // "how many chars does this source hold" at any corpus size.
    // All-integer (DIV truncation = DuckDB // on these nonnegative
    // operands), so priorities and the estimator hash cross-engine.
    // Scale shape: priority is a pure projection; top-49 is
    // TakeOrderedAndProject (per-partition top, driver merge); the
    // window + τ join run on 49 rows.
    "x77_priority_sample" -> ((s, d) => {
      val scored = Tables.splitForCpu(s, Tables.documents(s, d), "doc_id")
        .select(col("doc_id"), col("n_chars"))
        .withColumn("u", pmod(
          TF.hash60(concat(lit("prio:"), col("doc_id").cast("string"))),
          lit(1048576L)) + 1L)
        .withColumn("priority", expr("(n_chars * 1048576) DIV u"))
      // two consumers (the τ row + the kept 48) — materialize the
      // 49-row take once so the corpus scans once (the x28 rule)
      val top = scored
        .orderBy(col("priority").desc, col("doc_id")).limit(49)
        .withColumn("rk", row_number().over(
          Window.orderBy(col("priority").desc, col("doc_id"))).cast("long"))
        .localCheckpoint(true)
      val tau = top.filter(col("rk") === 49).select(col("priority").as("tau"))
      top.filter(col("rk") <= 48).crossJoin(broadcast(tau))
        .select(col("doc_id"), col("n_chars"), col("priority"), col("rk"),
          greatest(col("n_chars"), col("tau")).as("est"))
        .orderBy("rk")
    }),

    // BENCHMARK DECONTAMINATION SCRUB (Dedup.scrubBenchmarkSpans —
    // x76's machinery with the span source swapped to x28's benchmark
    // slice doc_id % 97 == 0): every 5-gram present in any benchmark
    // doc is removed from every training doc, and the rewritten
    // training corpus is the output — the remove-the-leak transform
    // whose audit is x28's contamination score. Benchmark grams
    // broadcast (the x28 rule), so the corpus gram stream never
    // shuffles for the cover join.
    "x78_decontaminate" -> ((s, d) =>
      Dedup.scrubBenchmarkSpans(
          Tables.splitForCpu(s, Tables.documents(s, d), "doc_id"),
          benchPred = col("doc_id") % 97 === 0)
        .orderBy("doc_id"))
  )

  // TOKEN-BUDGET MIXTURE ALLOCATION (waterfilling) + budget-capped
  // sampling — the mixture-construction step between "target weights"
  // and an actual corpus draw (the Pile/DoReMi posture: a source too
  // small for its target weight saturates, its shortfall
  // redistributes proportionally over the rest): given budget
  // B = 60 000 chars and target weights 200 000 e6 for src0–src3 /
  // 12 500 e6 for the rest, compute the exact waterfilling
  // allocation in PURE INTEGER arithmetic — sources sorted by
  // saturation level T·(WSCALE DIV w) (WSCALE = 200 000 is divisible
  // by both weight values, so the sort is the exact rational T/w
  // order; arbitrary weights would sort by cross-multiplied rational
  // comparison), the saturation test cross-multiplied
  // (T·(1e6−cumW) ≤ (B−cumT)·w — no division, no rounding), and the
  // unsaturated share floor-divided. Then APPLY it: per-source
  // hash-ordered cumulative character sums keep each source's docs
  // until its allocation is spent. Scale shape: the solver runs on
  // |sources| rows (a 20-row window; broadcast back); the apply pass
  // is one shuffle by source + per-source cumsum — at extreme
  // per-source volume the cumsum quota would switch to x66's
  // distribution-count threshold instead of a sort, the documented
  // trade.
  private def budgetMixture: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x79_budget_mixture" -> ((s, d) => {
      val B = 60000L
      val docs = Tables.splitForCpu(s, Tables.documents(s, d), "doc_id")
        .select(col("doc_id"), col("source"), col("n_chars"))
      // |sources| rows feeding three solver consumers (window, sums,
      // alloc) — materialize once so the corpus aggregates once
      val stats = docs.groupBy("source").agg(sum("n_chars").as("t"))
        .withColumn("w_e6",
          when(expr("CAST(substring(source, 4, 10) AS BIGINT)") < 4,
            lit(200000L)).otherwise(lit(12500L)))
        .withColumn("k", expr("t * (200000 DIV w_e6)"))
        .localCheckpoint(true)
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
        .select(col("source"), col("saturated").cast("long").as("saturated"),
          col("alloc"))
      val drawn = docs
        .withColumn("draw",
          TF.hash60(concat(lit("bud:"), col("doc_id").cast("string"))))
        .withColumn("cum_chars", sum("n_chars").over(
          Window.partitionBy("source").orderBy(col("draw"), col("doc_id"))))
      drawn.join(broadcast(alloc), "source")
        .filter(col("cum_chars") <= col("alloc"))
        .select(col("doc_id"), col("source"), col("n_chars"),
          col("cum_chars"), col("alloc"), col("saturated"))
        .orderBy("source", "cum_chars")
    }),

    // WEIGHTED FAIR INTERLEAVE — mixture-aware deterministic training
    // ORDER (weighted fair queueing / virtual-time scheduling applied
    // to data ordering: a 0.2-weight source appears 16× as often as a
    // 0.0125-weight source at EVERY prefix, not just in expectation —
    // the property a curriculum needs so early training sees the
    // target mixture): each source's k-th doc (hash order) gets
    // virtual time k · (10^12 DIV w_e6) — exact integers because both
    // weight values divide 10^12 — and the global order sorts by
    // (vt, source, k). Scale shape: per-source rank is one shuffle by
    // source; the global order is a sort by vt, which the
    // training-order writer performs anyway (x33) — at cluster scale
    // that sort range-partitions on vt instead of the single-window
    // toy form here.
    "x80_weighted_interleave" -> ((s, d) => {
      val docs = Tables.splitForCpu(s, Tables.documents(s, d), "doc_id")
        .select(col("doc_id"), col("source"))
        .withColumn("w_e6",
          when(expr("CAST(substring(source, 4, 10) AS BIGINT)") < 4,
            lit(200000L)).otherwise(lit(12500L)))
        .withColumn("draw",
          TF.hash60(concat(lit("wrr:"), col("doc_id").cast("string"))))
      docs
        .withColumn("k", row_number().over(
          Window.partitionBy("source").orderBy(col("draw"), col("doc_id")))
          .cast("long"))
        .withColumn("vt", expr("k * (1000000000000 DIV w_e6)"))
        .withColumn("pos", row_number().over(
          Window.orderBy(col("vt"), col("source"), col("k"))).cast("long"))
        .select("doc_id", "source", "k", "vt", "pos")
        .orderBy("pos")
    })
  )

  // FILL-IN-THE-MIDDLE TRANSFORM (Bavarian et al. 2022, "Efficient
  // Training of Language Models to Fill in the Middle") — the
  // document-level augmentation between corpus and tokenizer: for a
  // hash-chosen half of the docs (the paper's FIM rate), pick two
  // character cut points (the paper splits at character level before
  // tokenization), partition text into prefix/middle/suffix, and emit
  // the PSM reordering <PRE>prefix<SUF>suffix<MID>middle; the other
  // half passes through verbatim. Everything — the rate draw, both
  // cuts, the rewritten string itself — is deterministic hash
  // arithmetic, so the transformed corpus hash-matches the oracle's
  // independent replay. Scale shape: a pure projection (zero joins,
  // zero shuffles, zero state) — the ideal map-only corpus transform;
  // the one ORDER BY is the dump's presentation sort.
  private def fimAndEpochs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x81_fim_transform" -> ((s, d) => {
      val docs = Tables.splitForCpu(s, Tables.documents(s, d), "doc_id")
        .select(col("doc_id"), col("text"), col("n_chars"))
        .withColumn("fim", pmod(
          TF.hash60(concat(lit("fim?:"), col("doc_id").cast("string"))),
          lit(2L)) === 0L)
        .withColumn("c1", pmod(
          TF.hash60(concat(lit("fim1:"), col("doc_id").cast("string"))),
          col("n_chars") + 1L))
        .withColumn("c2", pmod(
          TF.hash60(concat(lit("fim2:"), col("doc_id").cast("string"))),
          col("n_chars") + 1L))
        .withColumn("lo", least(col("c1"), col("c2")))
        .withColumn("hi", greatest(col("c1"), col("c2")))
      docs.select(
        col("doc_id"),
        col("fim").cast("long").as("fim"),
        when(col("fim"), col("lo")).otherwise(lit(-1L)).as("lo"),
        when(col("fim"), col("hi")).otherwise(lit(-1L)).as("hi"),
        when(col("fim"), concat(
            lit("<PRE>"), col("text").substr(lit(1), col("lo")),
            lit("<SUF>"), col("text").substr(col("hi") + 1,
              col("n_chars") - col("hi")),
            lit("<MID>"), col("text").substr(col("lo") + 1,
              col("hi") - col("lo"))))
          .otherwise(col("text")).as("text_fim"))
        .orderBy("doc_id")
    }),

    // EPOCH-BASED MIXTURE UP-SAMPLING — x79's complement: waterfilling
    // TRUNCATES sources down to a budget; real pretraining mixtures
    // also UP-SAMPLE small high-weight sources across multiple epochs
    // (the Pile's epochs column; Llama's per-source epoch counts).
    // Given budget B chars and target weights w, each source's target
    // is B·w DIV 1e6 chars = n_full whole epochs (target DIV t) plus a
    // fractional tail (target MOD t chars, drawn hash-ordered). The
    // output is the REPETITION INDEX (doc_id, copy) — at 100 TB you
    // materialize which copy of which doc each epoch trains on, never
    // the duplicated text. Scale shape: the solver is a |sources|-row
    // aggregate broadcast back; whole epochs come from
    // explode(sequence(1, n_full)) — NARROW, no shuffle, output-linear;
    // the tail is one shuffle by source + per-source cumsum (x79's
    // apply pass). n_full >= 1 is filtered BEFORE the explode because
    // Spark's sequence(1, 0) steps DOWNWARD ([1, 0]) rather than
    // returning empty.
    "x82_epoch_mixture" -> ((s, d) => {
      val B = 3000000L
      val docs = Tables.splitForCpu(s, Tables.documents(s, d), "doc_id")
        .select(col("doc_id"), col("source"), col("n_chars"))
      val stats = docs.groupBy("source").agg(sum("n_chars").as("t"))
        .withColumn("w_e6",
          when(expr("CAST(substring(source, 4, 10) AS BIGINT)") < 4,
            lit(200000L)).otherwise(lit(12500L)))
        .withColumn("target", expr(s"($B * w_e6) DIV 1000000"))
        .withColumn("n_full", expr("target DIV t"))
        .withColumn("rem", expr("target % t"))
        .localCheckpoint(true) // |sources| rows, two consumers below
      val withStats = docs.join(
        broadcast(stats.select("source", "n_full", "rem")), "source")
      val full = withStats.filter(col("n_full") >= 1L)
        .select(col("doc_id"), col("source"),
          explode(sequence(lit(1L), col("n_full"))).as("copy"),
          col("n_chars"))
      val tail = withStats
        .withColumn("draw",
          TF.hash60(concat(lit("ep:"), col("doc_id").cast("string"))))
        .withColumn("cum", sum("n_chars").over(
          Window.partitionBy("source").orderBy(col("draw"), col("doc_id"))))
        .filter(col("cum") <= col("rem"))
        .select(col("doc_id"), col("source"),
          (col("n_full") + 1L).as("copy"), col("n_chars"))
      full.unionByName(tail)
        .select(col("doc_id"), col("source"), col("copy"), col("n_chars"))
        .orderBy("source", "doc_id", "copy")
    }),

    // GOPHER QUALITY RULES (Rae et al. 2021 §A1.1, the heuristics
    // RefinedWeb/FineWeb inherit) — the published document-quality
    // composite as ONE integer-rational projection: word count in
    // [50, 100k], mean word length in [3, 10] (cross-multiplied —
    // 3n ≤ chars ≤ 10n, no division), ≥80% of words contain an
    // alphabetic character, ≤30% of words end in an ellipsis, and at
    // least 2 of 8 designated function words present (the published
    // rule uses English's the/be/to/of/and/that/have/with; this
    // corpus is synthetic SQL-ish prose with no English function
    // words, so the set is its 8 most common tokens — the rule's
    // structure, presence-of-common-vocabulary, unchanged). Each rule is its
    // own flag column (the audit view) plus the conjunction `pass`
    // (the filter): a quality fleet wants to know WHY a doc fails,
    // not just that it failed. Scale shape: one scan, zero joins/
    // shuffles — the canonical map-only corpus filter; every
    // comparison is exact integer arithmetic so all six flags and the
    // five counters hash cross-engine.
    "x83_gopher_rules" -> ((s, d) => {
      val stops = Seq("scan", "column", "window", "order",
        "sort", "part", "agg", "value")
      Tables.splitForCpu(s, Tables.documents(s, d), "doc_id")
        .select(col("doc_id"), TF.tokens(col("text")).as("w"))
        .withColumn("wl", transform(col("w"), x => lower(x)))
        .withColumn("n_words", size(col("w")).cast("long"))
        .withColumn("word_chars",
          aggregate(col("w"), lit(0L), (a, x) => a + length(x)))
        .withColumn("alpha_words",
          size(filter(col("w"), x => x.rlike("[a-zA-Z]"))).cast("long"))
        .withColumn("ellipsis_words",
          size(filter(col("w"), x => x.endsWith("..."))).cast("long"))
        .withColumn("stop_hits",
          stops.map(t => array_contains(col("wl"), t).cast("long"))
            .reduce(_ + _))
        .withColumn("r_word_count",
          (col("n_words") >= 50L && col("n_words") <= 100000L).cast("long"))
        .withColumn("r_mean_word_len",
          (col("word_chars") >= col("n_words") * 3L &&
            col("word_chars") <= col("n_words") * 10L).cast("long"))
        .withColumn("r_alpha_ratio",
          (col("alpha_words") * 10L >= col("n_words") * 8L).cast("long"))
        .withColumn("r_ellipsis",
          (col("ellipsis_words") * 10L <= col("n_words") * 3L).cast("long"))
        .withColumn("r_stopwords", (col("stop_hits") >= 2L).cast("long"))
        .withColumn("pass",
          (col("r_word_count") * col("r_mean_word_len") *
            col("r_alpha_ratio") * col("r_ellipsis") *
            col("r_stopwords")).cast("long"))
        .select("doc_id", "n_words", "word_chars", "alpha_words",
          "ellipsis_words", "stop_hits", "r_word_count", "r_mean_word_len",
          "r_alpha_ratio", "r_ellipsis", "r_stopwords", "pass")
        .orderBy("doc_id")
    }),

    // GOPHER REPETITION RULES (Rae et al. 2021 §A1.1, Table A1 —
    // x83's other half): per document, the fraction of characters in
    // the MOST FREQUENT word n-gram for n=2..4 and the fraction of
    // characters covered by ANY duplicated word n-gram (count ≥ 2,
    // overlapping occurrences counted once — a position-set union,
    // not a sum) for n=5..10, each against its published threshold
    // (0.20/0.18/0.16 and 0.15 down to 0.10) as a flag plus the
    // conjunctive pass. Character weight = token characters
    // (separators excluded) so every fraction is exact integer
    // arithmetic. Scale shape: ONE corpus scan feeds a single
    // 9-way windowed explode (rows ∝ 9·tokens, no joins to build
    // grams); counts are one hash agg keyed (doc, n, gram) with
    // map-side combine; coverage counts come from a count window over
    // (doc, n, gh) — one in-partition sort, no second gram pass, no
    // shuffle of the duplicated slice — and token lengths resolve via
    // an exchange-free doc-keyed array join; nothing quadratic, no
    // driver state.
    "x84_gopher_repetition" -> ((s, d) =>
      graft.llm.Repetition.gopherRepetition(
        Tables.splitForCpu(s, Tables.documents(s, d), "doc_id")
          .select("doc_id", "text"))),

    // CCNET-STYLE PERPLEXITY SPLIT (Wenzek et al. 2020's head/middle/
    // tail): score every doc with the corpus bigram LM (x61's
    // integer-rational arithmetic, gram stream via the native
    // shingle_gen generator) and cut each SOURCE into fluency
    // tertiles — tier 0 = the third most fluent under the corpus LM
    // (CCNet keeps "head", trains on head+middle, drops tail). Rank
    // tie-break is (mean_p desc, doc_id), so the split is
    // deterministic and the oracle replays it verbatim. Docs below
    // two tokens have no bigrams and are unscorable — excluded, as
    // CCNet drops undecidable docs. Scale shape: LM counts are two
    // hash aggs broadcast back over the gram stream (vocabulary-
    // sized); the tertile cut is ONE per-source ranked window — the
    // same range-partitioned sort the training-order writer performs
    // anyway (x33/x80's posture), and the only data-sized exchange
    // after scoring.
    "x85_perplexity_split" -> ((s, d) => {
      val bi = Tables.splitForCpu(s, Tables.documents(s, d), "doc_id")
        .select(col("doc_id"), col("source"), expr("shingle_gen(text, 2)"))
        .select(col("doc_id"), col("source"), col("shingle").as("bg"),
          substring_index(col("shingle"), " ", 1).as("w1"))
        .localCheckpoint(true) // three consumers: c2, c1, the scoring join
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
      scored.join(broadcast(counts), "source")
        .withColumn("rk", row_number().over(Window.partitionBy("source")
          .orderBy(col("mean_p_e6").desc, col("doc_id"))).cast("long"))
        .withColumn("tier", expr("CAST((3 * (rk - 1)) DIV n_src AS BIGINT)"))
        .select("doc_id", "source", "mean_p_e6", "tier")
        .orderBy("doc_id")
    }),

    // PERSISTED IVF-PQ PROBE (VERDICT r11 ask #1): x41's search over
    // an index that lives ON DISK — centroids, codebooks, and the
    // cluster-partitioned inverted lists are parquet relations built
    // once (the cached fixture; Verify's first run exercises the full
    // create), and the query is the READ PATH alone: probe-side
    // assignment + integer LUT (tiny), partition pruning opens only
    // the probed lists' directories, broadcast ADC join. ZERO
    // training work at probe time — at 100 TB this is the difference
    // between an index and a per-query batch job. Same dials as x41
    // (sample ids < 8 for both quantizers, m=8, subDim=8, k=3,
    // nprobe=2), so the answer hash-matches x41's oracle verbatim:
    // persistence changes where the codes live, never what they say.
    // Since r13 the probe goes through CATALOG DISCOVERY (VERDICT r12
    // ask #2): the build registers kind=ivfpq in the table's
    // `_graft_indexes` sidecar (under a scratch table copy — the
    // testdata dir is read-only) and the query states only (probes,
    // k, nprobe) — no index path. The copy preserves row values, so
    // quantizers, codes, and the probe answer are unchanged.
    "x86_persisted_ivfpq_probe" -> ((s, d) => {
      val root = graft.core.Scratch.cachedDir(s"x86_ivfpq_$d") { r =>
        s.read.parquet(s"$d/embeddings.parquet").write.parquet(s"$r/vecs")
        graft.operators.IvfPqIndex(s"$r/vecs", s"$r/idx").create(s)
        graft.sources.IndexAdvisor.register(s, s"$r/vecs", "ivfpq", s"$r/idx",
          Seq("vec_id", "embedding"),
          Map("m" -> "8", "subDim" -> "8", "sampleSize" -> "8"))
      }
      graft.sources.IndexAdvisor.probeDiscovered(s, s"$root/vecs",
          Tables.embeddings(s, d).filter(col("vec_id") % 97 === 0),
          k = 3, nprobe = 2)
        .orderBy("probe_id", "rnk")
    }),

    // QUANTIZER-DRIFT MONITORING on the persisted ANN index (VERDICT
    // r12 ask #5): appends encode against FROZEN quantizers forever —
    // answer-parity demands it — so a drifting embedding distribution
    // degrades recall with no stale file to show for it. The index
    // records each batch's raw-PQ reconstruction error (x45's measured
    // quantity) beside its provenance; this entry drives the full
    // story — create on the corpus, one answer-parity append (same
    // vectors, new ids: error identical to create's), one SHIFTED
    // append (+3.0 per coordinate: the frozen books stop explaining
    // the data) — and outputs the pooled per-phase error view plus the
    // staleQuantizer retrain verdict, all integer-exact under the
    // DuckDB oracle.
    "x87_quantizer_drift" -> ((s, d) => {
      val root = graft.core.Scratch.cachedDir(s"x87_drift_$d") { r =>
        val base = s.read.parquet(s"$d/embeddings.parquet")
        base.write.parquet(s"$r/vecs")
        val idx = graft.operators.IvfPqIndex(s"$r/vecs", s"$r/idx")
        idx.create(s)
        val pre1 = graft.operators.ZoneMap.dataFiles(s, s"$r/vecs").toSet
        base.select((col("vec_id") + 10000000L).as("vec_id"), col("embedding"))
          .write.mode("append").parquet(s"$r/vecs")
        idx.append(s, graft.operators.ZoneMap.dataFiles(s, s"$r/vecs")
          .filterNot(pre1).toSeq)
        val pre2 = graft.operators.ZoneMap.dataFiles(s, s"$r/vecs").toSet
        base.select((col("vec_id") + 20000000L).as("vec_id"),
            transform(col("embedding"), x => x + lit(3.0f)).as("embedding"))
          .write.mode("append").parquet(s"$r/vecs")
        idx.append(s, graft.operators.ZoneMap.dataFiles(s, s"$r/vecs")
          .filterNot(pre2).toSeq)
      }
      val idx = graft.operators.IvfPqIndex(s"$root/vecs", s"$root/idx")
      val stale = idx.staleQuantizer(s)
      idx.quantizerDrift(s)
        .select(col("phase"), col("n"), col("sum_err_e9"), col("mean_err_e9"),
          lit(if (stale) 1L else 0L).as("stale"))
        .orderBy("phase")
    }),

    // INCREMENTAL cluster maintenance (Dedup.incrementalComponents —
    // the delta verb the dedup-index family lacked): the corpus is
    // split x19-style (doc_id % 10 == 0 is the just-landed batch),
    // full CC labels exist for the OLD corpus only, the batch brings
    // its delta edges (new-vs-old via incrementalCandidates against
    // the old band index + new-vs-new via minhashCandidates on the
    // batch alone), and incrementalComponents folds them in by
    // relabeling ONLY touched components — two streamed label-table
    // scans against broadcast batch-sized frames, label-level CC on a
    // batch-sized graph, the corpus' own edges never recomputed. The
    // oracle is the FULL-corpus transitive closure (x20's lab CTE):
    // the hash match IS the proof that batch-incremental maintenance
    // equals recomputing clusters from scratch over the union corpus.
    "x88_incremental_clusters" -> ((s, d) => {
      val docs = Tables.splitForCpu(s, Tables.documents(s, d), "doc_id")
      val old = docs.filter(col("doc_id") % 10 =!= 0)
      val batch = docs.filter(col("doc_id") % 10 === 0)
      // ONE text→signature pass per side (the round-16 sig-reuse
      // rule): the old corpus' sigs feed both its labels and the
      // distinct index; the batch's sigs feed both candidate probes —
      // the previous shape ran the minhash kernel twice over EACH
      // side. DISK_ONLY: the sig relation is corpus-sized (the
      // data-sized checkpoint rule). Values unchanged
      // (minhashCandidates ≡ candidatesFromSigs∘docSigs by definition;
      // the full-closure oracle pins the clusters).
      val oldSigs = Dedup.docSigs(old, "text", "doc_id")
        .localCheckpoint(true, org.apache.spark.storage.StorageLevel.DISK_ONLY)
      val batchSigs = Dedup.docSigs(batch, "text", "doc_id")
        .localCheckpoint(true)
      val oldLabels = Dedup.connectedComponents(
        Dedup.candidatesFromSigs(oldSigs, "doc_id", assumeUnique = true),
        "doc_a", "doc_b")
      // the SIGNATURE-DISTINCT index (bandIndexDistinct): same
      // connectivity as the member-level index — identical sigs carry
      // identical bands — at (distinct sigs)/(docs) the join size; the
      // full-closure oracle below proves the equality, since the
      // resulting CLUSTERS must still match the member-level truth
      val newVsOld = Dedup.incrementalCandidatesFromSigs(batchSigs,
          Dedup.bandIndexDistinctFromSigs(oldSigs, "doc_id"), "doc_id")
        .select(col("new_id").as("doc_a"), col("old_id").as("doc_b"))
      val newVsNew = Dedup.candidatesFromSigs(batchSigs, "doc_id",
          materialize = false, assumeUnique = true)
        .select("doc_a", "doc_b")
      Dedup.incrementalComponents(oldLabels,
          newVsOld.unionByName(newVsNew), "doc_a", "doc_b")
        .select(col("node").as("doc_id"), col("label").as("cluster_rep"))
        .orderBy("doc_id")
    }),

    // The DELETION lifecycle (VERDICT r13 ask #1 — the complement of
    // x88's additions-only fold): the corpus is fingerprinted ONCE into
    // the persisted bucketed DedupIndex table, a tombstone batch
    // (doc_id % 10 == 3 — at sf0.01 it contains a genuine BRIDGE doc,
    // so one component SPLITS) is compacted out, and labels are
    // RECOMPUTED from the retained fingerprint rows alone
    // (Dedup.candidatesFromIndex: band-0 slice → exact-signature
    // collapse → rep band self-join — document text is never
    // re-shingled; the delete costs a retained-fingerprint rescan, not
    // a corpus re-fingerprint). The oracle is the full transitive
    // closure over corpus∖deleted: the hash match proves tombstone-
    // compact + retained-pair relabel equals a from-scratch run on the
    // retained corpus, splits included. Index build + compact are
    // lifecycle fixture (the q74/x86 discipline); the timed path is
    // the relabel a deployment pays per deletion batch.
    "x89_delete_relabel" -> ((s, d) => {
      val tag = java.security.MessageDigest.getInstance("SHA-256")
        .digest(d.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
      graft.core.Scratch.cachedDir(s"x89_delidx_$d") { r =>
        val docs = Tables.splitForCpu(s, Tables.documents(s, d), "doc_id")
        s.sql(s"DROP TABLE IF EXISTS g89_fp_$tag")
        s.sql(s"DROP TABLE IF EXISTS g89_fp_kept_$tag")
        DedupIndex.create(docs, "text", "doc_id",
          s"g89_fp_$tag", s"$r/fp", buckets = 8)
        DedupIndex.compact(s, s"g89_fp_$tag", s"g89_fp_kept_$tag",
          s"$r/fp_kept",
          tombstones = docs.filter(col("doc_id") % 10 === 3)
            .select("doc_id"),
          "doc_id")
      }
      DedupIndex.relabel(s, s"g89_fp_kept_$tag")
        .select(col("node").as("doc_id"), col("label").as("cluster_rep"))
        .orderBy("doc_id")
    }),

    // ANN DELETION (x89's sibling for the other content index family):
    // tombstoned vectors (vec_id % 9 == 4) leave the persisted IVF-PQ
    // index via IvfPqIndex.delete — only dirty cluster directories are
    // rewritten (dynamic partition overwrite; emptied lists removed),
    // quantizers stay FROZEN, nothing re-encodes. The oracle encodes
    // corpus∖deleted against the PRE-DELETION quantizers (the full
    // table's id-prefix sample — frozen-quantizer semantics) and runs
    // the x41 ADC arithmetic over retained vectors only: the hash
    // match proves dropping code rows IS the retained rebuild's
    // answer. Probes are retained ids (% 97 == 0 ∧ % 9 != 4 — deleted
    // docs don't query). Build + delete are lifecycle fixture; the
    // timed path is the post-delete probe a deployment serves.
    "x90_ann_delete" -> ((s, d) => {
      val root = graft.core.Scratch.cachedDir(s"x90_anndel_$d") { r =>
        s.read.parquet(s"$d/embeddings.parquet").write.parquet(s"$r/vecs")
        val idx = graft.operators.IvfPqIndex(s"$r/vecs", s"$r/idx")
        idx.create(s)
        idx.delete(s, s.read.parquet(s"$r/vecs")
          .filter(col("vec_id") % 9 === 4).select("vec_id"))
      }
      graft.operators.IvfPqIndex(s"$root/vecs", s"$root/idx")
        .probe(s,
          Tables.embeddings(s, d)
            .filter(col("vec_id") % 97 === 0 && col("vec_id") % 9 =!= 4),
          k = 3, nprobe = 2)
        .orderBy("probe_id", "rnk")
    }),

    // PERCEPTUAL-HASH multimodal near-dup (VERDICT r14 ask #3 — the
    // multimodal category's first similarity operator, the step an
    // image-text pipeline runs right after text dedup): the decode
    // stage emits a dHash-style 60-bit difference fingerprint over the
    // decoded payload bytes (Multimodal.dhash60OfBytes — 61
    // nearest-neighbor samples, one bit per adjacent unsigned
    // comparison; integer-exact, so DuckDB renders it bit-for-bit),
    // then exact-hash groups collapse to star edges (candidates LINEAR
    // in duplicate-group size — the minhash collapseExact theorem) and
    // distinct-hash representatives meet through 4×15-bit Hamming
    // bands (pigeonhole: ≤3 differing bits leave ≥1 band clean) with
    // an exact bit_count(xor) confirm — never all-pairs. The corpus is
    // the MULTI-RENDITION ingest perceptual dedup exists for: every
    // asset arrives again as a 2× nearest-neighbor upscale (different
    // bytes, same image — fingerprint-IDENTICAL by the ⌊⌊kx⌋/k⌋=⌊x⌋
    // sampling identity, so renditions land as star edges), and a
    // fifth once more with one corrupted sample ("re-encode artifact"
    // — hamming 1–2, the banded join's true positives; 64 such pairs
    // at sf0.01). The oracle reconstructs the renditions AND the
    // fingerprints character by character and lists pairs brute-force
    // over representatives — deliberately WITHOUT the banding — so
    // the hash match proves the fingerprint arithmetic, the upscale
    // invariance, and the 4-band pigeonhole's completeness at once.
    "x91_perceptual_neardup" -> ((s, d) => {
      import graft.llm.Multimodal.mediaRecordEnc
      val media = Multimodal.fromDocuments(
        Tables.splitForCpu(s, Tables.documents(s, d), "doc_id"))
      val up = Multimodal.resize(media, 2, Multimodal.upscaleStub)
      val renditions = up.map(r => r.copy(doc_id = r.doc_id + 1000000L))
      val corrupted = up.filter((r: graft.llm.MediaRecord) => r.doc_id % 5 == 0)
        .map { r =>
          val b = r.media.clone()
          if (b.nonEmpty) b((30L * b.length / 61L).toInt) = 'z'.toByte
          r.copy(doc_id = r.doc_id + 2000000L, media = b)
        }
      val feats = Multimodal.extractFeatures(
          media.unionByName(renditions).unionByName(corrupted)).toDF()
        .select(col("doc_id"), col("dhash60"))
      Multimodal.perceptualNearDupPairs(feats, "doc_id", "dhash60",
          maxHamming = 3L)
        .orderBy("doc_a", "doc_b")
    }),

    // SCOPED deletion relabel (VERDICT r14 ask #1 — x89's verb with
    // the O(corpus) recompute replaced): deletions can only change
    // components that CONTAINED a tombstone (edges are pure functions
    // of their endpoints' signatures — removal deletes edges, never
    // creates one), so DedupIndex.relabelScoped recomputes candidates
    // + CC over exactly the touched components' retained members —
    // collected on the driver when they fit (Dedup.scopedDelete), else
    // one streamed sidecar scan against gated tombstone-derived sets;
    // untouched labels pass through VERBATIM from the persisted
    // prior fixpoint (DedupSpec proves the passthrough by poisoning).
    // Tombstones apply LOGICALLY (pre-compact table), so the physical
    // rewrite stays a scheduled maintenance pass and the per-takedown
    // cost is ∝ touched-component rows, flat in corpus size
    // (SCALE_r15). Same tombstone set and same DuckDB closure oracle
    // as x89 — including the bridge-doc SPLIT — so the hash match
    // proves scoped == full recompute == from-scratch on corpus∖
    // deleted. Index + prior-labels build are lifecycle fixture; the
    // timed path is the scoped relabel a deployment pays per batch.
    "x92_delete_relabel_scoped" -> ((s, d) => {
      val tag = java.security.MessageDigest.getInstance("SHA-256")
        .digest(d.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
      val root = graft.core.Scratch.cachedDir(s"x92_delidx_$d") { r =>
        val docs = Tables.splitForCpu(s, Tables.documents(s, d), "doc_id")
        s.sql(s"DROP TABLE IF EXISTS g92_fp_$tag")
        DedupIndex.create(docs, "text", "doc_id",
          s"g92_fp_$tag", s"$r/fp", buckets = 8)
        // the persisted pre-deletion fixpoint a deployment keeps next
        // to the index — scoped relabel's second input
        DedupIndex.relabel(s, s"g92_fp_$tag").write.parquet(s"$r/labels")
      }
      DedupIndex.relabelScoped(s, s"g92_fp_$tag",
          tombstones = Tables.documents(s, d)
            .filter(col("doc_id") % 10 === 3).select("doc_id"),
          priorLabels = s.read.parquet(s"$root/labels"),
          materialize = false)
        .select(col("node").as("doc_id"), col("label").as("cluster_rep"))
        .orderBy("doc_id")
    }),

    // 2-D dHash over the same multi-rendition corpus as x91 (VERDICT
    // r15 ask #6): the production grid form — 4×16 row-major samples,
    // 15 within-row adjacent comparisons per row, 60 bits — through
    // the SAME decode seam ([[Multimodal.fingerprints]] at grid dials)
    // and the SAME 4-band pigeonhole join. The ⌊⌊kx⌋/k⌋=⌊x⌋ upscale
    // identity holds per grid point for ANY grid (MultimodalSpec pins
    // it), so renditions still collapse to star edges; the oracle
    // re-derives the 60 grid bits character by character and lists
    // pairs brute-force over representatives — banding-free, so the
    // compare proves the grid arithmetic AND the banding completeness
    // on grid-form hashes at once (the x91 discipline verbatim).
    "x91b_perceptual_grid_neardup" -> ((s, d) => {
      import graft.llm.Multimodal.mediaRecordEnc
      val media = Multimodal.fromDocuments(
        Tables.splitForCpu(s, Tables.documents(s, d), "doc_id"))
      val up = Multimodal.resize(media, 2, Multimodal.upscaleStub)
      val renditions = up.map(r => r.copy(doc_id = r.doc_id + 1000000L))
      val corrupted = up.filter((r: graft.llm.MediaRecord) => r.doc_id % 5 == 0)
        .map { r =>
          val b = r.media.clone()
          if (b.nonEmpty) b((30L * b.length / 61L).toInt) = 'z'.toByte
          r.copy(doc_id = r.doc_id + 2000000L, media = b)
        }
      val fps = Multimodal.fingerprints(
        media.unionByName(renditions).unionByName(corrupted).toDF()
          .select("doc_id", "media"),
        "media", "doc_id", gridRows = 4, gridCols = 16)
      Multimodal.perceptualNearDupPairs(fps, "doc_id", "ph", maxHamming = 3L)
        .orderBy("doc_a", "doc_b")
    }),

    // The PERSISTED perceptual index probe (VERDICT r15 ask #2): x91's
    // corpus fingerprinted ONCE at create time into the
    // PerceptualHashIndex relations (doc-level fps + hash-distinct
    // kept reps — text dedup's lifecycle discipline), registered in
    // the table's catalog, and the near-dup listing recomputed from
    // the PERSISTED state alone through catalog discovery
    // (IndexAdvisor.perceptualPairsDiscovered) — the decode stage
    // never re-runs on the probe path. Same answer as x91 VERBATIM
    // under the same banding-free brute-force oracle: create-time
    // representatives are group minima, so the index probe's star
    // edges and banded rep pairs land on exactly the one-shot
    // operator's rows. Index build is lifecycle fixture; the timed
    // path is the probe a deployment serves per audit.
    "x93_perceptual_index_probe" -> ((s, d) => {
      val root = graft.core.Scratch.cachedDir(s"x93_phidx_$d") { r =>
        import graft.llm.Multimodal.mediaRecordEnc
        val media = Multimodal.fromDocuments(
          Tables.splitForCpu(s, Tables.documents(s, d), "doc_id"))
        val up = Multimodal.resize(media, 2, Multimodal.upscaleStub)
        val renditions = up.map(r => r.copy(doc_id = r.doc_id + 1000000L))
        val corrupted = up.filter((r: graft.llm.MediaRecord) => r.doc_id % 5 == 0)
          .map { r =>
            val b = r.media.clone()
            if (b.nonEmpty) b((30L * b.length / 61L).toInt) = 'z'.toByte
            r.copy(doc_id = r.doc_id + 2000000L, media = b)
          }
        media.unionByName(renditions).unionByName(corrupted).toDF()
          .select("doc_id", "media").write.parquet(s"$r/media")
        graft.operators.PerceptualHashIndex(
          s"$r/media", "media", "doc_id", s"$r/ph").create(s)
        graft.sources.IndexAdvisor.register(s, s"$r/media", "perceptual",
          s"$r/ph", Seq("media", "doc_id"))
      }
      graft.sources.IndexAdvisor.perceptualPairsDiscovered(s, s"$root/media")
        .orderBy("doc_a", "doc_b")
    })
  )

  // ---------------- DuckDB oracles ----------------

  /** Squared L2 between subspace `s.m` slices of `$v` and the codeword
    * `c.cvec` — the same left-fold (index order, from 0.0) as
    * Similarity.sqDistLit, bit-for-bit.
    */
  private def pqDistSql(v: String): String =
    s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |  list_transform(range(1, 9), i ->
       |    (CAST($v[s.m*8+i] AS DOUBLE) - CAST(c.cvec[s.m*8+i] AS DOUBLE))
       |    * (CAST($v[s.m*8+i] AS DOUBLE) - CAST(c.cvec[s.m*8+i] AS DOUBLE)))),
       |  (acc, t) -> acc + t)""".stripMargin

  /** CTEs `cb` (codes 0..7 in vec-id order), `sub` (subspaces 0..7),
    * and `codes` (the PQ-encoded corpus) — the DuckDB rendering of
    * Similarity.pqCodebooks + pqEncode. `src` is the encoded relation;
    * the codebooks ALWAYS train on the full table's id-prefix sample
    * (frozen-quantizer semantics — x90 encodes corpus∖deleted against
    * the quantizers trained before the deletion).
    */
  private def pqCodesCtesOver(src: String): String =
    s"""cb AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, embedding AS cvec
       |       FROM embeddings WHERE vec_id < 8),
       |sub AS (SELECT unnest(range(0, 8)) AS m),
       |pq_d AS (SELECT e.vec_id, s.m AS subspace, c.code,
       |                ${pqDistSql("e.embedding")} AS dist
       |         FROM $src e, sub s, cb c),
       |pq_best AS (SELECT vec_id, subspace, code,
       |                   row_number() OVER (PARTITION BY vec_id, subspace
       |                                      ORDER BY dist, code) AS rn
       |            FROM pq_d),
       |codes AS (SELECT vec_id, subspace, code FROM pq_best WHERE rn = 1)""".stripMargin

  private val pqCodesCtes: String = pqCodesCtesOver("embeddings")

  /** The 60 dHash bits of the 1-D (1×61) form, re-derived character by
    * character (ascii(char) == byte for this asserted-ASCII corpus —
    * the x21 convention): bit i set when sample(i+1) > sample(i) at
    * positions ⌊j·len/61⌋.
    */
  private[queries] val x91OneDBits: String = (0 until 60).map { i =>
    s"CASE WHEN ascii(substr(payload, (${i + 1}*length(payload))//61 + 1, 1)) > " +
      s"ascii(substr(payload, ($i*length(payload))//61 + 1, 1)) " +
      s"THEN ${1L << i} ELSE 0 END"
  }.mkString(" + ")

  /** The 60 bits of the 4×16 row-major GRID form (x91b): grid point
    * (r,c) samples position ⌊(r·16+c)·len/64⌋; bit r·15+c compares
    * within-row neighbors — Multimodal.dhashGridOfBytes(_, 4, 16)'s
    * arithmetic rendered in DuckDB.
    */
  private val x91GridBits: String = (for {
    r <- 0 until 4; c <- 0 until 15
  } yield
    s"CASE WHEN ascii(substr(payload, ((${r * 16 + c + 1})*length(payload))//64 + 1, 1)) > " +
      s"ascii(substr(payload, ((${r * 16 + c})*length(payload))//64 + 1, 1)) " +
      s"THEN ${1L << (r * 15 + c)} ELSE 0 END").mkString(" + ")

  /** The perceptual near-dup oracle shared by x91/x91b/x93: the
    * multi-rendition corpus reconstructed in SQL (2× upscale via
    * repeat(char, 2); the corrupted rendition via a substr splice at
    * 1-D sample 30's position), fingerprints from `bits`, and the
    * pair set brute-force over min-id representatives — deliberately
    * WITHOUT the banding, so the hash match proves the fingerprint
    * arithmetic, the upscale invariance, and the 4-band pigeonhole's
    * completeness at once (the x70 discipline).
    */
  private[queries] def perceptualOracleSql(bits: String): String =
    s"""WITH up AS (
       |  SELECT doc_id, CASE WHEN length(text) = 0 THEN '' ELSE
       |    list_reduce(list_transform(generate_series(1, length(text)),
       |      j -> repeat(substr(text, CAST(j AS INTEGER), 1), 2)),
       |      (a, b) -> a || b) END AS u
       |  FROM documents),
       |media AS (
       |  SELECT doc_id, text AS payload FROM documents
       |  UNION ALL SELECT doc_id + 1000000, u AS payload FROM up
       |  UNION ALL SELECT doc_id + 2000000,
       |    CASE WHEN length(u) = 0 THEN u ELSE
       |      substr(u, 1, CAST((30*length(u))//61 AS INTEGER)) || 'z' ||
       |      substr(u, CAST((30*length(u))//61 + 2 AS INTEGER)) END AS payload
       |  FROM up WHERE doc_id % 5 = 0),
       |ph AS (SELECT doc_id,
       |  CAST(CASE WHEN length(payload) = 0 THEN 0 ELSE $bits END AS BIGINT) AS ph
       |  FROM media),
       |wreps AS (SELECT doc_id, ph, min(doc_id) OVER (PARTITION BY ph) AS rep
       |          FROM ph),
       |star AS (SELECT rep AS doc_a, doc_id AS doc_b, ph AS ph_a, ph AS ph_b,
       |                CAST(0 AS BIGINT) AS hamming
       |         FROM wreps WHERE rep <> doc_id),
       |r AS (SELECT doc_id, ph FROM wreps WHERE rep = doc_id),
       |rp AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |              a.ph AS ph_a, b.ph AS ph_b,
       |              CAST(bit_count(xor(a.ph, b.ph)) AS BIGINT) AS hamming
       |       FROM r a JOIN r b ON a.doc_id < b.doc_id
       |       WHERE bit_count(xor(a.ph, b.ph)) <= 3)
       |SELECT doc_a, doc_b, ph_a, ph_b, hamming FROM rp
       |UNION ALL SELECT doc_a, doc_b, ph_a, ph_b, hamming FROM star
       |ORDER BY doc_a, doc_b""".stripMargin

  /** The full transitive-closure clustering oracle over `documents
    * WHERE keptWhere` — the shared truth for every cluster-maintenance
    * entry (x88/st29 fold over the whole corpus; x89/st30 delete, so
    * their kept set excludes tombstones): whatever the incremental
    * history, labels must equal from-scratch clusters of what remains.
    */
  def closureOracleOver(keptWhere: String): String =
    s"""WITH RECURSIVE kept AS (SELECT * FROM documents WHERE $keptWhere),
       |${minhashBandsCtesOver("kept", "text")},
       |$ccClosureCtes
       |SELECT doc_id, cluster_rep FROM lab ORDER BY doc_id""".stripMargin

  /** CTEs `cents` / `all_sc` / `asg` / `resid` / `scb` — coarse
    * assignment, per-vector residuals, and the residual codebooks
    * (sample ids 8..15, codes in vec-id order): the DuckDB rendering
    * of Similarity.residualCodebooks + the residual half of
    * ivfPqResidualEncode. Shared by the x42/x43/x45 oracles so the
    * arithmetic can't drift between them.
    */
  private val residCtes: String =
    s"""cents AS (SELECT vec_id AS cent_id, embedding AS c_vec FROM embeddings WHERE vec_id < 8),
       |all_sc AS (
       |  SELECT e.vec_id, c.cent_id, ${cosSql("e.embedding", "c.c_vec")} AS c_score
       |  FROM embeddings e, cents c),
       |asg AS (
       |  SELECT vec_id, cent_id AS cluster FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY c_score DESC, cent_id) AS c_rnk
       |    FROM all_sc) WHERE c_rnk = 1),
       |resid AS (
       |  SELECT e.vec_id, a.cluster,
       |         list_transform(range(1, 65),
       |           i -> CAST(e.embedding[i] AS DOUBLE) - CAST(c.c_vec[i] AS DOUBLE)) AS r
       |  FROM embeddings e JOIN asg a USING (vec_id) JOIN cents c ON c.cent_id = a.cluster),
       |scb AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, r AS w
       |        FROM resid WHERE vec_id >= 8 AND vec_id < 16)""".stripMargin

  /** CTE `ch(doc_id, chunk_start, n_chunk_tokens)` + the epoch-0
    * shuffle-key expression — the DuckDB rendering of
    * [[chunkStarts]]/[[shuffledChunks]], shared by x31/x33/x34.
    */
  private val chunkCte: String =
    s"""ch AS (
       |  SELECT doc_id, CAST(start AS BIGINT) AS chunk_start,
       |         CAST(len(list_slice(t, start + 1, start + $ChunkContext)) AS BIGINT) AS n_chunk_tokens
       |  FROM (SELECT doc_id, t, unnest(generate_series(0, len(t) - 1, $ChunkStride)) AS start
       |        FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)))""".stripMargin

  private val shuffleKeySql: String =
    dH("'ep0:' || CAST(doc_id AS VARCHAR) || ':' || CAST(chunk_start AS VARCHAR)")

  /** One BPE learn round as DuckDB CTEs: pair counts over s{k-1},
    * the winning merge m{k} ((cnt desc, a, b) — Bpe.learn's exact
    * tiebreak), and s{k} = the merge applied as a list_reduce fold
    * with Bpe.applyMerge's scan order (a just-fused symbol never
    * re-fuses: the accumulator check is against the FULL last symbol,
    * '|'-anchored). LEFT JOIN ON TRUE keeps s{k} = s{k-1} when no
    * pairs remain, mirroring the trainer's early stop.
    */
  private def bpeRoundCtes(k: Int): String =
    s"""p$k AS (SELECT p.a AS a, p.b AS b, sum(freq) AS cnt
       |      FROM (SELECT unnest(list_transform(range(1, len(syms)),
       |                     i -> struct_pack(a := syms[i], b := syms[i + 1]))) AS p,
       |                   freq
       |            FROM s${k - 1} WHERE len(syms) >= 2)
       |      GROUP BY 1, 2),
       |m$k AS (SELECT a, b FROM p$k ORDER BY cnt DESC, a, b LIMIT 1),
       |s$k AS (SELECT w, freq,
       |             CASE WHEN m.a IS NULL THEN syms
       |                  ELSE string_split(list_reduce(syms, (acc, x) ->
       |                    CASE WHEN x = m.b AND (acc = m.a OR acc LIKE '%|' || m.a)
       |                         THEN acc || x ELSE acc || '|' || x END), '|')
       |             END AS syms
       |      FROM s${k - 1} LEFT JOIN m$k m ON TRUE)""".stripMargin

  private val sigSql: String =
    "[" + (0 until K).map { i =>
      s"list_min(list_transform(hs, h -> (${TF.MinHashA(i)}*h+${TF.MinHashB(i)})%$P))"
    }.mkString(", ") + "]"

  private val bandKeysSql: String = (0 until TF.MinHashBands).map { b =>
    val parts = (0 until TF.MinHashRows)
      .map(r => s"CAST(sig[${b * TF.MinHashRows + r + 1}] AS VARCHAR)").mkString(", ")
    dH(s"concat_ws(',', $parts)") + s" AS bk$b"
  }.mkString(",\n         ")

  private val bandCaseSql: String =
    "CASE band " + (0 until TF.MinHashBands - 1).map(b => s"WHEN $b THEN bk$b").mkString(" ") +
      s" ELSE bk${TF.MinHashBands - 1} END"

  /** CTE chain ending in `bands(doc_id, sig, band, bkey)` — the DuckDB
    * rendering of Dedup.bandIndex over `src`'s `textCol` column.
    */
  private def minhashBandsCtesOver(src: String, textCol: String): String =
    s"""toks AS (SELECT doc_id, string_split($textCol, ' ') AS t FROM $src),
       |sh AS (SELECT doc_id,
       |              list_transform(generate_series(1, len(t)-1), i -> t[i] || ' ' || t[i+1]) AS sh
       |       FROM toks),
       |hsh AS (SELECT doc_id, list_transform(sh, t -> ${dH("t")} % $P) AS hs
       |        FROM sh WHERE len(sh) > 0),
       |sigs AS (SELECT doc_id, $sigSql AS sig FROM hsh),
       |keyed AS (SELECT doc_id, sig,
       |         $bandKeysSql
       |  FROM sigs),
       |bands AS (SELECT doc_id, sig, band, $bandCaseSql AS bkey
       |          FROM keyed, (SELECT unnest(generate_series(0, ${TF.MinHashBands - 1})) AS band))""".stripMargin

  private val minhashBandsCtes: String = minhashBandsCtesOver("documents", "text")

  /** CTE chain from `bands` to `lab(doc_id, cluster_rep)` — the DuckDB
    * rendering of minhashCandidates + connectedComponents (recursive
    * transitive closure; fine at oracle scale).
    */
  private val ccClosureCtes: String =
    s"""prs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |               any_value(a.sig) AS sig_a, any_value(b.sig) AS sig_b
       |        FROM bands a JOIN bands b
       |          ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
       |        GROUP BY 1, 2),
       |cand AS (SELECT doc_a, doc_b FROM (
       |           SELECT doc_a, doc_b,
       |                  CAST(len(list_filter(generate_series(1, $K), i -> sig_a[i] = sig_b[i])) AS BIGINT) AS n_match
       |           FROM prs)
       |         WHERE CAST(floor(1000000.0 * n_match / ${K.toDouble}) AS BIGINT) >= 250000),
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM cand
       |          UNION SELECT doc_b, doc_a FROM cand),
       |reach AS (SELECT src, dst FROM edges
       |          UNION
       |          SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
       |lab AS (SELECT src AS doc_id, least(src, min(dst)) AS cluster_rep
       |        FROM reach GROUP BY src)""".stripMargin

  private val simhashSql: String =
    (0 until TF.SimHashBits).map { j =>
      s"(CASE WHEN CAST(list_sum(list_transform(hs, h -> CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END)) AS BIGINT) > 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString(" + ")

  private def stopHits(toksExpr: String, words: Seq[String]): String =
    s"CAST(len(list_filter($toksExpr, t -> list_contains([${words.map(w => s"'$w'").mkString(",")}], t))) AS BIGINT)"

  private val langCaseSql: String = {
    val langs = TF.LangProfiles.map(_._1)
    langs.init.zipWithIndex.foldRight(s"'${langs.last}'") { case ((lang, i), rest) =>
      val later = langs.drop(i + 1)
      s"CASE WHEN ${later.map(l => s"hits_$lang >= hits_$l").mkString(" AND ")} THEN '$lang' ELSE $rest END"
    }
  }

  private val triCaseSql: String = {
    val langs = TF.LangTrigramProfiles.map(_._1)
    langs.init.zipWithIndex.foldRight(s"'${langs.last}'") { case ((lang, i), rest) =>
      val later = langs.drop(i + 1)
      s"CASE WHEN ${later.map(l => s"tri_$lang >= tri_$l").mkString(" AND ")} THEN '$lang' ELSE $rest END"
    }
  }

  /** DuckDB rendering of Similarity.signBucket(v, 8, off). */
  private def bucketSqlAt(v: String, off: Int): String =
    "(" + (0 until 8).map(j => s"(CASE WHEN $v[${off + j + 1}] >= 0 THEN ${1L << j} ELSE 0 END)").mkString(" + ") + ")"

  private val bucketSql: String = bucketSqlAt("embedding", 0)

  private val oraclesBase: Map[String, String] = Map(
    "x01_exact_dedup" ->
      s"""SELECT doc_id, fp, n_dups, lang, n_chars FROM (
         |  SELECT doc_id, lang, n_chars, fp,
         |         row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn,
         |         count(*) OVER (PARTITION BY fp) AS n_dups
         |  FROM (SELECT doc_id, lang, n_chars, ${dH("text")} AS fp FROM documents))
         |WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    "x02_minhash_lsh" ->
      s"""WITH $minhashBandsCtes,
         |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |                 any_value(a.sig) AS sig_a, any_value(b.sig) AS sig_b
         |          FROM bands a JOIN bands b
         |            ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2),
         |scored AS (SELECT doc_a, doc_b,
         |                  CAST(len(list_filter(generate_series(1, $K), i -> sig_a[i] = sig_b[i])) AS BIGINT) AS n_match
         |           FROM pairs)
         |SELECT doc_a, doc_b, n_match,
         |       CAST(floor(1000000.0 * n_match / ${K.toDouble}) AS BIGINT) AS est_jaccard_e6
         |FROM scored
         |WHERE CAST(floor(1000000.0 * n_match / ${K.toDouble}) AS BIGINT) >= 250000
         |ORDER BY doc_a, doc_b""".stripMargin,

    // ascii(char) == byte for this corpus (asserted ASCII); empty docs:
    // list_sum([]) is NULL in DuckDB where the stub sums to 0 → coalesce
    "x21_multimodal_decode" ->
      s"""WITH codes AS (
         |  SELECT doc_id, text,
         |         list_transform(generate_series(1, length(text)),
         |                        i -> ascii(substr(text, i, 1))) AS cs
         |  FROM documents)
         |SELECT doc_id,
         |       CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
         |       CAST(coalesce(list_sum(cs), 0) AS BIGINT) AS checksum,
         |       CAST(len(list_filter(cs, c -> c // 16 = 2)) AS BIGINT) AS h2,
         |       CAST(len(list_filter(cs, c -> c // 16 = 3)) AS BIGINT) AS h3,
         |       CAST(len(list_filter(cs, c -> c // 16 = 6)) AS BIGINT) AS h6,
         |       CAST(len(list_filter(cs, c -> c // 16 = 7)) AS BIGINT) AS h7,
         |       CAST((octet_length(encode(text)) + 63) // 64 AS BIGINT) AS n_frames,
         |       'application/octet-stream' AS mime
         |FROM codes ORDER BY doc_id""".stripMargin,

    "x25_lang_id_ngram" -> {
      val hitsSel = TF.LangTrigramProfiles
        .map { case (lang, gs) => s"${stopHits("g3", gs)} AS tri_$lang" }
        .mkString(",\n         |       ")
      val hitNames = TF.LangTrigramProfiles.map(l => s"tri_${l._1}").mkString(", ")
      s"""SELECT doc_id, lang, $hitNames, $triCaseSql AS pred_lang
         |FROM (SELECT doc_id, lang,
         |       $hitsSel
         |      FROM (SELECT doc_id, lang,
         |                   list_transform(generate_series(1, length(text) - 2),
         |                                  i -> substr(text, i, 3)) AS g3
         |            FROM documents))
         |ORDER BY doc_id""".stripMargin
    },

    "x23_normalize" ->
      s"""SELECT doc_id,
         |       ${dH("trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))")} AS norm_h,
         |       CAST(length(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS BIGINT) AS norm_len
         |FROM documents ORDER BY doc_id""".stripMargin,

    "x22_frame_sample" ->
      s"""SELECT doc_id, frame_idx,
         |       ${dH("substr(text, CAST(frame_idx*64 + 1 AS INTEGER), 64)")} AS frame_h
         |FROM (SELECT doc_id, text,
         |             unnest(generate_series(0, CAST(ceil(length(text)/64.0) AS BIGINT) - 1, 4)) AS frame_idx
         |      FROM documents WHERE length(text) > 0)
         |ORDER BY doc_id, frame_idx""".stripMargin,

    // transitive closure of the x02 candidate graph via a recursive
    // CTE (fine at oracle scale); label = min reachable doc_id = the
    // propagation fixpoint the Spark loop converges to
    "x20_dedup_clusters" ->
      s"""WITH RECURSIVE $minhashBandsCtes,
         |$ccClosureCtes
         |SELECT doc_id, cluster_rep,
         |       CAST(count(*) OVER (PARTITION BY cluster_rep) AS BIGINT) AS cluster_size
         |FROM lab ORDER BY doc_id""".stripMargin,

    // same bands + closure as x20, then: every doc (singletons
    // represent themselves via the left join), split = md5-hash of
    // the representative mod 10 — 8/1/1
    "x68_leakage_safe_split" ->
      s"""WITH RECURSIVE $minhashBandsCtes,
         |$ccClosureCtes,
         |r AS (SELECT d.doc_id AS doc_id, coalesce(l.cluster_rep, d.doc_id) AS rep
         |      FROM documents d LEFT JOIN lab l ON d.doc_id = l.doc_id),
         |h AS (SELECT doc_id, rep,
         |             ${dH("'split:' || CAST(rep AS VARCHAR)")} % 10 AS b
         |      FROM r)
         |SELECT doc_id, rep,
         |       CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'valid'
         |            ELSE 'test' END AS split
         |FROM h ORDER BY doc_id""".stripMargin,

    // the aggregate keeps the Q largest by (hash desc, id asc) —
    // exactly row_number under that ordering
    "x69_source_quota" ->
      s"""WITH h AS (SELECT source, doc_id,
         |                  ${dH("'quota:' || CAST(doc_id AS VARCHAR)")} AS hv
         |           FROM documents),
         |r AS (SELECT source, doc_id,
         |             row_number() OVER (PARTITION BY source
         |                                ORDER BY hv DESC, doc_id) AS rk
         |      FROM h)
         |SELECT source, doc_id, CAST(rk AS BIGINT) AS rk
         |FROM r WHERE rk <= 50
         |ORDER BY source, rk""".stripMargin,

    // brute-force exact jaccard — deliberately WITHOUT the prefix
    // pruning, so the compare proves completeness
    "x70_prefix_jaccard_join" ->
      """WITH toks AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok FROM documents),
        |sizes AS (SELECT doc_id, CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n FROM documents),
        |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
        |          FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id <> b.doc_id
        |          WHERE a.doc_id % 29 = 0
        |          GROUP BY 1, 2)
        |SELECT doc_a, doc_b, n_inter,
        |       (n_inter * 1000000) // (sa.n + sb.n - n_inter) AS jaccard_e6
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = doc_a
        |JOIN sizes sb ON sb.doc_id = doc_b
        |WHERE (n_inter * 1000000) // (sa.n + sb.n - n_inter) >= 900000
        |ORDER BY doc_a, doc_b""".stripMargin,

    // the funnel, mirrored stage by stage: normalize → exact dedup on
    // the normalized hash → near-dup closure over normalized-bigram
    // minhash (the SAME band/closure CTEs as x02/x20, re-pointed at
    // the deduped normalized corpus) → token-count quality floor
    "x35_pipeline_e2e" ->
      s"""WITH RECURSIVE nd AS (
         |  SELECT doc_id,
         |         trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS norm
         |  FROM documents),
         |d0 AS (SELECT doc_id, norm, ${dH("norm")} AS norm_h FROM nd),
         |kept1 AS (SELECT doc_id, norm, norm_h FROM (
         |            SELECT *, row_number() OVER (PARTITION BY norm_h ORDER BY doc_id) AS rn
         |            FROM d0) WHERE rn = 1),
         |${minhashBandsCtesOver("kept1", "norm")},
         |$ccClosureCtes
         |SELECT doc_id, norm_h,
         |       CAST(len(string_split(norm, ' ')) AS BIGINT) AS n_tokens
         |FROM kept1
         |WHERE doc_id NOT IN (SELECT doc_id FROM lab WHERE doc_id <> cluster_rep)
         |  AND len(string_split(norm, ' ')) >= 20
         |ORDER BY doc_id""".stripMargin,

    "x19_incremental_dedup" ->
      s"""WITH $minhashBandsCtes,
         |pairs AS (SELECT n.doc_id AS new_id, o.doc_id AS old_id,
         |                 any_value(n.sig) AS sig_n, any_value(o.sig) AS sig_o
         |          FROM bands n JOIN bands o
         |            ON n.band = o.band AND n.bkey = o.bkey
         |          WHERE n.doc_id % 10 = 0 AND o.doc_id % 10 <> 0
         |          GROUP BY 1, 2),
         |scored AS (SELECT new_id, old_id,
         |                  CAST(len(list_filter(generate_series(1, $K), i -> sig_n[i] = sig_o[i])) AS BIGINT) AS n_match
         |           FROM pairs)
         |SELECT new_id, old_id, n_match,
         |       CAST(floor(1000000.0 * n_match / ${K.toDouble}) AS BIGINT) AS est_jaccard_e6
         |FROM scored
         |WHERE CAST(floor(1000000.0 * n_match / ${K.toDouble}) AS BIGINT) >= 250000
         |ORDER BY new_id, old_id""".stripMargin,

    "x03_token_jaccard" ->
      """WITH toks AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok FROM documents),
        |sizes AS (SELECT doc_id, CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_tok FROM documents),
        |inter AS (SELECT p.doc_id AS probe_id, t.doc_id AS other_id, count(*) AS n_inter
        |          FROM toks p JOIN toks t ON p.tok = t.tok AND p.doc_id <> t.doc_id
        |          WHERE p.doc_id % 50 = 0
        |          GROUP BY 1, 2)
        |SELECT probe_id, other_id, n_inter,
        |       CAST(floor(1000000.0 * n_inter / (a.n_tok + b.n_tok - n_inter)) AS BIGINT) AS jaccard_e6
        |FROM inter
        |JOIN sizes a ON a.doc_id = probe_id
        |JOIN sizes b ON b.doc_id = other_id
        |WHERE CAST(floor(1000000.0 * n_inter / (a.n_tok + b.n_tok - n_inter)) AS BIGINT) >= 900000
        |ORDER BY probe_id, other_id""".stripMargin,

    "x04_token_stats" ->
      s"""SELECT doc_id,
         |       CAST(len(t) AS BIGINT) AS n_tokens,
         |       CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct,
         |       CAST(list_sum(list_transform(t, x -> length(x))) AS BIGINT) AS total_tok_chars,
         |       ${stopHits("t", enStops)} AS stop_hits,
         |       CAST(floor(1000.0 * CAST(list_sum(list_transform(t, x -> length(x))) AS BIGINT) / len(t)) AS BIGINT) AS avg_tok_len_e3
         |FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
         |ORDER BY doc_id""".stripMargin,

    "x05_term_freq" ->
      """SELECT token, count(*) AS n_occ, count(DISTINCT doc_id) AS n_docs
        |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
        |GROUP BY token
        |ORDER BY n_occ DESC, token""".stripMargin,

    "x06_lang_id" -> {
      val hitsSel = TF.LangProfiles.map { case (lang, words) =>
        s"${stopHits("t", words)} AS hits_$lang"
      }.mkString(", ")
      val hitNames = TF.LangProfiles.map(p => s"hits_${p._1}").mkString(", ")
      s"""SELECT doc_id, lang, $hitNames, pred_lang,
         |       CAST(lang = pred_lang AS BIGINT) AS matches_declared
         |FROM (
         |  SELECT doc_id, lang, $hitNames, $langCaseSql AS pred_lang
         |  FROM (SELECT doc_id, lang, $hitsSel
         |        FROM (SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents)))
         |ORDER BY doc_id""".stripMargin
    },

    "x07_quality_score" ->
      s"""SELECT doc_id, len_chars, n_alpha, n_space, n_tokens, stop_hits,
         |       CAST(floor(1000.0 * stop_hits / n_tokens) AS BIGINT) AS stop_ratio_e3,
         |       CAST(floor(1000.0 * (0.5 * least(1.0, n_tokens / 100.0)
         |                          + 0.5 * (stop_hits / n_tokens))) AS BIGINT) AS quality_e3
         |FROM (SELECT doc_id,
         |             CAST(length(text) AS BIGINT) AS len_chars,
         |             CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS BIGINT) AS n_alpha,
         |             CAST(length(text) - length(replace(text, ' ', '')) AS BIGINT) AS n_space,
         |             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |             ${stopHits("string_split(text, ' ')", enStops)} AS stop_hits
         |      FROM documents)
         |ORDER BY doc_id""".stripMargin,

    "x08_fingerprint" ->
      s"""SELECT doc_id,
         |       CAST(len(gh) AS BIGINT) AS n_grams,
         |       CAST(len(list_distinct(gh)) AS BIGINT) AS n_distinct_grams,
         |       list_min(gh) AS fp_min,
         |       list_max(gh) AS fp_max
         |FROM (SELECT doc_id,
         |             list_transform(generate_series(1, length(text) - 7),
         |                            i -> ${dH("substr(text, i, 8)")}) AS gh
         |      FROM documents WHERE length(text) >= 8)
         |ORDER BY doc_id""".stripMargin,

    "x09_simhash" ->
      s"""SELECT doc_id, simhash, simhash >> 8 AS bucket
         |FROM (SELECT doc_id, CAST($simhashSql AS BIGINT) AS simhash
         |      FROM (SELECT doc_id,
         |                   list_transform(string_split(text, ' '), t -> ${dH("t")}) AS hs
         |            FROM documents))
         |ORDER BY doc_id""".stripMargin,

    // two-band pigeonhole: hamming<=1 pairs agree on at least one
    // full 8-bit half — union of both band joins, deduped
    "x26_simhash_neardup" ->
      s"""WITH s AS (SELECT doc_id, CAST($simhashSql AS BIGINT) AS simhash
         |           FROM (SELECT doc_id,
         |                        list_transform(string_split(text, ' '), t -> ${dH("t")}) AS hs
         |                 FROM documents)),
         |b AS (SELECT doc_id, simhash, 0 AS band, simhash % 256 AS bkey FROM s
         |      UNION ALL
         |      SELECT doc_id, simhash, 1 AS band, simhash >> 8 AS bkey FROM s),
         |p AS (SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b,
         |                      a.simhash AS sa, c.simhash AS sb
         |      FROM b a JOIN b c ON a.band = c.band AND a.bkey = c.bkey
         |                       AND a.doc_id < c.doc_id)
         |SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
         |FROM p WHERE bit_count(xor(sa, sb)) <= 1
         |ORDER BY doc_a, doc_b""".stripMargin,

    "x27_ivf_lloyd" -> {
      // one Lloyd round as CTEs: assignment against `cents` + e6 dims
      def roundCtes(cents: String, n: Int) =
        s"""sc$n AS (
           |  SELECT e.vec_id, e.embedding, c.cent_id,
           |         ${cosSql("e.embedding", "c.c_vec")} AS c_score
           |  FROM embeddings e, $cents c),
           |asg$n AS (
           |  SELECT vec_id, embedding, cent_id AS cluster FROM (
           |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY c_score DESC, cent_id) AS c_rnk
           |    FROM sc$n) WHERE c_rnk = 1),
           |dims$n AS (
           |  SELECT cluster,
           |         unnest(list_transform(generate_series(1, len(embedding)),
           |                i -> {'pos': i, 'e6': CAST(floor(1000000.0 * CAST(embedding[i] AS DOUBLE)) AS BIGINT)})) AS u
           |  FROM asg$n),
           |r$n AS (
           |  SELECT cluster, CAST(u.pos AS BIGINT) AS pos,
           |         CAST(floor(CAST(sum(u.e6) AS DOUBLE) / count(*)) AS BIGINT) AS cent_e6,
           |         CAST(count(*) AS BIGINT) AS n_members
           |  FROM dims$n GROUP BY cluster, u.pos)""".stripMargin
      s"""WITH cents AS (SELECT vec_id AS cent_id, embedding AS c_vec FROM embeddings WHERE vec_id < 8),
         |${roundCtes("cents", 1)},
         |cents2 AS (SELECT cluster AS cent_id,
         |                  list(CAST(cent_e6 / 1000000.0 AS FLOAT) ORDER BY pos) AS c_vec
         |           FROM r1 GROUP BY cluster),
         |${roundCtes("cents2", 2)}
         |SELECT cluster, pos, cent_e6, n_members FROM r2 ORDER BY cluster, pos""".stripMargin
    },

    "x10_cosine_topk" ->
      s"""WITH p AS (SELECT vec_id AS probe_id, embedding AS p_vec FROM embeddings WHERE vec_id < 10),
         |scored AS (
         |  SELECT probe_id, e.vec_id AS neighbor_id,
         |         CAST(floor(1000000.0 * ${dDot("p_vec", "embedding")}
         |              / (sqrt(${dDot("p_vec", "p_vec")}) * sqrt(${dDot("embedding", "embedding")}))) AS BIGINT) AS cos_e6
         |  FROM embeddings e, p WHERE e.vec_id <> p.probe_id),
         |ranked AS (
         |  SELECT probe_id, neighbor_id, cos_e6,
         |         CAST(row_number() OVER (PARTITION BY probe_id ORDER BY cos_e6 DESC, neighbor_id) AS BIGINT) AS rnk
         |  FROM scored)
         |SELECT probe_id, neighbor_id, cos_e6, rnk FROM ranked
         |WHERE rnk <= 5 ORDER BY probe_id, rnk""".stripMargin,

    "x11_ann_lsh" ->
      s"""WITH c AS (SELECT vec_id, embedding, $bucketSql AS bucket FROM embeddings),
         |p AS (SELECT vec_id AS probe_id, embedding AS p_vec, $bucketSql AS bucket
         |      FROM embeddings WHERE vec_id % 100 = 0),
         |scored AS (
         |  SELECT probe_id, c.vec_id AS neighbor_id, c.bucket,
         |         CAST(floor(1000000.0 * ${dDot("p_vec", "embedding")}
         |              / (sqrt(${dDot("p_vec", "p_vec")}) * sqrt(${dDot("embedding", "embedding")}))) AS BIGINT) AS cos_e6
         |  FROM c JOIN p USING (bucket) WHERE c.vec_id <> p.probe_id),
         |ranked AS (
         |  SELECT probe_id, neighbor_id, bucket, cos_e6,
         |         CAST(row_number() OVER (PARTITION BY probe_id ORDER BY cos_e6 DESC, neighbor_id) AS BIGINT) AS rnk
         |  FROM scored)
         |SELECT probe_id, neighbor_id, bucket, cos_e6, rnk FROM ranked
         |WHERE rnk <= 3 ORDER BY probe_id, rnk""".stripMargin,

    "x13_cosine_topk_agg" ->
      s"""WITH p AS (SELECT vec_id AS probe_id, embedding AS p_vec FROM embeddings WHERE vec_id < 10),
         |scored AS (
         |  SELECT probe_id, e.vec_id AS neighbor_id,
         |         CAST(floor(1000000.0 * ${dDot("p_vec", "embedding")}
         |              / (sqrt(${dDot("p_vec", "p_vec")}) * sqrt(${dDot("embedding", "embedding")}))) AS BIGINT) AS cos_e6
         |  FROM embeddings e, p WHERE e.vec_id <> p.probe_id),
         |ranked AS (
         |  SELECT probe_id, neighbor_id, cos_e6,
         |         CAST(row_number() OVER (PARTITION BY probe_id ORDER BY cos_e6 DESC, neighbor_id) AS BIGINT) AS rnk
         |  FROM scored)
         |SELECT probe_id, neighbor_id, cos_e6, rnk FROM ranked
         |WHERE rnk <= 5 ORDER BY probe_id, rnk""".stripMargin,

    "x14_embedding_neardup" ->
      s"""WITH e AS (SELECT vec_id, embedding, $bucketSql AS bucket FROM embeddings),
         |pairs AS (
         |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.bucket,
         |         CAST(floor(1000000.0 * ${dDot("a.embedding", "b.embedding")}
         |              / (sqrt(${dDot("a.embedding", "a.embedding")}) * sqrt(${dDot("b.embedding", "b.embedding")}))) AS BIGINT) AS cos_e6
         |  FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
         |SELECT vec_a, vec_b, bucket, cos_e6 FROM pairs
         |WHERE cos_e6 >= 250000 ORDER BY vec_a, vec_b""".stripMargin,

    "x24_ivf_refine" -> {
      s"""WITH cents AS (SELECT vec_id AS cent_id, embedding AS c_vec FROM embeddings WHERE vec_id < 8),
         |corpus_sc AS (
         |  SELECT e.vec_id, e.embedding, c.cent_id,
         |         ${cosSql("e.embedding", "c.c_vec")} AS c_score
         |  FROM embeddings e, cents c),
         |assigned AS (
         |  SELECT vec_id, embedding, cent_id AS cluster FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY c_score DESC, cent_id) AS c_rnk
         |    FROM corpus_sc) WHERE c_rnk = 1),
         |dims AS (
         |  SELECT cluster,
         |         unnest(list_transform(generate_series(1, len(embedding)),
         |                i -> {'pos': i, 'e6': CAST(floor(1000000.0 * CAST(embedding[i] AS DOUBLE)) AS BIGINT)})) AS u
         |  FROM assigned)
         |SELECT cluster, CAST(u.pos AS BIGINT) AS pos,
         |       CAST(floor(CAST(sum(u.e6) AS DOUBLE) / count(*)) AS BIGINT) AS cent_e6,
         |       CAST(count(*) AS BIGINT) AS n_members
         |FROM dims GROUP BY cluster, u.pos ORDER BY cluster, pos""".stripMargin
    },

    "x16_ivf_topk" -> {
      s"""WITH cents AS (SELECT vec_id AS cent_id, embedding AS c_vec FROM embeddings WHERE vec_id < 8),
         |corpus_sc AS (
         |  SELECT e.vec_id AS neighbor_id, e.embedding AS n_vec, c.cent_id,
         |         ${cosSql("e.embedding", "c.c_vec")} AS c_score
         |  FROM embeddings e, cents c),
         |assigned AS (
         |  SELECT neighbor_id, n_vec, cent_id AS cluster FROM (
         |    SELECT *, row_number() OVER (PARTITION BY neighbor_id ORDER BY c_score DESC, cent_id) AS c_rnk
         |    FROM corpus_sc) WHERE c_rnk = 1),
         |probe_sc AS (
         |  SELECT e.vec_id AS probe_id, e.embedding AS p_vec, c.cent_id,
         |         ${cosSql("e.embedding", "c.c_vec")} AS c_score
         |  FROM embeddings e, cents c WHERE e.vec_id % 100 = 0),
         |p_assigned AS (
         |  SELECT probe_id, p_vec, cent_id AS cluster FROM (
         |    SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY c_score DESC, cent_id) AS c_rnk
         |    FROM probe_sc) WHERE c_rnk = 1),
         |scored AS (
         |  SELECT probe_id, neighbor_id, cluster,
         |         ${cosSql("p_vec", "n_vec")} AS cos_e6
         |  FROM assigned JOIN p_assigned USING (cluster)
         |  WHERE neighbor_id <> probe_id),
         |ranked AS (
         |  SELECT probe_id, neighbor_id, cluster, cos_e6,
         |         CAST(row_number() OVER (PARTITION BY probe_id ORDER BY cos_e6 DESC, neighbor_id) AS BIGINT) AS rnk
         |  FROM scored)
         |SELECT probe_id, neighbor_id, cluster, cos_e6, rnk FROM ranked
         |WHERE rnk <= 3 ORDER BY probe_id, rnk""".stripMargin
    },

    "x17_ivf_multiprobe" -> {
      s"""WITH cents AS (SELECT vec_id AS cent_id, embedding AS c_vec FROM embeddings WHERE vec_id < 8),
         |corpus_sc AS (
         |  SELECT e.vec_id AS neighbor_id, e.embedding AS n_vec, c.cent_id,
         |         ${cosSql("e.embedding", "c.c_vec")} AS c_score
         |  FROM embeddings e, cents c),
         |assigned AS (
         |  SELECT neighbor_id, n_vec, cent_id AS cluster FROM (
         |    SELECT *, row_number() OVER (PARTITION BY neighbor_id ORDER BY c_score DESC, cent_id) AS c_rnk
         |    FROM corpus_sc) WHERE c_rnk = 1),
         |probe_sc AS (
         |  SELECT e.vec_id AS probe_id, e.embedding AS p_vec, c.cent_id,
         |         ${cosSql("e.embedding", "c.c_vec")} AS c_score
         |  FROM embeddings e, cents c WHERE e.vec_id % 100 = 0),
         |p_assigned AS (
         |  SELECT probe_id, p_vec, cent_id AS cluster FROM (
         |    SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY c_score DESC, cent_id) AS c_rnk
         |    FROM probe_sc) WHERE c_rnk <= 2),
         |scored AS (
         |  SELECT probe_id, neighbor_id, cluster,
         |         ${cosSql("p_vec", "n_vec")} AS cos_e6
         |  FROM assigned JOIN p_assigned USING (cluster)
         |  WHERE neighbor_id <> probe_id),
         |ranked AS (
         |  SELECT probe_id, neighbor_id, cluster, cos_e6,
         |         CAST(row_number() OVER (PARTITION BY probe_id ORDER BY cos_e6 DESC, neighbor_id) AS BIGINT) AS rnk
         |  FROM scored)
         |SELECT probe_id, neighbor_id, cluster, cos_e6, rnk FROM ranked
         |WHERE rnk <= 3 ORDER BY probe_id, rnk""".stripMargin
    },

    "x18_ann_multitable" ->
      s"""WITH p AS (SELECT vec_id AS probe_id, embedding AS p_vec FROM embeddings WHERE vec_id % 100 = 0),
         |cand AS (
         |  SELECT probe_id, p_vec, e.vec_id AS neighbor_id, e.embedding AS n_vec
         |  FROM embeddings e, p
         |  WHERE e.vec_id <> probe_id
         |    AND (${bucketSqlAt("e.embedding", 0)} = ${bucketSqlAt("p_vec", 0)}
         |      OR ${bucketSqlAt("e.embedding", 8)} = ${bucketSqlAt("p_vec", 8)}
         |      OR ${bucketSqlAt("e.embedding", 16)} = ${bucketSqlAt("p_vec", 16)})),
         |scored AS (
         |  SELECT probe_id, neighbor_id,
         |         CAST(floor(1000000.0 * ${dDot("p_vec", "n_vec")}
         |              / (sqrt(${dDot("p_vec", "p_vec")}) * sqrt(${dDot("n_vec", "n_vec")}))) AS BIGINT) AS cos_e6
         |  FROM cand),
         |ranked AS (
         |  SELECT probe_id, neighbor_id, cos_e6,
         |         CAST(row_number() OVER (PARTITION BY probe_id ORDER BY cos_e6 DESC, neighbor_id) AS BIGINT) AS rnk
         |  FROM scored)
         |SELECT probe_id, neighbor_id, cos_e6, rnk FROM ranked
         |WHERE rnk <= 3 ORDER BY probe_id, rnk""".stripMargin,

    "x15_subword_stats" ->
      """SELECT doc_id,
        |       CAST(len(t) AS BIGINT) AS n_ws_tokens,
        |       CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS n_alpha_runs,
        |       CAST(list_sum(list_transform(t, x -> CAST(ceil(length(x) / 4.0) AS BIGINT))) AS BIGINT) AS n_subwords,
        |       list_min(list_transform(t, x -> CAST(length(x) AS BIGINT))) AS min_tok_len,
        |       list_max(list_transform(t, x -> CAST(length(x) AS BIGINT))) AS max_tok_len
        |FROM (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents)
        |ORDER BY doc_id""".stripMargin,

    "x28_contamination" ->
      s"""WITH g AS (
         |  SELECT doc_id,
         |         list_distinct(list_transform(sh, x -> ${dH("x")})) AS ghs
         |  FROM (SELECT doc_id,
         |               list_transform(generate_series(1, len(t)-2),
         |                              i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS sh
         |        FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
         |        WHERE len(t) >= 3)),
         |e AS (SELECT doc_id, unnest(ghs) AS h FROM g),
         |bench AS (SELECT doc_id AS bench_id, h FROM e WHERE doc_id % 97 = 0),
         |corpus AS (SELECT doc_id, h FROM e WHERE doc_id % 97 <> 0),
         |ov AS (SELECT c.doc_id, b.bench_id, count(*) AS n_overlap
         |       FROM corpus c JOIN bench b USING (h) GROUP BY 1, 2),
         |bt AS (SELECT doc_id AS bench_id, CAST(len(ghs) AS BIGINT) AS bench_grams
         |       FROM g WHERE doc_id % 97 = 0)
         |SELECT doc_id, bench_id, CAST(n_overlap AS BIGINT) AS n_overlap, bench_grams,
         |       CAST(floor(1000000.0 * n_overlap / bench_grams) AS BIGINT) AS contamination_e6
         |FROM ov JOIN bt USING (bench_id)
         |ORDER BY doc_id, bench_id""".stripMargin,

    "x29_repetition" ->
      """WITH base AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |              WHERE len(string_split(text, ' ')) >= 2),
        |bc AS (SELECT doc_id, bigram, count(*) AS cnt
        |       FROM (SELECT doc_id,
        |                    unnest(list_transform(generate_series(1, len(t)-1),
        |                                          i -> t[i] || ' ' || t[i+1])) AS bigram
        |             FROM base)
        |       GROUP BY 1, 2),
        |pd AS (SELECT doc_id,
        |              CAST(sum(cnt) AS BIGINT) AS n_bigrams,
        |              CAST(count(*) AS BIGINT) AS n_distinct_bigrams,
        |              CAST(max(cnt) AS BIGINT) AS top_bigram_cnt
        |       FROM bc GROUP BY 1),
        |tok AS (SELECT doc_id,
        |               CAST(len(t) AS BIGINT) AS n_tokens,
        |               CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct_tokens
        |        FROM base)
        |SELECT doc_id, n_tokens, n_distinct_tokens,
        |       n_bigrams, n_distinct_bigrams, top_bigram_cnt,
        |       CAST(floor(1000000.0 * top_bigram_cnt / n_bigrams) AS BIGINT) AS top_bigram_share_e6,
        |       CAST(floor(1000000.0 * (n_tokens - n_distinct_tokens) / n_tokens) AS BIGINT) AS dup_token_frac_e6
        |FROM tok JOIN pd USING (doc_id) ORDER BY doc_id""".stripMargin,

    "x30_pii_redact" ->
      s"""SELECT event_id,
         |       CAST(len(regexp_extract_all(props, '[0-9]+')) AS BIGINT) AS n_num_runs,
         |       CAST(len(regexp_extract_all(props, '[a-z0-9._%+-]+@[a-z0-9.-]+[.][a-z]{2,}')) AS BIGINT) AS n_emails,
         |       ${dH("regexp_replace(props, '[0-9]+', '<NUM>', 'g')")} AS redacted_h,
         |       CAST(length(regexp_replace(props, '[0-9]+', '<NUM>', 'g')) AS BIGINT) AS redacted_len
         |FROM events ORDER BY event_id""".stripMargin,

    // needs the chunk TOKENS (for chunk_h), so it rebuilds the slice
    // inline — on the same $ChunkContext/$ChunkStride grid as chunkCte
    "x31_chunk" ->
      s"""SELECT doc_id, CAST(start AS BIGINT) AS chunk_start,
         |       CAST(len(ct) AS BIGINT) AS n_chunk_tokens,
         |       ${dH("array_to_string(ct, ' ')")} AS chunk_h
         |FROM (SELECT doc_id, start, list_slice(t, start + 1, start + $ChunkContext) AS ct
         |      FROM (SELECT doc_id, t,
         |                   unnest(generate_series(0, len(t) - 1, $ChunkStride)) AS start
         |            FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)))
         |ORDER BY doc_id, chunk_start""".stripMargin,

    "x33_training_order" ->
      s"""WITH $chunkCte
         |SELECT doc_id, chunk_start, n_chunk_tokens,
         |       $shuffleKeySql AS shuffle_key
         |FROM ch ORDER BY shuffle_key, doc_id, chunk_start""".stripMargin,

    "x34_sequence_packing" ->
      s"""WITH $chunkCte,
         |keyed AS (
         |  SELECT *, $shuffleKeySql AS shuffle_key
         |  FROM ch),
         |packed AS (
         |  SELECT doc_id, chunk_start, n_chunk_tokens,
         |         shuffle_key % 64 AS bucket,
         |         CAST(sum(n_chunk_tokens) OVER (
         |           PARTITION BY shuffle_key % 64
         |           ORDER BY shuffle_key, doc_id, chunk_start
         |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
         |  FROM keyed)
         |SELECT doc_id, chunk_start, n_chunk_tokens, bucket, cum_tokens,
         |       bucket * 1099511627776 + CAST(floor((cum_tokens - 1) / 256) AS BIGINT) AS seq_id
         |FROM packed
         |ORDER BY bucket, cum_tokens, doc_id, chunk_start""".stripMargin,

    "x32_tfidf" ->
      """WITH tf AS (SELECT doc_id, token, count(*) AS cnt
        |            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |                  FROM documents)
        |            GROUP BY 1, 2),
        |dlen AS (SELECT doc_id, sum(cnt) AS doc_len FROM tf GROUP BY 1),
        |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (SELECT doc_id, token, cnt, df,
        |                  (cnt * 1000000 * n_docs) // (doc_len * df) AS score_e6
        |           FROM tf JOIN dlen USING (doc_id) JOIN dfreq USING (token), n),
        |ranked AS (SELECT *, row_number() OVER (
        |             PARTITION BY doc_id ORDER BY score_e6 DESC, token) AS rnk
        |           FROM scored)
        |SELECT doc_id, token, CAST(cnt AS BIGINT) AS cnt, CAST(df AS BIGINT) AS df,
        |       CAST(score_e6 AS BIGINT) AS score_e6, CAST(rnk AS BIGINT) AS rnk
        |FROM ranked WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin,

    "x12_multimodal_meta" ->
      s"""SELECT doc_id,
         |       CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
         |       ${dH("text")} AS content_h,
         |       CAST(ceil(n_chars / 64.0) AS BIGINT) AS n_frames,
         |       CAST(ascii(substr(text, 1, 1)) AS BIGINT) AS first_byte,
         |       lang, source
         |FROM documents ORDER BY doc_id""".stripMargin,

    // 3-token spans via list slicing; range(1, len-1) is
    // end-exclusive, mirroring wordShingles' sequence(1, size-2)
    "x36_boilerplate_spans" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |grams AS (SELECT doc_id,
        |                 unnest(list_transform(range(1, len(t) - 1),
        |                                       i -> array_to_string(t[i:i+2], ' '))) AS gram
        |          FROM toks),
        |perdoc AS (SELECT gram, doc_id, count(*) AS occ FROM grams GROUP BY 1, 2),
        |agg AS (SELECT gram, count(*) AS n_docs, sum(occ) AS n_occ
        |        FROM perdoc GROUP BY 1)
        |SELECT gram, CAST(n_docs AS BIGINT) AS n_docs, CAST(n_occ AS BIGINT) AS n_occ
        |FROM agg WHERE n_docs >= 3 ORDER BY n_docs DESC, gram""".stripMargin,

    "x38_sparse_retrieval" ->
      """WITH tf AS (SELECT doc_id, token, count(*) AS cnt
        |            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |                  FROM documents)
        |            GROUP BY 1, 2),
        |dlen AS (SELECT doc_id, sum(cnt) AS doc_len FROM tf GROUP BY 1),
        |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
        |w AS (SELECT doc_id, token, (cnt * 1000000) // (doc_len * df) AS w_e6
        |      FROM tf JOIN dlen USING (doc_id) JOIN dfreq USING (token)),
        |p AS (SELECT doc_id AS q_id, token, w_e6 AS qw_e6 FROM w WHERE doc_id % 97 = 0),
        |sc AS (SELECT q_id, doc_id, sum(qw_e6 * w_e6) AS score_e12
        |       FROM p JOIN w USING (token) WHERE doc_id <> q_id GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (
        |        PARTITION BY q_id ORDER BY score_e12 DESC, doc_id) AS rnk
        |      FROM sc)
        |SELECT q_id, doc_id, CAST(score_e12 AS BIGINT) AS score_e12,
        |       CAST(rnk AS BIGINT) AS rnk
        |FROM r WHERE rnk <= 3 ORDER BY q_id, rnk""".stripMargin,

    "x58_mmr_topk" ->
      s"""WITH p AS (SELECT embedding AS pv FROM embeddings WHERE vec_id = 0),
         |cand AS (SELECT e.vec_id, e.embedding, ${cosSql("e.embedding", "p.pv")} AS cq
         |         FROM embeddings e, p WHERE e.vec_id <> 0
         |         ORDER BY cq DESC, e.vec_id LIMIT 20),
         |r1 AS (SELECT vec_id, embedding, cq, cq AS mmr
         |       FROM cand ORDER BY cq DESC, vec_id LIMIT 1),
         |r2 AS (SELECT c.vec_id, c.embedding, c.cq,
         |              c.cq - ${cosSql("c.embedding", "r1.embedding")} AS mmr
         |       FROM cand c, r1 WHERE c.vec_id <> r1.vec_id
         |       ORDER BY mmr DESC, c.vec_id LIMIT 1),
         |r3 AS (SELECT c.vec_id, c.embedding, c.cq,
         |              c.cq - greatest(${cosSql("c.embedding", "r1.embedding")},
         |                              ${cosSql("c.embedding", "r2.embedding")}) AS mmr
         |       FROM cand c, r1, r2
         |       WHERE c.vec_id NOT IN (r1.vec_id, r2.vec_id)
         |       ORDER BY mmr DESC, c.vec_id LIMIT 1)
         |SELECT CAST(1 AS BIGINT) AS rnk, vec_id, CAST(mmr AS BIGINT) AS mmr_e6 FROM r1
         |UNION ALL SELECT CAST(2 AS BIGINT), vec_id, CAST(mmr AS BIGINT) FROM r2
         |UNION ALL SELECT CAST(3 AS BIGINT), vec_id, CAST(mmr AS BIGINT) FROM r3
         |ORDER BY rnk""".stripMargin,

    "x57_ngram_novelty" ->
      s"""WITH g0 AS (SELECT doc_id,
         |                   unnest(list_distinct(list_transform(
         |                     generate_series(1, length(text) - 7),
         |                     i -> ${dH("substr(text, i, 8)")}))) AS g
         |            FROM documents WHERE length(text) >= 8),
         |dfreq AS (SELECT g, count(*) AS df FROM g0 GROUP BY 1)
         |SELECT doc_id, count(*) AS n_grams,
         |       CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
         |       CAST((sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) * 1000000)
         |            // count(*) AS BIGINT) AS novelty_e6
         |FROM g0 JOIN dfreq USING (g)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "x56_dedup_agreement" ->
      s"""WITH $minhashBandsCtes,
         |mprs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |                any_value(a.sig) AS sig_a, any_value(b.sig) AS sig_b
         |         FROM bands a JOIN bands b
         |           ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
         |         GROUP BY 1, 2),
         |mcand AS (SELECT doc_a, doc_b FROM (
         |            SELECT doc_a, doc_b,
         |                   CAST(floor(1000000.0 * len(list_filter(generate_series(1, $K), i -> sig_a[i] = sig_b[i])) / ${K.toDouble}) AS BIGINT) AS est
         |            FROM mprs) WHERE est >= 250000),
         |s AS (SELECT doc_id, CAST($simhashSql AS BIGINT) AS simhash
         |      FROM (SELECT doc_id,
         |                   list_transform(string_split(text, ' '), t -> ${dH("t")}) AS hs
         |            FROM documents)),
         |b2 AS (SELECT doc_id, simhash, 0 AS band, simhash % 256 AS bkey FROM s
         |       UNION ALL
         |       SELECT doc_id, simhash, 1 AS band, simhash >> 8 AS bkey FROM s),
         |scand AS (SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
         |          FROM b2 a JOIN b2 c ON a.band = c.band AND a.bkey = c.bkey
         |                             AND a.doc_id < c.doc_id
         |          WHERE bit_count(xor(a.simhash, c.simhash)) <= 1),
         |gh AS (SELECT doc_id,
         |              list_transform(generate_series(1, length(text) - 7),
         |                             i -> ${dH("substr(text, i, 8)")}) AS gh
         |       FROM documents WHERE length(text) >= 11),
         |fps AS (SELECT doc_id,
         |               list_distinct(list_transform(range(1, len(gh) - 2),
         |                             j -> list_min(gh[j:j+3]))) AS fps
         |        FROM gh),
         |f AS (SELECT doc_id, unnest(fps) AS fp FROM fps),
         |rare AS (SELECT fp FROM (SELECT fp, count(*) AS df FROM f GROUP BY 1)
         |         WHERE df <= 16),
         |kept AS (SELECT f.doc_id, f.fp FROM f JOIN rare USING (fp)),
         |wcand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |          FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2 HAVING count(*) >= 3),
         |u AS (SELECT doc_a, doc_b, 1 AS mh, 0 AS sh, 0 AS wn FROM mcand
         |      UNION ALL SELECT doc_a, doc_b, 0, 1, 0 FROM scand
         |      UNION ALL SELECT doc_a, doc_b, 0, 0, 1 FROM wcand),
         |flags AS (SELECT doc_a, doc_b,
         |                 CAST(max(mh) AS BIGINT) AS mh,
         |                 CAST(max(sh) AS BIGINT) AS sh,
         |                 CAST(max(wn) AS BIGINT) AS wn
         |          FROM u GROUP BY 1, 2)
         |SELECT mh, sh, wn, count(*) AS n_pairs
         |FROM flags GROUP BY 1, 2, 3 ORDER BY mh, sh, wn""".stripMargin,

    "x55_dedup_keep_longest" ->
      s"""WITH RECURSIVE $minhashBandsCtes,
         |$ccClosureCtes
         |SELECT l.doc_id, l.cluster_rep, d.n_chars,
         |       CASE WHEN row_number() OVER (
         |         PARTITION BY l.cluster_rep
         |         ORDER BY d.n_chars DESC, l.doc_id) = 1
         |       THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS kept
         |FROM lab l JOIN documents d USING (doc_id)
         |ORDER BY l.doc_id""".stripMargin,

    "x54_winnowing_containment" ->
      s"""WITH gh AS (SELECT doc_id,
         |                   list_transform(generate_series(1, length(text) - 7),
         |                                  i -> ${dH("substr(text, i, 8)")}) AS gh
         |            FROM documents WHERE length(text) >= 11),
         |fps AS (SELECT doc_id,
         |               list_distinct(list_transform(range(1, len(gh) - 2),
         |                             j -> list_min(gh[j:j+3]))) AS fps
         |        FROM gh),
         |f AS (SELECT doc_id, unnest(fps) AS fp FROM fps),
         |rare AS (SELECT fp FROM (SELECT fp, count(*) AS df FROM f GROUP BY 1)
         |         WHERE df <= 16),
         |kept AS (SELECT f.doc_id, f.fp FROM f JOIN rare USING (fp)),
         |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp
         |          FROM kept GROUP BY 1),
         |shared AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |                  count(*) AS n_shared
         |           FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |           GROUP BY 1, 2)
         |SELECT doc_a, doc_b, n_shared,
         |       CAST((n_shared * 1000000) // least(sa.n_fp, sb.n_fp) AS BIGINT) AS containment_e6
         |FROM shared
         |JOIN sizes sa ON doc_a = sa.doc_id
         |JOIN sizes sb ON doc_b = sb.doc_id
         |WHERE (n_shared * 1000000) // least(sa.n_fp, sb.n_fp) >= 500000
         |ORDER BY doc_a, doc_b""".stripMargin,

    "x53_source_overlap" ->
      s"""WITH $minhashBandsCtes,
         |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |                 any_value(a.sig) AS sig_a, any_value(b.sig) AS sig_b
         |          FROM bands a JOIN bands b
         |            ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2),
         |cand AS (SELECT doc_a, doc_b,
         |                CAST(floor(1000000.0 * len(list_filter(generate_series(1, $K), i -> sig_a[i] = sig_b[i])) / ${K.toDouble}) AS BIGINT) AS est
         |         FROM pairs
         |         WHERE CAST(floor(1000000.0 * len(list_filter(generate_series(1, $K), i -> sig_a[i] = sig_b[i])) / ${K.toDouble}) AS BIGINT) >= 250000),
         |lab AS (SELECT least(da.source, db.source) AS source_lo,
         |               greatest(da.source, db.source) AS source_hi, est
         |        FROM cand
         |        JOIN documents da ON cand.doc_a = da.doc_id
         |        JOIN documents db ON cand.doc_b = db.doc_id)
         |SELECT source_lo, source_hi, count(*) AS n_pairs,
         |       CAST(sum(est) AS BIGINT) AS sum_est_e6
         |FROM lab GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "x52_bm25" ->
      """WITH tf AS (SELECT doc_id, token, count(*) AS cnt
        |            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |                  FROM documents)
        |            GROUP BY 1, 2),
        |dlen AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS doc_len FROM tf GROUP BY 1),
        |dfreq AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |stats AS (SELECT CAST(sum(doc_len) AS BIGINT) AS big_l,
        |                 CAST(count(*) AS BIGINT) AS n_docs FROM dlen),
        |corpus AS (SELECT t.doc_id, t.token,
        |             ((1000000 * (2*(s.n_docs - f.df) + 1)) // (2*f.df + 1)
        |              * ((880000000 * t.cnt * s.big_l)
        |                 // (400 * t.cnt * s.big_l + 120 * s.big_l + 360 * l.doc_len * s.n_docs)))
        |             // 1000000 AS term_e6
        |           FROM tf t JOIN dlen l USING (doc_id) JOIN dfreq f USING (token), stats s),
        |p AS (SELECT DISTINCT doc_id AS q_id, token FROM tf WHERE doc_id % 97 = 0),
        |sc AS (SELECT q_id, c.doc_id, CAST(sum(c.term_e6) AS BIGINT) AS score_e6
        |       FROM corpus c JOIN p USING (token) WHERE c.doc_id <> p.q_id GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (
        |        PARTITION BY q_id ORDER BY score_e6 DESC, doc_id) AS rnk
        |      FROM sc)
        |SELECT q_id, doc_id, score_e6, CAST(rnk AS BIGINT) AS rnk
        |FROM r WHERE rnk <= 3 ORDER BY q_id, rnk""".stripMargin,

    "x59_rrf_hybrid" ->
      s"""WITH tf AS (SELECT doc_id, token, count(*) AS cnt
         |            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
         |                  FROM documents)
         |            GROUP BY 1, 2),
         |dlen AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS doc_len FROM tf GROUP BY 1),
         |dfreq AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
         |stats AS (SELECT CAST(sum(doc_len) AS BIGINT) AS big_l,
         |                 CAST(count(*) AS BIGINT) AS n_docs FROM dlen),
         |corpus AS (SELECT t.doc_id, t.token,
         |             ((1000000 * (2*(s.n_docs - f.df) + 1)) // (2*f.df + 1)
         |              * ((880000000 * t.cnt * s.big_l)
         |                 // (400 * t.cnt * s.big_l + 120 * s.big_l + 360 * l.doc_len * s.n_docs)))
         |             // 1000000 AS term_e6
         |           FROM tf t JOIN dlen l USING (doc_id) JOIN dfreq f USING (token), stats s),
         |p AS (SELECT DISTINCT doc_id AS q_id, token FROM tf WHERE doc_id % 97 = 0),
         |sc AS (SELECT q_id, c.doc_id, CAST(sum(c.term_e6) AS BIGINT) AS score_e6
         |       FROM corpus c JOIN p USING (token) WHERE c.doc_id <> p.q_id GROUP BY 1, 2),
         |sp AS (SELECT q_id, doc_id, row_number() OVER (
         |         PARTITION BY q_id ORDER BY score_e6 DESC, doc_id) AS rnk
         |       FROM sc QUALIFY rnk <= 10),
         |ep AS (SELECT vec_id AS q_id, embedding AS p_vec FROM embeddings WHERE vec_id % 97 = 0),
         |dsc AS (SELECT q_id, e.vec_id AS doc_id, ${cosSql("ep.p_vec", "e.embedding")} AS cos_e6
         |        FROM embeddings e, ep WHERE e.vec_id <> ep.q_id),
         |dn AS (SELECT q_id, doc_id, row_number() OVER (
         |         PARTITION BY q_id ORDER BY cos_e6 DESC, doc_id) AS rnk
         |       FROM dsc QUALIFY rnk <= 10),
         |f AS (SELECT coalesce(sp.q_id, dn.q_id) AS q_id,
         |             coalesce(sp.doc_id, dn.doc_id) AS doc_id,
         |             coalesce(1000000 // (60 + sp.rnk), 0)
         |               + coalesce(1000000 // (60 + dn.rnk), 0) AS rrf_e6
         |      FROM sp FULL JOIN dn ON sp.q_id = dn.q_id AND sp.doc_id = dn.doc_id)
         |SELECT q_id, doc_id, CAST(rrf_e6 AS BIGINT) AS rrf_e6,
         |       CAST(row_number() OVER (
         |         PARTITION BY q_id ORDER BY rrf_e6 DESC, doc_id) AS BIGINT) AS rnk
         |FROM f QUALIFY rnk <= 3 ORDER BY q_id, rnk""".stripMargin,

    "x60_exact_substring" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
         |g AS (SELECT doc_id,
         |             unnest(list_transform(generate_series(1, len(tk) - 7),
         |               i -> ${dH("array_to_string(tk[i:i+7], ' ')")})) AS gh
         |      FROM t WHERE len(tk) >= 8),
         |dup AS (SELECT gh FROM (SELECT gh, count(DISTINCT doc_id) AS nd
         |                        FROM g GROUP BY 1) WHERE nd >= 2),
         |tot AS (SELECT doc_id, count(*) AS n_win FROM g GROUP BY 1),
         |dp AS (SELECT doc_id, count(*) AS n_dup_win
         |       FROM g JOIN dup USING (gh) GROUP BY 1)
         |SELECT doc_id, CAST(n_win AS BIGINT) AS n_win,
         |       CAST(COALESCE(n_dup_win, 0) AS BIGINT) AS n_dup_win,
         |       CAST((COALESCE(n_dup_win, 0) * 1000000) // n_win AS BIGINT) AS dup_frac_e6
         |FROM tot LEFT JOIN dp USING (doc_id) ORDER BY doc_id""".stripMargin,

    "x61_bigram_lm" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |b AS (SELECT doc_id,
        |             unnest(list_transform(generate_series(1, len(tk) - 1),
        |               i -> array_to_string(tk[i:i+1], ' '))) AS bg
        |      FROM t WHERE len(tk) >= 2),
        |bb AS (SELECT doc_id, bg, string_split(bg, ' ')[1] AS w1 FROM b),
        |c2 AS (SELECT bg, count(*) AS c2 FROM bb GROUP BY 1),
        |c1 AS (SELECT w1, count(*) AS c1 FROM bb GROUP BY 1),
        |p AS (SELECT doc_id, (c2 * 1000000) // c1 AS p_e6
        |      FROM bb JOIN c2 USING (bg) JOIN c1 USING (w1))
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |       CAST(sum(p_e6) // count(*) AS BIGINT) AS mean_p_e6
        |FROM p GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "x62_edit_distance_join" ->
      """WITH t AS (SELECT substr(text, 1, 12) AS ti, min(doc_id) AS rep_id
        |           FROM documents GROUP BY 1),
        |v AS (SELECT ti, rep_id,
        |             unnest(list_transform(generate_series(0, length(ti)),
        |               i -> CASE WHEN i = 0 THEN ti
        |                    ELSE substr(ti, 1, i - 1) || substr(ti, i + 1, length(ti))
        |                    END)) AS v
        |      FROM t),
        |p AS (SELECT DISTINCT a.rep_id AS doc_a, b.rep_id AS doc_b,
        |             a.ti AS ti_a, b.ti AS ti_b
        |      FROM v a JOIN v b ON a.v = b.v AND a.ti < b.ti)
        |SELECT doc_a, doc_b, ti_a, ti_b FROM p
        |WHERE levenshtein(ti_a, ti_b) <= 1
        |ORDER BY doc_a, doc_b""".stripMargin,

    // plain exact counts with the same n/(k+1) threshold: the MG
    // sketch only proposes candidates, the exact filter decides
    "x63_heavy_hitters" ->
      """WITH w AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        |n AS (SELECT count(*) AS n FROM w)
        |SELECT w, CAST(count(*) AS BIGINT) AS cnt
        |FROM w GROUP BY w
        |HAVING count(*) * 31 > (SELECT n FROM n)
        |ORDER BY w""".stripMargin,

    "x64_mad_outliers" ->
      """WITH e AS (SELECT event_id, event_type,
        |                  CAST(round(value*100) AS BIGINT) AS value_c FROM events),
        |m AS (SELECT event_type, CAST(median(value_c)*2 AS BIGINT) AS med2
        |      FROM e GROUP BY 1),
        |dv AS (SELECT e.*, abs(value_c*2 - med2) AS dev2
        |       FROM e JOIN m USING (event_type)),
        |md AS (SELECT event_type, CAST(median(dev2)*2 AS BIGINT) AS mad4
        |       FROM dv GROUP BY 1)
        |SELECT event_id, event_type, value_c
        |FROM dv JOIN md USING (event_type)
        |WHERE dev2*2 > mad4*3 ORDER BY event_id""".stripMargin,

    "x66_curriculum_buckets" ->
      """WITH d AS (SELECT doc_id, n_chars FROM documents),
        |dist AS (SELECT n_chars, count(*) AS cnt FROM d GROUP BY 1),
        |tot AS (SELECT sum(cnt) AS n FROM dist),
        |b AS (SELECT n_chars,
        |             CAST((10 * COALESCE(sum(cnt) OVER (ORDER BY n_chars
        |                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))
        |                  // (SELECT n FROM tot) AS BIGINT) AS bucket
        |      FROM dist)
        |SELECT doc_id, n_chars, bucket
        |FROM d JOIN b USING (n_chars) ORDER BY doc_id""".stripMargin,

    // pair (i, i+1) of an alphabetic word = its 2-char substring at i;
    // ordering ties break by pair text in both engines (ASCII-only by
    // the filter, so binary collation agrees)
    "x65_bpe_pairs" ->
      """WITH t AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        |w AS (SELECT w, count(*) AS freq FROM t
        |      WHERE regexp_matches(w, '^[A-Za-z]+$') AND len(w) >= 2
        |      GROUP BY 1),
        |p AS (SELECT unnest(list_transform(range(1, len(w)),
        |                                   i -> substr(w, i, 2))) AS pair,
        |             freq
        |      FROM w)
        |SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt
        |FROM p GROUP BY pair
        |ORDER BY cnt DESC, pair LIMIT 20""".stripMargin,

    "x67_bpe_encode" ->
      s"""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
         |tw AS (SELECT doc_id, w FROM t
         |       WHERE regexp_matches(w, '^[A-Za-z]+$$') AND len(w) >= 2),
         |w0 AS (SELECT w, count(*) AS freq FROM tw GROUP BY 1),
         |s0 AS (SELECT w, freq,
         |              list_transform(range(1, len(w) + 1), i -> substr(w, i, 1)) AS syms
         |       FROM w0),
         |${(1 to BpeEncodeRounds).map(bpeRoundCtes).mkString(",\n")},
         |wt AS (SELECT w, CAST(len(syms) AS BIGINT) AS n_tok FROM s$BpeEncodeRounds)
         |SELECT tw.doc_id AS doc_id,
         |       CAST(count(*) AS BIGINT) AS n_words,
         |       CAST(sum(wt.n_tok) AS BIGINT) AS n_tokens,
         |       CAST(sum(len(tw.w)) AS BIGINT) AS n_chars
         |FROM tw JOIN wt ON tw.w = wt.w
         |GROUP BY 1
         |ORDER BY doc_id""".stripMargin,

    "x44_dataset_card" ->
      """WITH d AS (SELECT doc_id, lang,
        |                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |                  ('0x' || substr(md5(text), 1, 15))::BIGINT AS h
        |           FROM documents),
        |base AS (SELECT count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |                CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |                min(n_tokens) AS min_len, max(n_tokens) AS max_len
        |         FROM d),
        |vocab AS (SELECT CAST(count(DISTINCT t) AS BIGINT) AS vocab_size
        |          FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)),
        |dups AS (SELECT CAST(sum(n) - count(*) AS BIGINT) AS n_dup_docs
        |         FROM (SELECT h, count(*) AS n FROM d GROUP BY h)),
        |med AS (SELECT n_tokens AS median_len FROM (
        |          SELECT n_tokens,
        |                 row_number() OVER (ORDER BY n_tokens, doc_id) AS rn,
        |                 count(*) OVER () AS n
        |          FROM d) WHERE rn = CAST(ceil(n / 2.0) AS BIGINT))
        |SELECT * FROM base, vocab, dups, med""".stripMargin,

    "x48_hashing_tf" ->
      s"""SELECT doc_id, ${dH("token")} % 16 AS dim, count(*) AS weight
         |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
         |GROUP BY doc_id, dim ORDER BY doc_id, dim""".stripMargin,

    "x50_winnowing" ->
      s"""WITH gh AS (SELECT doc_id,
         |                   list_transform(generate_series(1, length(text) - 7),
         |                                  i -> ${dH("substr(text, i, 8)")}) AS gh
         |            FROM documents WHERE length(text) >= 11),
         |fps AS (SELECT doc_id,
         |               list_distinct(list_transform(range(1, len(gh) - 2),
         |                             j -> list_min(gh[j:j+3]))) AS fps
         |        FROM gh),
         |f AS (SELECT doc_id, unnest(fps) AS fp FROM fps),
         |rare AS (SELECT fp FROM (SELECT fp, count(*) AS df FROM f GROUP BY 1)
         |         WHERE df <= 16),
         |kept AS (SELECT f.doc_id, f.fp FROM f JOIN rare USING (fp))
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
         |FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= 3 ORDER BY doc_a, doc_b""".stripMargin,

    "x51_semantic_dedup" ->
      s"""WITH RECURSIVE cents AS (SELECT vec_id AS cent_id, embedding AS c_vec
         |                         FROM embeddings WHERE vec_id < 8),
         |sc AS (SELECT e.vec_id, e.embedding, c.cent_id,
         |              ${cosSql("e.embedding", "c.c_vec")} AS c_score
         |       FROM embeddings e, cents c),
         |assigned AS (SELECT vec_id, embedding, cent_id AS cluster FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY c_score DESC, cent_id) AS c_rnk
         |    FROM sc) WHERE c_rnk = 1),
         |cand AS (SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
         |         FROM assigned a JOIN assigned b
         |           ON a.cluster = b.cluster AND a.vec_id < b.vec_id
         |         WHERE ${cosSql("a.embedding", "b.embedding")} >= 250000),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM cand
         |          UNION SELECT doc_b, doc_a FROM cand),
         |reach AS (SELECT src, dst FROM edges
         |          UNION
         |          SELECT r.src, e2.dst FROM reach r JOIN edges e2 ON r.dst = e2.src),
         |lab AS (SELECT src AS vec_id, least(src, min(dst)) AS kept_id
         |        FROM reach GROUP BY src)
         |SELECT vec_id, kept_id FROM lab WHERE vec_id <> kept_id
         |ORDER BY vec_id""".stripMargin,

    "x49_minhash_calibration" ->
      s"""WITH $minhashBandsCtes,
         |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |                 any_value(a.sig) AS sig_a, any_value(b.sig) AS sig_b
         |          FROM bands a JOIN bands b
         |            ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2),
         |cand AS (SELECT doc_a, doc_b,
         |                CAST(floor(1000000.0 *
         |                  len(list_filter(generate_series(1, $K), i -> sig_a[i] = sig_b[i]))
         |                  / ${K.toDouble}) AS BIGINT) AS est_jaccard_e6
         |         FROM pairs
         |         WHERE CAST(floor(1000000.0 *
         |                 len(list_filter(generate_series(1, $K), i -> sig_a[i] = sig_b[i]))
         |                 / ${K.toDouble}) AS BIGINT) >= 250000),
         |ds AS (SELECT DISTINCT doc_id, g
         |       FROM (SELECT doc_id, unnest(sh) AS g FROM sh)),
         |nsz AS (SELECT doc_id, count(*) AS n FROM ds GROUP BY 1),
         |inter AS (SELECT c.doc_a, c.doc_b, count(*) AS ninter
         |          FROM cand c
         |          JOIN ds a ON a.doc_id = c.doc_a
         |          JOIN ds b ON b.doc_id = c.doc_b AND b.g = a.g
         |          GROUP BY 1, 2),
         |ex AS (SELECT c.est_jaccard_e6,
         |              (coalesce(i.ninter, 0) * 1000000)
         |                // (na.n + nb.n - coalesce(i.ninter, 0)) AS exact_e6
         |       FROM cand c
         |       LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
         |       JOIN nsz na ON na.doc_id = c.doc_a
         |       JOIN nsz nb ON nb.doc_id = c.doc_b)
         |SELECT CAST(est_jaccard_e6 // 100000 AS BIGINT) AS est_bucket,
         |       count(*) AS n_pairs,
         |       CAST(sum(exact_e6) // count(*) AS BIGINT) AS mean_exact_e6,
         |       CAST(sum(est_jaccard_e6) // count(*) AS BIGINT) AS mean_est_e6
         |FROM ex GROUP BY 1 ORDER BY est_bucket""".stripMargin,

    "x47_shingle_gen" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
        |              FROM documents WHERE doc_id % 10 = 0),
        |g AS (SELECT doc_id,
        |             unnest(list_transform(range(1, len(t)),
        |                    i -> struct_pack(pos := i - 1, shingle := t[i] || ' ' || t[i+1]))) AS e
        |      FROM toks)
        |SELECT doc_id, CAST(e.pos AS BIGINT) AS pos, e.shingle AS shingle
        |FROM g ORDER BY doc_id, pos""".stripMargin,

    "x46_mixture_sample" ->
      s"""WITH d AS (SELECT source,
         |                  ${dH("source")} % 9 * 100 + 100 AS w_permille,
         |                  CASE WHEN ${dH("('mix:' || CAST(doc_id AS VARCHAR))")} % 1000
         |                            < ${dH("source")} % 9 * 100 + 100
         |                       THEN 1 ELSE 0 END AS kept
         |           FROM documents)
         |SELECT source, CAST(w_permille AS BIGINT) AS w_permille,
         |       count(*) AS n_docs, CAST(sum(kept) AS BIGINT) AS n_kept
         |FROM d GROUP BY source, w_permille ORDER BY source""".stripMargin,

    "x45_pq_error" -> {
      s"""WITH $pqCodesCtes,
         |$residCtes,
         |rd AS (SELECT t.vec_id, s.m AS subspace, c.code,
         |              list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |                list_transform(range(1, 9),
         |                  i -> (t.r[s.m*8+i] - c.w[s.m*8+i]) * (t.r[s.m*8+i] - c.w[s.m*8+i]))),
         |                (acc, x) -> acc + x) AS dist
         |       FROM resid t, sub s, scb c),
         |rawmin AS (SELECT vec_id, subspace,
         |                  CAST(floor(min(dist) * 1000000000.0) AS BIGINT) AS e9
         |           FROM pq_d GROUP BY 1, 2),
         |resmin AS (SELECT vec_id, subspace,
         |                  CAST(floor(min(dist) * 1000000000.0) AS BIGINT) AS e9
         |           FROM rd GROUP BY 1, 2)
         |SELECT (SELECT CAST(sum(e9) AS BIGINT) FROM rawmin) AS raw_err_e9,
         |       (SELECT CAST(sum(e9) AS BIGINT) FROM resmin) AS res_err_e9,
         |       (SELECT count(*) FROM embeddings) AS n_vecs""".stripMargin
    },

    "x39_pq_encode" ->
      s"""WITH $pqCodesCtes
         |SELECT vec_id, CAST(subspace AS BIGINT) AS subspace,
         |       CAST(code AS BIGINT) AS code
         |FROM codes ORDER BY vec_id, subspace""".stripMargin,

    "x40_pq_adc_topk" ->
      s"""WITH $pqCodesCtes,
         |lut AS (SELECT p.vec_id AS probe_id, s.m AS subspace, c.code,
         |               CAST(floor(${pqDistSql("p.embedding")} * 1000000000) AS BIGINT) AS pd_e9
         |        FROM embeddings p, sub s, cb c WHERE p.vec_id % 97 = 0),
         |sc AS (SELECT l.probe_id, k.vec_id,
         |              CAST(sum(l.pd_e9) AS BIGINT) AS dist_e9
         |       FROM codes k JOIN lut l USING (subspace, code)
         |       WHERE k.vec_id <> l.probe_id
         |       GROUP BY 1, 2),
         |r AS (SELECT *, row_number() OVER (
         |        PARTITION BY probe_id ORDER BY dist_e9, vec_id) AS rnk
         |      FROM sc)
         |SELECT probe_id, vec_id, dist_e9, CAST(rnk AS BIGINT) AS rnk
         |FROM r WHERE rnk <= 3 ORDER BY probe_id, rnk""".stripMargin,

    // self-contained: the oracle recomputes assignment, residuals, and
    // the residual codebooks (sample ids 8..15, codes in vec-id order)
    // in SQL — no double literals cross the engine boundary
    "x42_pq_residual_encode" -> {
      s"""WITH $residCtes,
         |sub AS (SELECT unnest(range(0, 8)) AS m),
         |d AS (SELECT t.vec_id, t.cluster, s.m AS subspace, c.code,
         |             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |               list_transform(range(1, 9),
         |                 i -> (t.r[s.m*8+i] - c.w[s.m*8+i]) * (t.r[s.m*8+i] - c.w[s.m*8+i]))),
         |               (acc, x) -> acc + x) AS dist
         |      FROM resid t, sub s, scb c),
         |best AS (SELECT vec_id, cluster, subspace, code,
         |                row_number() OVER (PARTITION BY vec_id, subspace
         |                                   ORDER BY dist, code) AS rn
         |         FROM d)
         |SELECT vec_id, CAST(cluster AS BIGINT) AS cluster,
         |       CAST(subspace AS BIGINT) AS subspace, CAST(code AS BIGINT) AS code
         |FROM best WHERE rn = 1 ORDER BY vec_id, subspace""".stripMargin
    },

    "x43_ivfpq_residual_topk" -> {
      s"""WITH $residCtes,
         |sub AS (SELECT unnest(range(0, 8)) AS m),
         |d AS (SELECT t.vec_id, t.cluster, s.m AS subspace, c.code,
         |             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |               list_transform(range(1, 9),
         |                 i -> (t.r[s.m*8+i] - c.w[s.m*8+i]) * (t.r[s.m*8+i] - c.w[s.m*8+i]))),
         |               (acc, x) -> acc + x) AS dist
         |      FROM resid t, sub s, scb c),
         |codes AS (SELECT vec_id, cluster, subspace, code FROM (
         |            SELECT vec_id, cluster, subspace, code,
         |                   row_number() OVER (PARTITION BY vec_id, subspace
         |                                      ORDER BY dist, code) AS rn
         |            FROM d) WHERE rn = 1),
         |p_asg AS (
         |  SELECT vec_id AS probe_id, cent_id AS cluster FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY c_score DESC, cent_id) AS c_rnk
         |    FROM all_sc WHERE vec_id % 97 = 0) WHERE c_rnk <= 2),
         |p_resid AS (
         |  SELECT pa.probe_id, pa.cluster,
         |         list_transform(range(1, 65),
         |           i -> CAST(e.embedding[i] AS DOUBLE) - CAST(c.c_vec[i] AS DOUBLE)) AS pr
         |  FROM p_asg pa JOIN embeddings e ON e.vec_id = pa.probe_id
         |                JOIN cents c ON c.cent_id = pa.cluster),
         |lut AS (SELECT t.probe_id, t.cluster, s.m AS subspace, c.code,
         |               CAST(floor(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |                 list_transform(range(1, 9),
         |                   i -> (t.pr[s.m*8+i] - c.w[s.m*8+i]) * (t.pr[s.m*8+i] - c.w[s.m*8+i]))),
         |                 (acc, x) -> acc + x) * 1000000000.0) AS BIGINT) AS pd_e9
         |        FROM p_resid t, sub s, scb c),
         |sc AS (SELECT l.probe_id, k.vec_id AS neighbor_id,
         |              CAST(sum(l.pd_e9) AS BIGINT) AS dist_e9
         |       FROM codes k
         |       JOIN lut l ON l.cluster = k.cluster
         |                 AND l.subspace = k.subspace AND l.code = k.code
         |       WHERE k.vec_id <> l.probe_id
         |       GROUP BY 1, 2),
         |r AS (SELECT *, row_number() OVER (
         |        PARTITION BY probe_id ORDER BY dist_e9, neighbor_id) AS rnk
         |      FROM sc)
         |SELECT probe_id, neighbor_id, dist_e9, CAST(rnk AS BIGINT) AS rnk
         |FROM r WHERE rnk <= 3 ORDER BY probe_id, rnk""".stripMargin
    },

    "x41_ivfpq_topk" -> {
      s"""WITH $pqCodesCtes,
         |cents AS (SELECT vec_id AS cent_id, embedding AS c_vec FROM embeddings WHERE vec_id < 8),
         |corpus_sc AS (
         |  SELECT e.vec_id, c.cent_id, ${cosSql("e.embedding", "c.c_vec")} AS c_score
         |  FROM embeddings e, cents c),
         |assigned AS (
         |  SELECT vec_id, cent_id AS cluster FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY c_score DESC, cent_id) AS c_rnk
         |    FROM corpus_sc) WHERE c_rnk = 1),
         |probe_sc AS (
         |  SELECT e.vec_id AS probe_id, c.cent_id, ${cosSql("e.embedding", "c.c_vec")} AS c_score
         |  FROM embeddings e, cents c WHERE e.vec_id % 97 = 0),
         |p_assigned AS (
         |  SELECT probe_id, cent_id AS cluster FROM (
         |    SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY c_score DESC, cent_id) AS c_rnk
         |    FROM probe_sc) WHERE c_rnk <= 2),
         |lut AS (SELECT p.vec_id AS probe_id, s.m AS subspace, c.code,
         |               CAST(floor(${pqDistSql("p.embedding")} * 1000000000) AS BIGINT) AS pd_e9
         |        FROM embeddings p, sub s, cb c WHERE p.vec_id % 97 = 0),
         |sc AS (SELECT pa.probe_id, a.vec_id AS neighbor_id,
         |              CAST(sum(l.pd_e9) AS BIGINT) AS dist_e9
         |       FROM codes k
         |       JOIN assigned a USING (vec_id)
         |       JOIN p_assigned pa ON pa.cluster = a.cluster
         |       JOIN lut l ON l.probe_id = pa.probe_id
         |                 AND l.subspace = k.subspace AND l.code = k.code
         |       WHERE a.vec_id <> pa.probe_id
         |       GROUP BY 1, 2),
         |r AS (SELECT *, row_number() OVER (
         |        PARTITION BY probe_id ORDER BY dist_e9, neighbor_id) AS rnk
         |      FROM sc)
         |SELECT probe_id, neighbor_id, dist_e9, CAST(rnk AS BIGINT) AS rnk
         |FROM r WHERE rnk <= 3 ORDER BY probe_id, rnk""".stripMargin
    },

    "x37_unigram_lm" ->
      """WITH tf AS (SELECT doc_id, token, count(*) AS cnt
        |            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |                  FROM documents)
        |            GROUP BY 1, 2),
        |g AS (SELECT token, CAST(sum(cnt) AS BIGINT) AS gcnt FROM tf GROUP BY 1),
        |tot AS (SELECT CAST(sum(gcnt) AS BIGINT) AS total FROM g),
        |d AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS doc_len,
        |             CAST(sum(cnt * gcnt) AS BIGINT) AS wsum
        |      FROM tf JOIN g USING (token) GROUP BY 1)
        |SELECT doc_id, doc_len,
        |       CAST((wsum * 1000000) // (doc_len * total) AS BIGINT) AS score_e6
        |FROM d, tot ORDER BY doc_id""".stripMargin
  )

  val oracles: Map[String, String] = oraclesBase ++ Map(
    // the distributed rounds must answer exactly as the driver fast
    // path: same closure oracle verbatim
    "x20b_clusters_distributed" -> oraclesBase("x20_dedup_clusters"),

    // the persisted index must answer exactly as the ephemeral x41
    // path over the same corpus and dials: same oracle verbatim
    "x86_persisted_ivfpq_probe" -> oraclesBase("x41_ivfpq_topk"),

    // quantizer drift: per-phase pooled raw-PQ reconstruction error
    // (x45's rawmin machinery) — create = the base corpus vs the
    // vec_id<8 codebooks; append pools the answer-parity batch (same
    // vectors → same error sum) with the +3.0f-shifted batch (REAL
    // addition in both engines, so the stored floats match
    // bit-for-bit). stale mirrors staleQuantizer's integer arithmetic:
    // pooled append mean // vs create mean, 2e6/1e6 ratio, floor-1 base.
    "x87_quantizer_drift" ->
      s"""WITH cb AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code,
         |                   embedding AS cvec
         |            FROM embeddings WHERE vec_id < 8),
         |sub AS (SELECT unnest(range(0, 8)) AS m),
         |be AS (SELECT e.vec_id, s.m AS sm,
         |              CAST(floor(min(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |                list_transform(range(1, 9), i ->
         |                  (CAST(e.embedding[s.m*8+i] AS DOUBLE) - CAST(c.cvec[s.m*8+i] AS DOUBLE))
         |                  * (CAST(e.embedding[s.m*8+i] AS DOUBLE) - CAST(c.cvec[s.m*8+i] AS DOUBLE)))),
         |                (acc, t) -> acc + t)) * 1000000000.0) AS BIGINT) AS e9
         |       FROM embeddings e, sub s, cb c GROUP BY 1, 2),
         |se AS (SELECT e.vec_id, s.m AS sm,
         |              CAST(floor(min(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |                list_transform(range(1, 9), i ->
         |                  (CAST(CAST(e.embedding[s.m*8+i] AS REAL) + CAST(3.0 AS REAL) AS DOUBLE) - CAST(c.cvec[s.m*8+i] AS DOUBLE))
         |                  * (CAST(CAST(e.embedding[s.m*8+i] AS REAL) + CAST(3.0 AS REAL) AS DOUBLE) - CAST(c.cvec[s.m*8+i] AS DOUBLE)))),
         |                (acc, t) -> acc + t)) * 1000000000.0) AS BIGINT) AS e9
         |       FROM embeddings e, sub s, cb c GROUP BY 1, 2),
         |tots AS (SELECT (SELECT count(*) FROM embeddings) AS n,
         |                (SELECT CAST(sum(e9) AS BIGINT) FROM be) AS bsum,
         |                (SELECT CAST(sum(e9) AS BIGINT) FROM se) AS ssum),
         |rows_ AS (
         |  SELECT 'append' AS phase, CAST(2 * n AS BIGINT) AS n,
         |         CAST(bsum + ssum AS BIGINT) AS sum_err_e9,
         |         CAST((bsum + ssum) // (2 * n) AS BIGINT) AS mean_err_e9
         |  FROM tots
         |  UNION ALL
         |  SELECT 'create', CAST(n AS BIGINT), CAST(bsum AS BIGINT),
         |         CAST(bsum // n AS BIGINT)
         |  FROM tots)
         |SELECT phase, n, sum_err_e9, mean_err_e9,
         |       CAST((SELECT CASE WHEN ((bsum + ssum) // (2 * n)) * 1000000
         |                              > greatest(bsum // n, 1) * 2000000
         |                         THEN 1 ELSE 0 END FROM tots) AS BIGINT) AS stale
         |FROM rows_ ORDER BY phase""".stripMargin,

    // the full-corpus closure, verbatim x20's lab CTE: the incremental
    // fold (old labels + batch delta edges) must land on EXACTLY the
    // clusters a from-scratch run over the union corpus computes
    "x88_incremental_clusters" ->
      s"""WITH RECURSIVE $minhashBandsCtes,
         |$ccClosureCtes
         |SELECT doc_id, cluster_rep FROM lab ORDER BY doc_id""".stripMargin,

    // the closure over corpus∖deleted: tombstone-compact + retained-
    // pair relabel must equal a from-scratch run on the retained
    // corpus — component splits included (the %10=3 set contains a
    // bridge doc at sf0.01)
    "x89_delete_relabel" -> closureOracleOver("doc_id % 10 <> 3"),

    // the SAME closure over corpus∖deleted as x89: the scoped relabel
    // (touched components recomputed, untouched labels passed through)
    // must land on exactly the full recompute's answer, split included
    "x92_delete_relabel_scoped" -> closureOracleOver("doc_id % 10 <> 3"),

    // the multi-rendition corpus (2× upscale via repeat(char, 2); the
    // corrupted rendition via substr splice at sample 30's position)
    // and the dHash fingerprints re-derived character by character
    // (ascii(char) == byte for this asserted-ASCII corpus — the x21
    // convention), then the pair set brute-force over representatives
    // — deliberately WITHOUT the banding, so the compare proves the
    // 4-band pigeonhole misses nothing (the x70 discipline)
    "x91_perceptual_neardup" -> perceptualOracleSql(x91OneDBits),

    // the SAME corpus/closure as x91 with the 60 bits re-derived on
    // the 4×16 row-major grid — banding-free brute force again, so
    // the compare proves the grid arithmetic AND the banding
    // completeness on grid-form hashes
    "x91b_perceptual_grid_neardup" -> perceptualOracleSql(x91GridBits),

    // x91's answer VERBATIM: the persisted-index probe must land on
    // exactly the one-shot operator's rows (create-time reps are
    // group minima), whatever the index's relation layout
    "x93_perceptual_index_probe" -> perceptualOracleSql(x91OneDBits),

    // x41's ADC arithmetic over corpus∖deleted, quantizers trained on
    // the FULL table's id-prefix sample (frozen — they predate the
    // deletion): dropping code rows must equal this retained rebuild
    "x90_ann_delete" ->
      s"""WITH kept AS (SELECT * FROM embeddings WHERE vec_id % 9 <> 4),
         |${pqCodesCtesOver("kept")},
         |cents AS (SELECT vec_id AS cent_id, embedding AS c_vec FROM embeddings WHERE vec_id < 8),
         |corpus_sc AS (
         |  SELECT e.vec_id, c.cent_id, ${cosSql("e.embedding", "c.c_vec")} AS c_score
         |  FROM kept e, cents c),
         |assigned AS (
         |  SELECT vec_id, cent_id AS cluster FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY c_score DESC, cent_id) AS c_rnk
         |    FROM corpus_sc) WHERE c_rnk = 1),
         |probe_sc AS (
         |  SELECT e.vec_id AS probe_id, c.cent_id, ${cosSql("e.embedding", "c.c_vec")} AS c_score
         |  FROM kept e, cents c WHERE e.vec_id % 97 = 0),
         |p_assigned AS (
         |  SELECT probe_id, cent_id AS cluster FROM (
         |    SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY c_score DESC, cent_id) AS c_rnk
         |    FROM probe_sc) WHERE c_rnk <= 2),
         |lut AS (SELECT p.vec_id AS probe_id, s.m AS subspace, c.code,
         |               CAST(floor(${pqDistSql("p.embedding")} * 1000000000) AS BIGINT) AS pd_e9
         |        FROM kept p, sub s, cb c WHERE p.vec_id % 97 = 0),
         |sc AS (SELECT pa.probe_id, a.vec_id AS neighbor_id,
         |              CAST(sum(l.pd_e9) AS BIGINT) AS dist_e9
         |       FROM codes k
         |       JOIN assigned a USING (vec_id)
         |       JOIN p_assigned pa ON pa.cluster = a.cluster
         |       JOIN lut l ON l.probe_id = pa.probe_id
         |                 AND l.subspace = k.subspace AND l.code = k.code
         |       WHERE a.vec_id <> pa.probe_id
         |       GROUP BY 1, 2),
         |r AS (SELECT *, row_number() OVER (
         |        PARTITION BY probe_id ORDER BY dist_e9, neighbor_id) AS rnk
         |      FROM sc)
         |SELECT probe_id, neighbor_id, dist_e9, CAST(rnk AS BIGINT) AS rnk
         |FROM r WHERE rnk <= 3 ORDER BY probe_id, rnk""".stripMargin,

    // the HLL accuracy bound holds on every group (see the query's
    // scaladoc — the exact side is DuckDB's, the predicate is the
    // configured rsd)
    "q18b_approx_distinct_bound" ->
      """SELECT event_type, CAST(1 AS BIGINT) AS within_rsd
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // brute-force exact jaccard over the same one-source slice,
    // unordered pairs once (a < b) — completeness proof for the
    // symmetric prefix-filtered path
    "x70b_prefix_jaccard_selfjoin" ->
      """WITH d AS (SELECT * FROM documents WHERE source = 'src0'),
        |toks AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok FROM d),
        |sizes AS (SELECT doc_id, CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n FROM d),
        |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
        |          FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2)
        |SELECT doc_a, doc_b, n_inter,
        |       (n_inter * 1000000) // (sa.n + sb.n - n_inter) AS jaccard_e6
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = doc_a
        |JOIN sizes sb ON sb.doc_id = doc_b
        |WHERE (n_inter * 1000000) // (sa.n + sb.n - n_inter) >= 600000
        |ORDER BY doc_a, doc_b""".stripMargin,

    // x71: exact per-source char-4-gram set sizes and pairwise
    // intersections cross-engine (text[i:i+3] is DuckDB's 1-based
    // inclusive slice = 4 chars, matching TF.charGrams(text, 4));
    // the within_* flags assert the theta-sketch bounds hold
    "x71_source_overlap_sketch" ->
      """WITH g AS (SELECT DISTINCT source,
        |                  unnest(list_transform(range(1, len(text) - 2),
        |                                        i -> text[i:i+3])) AS gram
        |           FROM documents),
        |sz AS (SELECT source, count(*) AS n FROM g GROUP BY 1),
        |iv AS (SELECT a.source AS source_a, b.source AS source_b,
        |              count(*) AS exact_inter
        |       FROM g a JOIN g b ON a.gram = b.gram AND a.source < b.source
        |       GROUP BY 1, 2)
        |SELECT sa.source AS source_a, sb.source AS source_b,
        |       CAST(sa.n AS BIGINT) AS exact_a, CAST(sb.n AS BIGINT) AS exact_b,
        |       CAST(COALESCE(iv.exact_inter, 0) AS BIGINT) AS exact_inter,
        |       CAST(sa.n + sb.n - COALESCE(iv.exact_inter, 0) AS BIGINT) AS exact_union,
        |       CAST(1 AS BIGINT) AS within_a, CAST(1 AS BIGINT) AS within_b,
        |       CAST(1 AS BIGINT) AS within_inter
        |FROM sz sa JOIN sz sb ON sa.source < sb.source
        |LEFT JOIN iv ON iv.source_a = sa.source AND iv.source_b = sb.source
        |ORDER BY source_a, source_b""".stripMargin,

    // x72: the identical double-precision quantization expression —
    // float→double widening is exact and both engines evaluate the
    // same IEEE tree, so code sums/extremes hash-match; the error
    // bound holds by construction (floor error < 1 code unit)
    "x72_int8_quantize" ->
      """WITH s AS (SELECT vec_id, embedding,
        |                  list_max(list_transform(embedding,
        |                           x -> abs(CAST(x AS DOUBLE)))) AS scale
        |           FROM embeddings),
        |c AS (SELECT vec_id, len(embedding) AS n_dims,
        |             CASE WHEN scale = 0
        |                  THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
        |                  ELSE list_transform(embedding,
        |                       x -> CAST(floor(CAST(x AS DOUBLE) * 127 / scale) AS BIGINT))
        |             END AS codes
        |      FROM s)
        |SELECT vec_id, CAST(n_dims AS BIGINT) AS n_dims,
        |       CAST(list_sum(codes) AS BIGINT) AS sum_code,
        |       CAST(list_min(codes) AS BIGINT) AS min_code,
        |       CAST(list_max(codes) AS BIGINT) AS max_code,
        |       CAST(1 AS BIGINT) AS within_err
        |FROM c ORDER BY vec_id""".stripMargin,

    // x73: the identical SQ8 quantization + EXACT integer dot, then
    // the identically-ordered double rescale — rank and scores both
    // hash-match (the x10 brute-force oracle pattern)
    "x73_sq8_topk" ->
      s"""WITH q AS (SELECT vec_id, ${dSq8Scale("embedding")} AS s, embedding FROM embeddings),
         |c AS (SELECT vec_id, s, ${dSq8Codes("embedding", "s")} AS codes FROM q),
         |p AS (SELECT vec_id AS probe_id, s AS p_scale, codes AS p_codes
         |      FROM c WHERE vec_id < 10),
         |scored AS (
         |  SELECT p.probe_id, c.vec_id AS neighbor_id,
         |         CAST(floor(1000000.0 * CAST(list_sum(
         |                 list_transform(generate_series(1, len(c.codes)),
         |                                i -> c.codes[i] * p.p_codes[i])) AS DOUBLE)
         |              * c.s * p.p_scale / 16129.0) AS BIGINT) AS dot_e6
         |  FROM c, p WHERE c.vec_id <> p.probe_id),
         |ranked AS (
         |  SELECT probe_id, neighbor_id, dot_e6,
         |         CAST(row_number() OVER (PARTITION BY probe_id
         |              ORDER BY dot_e6 DESC, neighbor_id) AS BIGINT) AS rnk
         |  FROM scored)
         |SELECT probe_id, neighbor_id, dot_e6, rnk FROM ranked
         |WHERE rnk <= 5 ORDER BY probe_id, rnk""".stripMargin,

    // x74: x27's assignment CTE (argmax cosine, ties to lower
    // centroid id) + x69's windowed quota over the hash draw
    "x74_cluster_balanced_sample" ->
      s"""WITH cents AS (SELECT vec_id AS cent_id, embedding AS c_vec
         |               FROM embeddings WHERE vec_id < 8),
         |sc AS (SELECT e.vec_id, c.cent_id,
         |              ${cosSql("e.embedding", "c.c_vec")} AS c_score
         |       FROM embeddings e, cents c),
         |asg AS (SELECT vec_id, cent_id AS cluster FROM (
         |          SELECT *, row_number() OVER (PARTITION BY vec_id
         |                    ORDER BY c_score DESC, cent_id) AS rnk
         |          FROM sc) WHERE rnk = 1),
         |h AS (SELECT cluster, vec_id,
         |             ${dH("'cbal:' || CAST(vec_id AS VARCHAR)")} AS hv
         |      FROM asg),
         |r AS (SELECT cluster, vec_id,
         |             row_number() OVER (PARTITION BY cluster
         |                                ORDER BY hv DESC, vec_id) AS rk
         |      FROM h)
         |SELECT cluster, vec_id, CAST(rk AS BIGINT) AS rk
         |FROM r WHERE rk <= 25
         |ORDER BY cluster, rk""".stripMargin,

    // x75: bucketed-bigram integer importance weights (// is DuckDB
    // floor division — identical to Java long division on the
    // nonnegative operands here), then the raw pool ranked by its
    // literal-weight fold
    "x75_dsir_select" ->
      s"""WITH base AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
         |              WHERE len(string_split(text, ' ')) >= 2),
         |g AS (SELECT doc_id, (${dH("gram")} % 4096) AS b
         |      FROM (SELECT doc_id,
         |                   unnest(list_transform(generate_series(1, len(t)-1),
         |                                         i -> t[i] || ' ' || t[i+1])) AS gram
         |            FROM base)),
         |stats AS (SELECT b,
         |                 sum(CASE WHEN doc_id % 11 = 0 THEN 1 ELSE 0 END) AS tc,
         |                 sum(CASE WHEN doc_id % 11 <> 0 THEN 1 ELSE 0 END) AS rc
         |          FROM g GROUP BY 1),
         |tot AS (SELECT sum(tc) AS tt, sum(rc) AS rt FROM stats),
         |w AS (SELECT b, (1000000*tc)//tt - (1000000*rc)//rt AS wt FROM stats, tot),
         |score AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         |                 CAST(sum(wt) AS BIGINT) AS score_e6
         |          FROM g JOIN w USING (b) WHERE doc_id % 11 <> 0 GROUP BY 1),
         |r AS (SELECT *, row_number() OVER (ORDER BY score_e6 DESC, doc_id) AS rk
         |      FROM score)
         |SELECT doc_id, n_grams, score_e6, CAST(rk AS BIGINT) AS rk
         |FROM r WHERE rk <= 100 ORDER BY rk""".stripMargin,

    // x76: dup 5-gram starts -> covered positions -> anti-joined
    // token rewrite, string_agg ORDER BY p = the position-sorted
    // concat_ws
    "x76_dup_span_scrub" ->
      s"""WITH base AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |g AS (SELECT doc_id, s,
         |             ${dH("t[s]||' '||t[s+1]||' '||t[s+2]||' '||t[s+3]||' '||t[s+4]")} AS h
         |      FROM (SELECT doc_id, unnest(generate_series(1, len(t)-4)) AS s, t
         |            FROM base WHERE len(t) >= 5)),
         |dup AS (SELECT h FROM (SELECT h, count(DISTINCT doc_id) AS nd
         |                       FROM g GROUP BY 1) WHERE nd >= 2),
         |cs AS (SELECT DISTINCT doc_id, s FROM g JOIN dup USING (h)),
         |cp AS (SELECT DISTINCT doc_id, s + o AS p
         |       FROM cs CROSS JOIN (SELECT unnest(generate_series(0, 4)) AS o)),
         |tp AS (SELECT doc_id, p, t[p] AS tok
         |       FROM (SELECT doc_id, unnest(generate_series(1, len(t))) AS p, t
         |             FROM base)),
         |kept AS (SELECT tp.doc_id, tp.p, tp.tok
         |         FROM tp LEFT JOIN cp ON tp.doc_id = cp.doc_id AND tp.p = cp.p
         |         WHERE cp.p IS NULL),
         |re AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS text_scrubbed,
         |              count(*) AS n_kept
         |       FROM kept GROUP BY 1),
         |b2 AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens FROM base)
         |SELECT b2.doc_id, n_tokens,
         |       CAST(n_tokens - coalesce(n_kept, 0) AS BIGINT) AS n_removed,
         |       coalesce(text_scrubbed, '') AS text_scrubbed
         |FROM b2 LEFT JOIN re USING (doc_id) ORDER BY b2.doc_id""".stripMargin,

    // x77: the same integer priorities, window rank, and τ-estimator
    "x77_priority_sample" ->
      s"""WITH sc AS (SELECT doc_id, n_chars,
         |                   (n_chars * 1048576) //
         |                   ((${dH("'prio:' || CAST(doc_id AS VARCHAR)")} % 1048576) + 1)
         |                     AS priority
         |            FROM documents),
         |r AS (SELECT *, row_number() OVER (ORDER BY priority DESC, doc_id) AS rk
         |      FROM sc),
         |tau AS (SELECT priority AS tau FROM r WHERE rk = 49)
         |SELECT doc_id, n_chars, priority, CAST(rk AS BIGINT) AS rk,
         |       CAST(greatest(n_chars, tau) AS BIGINT) AS est
         |FROM r, tau WHERE rk <= 48 ORDER BY rk""".stripMargin,

    // x78: x76's rewrite with the dup set = the benchmark slice's
    // distinct 5-gram hashes; output = non-benchmark docs only
    "x78_decontaminate" ->
      s"""WITH base AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |g0 AS (SELECT doc_id, s,
         |              ${dH("t[s]||' '||t[s+1]||' '||t[s+2]||' '||t[s+3]||' '||t[s+4]")} AS h
         |       FROM (SELECT doc_id, unnest(generate_series(1, len(t)-4)) AS s, t
         |             FROM base WHERE len(t) >= 5)),
         |bg AS (SELECT DISTINCT h FROM g0 WHERE doc_id % 97 = 0),
         |cg AS (SELECT doc_id, s, h FROM g0 WHERE doc_id % 97 <> 0),
         |cp AS (SELECT doc_id, s + o AS p
         |       FROM (SELECT doc_id, s FROM cg JOIN bg USING (h))
         |       CROSS JOIN (SELECT unnest(generate_series(0, 4)) AS o)),
         |tb AS (SELECT doc_id, t FROM base WHERE doc_id % 97 <> 0),
         |tp AS (SELECT doc_id, p, t[p] AS tok
         |       FROM (SELECT doc_id, unnest(generate_series(1, len(t))) AS p, t
         |             FROM tb)),
         |kept AS (SELECT tp.doc_id, tp.p, tp.tok
         |         FROM tp LEFT JOIN cp ON tp.doc_id = cp.doc_id AND tp.p = cp.p
         |         WHERE cp.p IS NULL),
         |re AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS text_scrubbed,
         |              count(*) AS n_kept
         |       FROM kept GROUP BY 1),
         |b2 AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens FROM tb)
         |SELECT b2.doc_id, n_tokens,
         |       CAST(n_tokens - coalesce(n_kept, 0) AS BIGINT) AS n_removed,
         |       coalesce(text_scrubbed, '') AS text_scrubbed
         |FROM b2 LEFT JOIN re USING (doc_id) ORDER BY b2.doc_id""".stripMargin,

    // x79: the same exact-integer waterfilling (cross-multiplied
    // saturation test, floor-divided shares) and hash-ordered
    // cumulative apply
    "x79_budget_mixture" ->
      s"""WITH stats AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS t,
         |                      CASE WHEN CAST(substr(source, 4) AS BIGINT) < 4
         |                           THEN 200000 ELSE 12500 END AS w_e6
         |               FROM documents GROUP BY source),
         |k AS (SELECT *, t * (200000 // w_e6) AS k FROM stats),
         |c AS (SELECT *,
         |             coalesce(sum(t) OVER (ORDER BY k, source
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_t_prev,
         |             coalesce(sum(w_e6) OVER (ORDER BY k, source
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_w_prev
         |      FROM k),
         |f AS (SELECT *, (t * (1000000 - cum_w_prev) <= (60000 - cum_t_prev) * w_e6)
         |               AS saturated FROM c),
         |s2 AS (SELECT coalesce(sum(CASE WHEN saturated THEN t END), 0) AS st,
         |              coalesce(sum(CASE WHEN saturated THEN w_e6 END), 0) AS sw
         |       FROM f),
         |a AS (SELECT source, CAST(saturated AS BIGINT) AS saturated,
         |             CAST(CASE WHEN saturated THEN t
         |                       ELSE w_e6 * (60000 - st) // greatest(1000000 - sw, 1)
         |                  END AS BIGINT) AS alloc
         |      FROM f, s2),
         |dr AS (SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
         |              CAST(sum(n_chars) OVER (PARTITION BY source
         |                ORDER BY ${dH("'bud:' || CAST(doc_id AS VARCHAR)")}, doc_id)
         |                AS BIGINT) AS cum_chars
         |       FROM documents)
         |SELECT dr.doc_id, dr.source, dr.n_chars, dr.cum_chars, a.alloc, a.saturated
         |FROM dr JOIN a USING (source) WHERE cum_chars <= alloc
         |ORDER BY source, cum_chars""".stripMargin,

    // x80: the same per-source hash rank, exact virtual time, and
    // (vt, source, k) global order
    "x80_weighted_interleave" ->
      s"""WITH base AS (SELECT doc_id, source,
         |                     CASE WHEN CAST(substr(source, 4) AS BIGINT) < 4
         |                          THEN 200000 ELSE 12500 END AS w_e6,
         |                     ${dH("'wrr:' || CAST(doc_id AS VARCHAR)")} AS draw
         |              FROM documents),
         |rk AS (SELECT doc_id, source, w_e6,
         |              CAST(row_number() OVER (PARTITION BY source
         |                                      ORDER BY draw, doc_id) AS BIGINT) AS k
         |       FROM base),
         |vt AS (SELECT *, k * (1000000000000 // w_e6) AS vt FROM rk)
         |SELECT doc_id, source, k, vt,
         |       CAST(row_number() OVER (ORDER BY vt, source, k) AS BIGINT) AS pos
         |FROM vt ORDER BY pos""".stripMargin,

    // x81: the same rate draw, the same two character cuts, the same
    // PSM string assembly — the rewritten text itself is compared
    "x81_fim_transform" ->
      s"""WITH cuts AS (SELECT doc_id, text, n_chars,
         |                     ${dH("'fim?:' || CAST(doc_id AS VARCHAR)")} % 2 = 0 AS fim,
         |                     ${dH("'fim1:' || CAST(doc_id AS VARCHAR)")} % (n_chars + 1) AS c1,
         |                     ${dH("'fim2:' || CAST(doc_id AS VARCHAR)")} % (n_chars + 1) AS c2
         |              FROM documents),
         |lh AS (SELECT doc_id, text, n_chars, fim,
         |              least(c1, c2) AS lo, greatest(c1, c2) AS hi
         |       FROM cuts)
         |SELECT doc_id,
         |       CAST(fim AS BIGINT) AS fim,
         |       CASE WHEN fim THEN lo ELSE -1 END AS lo,
         |       CASE WHEN fim THEN hi ELSE -1 END AS hi,
         |       CASE WHEN fim
         |            THEN '<PRE>' || substr(text, 1, CAST(lo AS INTEGER))
         |              || '<SUF>' || substr(text, CAST(hi + 1 AS INTEGER),
         |                                   CAST(n_chars - hi AS INTEGER))
         |              || '<MID>' || substr(text, CAST(lo + 1 AS INTEGER),
         |                                   CAST(hi - lo AS INTEGER))
         |            ELSE text END AS text_fim
         |FROM lh ORDER BY doc_id""".stripMargin,

    // x82: same solver arithmetic on the per-source stats, whole
    // epochs via unnest(range(1, n_full + 1)) (empty at n_full = 0,
    // the engine-asymmetry the Spark side filters for), tail via the
    // hash-ordered cumsum
    "x82_epoch_mixture" ->
      s"""WITH stats AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS t,
         |                      CASE WHEN CAST(substr(source, 4) AS BIGINT) < 4
         |                           THEN 200000 ELSE 12500 END AS w_e6
         |               FROM documents GROUP BY source),
         |tgt AS (SELECT source, t,
         |               ((CAST(3000000 AS BIGINT) * w_e6) // 1000000) // t AS n_full,
         |               ((CAST(3000000 AS BIGINT) * w_e6) // 1000000) % t AS rem
         |        FROM stats),
         |whole AS (SELECT d.doc_id, d.source,
         |                 CAST(unnest(range(1, tgt.n_full + 1)) AS BIGINT) AS copy,
         |                 d.n_chars
         |          FROM documents d JOIN tgt USING (source)),
         |drawn AS (SELECT d.doc_id, d.source, d.n_chars, tgt.n_full, tgt.rem,
         |                 sum(d.n_chars) OVER (PARTITION BY d.source
         |                   ORDER BY ${dH("'ep:' || CAST(d.doc_id AS VARCHAR)")}, d.doc_id) AS cum
         |          FROM documents d JOIN tgt USING (source)),
         |tail AS (SELECT doc_id, source, CAST(n_full + 1 AS BIGINT) AS copy, n_chars
         |         FROM drawn WHERE cum <= rem)
         |SELECT * FROM whole UNION ALL SELECT * FROM tail
         |ORDER BY source, doc_id, copy""".stripMargin,

    // x83: the same split, counters, and cross-multiplied rules —
    // every flag is exact integer arithmetic in both engines
    "x83_gopher_rules" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w,
        |                  list_transform(string_split(text, ' '), x -> lower(x)) AS wl
        |           FROM documents),
        |m AS (SELECT doc_id,
        |             CAST(len(w) AS BIGINT) AS n_words,
        |             CAST(list_reduce(list_prepend(0, list_transform(w, x -> len(x))),
        |                              (a, b) -> a + b) AS BIGINT) AS word_chars,
        |             CAST(len(list_filter(w, x -> regexp_matches(x, '[a-zA-Z]'))) AS BIGINT) AS alpha_words,
        |             CAST(len(list_filter(w, x -> x LIKE '%...')) AS BIGINT) AS ellipsis_words,
        |             CAST((CASE WHEN list_contains(wl, 'scan') THEN 1 ELSE 0 END)
        |                + (CASE WHEN list_contains(wl, 'column') THEN 1 ELSE 0 END)
        |                + (CASE WHEN list_contains(wl, 'window') THEN 1 ELSE 0 END)
        |                + (CASE WHEN list_contains(wl, 'order') THEN 1 ELSE 0 END)
        |                + (CASE WHEN list_contains(wl, 'sort') THEN 1 ELSE 0 END)
        |                + (CASE WHEN list_contains(wl, 'part') THEN 1 ELSE 0 END)
        |                + (CASE WHEN list_contains(wl, 'agg') THEN 1 ELSE 0 END)
        |                + (CASE WHEN list_contains(wl, 'value') THEN 1 ELSE 0 END) AS BIGINT) AS stop_hits
        |      FROM w),
        |f AS (SELECT *,
        |             CAST(CASE WHEN n_words BETWEEN 50 AND 100000 THEN 1 ELSE 0 END AS BIGINT) AS r_word_count,
        |             CAST(CASE WHEN word_chars >= n_words * 3 AND word_chars <= n_words * 10 THEN 1 ELSE 0 END AS BIGINT) AS r_mean_word_len,
        |             CAST(CASE WHEN alpha_words * 10 >= n_words * 8 THEN 1 ELSE 0 END AS BIGINT) AS r_alpha_ratio,
        |             CAST(CASE WHEN ellipsis_words * 10 <= n_words * 3 THEN 1 ELSE 0 END AS BIGINT) AS r_ellipsis,
        |             CAST(CASE WHEN stop_hits >= 2 THEN 1 ELSE 0 END AS BIGINT) AS r_stopwords
        |      FROM m)
        |SELECT doc_id, n_words, word_chars, alpha_words, ellipsis_words,
        |       stop_hits, r_word_count, r_mean_word_len, r_alpha_ratio,
        |       r_ellipsis, r_stopwords,
        |       CAST(r_word_count * r_mean_word_len * r_alpha_ratio
        |            * r_ellipsis * r_stopwords AS BIGINT) AS pass
        |FROM f ORDER BY doc_id""".stripMargin,

    // x84: the same window/count/coverage pipeline — top-gram chars
    // are count × gram token chars; duplicate coverage is a DISTINCT
    // position-set union re-weighted by token length; every fraction
    // is exact integer arithmetic in both engines
    "x84_gopher_repetition" ->
      """WITH b AS (SELECT doc_id, string_split(text, ' ') AS w,
        |                  len(string_split(text, ' ')) AS nw,
        |                  CAST(list_reduce(list_prepend(0,
        |                         list_transform(string_split(text, ' '), x -> len(x))),
        |                       (a, c) -> a + c) AS BIGINT) AS wc
        |           FROM documents),
        |g AS (SELECT doc_id, n, wc, pos, array_to_string(w[pos+1:pos+n], ' ') AS g
        |      FROM (SELECT doc_id, w, wc, n, unnest(range(0, nw - n + 1)) AS pos
        |            FROM (SELECT doc_id, w, nw, wc,
        |                         unnest([2,3,4,5,6,7,8,9,10]) AS n FROM b)
        |            WHERE nw >= n)),
        |c AS (SELECT doc_id, n, wc, g, count(*) AS cnt, list(pos) AS ps
        |      FROM g GROUP BY 1, 2, 3, 4),
        |top AS (SELECT doc_id, n,
        |               -- greatest: separator-only docs have grams but wc = 0
        |               CAST(cnt * (len(g) - (n - 1)) * 1000000 // greatest(wc, 1) AS BIGINT) AS frac
        |        FROM (SELECT *, row_number() OVER (PARTITION BY doc_id, n
        |                                           ORDER BY cnt DESC, g) AS rk
        |              FROM c WHERE n <= 4)
        |        WHERE rk = 1),
        |ci AS (SELECT DISTINCT doc_id, n, idx
        |       FROM (SELECT doc_id, n, unnest(range(p, p + n)) AS idx
        |             FROM (SELECT doc_id, n, unnest(ps) AS p FROM c
        |                   WHERE n >= 5 AND cnt >= 2))),
        |cov AS (SELECT doc_id, n,
        |               CAST(sum(len(b.w[idx + 1])) * 1000000 // greatest(max(b.wc), 1) AS BIGINT) AS frac
        |        FROM ci JOIN b USING (doc_id) GROUP BY 1, 2),
        |tops AS (SELECT doc_id,
        |    CAST(coalesce(max(CASE WHEN n = 2 THEN frac END), 0) AS BIGINT) AS top2_e6,
        |    CAST(coalesce(max(CASE WHEN n = 3 THEN frac END), 0) AS BIGINT) AS top3_e6,
        |    CAST(coalesce(max(CASE WHEN n = 4 THEN frac END), 0) AS BIGINT) AS top4_e6
        |  FROM top GROUP BY 1),
        |covs AS (SELECT doc_id,
        |    CAST(coalesce(max(CASE WHEN n = 5 THEN frac END), 0) AS BIGINT) AS dup5_e6,
        |    CAST(coalesce(max(CASE WHEN n = 6 THEN frac END), 0) AS BIGINT) AS dup6_e6,
        |    CAST(coalesce(max(CASE WHEN n = 7 THEN frac END), 0) AS BIGINT) AS dup7_e6,
        |    CAST(coalesce(max(CASE WHEN n = 8 THEN frac END), 0) AS BIGINT) AS dup8_e6,
        |    CAST(coalesce(max(CASE WHEN n = 9 THEN frac END), 0) AS BIGINT) AS dup9_e6,
        |    CAST(coalesce(max(CASE WHEN n = 10 THEN frac END), 0) AS BIGINT) AS dup10_e6
        |  FROM cov GROUP BY 1),
        |f AS (SELECT b.doc_id,
        |             CAST(coalesce(top2_e6, 0) AS BIGINT) AS top2_e6,
        |             CAST(coalesce(top3_e6, 0) AS BIGINT) AS top3_e6,
        |             CAST(coalesce(top4_e6, 0) AS BIGINT) AS top4_e6,
        |             CAST(coalesce(dup5_e6, 0) AS BIGINT) AS dup5_e6,
        |             CAST(coalesce(dup6_e6, 0) AS BIGINT) AS dup6_e6,
        |             CAST(coalesce(dup7_e6, 0) AS BIGINT) AS dup7_e6,
        |             CAST(coalesce(dup8_e6, 0) AS BIGINT) AS dup8_e6,
        |             CAST(coalesce(dup9_e6, 0) AS BIGINT) AS dup9_e6,
        |             CAST(coalesce(dup10_e6, 0) AS BIGINT) AS dup10_e6
        |      FROM b LEFT JOIN tops USING (doc_id) LEFT JOIN covs USING (doc_id)),
        |fl AS (SELECT *,
        |    CAST(CASE WHEN top2_e6 <= 200000 THEN 1 ELSE 0 END AS BIGINT) AS r_top2,
        |    CAST(CASE WHEN top3_e6 <= 180000 THEN 1 ELSE 0 END AS BIGINT) AS r_top3,
        |    CAST(CASE WHEN top4_e6 <= 160000 THEN 1 ELSE 0 END AS BIGINT) AS r_top4,
        |    CAST(CASE WHEN dup5_e6 <= 150000 THEN 1 ELSE 0 END AS BIGINT) AS r_dup5,
        |    CAST(CASE WHEN dup6_e6 <= 140000 THEN 1 ELSE 0 END AS BIGINT) AS r_dup6,
        |    CAST(CASE WHEN dup7_e6 <= 130000 THEN 1 ELSE 0 END AS BIGINT) AS r_dup7,
        |    CAST(CASE WHEN dup8_e6 <= 120000 THEN 1 ELSE 0 END AS BIGINT) AS r_dup8,
        |    CAST(CASE WHEN dup9_e6 <= 110000 THEN 1 ELSE 0 END AS BIGINT) AS r_dup9,
        |    CAST(CASE WHEN dup10_e6 <= 100000 THEN 1 ELSE 0 END AS BIGINT) AS r_dup10
        |  FROM f)
        |SELECT *, CAST(r_top2 * r_top3 * r_top4 * r_dup5 * r_dup6 * r_dup7
        |               * r_dup8 * r_dup9 * r_dup10 AS BIGINT) AS pass
        |FROM fl ORDER BY doc_id""".stripMargin,

    // x85: x61's bigram-LM arithmetic verbatim, then the per-source
    // deterministic tertile cut — rank over (mean_p desc, doc_id)
    "x85_perplexity_split" ->
      """WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS tk
        |           FROM documents),
        |b AS (SELECT doc_id, source,
        |             unnest(list_transform(generate_series(1, len(tk) - 1),
        |               i -> array_to_string(tk[i:i+1], ' '))) AS bg
        |      FROM t WHERE len(tk) >= 2),
        |bb AS (SELECT doc_id, source, bg, string_split(bg, ' ')[1] AS w1 FROM b),
        |c2 AS (SELECT bg, count(*) AS c2 FROM bb GROUP BY 1),
        |c1 AS (SELECT w1, count(*) AS c1 FROM bb GROUP BY 1),
        |p AS (SELECT doc_id, source, (c2 * 1000000) // c1 AS p_e6
        |      FROM bb JOIN c2 USING (bg) JOIN c1 USING (w1)),
        |m AS (SELECT doc_id, source,
        |             CAST(sum(p_e6) // count(*) AS BIGINT) AS mean_p_e6
        |      FROM p GROUP BY 1, 2),
        |r AS (SELECT *,
        |             row_number() OVER (PARTITION BY source
        |                                ORDER BY mean_p_e6 DESC, doc_id) AS rk,
        |             count(*) OVER (PARTITION BY source) AS n_src
        |      FROM m)
        |SELECT doc_id, source, mean_p_e6,
        |       CAST((3 * (rk - 1)) // n_src AS BIGINT) AS tier
        |FROM r ORDER BY doc_id""".stripMargin
  )
}
