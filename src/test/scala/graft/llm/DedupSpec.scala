package graft.llm

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSession

class DedupSpec extends AnyFunSuite with SparkTestSession {

  private def docs(rows: (Long, String)*) = {
    val s = spark; import s.implicits._
    rows.toDF("doc_id", "text")
  }

  test("exactDedup keeps the lowest id per content and counts duplicates") {
    val got = Dedup.exactDedup(
      docs((1L, "aa bb"), (2L, "aa bb"), (3L, "cc"), (4L, "aa bb")),
      "text", "doc_id")
      .select("doc_id", "n_dups").orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq === Seq((1L, 3L), (3L, 1L)))
  }

  test("minhash LSH pairs identical docs with a full-match signature") {
    val text = "the quick brown fox jumps over the lazy dog again and again"
    val got = Dedup.minhashCandidates(
      docs((1L, text), (2L, text), (3L, "completely different words entirely here now")),
      "text", "doc_id", materialize = false)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq === Seq((1L, 2L, TextFunctions.MinHashK.toLong)))
  }

  test("minhash LSH tolerates sub-shingle-size docs (no pairs, no crash)") {
    val got = Dedup.minhashCandidates(
      docs((1L, "solo"), (2L, "solo"), (3L, "a b a b a b a b")),
      "text", "doc_id", materialize = false).collect()
    assert(got.isEmpty) // single-token docs have empty shingle sets
  }

  test("incrementalCandidatesFromSigs over docSigs == incrementalCandidates " +
    "(the round-16 one-sig-pass-per-batch seam)") {
    val text = "the quick brown fox jumps over the lazy dog again and again"
    val corpus = docs((1L, text), (2L, "other words entirely different here"),
      (3L, text + " extra"))
    val index = Dedup.bandIndex(corpus, "text", "doc_id")
    val batch = docs((10L, text), (11L, "no match for this one at all"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("new_id", "old_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val direct = rows(Dedup.incrementalCandidates(batch, index, "text", "doc_id"))
    val viaSigs = rows(Dedup.incrementalCandidatesFromSigs(
      Dedup.docSigs(batch, "text", "doc_id"), index, "doc_id"))
    assert(direct.nonEmpty)
    assert(viaSigs === direct)
  }

  test("connectedComponents' distributed loop restores the session confs " +
    "it scopes (AQE + shuffle partitions), success or failure") {
    val s = spark
    val aqePrev = s.conf.get("spark.sql.adaptive.enabled")
    val shufPrev = s.conf.get("spark.sql.shuffle.partitions")
    try {
      s.conf.set("spark.sql.adaptive.enabled", "true")
      s.conf.set("spark.sql.shuffle.partitions", "13")
      val pairs = docs((1L, "x"), (2L, "y")).select(
        col("doc_id").as("doc_a"), (col("doc_id") + 10L).as("doc_b"))
      // driverMaxPairs = -1 forces the DISTRIBUTED loop (the scoped arm)
      Dedup.connectedComponents(pairs, "doc_a", "doc_b",
        driverMaxPairs = -1L).collect()
      assert(s.conf.get("spark.sql.adaptive.enabled") === "true")
      assert(s.conf.get("spark.sql.shuffle.partitions") === "13")
    } finally {
      s.conf.set("spark.sql.adaptive.enabled", aqePrev)
      s.conf.set("spark.sql.shuffle.partitions", shufPrev)
    }
  }

  test("incremental dedup fires only new-vs-old pairs against the index") {
    val text = "the quick brown fox jumps over the lazy dog again and again"
    val other = "completely different words entirely here now for this doc"
    val old = docs((1L, text), (2L, other))
    // the new batch near-dups BOTH an old doc (10 vs 1) and another
    // new doc (11 vs 12) — only the new-vs-old pair may fire
    val fresh = docs((10L, text), (11L, other + " x"), (12L, other + " x"))
    val got = Dedup.incrementalCandidates(
      fresh, Dedup.bandIndex(old, "text", "doc_id"), "text", "doc_id")
      .orderBy("new_id", "old_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.contains((10L, 1L)), s"planted new-vs-old dup not found: ${got.toSeq}")
    assert(!got.exists { case (n, o) => n >= 10L && o >= 10L },
      s"new-vs-new pair leaked into the incremental result: ${got.toSeq}")
    assert(!got.exists { case (n, _) => n < 10L },
      s"old doc appeared as a new_id: ${got.toSeq}")
  }

  test("band index survives a parquet round-trip (the persisted-index path)") {
    val text = "the quick brown fox jumps over the lazy dog again and again"
    val old = docs((1L, text), (2L, "completely different words entirely here now"))
    val dir = java.nio.file.Files.createTempDirectory("graft-band-index").toString
    try {
      // persist the corpus index once; a later batch reads it back and
      // dedups against it without re-hashing the corpus
      Dedup.bandIndex(old, "text", "doc_id").write.mode("overwrite").parquet(dir)
      val loaded = spark.read.parquet(dir)
      val got = Dedup.incrementalCandidates(
        docs((10L, text)), loaded, "text", "doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(got.toSeq === Seq((10L, 1L)))
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala.toSeq
        .sortBy(-_.getNameCount).foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("token jaccard: exact values through the inverted-index join") {
    val got = Dedup.tokenJaccardPairs(
      docs((0L, "a b c d"), (1L, "a b c d"), (2L, "a b x y")),
      "text", "doc_id",
      probeFilter = col("doc_id") === 0, minJaccardE6 = 300000L)
      .orderBy("other_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // vs doc1: 4/4 = 1.0; vs doc2: |{a,b}| / |{a,b,c,d,x,y}| = 2/6
    assert(got.toSeq === Seq((0L, 1L, 4L, 1000000L), (0L, 2L, 2L, 333333L)))
  }

  test("connected components: chains are transitive, cycles terminate, " +
    "components stay disjoint") {
    val s = spark; import s.implicits._
    // chain 1-2-3-4 (diameter 3: needs >1 propagation round),
    // triangle 10-11-12 (cycle), isolated pair 20-21
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (12L, 10L), (20L, 21L))
      .toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("exact-signature collapse: star edges are linear, a subset of the " +
    "full listing, and component-identical to it") {
    val text = "the quick brown fox jumps over the lazy dog again and again"
    val near = text + " extra"       // near-dup of the group, different sig
    val other = "completely different words entirely here now for this doc"
    // exact-dup group {1,2,3,4}, its near-dup 5, unrelated 9, and a
    // too-short doc 6 (all-null signature — must NOT join the group)
    val corpus = docs((1L, text), (2L, text), (3L, text), (4L, text),
      (5L, near), (6L, "solo"), (9L, other))
    def pairsOf(collapse: Boolean) =
      Dedup.minhashCandidates(corpus, "text", "doc_id",
        materialize = false, collapseExact = collapse)
        .collect()
        .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3))))
        .toMap
    val full = pairsOf(false)
    val star = pairsOf(true)
    // linear in group size: 3 star edges + the one rep-level near-dup
    // pair, vs the full listing's 6-pair clique + 4 member-level pairs
    assert(star.keySet ===
      Set((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L)))
    assert(full.keySet.size === 10, s"full listing: ${full.keySet}")
    // subset, with IDENTICAL (n_match, est) values where both emit
    assert(star.keySet.subsetOf(full.keySet))
    star.foreach { case (k, v) =>
      assert(full(k) === v, s"pair $k values differ: star=$v full=${full(k)}")
    }
    // the property every cluster consumer relies on: identical components
    def ccOf(collapse: Boolean) =
      Dedup.connectedComponents(
        Dedup.minhashCandidates(corpus, "text", "doc_id",
          materialize = false, collapseExact = collapse),
        "doc_a", "doc_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(ccOf(true) === ccOf(false))
    assert(ccOf(true) === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L))
  }

  test("candidatesFromIndex == minhashCandidates: components and pair " +
    "values, from persisted fingerprint rows alone") {
    val text = "the quick brown fox jumps over the lazy dog again and again"
    val other = "completely different words entirely here now for this doc"
    val corpus = docs((1L, text), (2L, text), (3L, text + " extra"),
      (6L, "solo"), (9L, other))
    val index = Dedup.bandIndex(corpus, "text", "doc_id")
    val fromIdx = Dedup.candidatesFromIndex(index, "doc_id",
        materialize = false)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3))))
      .toMap
    val fromText = Dedup.minhashCandidates(corpus, "text", "doc_id",
        materialize = false)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3))))
      .toMap
    assert(fromIdx === fromText)
    // replayed at-least-once append: duplicate index rows change nothing
    val replayed = Dedup.candidatesFromIndex(index.union(index), "doc_id",
        materialize = false)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3))))
      .toMap
    assert(replayed === fromText)
  }

  test("deletion splits a component: a deleted bridge doc breaks its " +
    "cluster, which the retained-pair recompute reflects") {
    // two exact-dup groups {1,2} (text A) and {10,11} (text C), bridged
    // by doc 5 whose text is half of A + half of C: 5 near-dups both
    // sides while A and C share nothing — delete 5 and the component
    // MUST split, the case incremental min-label state cannot express
    val a = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    val c = "november oscar papa quebec romeo sierra tango uniform victor whiskey xray yankee"
    val bridge = (a.split(" ").take(6) ++ c.split(" ").take(6)).mkString(" ")
    val corpus = docs((1L, a), (2L, a), (5L, bridge), (10L, c), (11L, c))
    val index = Dedup.bandIndex(corpus, "text", "doc_id")
      .localCheckpoint(true)
    val before = Dedup.connectedComponents(
        Dedup.candidatesFromIndex(index, "doc_id", materialize = false),
        "doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // precondition: the bridge actually bridges — one component of 5
    assert(before === Map(1L -> 1L, 2L -> 1L, 5L -> 1L, 10L -> 1L, 11L -> 1L),
      s"fixture must form one bridged component, got $before")
    // the tombstone compact's relational core: retained rows only
    val retained = index.filter(col("doc_id") =!= 5L)
    val after = Dedup.connectedComponents(
        Dedup.candidatesFromIndex(retained, "doc_id", materialize = false),
        "doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(after === Map(1L -> 1L, 2L -> 1L, 10L -> 10L, 11L -> 10L),
      s"deleting the bridge must split the component, got $after")
    // and it equals the from-scratch run over corpus∖deleted
    val scratch = Dedup.connectedComponents(
        Dedup.minhashCandidates(corpus.filter(col("doc_id") =!= 5L),
          "text", "doc_id", materialize = false),
        "doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(after === scratch)
  }

  test("randomized add/delete interleave: labels from the maintained " +
    "index equal a from-scratch run at every step") {
    val rng = new scala.util.Random(20260816L)
    val templates = Seq(
      "the quick brown fox jumps over the lazy dog again and again",
      "completely different words entirely here now for this doc",
      "pack my box with five dozen liquor jugs right away today",
      "sphinx of black quartz judge my vow said the old sage")
    var nextId = 0L
    def batch(n: Int): Seq[(Long, String)] = (1 to n).map { _ =>
      nextId += 1
      val t = templates(rng.nextInt(templates.size))
      // ~half the docs are exact copies of a template, the rest
      // near-dups with a suffix — dup groups AND near-dup chains
      (nextId, if (rng.nextBoolean()) t else t + " tail" + rng.nextInt(3))
    }
    var live = Map.empty[Long, String]
    var index: org.apache.spark.sql.DataFrame = null
    def checkStep(): Unit = {
      val fromIdx = Dedup.connectedComponents(
          Dedup.candidatesFromIndex(index, "doc_id", materialize = false),
          "doc_a", "doc_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val scratch = Dedup.connectedComponents(
          Dedup.minhashCandidates(docs(live.toSeq.sortBy(_._1): _*),
            "text", "doc_id", materialize = false),
          "doc_a", "doc_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(fromIdx === scratch, s"maintained-index labels diverged at ${live.size} live docs")
    }
    (1 to 4).foreach { _ =>
      // ADD: append a batch's fingerprints (no corpus re-hash)
      val add = batch(6)
      live ++= add
      val addIdx = Dedup.bandIndex(docs(add: _*), "text", "doc_id")
      index = (if (index == null) addIdx else index.union(addIdx))
        .localCheckpoint(true)
      checkStep()
      // DELETE: tombstone ~a third of the live set (anti-join — the
      // DedupIndex.compact core), then recompute from retained rows
      val dead = live.keys.filter(_ % 3 == 0).toSet
      if (dead.nonEmpty) {
        live --= dead
        index = index.filter(!col("doc_id").isin(dead.toSeq: _*))
          .localCheckpoint(true)
        checkStep()
      }
    }
  }

  test("foldIndexDistinct: a recurring signature never regrows rep rows, " +
    "and probe connectivity is preserved") {
    val text = "the quick brown fox jumps over the lazy dog again and again"
    val other = "completely different words entirely here now for this doc"
    val base = Dedup.bandIndexDistinct(docs((1L, text), (2L, other)),
      "text", "doc_id").localCheckpoint(true)
    // batch 1 re-sends the SAME signature (doc 10 = copy of doc 1) plus
    // a short null-sig doc; batch 2 re-sends it again
    val b1 = Dedup.bandIndexDistinct(docs((10L, text), (11L, "solo")),
      "text", "doc_id")
    val b2 = Dedup.bandIndexDistinct(docs((20L, text)), "text", "doc_id")
    val folded = Dedup.foldIndexDistinct(
      Dedup.foldIndexDistinct(base, b1, "doc_id"), b2, "doc_id")
      .localCheckpoint(true)
    // the recurring signature kept exactly ONE rep (doc 1's rows); the
    // null-sig doc passed through (its own representative)
    val ids = folded.select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(ids === Set(1L, 2L, 11L),
      s"recurring signature must not regrow rep rows, got ids $ids")
    // connectivity through the kept rep: a future probe of the same
    // text still finds its duplicate
    val probe = Dedup.incrementalCandidates(docs((30L, text)), folded,
      "text", "doc_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(probe.toSeq === Seq((30L, 1L)))
  }

  private def sigDocs(rows: (Long, Seq[Long])*) = {
    val s = spark; import s.implicits._
    rows.toDF("doc_id", "sig")
  }

  test("scoped delete relabel: the recompute sees ONLY the touched slice, " +
    "untouched labels pass through verbatim (poison-proof), and a deleted " +
    "bridge's split is re-derived") {
    val s = spark; import s.implicits._
    // fabricated 24-long signatures (12 bands x 2 rows): A—B—C is a
    // chain through bridge B (A,B share the first half = bands 0..5;
    // B,C the second half = bands 6..11; A,C nothing), D a separate
    // exact-dup pair, E a singleton
    val aHalf = (1L to 12L); val shared = (501L to 512L)
    val A = aHalf ++ (21L to 32L)
    val B = aHalf ++ shared
    val C = (301L to 312L) ++ shared
    val D = (601L to 612L) ++ (701L to 712L)
    val E = (801L to 812L) ++ (901L to 912L)
    val sigs = sigDocs(1L -> A, 2L -> A, 3L -> B, 4L -> C, 5L -> C,
      10L -> D, 11L -> D, 20L -> E)
    val prior = Dedup.connectedComponents(
      Dedup.candidatesFromSigs(sigs, "doc_id", assumeUnique = true),
      "doc_a", "doc_b").localCheckpoint(true)
    assert(prior.collect().map(r => (r.getLong(0), r.getLong(1))).toMap ===
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
        10L -> 10L, 11L -> 10L))

    // the kernel's scope: deleting bridge 3 feeds CC exactly the
    // touched component's RETAINED members — the untouched pair {10,11}
    // (and singleton 20) never enter the recompute. Its outputs are
    // checked on every arm: the driver arm collects the scope, the
    // others build it by gated joins.
    val tomb = Seq(3L).toDF("doc_id")
    // poison-proof: rewrite the untouched component's labels to a
    // value NO recompute would produce (a recompute restores the
    // component minimum 10); the scoped path must carry the poison
    // through — direct evidence untouched labels are never re-derived
    val poisoned = prior.select(col("node"),
      when(col("label") === 10L, lit(9910L)).otherwise(col("label")).as("label"))
    def labelsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    for (arm <- Seq(Dedup.Arm.Driver, Dedup.Arm.Broadcast, Dedup.Arm.Shuffle))
      Dedup.arm.withValue(arm) {
        val d = Dedup.scopedDelete(sigs, tomb, poisoned, "doc_id")
        assert(d.slice.select("doc_id").collect().map(_.getLong(0)).toSet ===
          Set(1L, 2L, 4L, 5L),
          s"$arm: the CC recompute must see exactly the touched component's retained members")
        assert(d.sliceRows.isDefined === (arm == Dedup.Arm.Driver), s"$arm: the scope's arm")
        assert(labelsOf(d.untouched) === Map(10L -> 9910L, 11L -> 9910L),
          s"$arm: untouched rows pass through verbatim, poison included")
        // the DELTA — the changed rows alone (what a takedown
        // materializes; O(touched), the merge-on-read write): exactly
        // the touched component's recomputed labels, nothing else
        assert(labelsOf(d.delta) === Map(1L -> 1L, 2L -> 1L, 4L -> 4L, 5L -> 4L),
          s"$arm: the delta must carry exactly the recomputed touched rows")
        assert(labelsOf(Dedup.relabelScopedFromSigs(sigs, tomb, poisoned, "doc_id")) ===
          Map(1L -> 1L, 2L -> 1L, 4L -> 4L, 5L -> 4L, 10L -> 9910L, 11L -> 9910L),
          s"$arm: split re-derived for the touched component; poison preserved " +
            "for the untouched one")
        // deleting the bridge and both C docs leaves the component
        // exactly two retained members, {1,2}: they keep their pair
        assert(labelsOf(Dedup.relabelScopedFromSigs(sigs, Seq(3L, 4L, 5L).toDF("doc_id"),
            prior, "doc_id")) === Map(1L -> 1L, 2L -> 1L, 10L -> 10L, 11L -> 10L),
          s"$arm: a component left with two retained members keeps its pair")
      }

    // deleting a CC singleton (doc 20 — in the sigs, never in a pair)
    // touches no component: labels unchanged
    val noop = Dedup.relabelScopedFromSigs(sigs, Seq(20L).toDF("doc_id"),
        prior, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(noop === prior.collect().map(r => (r.getLong(0), r.getLong(1))).toMap)
  }

  test("cost dispatch: both arms of relabelScopedAutoFromSigs return the " +
    "same labels, and the thresholds pick the expected arm") {
    val s = spark; import s.implicits._
    // the bridge fixture again: deleting 3 splits {1..5} into {1,2}/{4,5}
    val aHalf = (1L to 12L); val shared = (501L to 512L)
    val sigs = sigDocs(
      1L -> (aHalf ++ (21L to 32L)), 2L -> (aHalf ++ (21L to 32L)),
      3L -> (aHalf ++ shared),
      4L -> ((301L to 312L) ++ shared), 5L -> ((301L to 312L) ++ shared),
      10L -> ((601L to 612L) ++ (701L to 712L)),
      11L -> ((601L to 612L) ++ (701L to 712L)))
    val prior = Dedup.connectedComponents(
      Dedup.candidatesFromSigs(sigs, "doc_id", assumeUnique = true),
      "doc_a", "doc_b").localCheckpoint(true)
    val tomb = Seq(3L).toDF("doc_id")
    def run(minRows: Long, maxFrac: Double) =
      Dedup.relabelScopedAutoFromSigs(sigs, tomb, prior, "doc_id",
          minCorpusRows = minRows, maxTouchedFraction = maxFrac)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val want = Map(1L -> 1L, 2L -> 1L, 4L -> 4L, 5L -> 4L,
      10L -> 10L, 11L -> 10L)
    // forced-FULL (corpus floor unmet) == forced-SCOPED (thresholds
    // wide open) == the split truth: the dispatch never changes the
    // answer, only the cost
    assert(run(minRows = Long.MaxValue, maxFrac = 1.0) === want, "FULL arm")
    assert(run(minRows = 0L, maxFrac = 1.0) === want, "SCOPED arm")
    // the fraction ceiling also forces FULL (5 of 7 labeled rows
    // touched > any reasonable ceiling) — same answer
    assert(run(minRows = 0L, maxFrac = 0.1) === want, "fraction-forced FULL arm")
    // the production defaults on this 7-row corpus pick FULL (below
    // the measured floor) — and still the same labels
    assert(Dedup.relabelScopedAutoFromSigs(sigs, tomb, prior, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap === want)
  }

  test("scoped delete relabel + scoped index delete equal from-scratch " +
    "recomputes across randomized deletion batches") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(15L)
    // signatures assembled from a small pool of half-blocks so random
    // docs overlap on bands (each shared half = 12 matching positions
    // = est 0.5 >= the 0.25 threshold)
    val halves = Vector.tabulate(5)(h => ((h * 100 + 1).toLong to (h * 100 + 12).toLong).toSeq)
    var live: Map[Long, Seq[Long]] = (1L to 18L).map { id =>
      id -> (halves(rnd.nextInt(5)) ++ halves(rnd.nextInt(5)))
    }.toMap
    def sigsOf(m: Map[Long, Seq[Long]]) = sigDocs(m.toSeq.sortBy(_._1): _*)
    def scratchLabels(m: Map[Long, Seq[Long]]) = Dedup.connectedComponents(
      Dedup.candidatesFromSigs(sigsOf(m), "doc_id", assumeUnique = true),
      "doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    def indexRows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), col("band").cast("long"), col("bkey")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    var labels = Dedup.connectedComponents(
      Dedup.candidatesFromSigs(sigsOf(live), "doc_id", assumeUnique = true),
      "doc_a", "doc_b").localCheckpoint(true)
    var index = Dedup.bandIndexDistinctFromSigs(sigsOf(live), "doc_id")
      .localCheckpoint(true)
    (1 to 3).foreach { step =>
      val dead = live.keys.filter(_ => rnd.nextInt(3) == 0).toSet
      if (dead.nonEmpty) {
        val before = sigsOf(live)
        val deadDf = dead.toSeq.sorted.toDF("doc_id")
        labels = Dedup.relabelScopedFromSigs(before, deadDf, labels,
            "doc_id", materialize = false).localCheckpoint(true)
        index = Dedup.deleteFromIndexDistinct(index, before, deadDf, "doc_id")
          .localCheckpoint(true)
        live --= dead
        val gotLabels = labels.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
        assert(gotLabels === scratchLabels(live),
          s"scoped labels diverged from scratch at step $step (deleted $dead)")
        assert(indexRows(index) ===
          indexRows(Dedup.bandIndexDistinctFromSigs(sigsOf(live), "doc_id")),
          s"scoped index diverged from scratch at step $step (deleted $dead)")
      }
    }
  }

  test("deleteFromIndexDistinct re-elects a deleted representative and " +
    "keeps null-sig docs independent") {
    val s = spark; import s.implicits._
    val text = "the quick brown fox jumps over the lazy dog again and again"
    val other = "completely different words entirely here now for this doc"
    // sig group {1,2,3} (rep 1), loner 5, null-sig docs 7 and 8
    val corpus = docs((1L, text), (2L, text), (3L, text), (5L, other),
      (7L, "solo"), (8L, "alone"))
    val sigs = Dedup.docSigs(corpus, "text", "doc_id").localCheckpoint(true)
    val index = Dedup.bandIndexDistinctFromSigs(sigs, "doc_id")
      .localCheckpoint(true)
    // delete the group's REP (1) and one null-sig doc (7): the group
    // re-elects 2; null-sig doc 8 must survive untouched
    val got = Dedup.deleteFromIndexDistinct(index, sigs,
      Seq(1L, 7L).toDF("doc_id"), "doc_id")
    val retained = sigs.filter(!col("doc_id").isin(1L, 7L))
    val scratch = Dedup.bandIndexDistinctFromSigs(retained, "doc_id")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), col("band").cast("long")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.select("doc_id").distinct().collect().map(_.getLong(0)).toSet ===
      Set(2L, 5L, 8L))
    assert(rows(got) === rows(scratch))
  }

  test("foldIndexDistinct: null-sig-in-index vs null-sig-in-batch — every " +
    "null-sig doc stays its own representative (ADVICE r14)") {
    val text = "the quick brown fox jumps over the lazy dog again and again"
    // the index already holds a NULL-sig doc (too short to shingle);
    // Spark's ordering-based array equality treats null elements as
    // EQUAL, so without the explicit null filter the later null-sig
    // batch docs matched it in `matched` and anti-joined out
    val base = Dedup.bandIndexDistinct(docs((1L, text), (5L, "solo")),
      "text", "doc_id").localCheckpoint(true)
    val b1 = Dedup.bandIndexDistinct(docs((11L, "alone"), (12L, "brief")),
      "text", "doc_id")
    val folded = Dedup.foldIndexDistinct(base, b1, "doc_id")
    val ids = folded.select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(ids === Set(1L, 5L, 11L, 12L),
      s"null-sig batch docs must pass through the fold, got ids $ids")
  }

  test("dropNearDuplicates keeps cluster representatives and loners") {
    val s = spark; import s.implicits._
    // 1 and 3 are identical (near-dup cluster, rep = 1); 7 is unrelated
    val corpus = docs(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (3L, "alpha beta gamma delta epsilon zeta"),
      (7L, "one two three four five six"))
    val kept = Dedup.dropNearDuplicates(corpus, "text", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq === Seq(1L, 7L))
    // the (docs, labels) overload — precomputed clusters, one anti-join
    val labels = Dedup.connectedComponents(
      Dedup.minhashCandidates(corpus, "text", "doc_id"), "doc_a", "doc_b")
    val kept2 = Dedup.dropNearDuplicates(corpus, labels, "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept2.toSeq === Seq(1L, 7L))
  }

  test("union-find components == pointer-jumping components on " +
    "adversarial and random graphs") {
    val s = spark; import s.implicits._
    def labelsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toMap

    // hand-built shapes: chain, star hub, triangle + loner pair
    val shapes = Seq(
      Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)),
      Seq((100L, 1L), (100L, 2L), (100L, 3L), (100L, 4L)),
      Seq((10L, 11L), (11L, 12L), (12L, 10L), (20L, 21L)))
    // plus random graphs over 30 nodes
    val rnd = new scala.util.Random(5L)
    val randoms = Seq.fill(3)(
      Seq.fill(25)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
        .filter(p => p._1 != p._2))
    for (pairs <- shapes ++ randoms) {
      val df = pairs.toDF("doc_a", "doc_b")
      // driverMaxPairs = -1 forces the DISTRIBUTED rounds (every spec
      // graph is under the driver-union-find threshold); the default
      // call exercises the union-find fast path — both must agree
      val jump = labelsOf(Dedup.connectedComponents(df, "doc_a", "doc_b",
        driverMaxPairs = -1L))
      val uf = labelsOf(Dedup.connectedComponents(df, "doc_a", "doc_b"))
      assert(uf === jump, s"union-find/jump disagreement on $pairs")
    }
  }

  test("prefix-filtered jaccard join == brute-force at several thresholds " +
    "(completeness: the pruning may never lose a pair)") {
    val s = spark; import s.implicits._
    // small vocabulary + short docs → dense high-jaccard pairs, the
    // adversarial case for prefix pruning (prefixes are tiny)
    val rnd = new scala.util.Random(13)
    val vocab = Vector("a", "b", "c", "d", "e", "f", "g", "h")
    val corpus = (1L to 120L).map { i =>
      val n = 2 + rnd.nextInt(6)
      (i, Seq.fill(n)(vocab(rnd.nextInt(vocab.length))).mkString(" "))
    }.toDF("doc_id", "text")

    def brute(minE6: Long, probes: Boolean) = {
      val toks = corpus.select(col("doc_id"),
        explode(array_distinct(graft.llm.TextFunctions.tokens(col("text")))).as("tok"))
      val sz = toks.groupBy("doc_id").agg(count(lit(1)).as("sz"))
      val pairPred = if (probes)
        col("doc_a") =!= col("doc_b") && col("doc_a") % 5 === 0
      else col("doc_a") < col("doc_b")
      toks.select(col("doc_id").as("doc_a"), col("tok"))
        .join(toks.select(col("doc_id").as("doc_b"), col("tok")), "tok")
        .filter(pairPred)
        .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_inter"))
        .join(sz.select(col("doc_id").as("doc_a"), col("sz").as("sz_a")), "doc_a")
        .join(sz.select(col("doc_id").as("doc_b"), col("sz").as("sz_b")), "doc_b")
        .withColumn("jaccard_e6",
          expr("(n_inter * 1000000) DIV (sz_a + sz_b - n_inter)"))
        .filter(col("jaccard_e6") >= minE6)
        .select("doc_a", "doc_b", "n_inter", "jaccard_e6")
    }
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

    for (t <- Seq(500000L, 600000L, 800000L, 1000000L)) {
      val pruned = key(Dedup.prefixJaccardJoin(corpus, "text", "doc_id", minJaccardE6 = t))
      val full = key(brute(t, probes = false))
      assert(pruned === full, s"threshold $t: pruned ${pruned.size} vs brute ${full.size}")
      if (t == 500000L) assert(full.nonEmpty, "fixture must actually produce pairs")
      // probe-restricted form: ordered (probe, other) pairs, same guarantee
      val prunedP = key(Dedup.prefixJaccardJoin(corpus, "text", "doc_id",
        minJaccardE6 = t, probeFilter = Some(col("doc_id") % 5 === 0)))
      assert(prunedP === key(brute(t, probes = true)), s"probe threshold $t")
    }
  }

  test("connected components of no pairs is empty") {
    val s = spark; import s.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(Dedup.connectedComponents(empty, "doc_a", "doc_b").isEmpty)
  }

  test("signature-distinct index: same incremental connectivity as the " +
    "member-level index at a fraction of the rows") {
    val s = spark; import s.implicits._
    val dup = "the quick brown fox jumps over the lazy dog again and again"
    val other = "completely different words entirely in here right now folks"
    // old corpus: 4 exact copies of dup + 2 of other; batch: one more
    // copy of each + a stranger
    val old = docs((1L, dup), (2L, dup), (3L, dup), (4L, dup),
      (10L, other), (11L, other), (20L, "xy"))
    val batch = docs((100L, dup), (101L, other), (102L, "unrelated brand new text"))
    val full = Dedup.bandIndex(old, "text", "doc_id")
    val dist = Dedup.bandIndexDistinct(old, "text", "doc_id")
    // collapse: 4+2 signature-dup docs fold to 2 reps; the short doc
    // (all-null sig) keeps its own row
    assert(dist.select("doc_id").distinct().collect().map(_.getLong(0)).sorted
      === Array(1L, 10L, 20L))
    def labelsVia(index: org.apache.spark.sql.DataFrame) = {
      val newOld = Dedup.incrementalCandidates(batch, index, "text", "doc_id")
        .select(col("new_id").as("doc_a"), col("old_id").as("doc_b"))
      val oldLabels = Dedup.connectedComponents(
        Dedup.minhashCandidates(old, "text", "doc_id"), "doc_a", "doc_b")
      Dedup.incrementalComponents(oldLabels, newOld, "doc_a", "doc_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    }
    val viaFull = labelsVia(full)
    val viaDist = labelsVia(dist)
    assert(viaDist === viaFull, "distinct-index connectivity diverged")
    assert(viaDist(100L) === 1L && viaDist(101L) === 10L)
    assert(!viaDist.contains(102L), "stranger must stay unclustered")
  }

  test("incremental components == full CC on the union edge set " +
    "(randomized splits), untouched components untouched") {
    val s = spark; import s.implicits._
    def labelsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toMap

    // hand-built split: old = two components {1,2,3} and {10,11};
    // delta merges {1..3} with new node 7 and mints a fresh pair —
    // {10,11} must come through with its label (and no extra rows)
    val old0 = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val lab0 = Dedup.connectedComponents(old0, "doc_a", "doc_b")
    val delta0 = Seq((7L, 3L), (20L, 21L)).toDF("doc_a", "doc_b")
    val got0 = labelsOf(Dedup.incrementalComponents(lab0, delta0, "doc_a", "doc_b"))
    assert(got0 === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L))

    // a new node with a SMALLER id than the component minimum must
    // become the new label (the full-CC fixpoint, not "old label wins")
    val gotMin = labelsOf(Dedup.incrementalComponents(lab0,
      Seq((0L, 11L)).toDF("doc_a", "doc_b"), "doc_a", "doc_b"))
    assert(gotMin(10L) === 0L && gotMin(11L) === 0L && gotMin(0L) === 0L)

    // empty delta → the label table passes through identically
    val gotEmpty = labelsOf(Dedup.incrementalComponents(lab0,
      Seq.empty[(Long, Long)].toDF("doc_a", "doc_b"), "doc_a", "doc_b"))
    assert(gotEmpty === labelsOf(lab0))

    // randomized: split a random edge list at several points; folding
    // the tail into CC(head) must equal CC(all) every time — including
    // a delta that bridges components, touches unseen nodes, and
    // repeats old edges
    val rnd = new scala.util.Random(17L)
    for (trial <- 1 to 3) {
      val pairs = Seq.fill(40)((rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
        .filter(p => p._1 != p._2)
      val full = labelsOf(Dedup.connectedComponents(
        pairs.toDF("doc_a", "doc_b"), "doc_a", "doc_b"))
      for (cut <- Seq(5, pairs.size / 2, pairs.size - 3)) {
        val (head, tail) = pairs.splitAt(cut)
        val inc = labelsOf(Dedup.incrementalComponents(
          Dedup.connectedComponents(head.toDF("doc_a", "doc_b"), "doc_a", "doc_b"),
          tail.toDF("doc_a", "doc_b"), "doc_a", "doc_b"))
        assert(inc === full, s"trial $trial cut $cut: incremental != full CC")
      }
    }
  }

  test("on every arm (driver, broadcast, shuffle) every gated verb " +
    "returns the same rows") {
    val s = spark; import s.implicits._
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val halves = Vector.tabulate(5)(h => ((h * 100 + 1).toLong to (h * 100 + 12).toLong).toSeq)
    val rnd = new scala.util.Random(23L)
    val sigs = sigDocs((1L to 18L).map(id =>
      id -> (halves(rnd.nextInt(5)) ++ halves(rnd.nextInt(5)))): _*)
      .localCheckpoint(true)
    val prior = Dedup.connectedComponents(
      Dedup.candidatesFromSigs(sigs, "doc_id", assumeUnique = true),
      "doc_a", "doc_b").localCheckpoint(true)
    val index = Dedup.bandIndexDistinctFromSigs(sigs, "doc_id").localCheckpoint(true)
    val tomb = Seq(2L, 5L, 11L).toDF("doc_id")
    // additions: a bridge between old components, a new pair, a repeat
    val edges = Seq((30L, 1L), (30L, 7L), (40L, 41L), (2L, 3L)).toDF("a", "b")
    // f's rows on each arm; the shuffle arm also runs with no size-based
    // broadcast, so its joins are shuffle joins
    def arms[T](f: => T): Seq[T] = Seq(
      Dedup.arm.withValue(Dedup.Arm.Driver)(f),
      Dedup.arm.withValue(Dedup.Arm.Broadcast)(f),
      Dedup.arm.withValue(Dedup.Arm.Shuffle)(graft.core.GraftSession.withConf(s,
        "spark.sql.autoBroadcastJoinThreshold" -> "-1")(f)))
    def same[T](got: Seq[T]): T = {
      assert(got.distinct.size === 1, s"the arms differ: $got"); got.head
    }
    // ends, remap (incrementalComponents, incrementalComponentsDelta)
    // and changed (incrementalComponentsDelta)
    same(arms(rowsOf(Dedup.incrementalComponents(prior, edges, "a", "b"))))
    val dlt = same(arms {
      val (chg, dropped) = Dedup.incrementalComponentsDelta(prior, edges, "a", "b")
      (rowsOf(chg), dropped.collect().map(_.getLong(0)).toSet)
    })
    assert(dlt._1.nonEmpty)
    // dead, touched labels, touched docs (the scoped delete relabel)
    val rel = same(arms(rowsOf(Dedup.relabelScopedFromSigs(sigs, tomb, prior, "doc_id"))))
    assert(rel === rowsOf(Dedup.connectedComponents(
      Dedup.candidatesFromSigs(sigs.join(tomb, Seq("doc_id"), "left_anti"),
        "doc_id", assumeUnique = true), "doc_a", "doc_b")))
    // dead and dead-rep signatures (the index delete)
    same(arms(Dedup.deleteFromIndexDistinct(index, sigs, tomb, "doc_id")
      .select(col("doc_id"), col("band").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet))
  }

  test("winnowing theorem: a shared >=k+w-1 substring yields a shared fingerprint") {
    // k=8, w=4 -> guarantee threshold k+w-1 = 11; the copied segment
    // is longer, the surroundings are disjoint, and the pair must
    // surface with even ONE shared fingerprint required
    val copied = "the exact copied segment of text"
    val got = Dedup.winnowingPairs(
      docs((1L, "alpha beta gamma " + copied + " delta epsilon"),
           (2L, "one two three four " + copied + " five six seven"),
           (3L, "completely unrelated content with nothing in common")),
      "text", "doc_id", minShared = 1L, materialize = false)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq === Seq((1L, 2L)))
  }

  test("winnowing survives substring reordering") {
    val p1 = "first long enough passage here"
    val p2 = "second long enough passage there"
    val got = Dedup.winnowingPairs(
      docs((1L, p1 + " " + p2), (2L, p2 + " " + p1)),
      "text", "doc_id", minShared = 1L, materialize = false)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq === Seq((1L, 2L)))
  }

  test("winnowing theorem holds on 20 seeded-random pairs at the exact " +
       "guarantee boundary (shared substring of length k+w-1 = 11)") {
    val rnd = new scala.util.Random(7)
    def randStr(n: Int) = Seq.fill(n)(('a' + rnd.nextInt(26)).toChar).mkString
    // pair (2i, 2i+1): independent random 40-char docs with the same
    // 11-char substring planted mid-string — the MINIMUM length the
    // winnowing theorem guarantees a shared fingerprint for
    val planted = (0 until 20).map { i =>
      val shared = randStr(11)
      (2L * i, randStr(20) + shared + randStr(20),
       2L * i + 1, randStr(20) + shared + randStr(20))
    }
    val df = docs(planted.flatMap(p => Seq((p._1, p._2), (p._3, p._4))): _*)
    val got = Dedup.winnowingPairs(df, "text", "doc_id",
        dfCap = 1000L, minShared = 1L, materialize = false)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // chance 8-gram collisions across different pairs may add extras;
    // the theorem demands every PLANTED pair is present
    for (p <- planted)
      assert(got.contains((p._1, p._3)),
        s"planted pair (${p._1}, ${p._3}) missing — winnowing theorem violated")
  }

  test("winnowing df-cap drops boilerplate fingerprints before the pair join") {
    val boiler = "standard legal disclaimer boilerplate text"
    val ds = docs((1L, "aardvark antelope " + boiler),
                  (2L, "badger bison buffalo " + boiler),
                  (3L, "cheetah cougar caracal " + boiler),
                  (4L, "dingo dhole deerhound " + boiler))
    // cap off: every pair shares the boilerplate fingerprints
    val loose = Dedup.winnowingPairs(ds, "text", "doc_id",
      dfCap = 100L, minShared = 1L, materialize = false).count()
    assert(loose === 6L)
    // df=4 > cap=3: the boilerplate fingerprints die before the join
    val capped = Dedup.winnowingPairs(ds, "text", "doc_id",
      dfCap = 3L, minShared = 1L, materialize = false).count()
    assert(capped === 0L)
  }

  test("winnowing containment scores a doc spliced inside a larger one at " +
       "exactly 1e6 (every window of the contained doc recurs in the container)") {
    val small = "the quoted passage lives right here"
    val big = "prefix material before the splice " + small +
      " and plenty of trailing material after it"
    val got = Dedup.winnowingContainment(
      docs((1L, small), (2L, big),
           (3L, "entirely unrelated content with nothing shared at all")),
      "text", "doc_id", minContE6 = 900000L, materialize = false)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    assert(got.toSeq === Seq((1L, 2L, 1000000L)))
  }

  test("token jaccard df-cap prunes ubiquitous tokens") {
    val got = Dedup.tokenJaccardPairs(
      docs((0L, "a b"), (1L, "a c"), (2L, "a d")),
      "text", "doc_id",
      probeFilter = col("doc_id") === 0, minJaccardE6 = 0L,
      maxDocFreq = Some(2L)) // 'a' has df=3 -> pruned, no pair survives
      .collect()
    assert(got.isEmpty)
  }
}
