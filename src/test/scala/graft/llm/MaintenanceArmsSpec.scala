package graft.llm

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkTestSession

/** The maintenance verbs' two arms agree: the same batches run through
  * [[DedupMaintenance]] on the driver arms (small batches take them)
  * and on the distributed ones (the `Broadcast` [[Dedup.arm]]) must
  * leave the same store log, the same `LabelStore.read` and the same
  * band index after every
  * batch, and both must equal the from-scratch clustering of the live
  * docs. Signatures are built from 12-long halves, so two docs sharing
  * a half share 6 bands and estimate jaccard 0.5: the edges are chosen
  * by hand.
  */
class MaintenanceArmsSpec extends AnyFunSuite with SparkTestSession {

  private def half(h: Int): Seq[Option[Long]] = (1 to 12).map(k => Some(h * 1000L + k))
  private def sig(x: Int, y: Int): Seq[Option[Long]] = half(x) ++ half(y)
  /** A doc too short to shingle: an all-null signature. */
  private val NullSig: Seq[Option[Long]] = Seq.fill(24)(None)

  private def sigsOf(rows: Seq[(Long, Seq[Option[Long]])]): DataFrame = {
    val s = spark; import s.implicits._
    rows.toDF("doc_id", "sig")
  }

  private def idsOf(ids: Seq[Long]): DataFrame = {
    val s = spark; import s.implicits._
    ids.toDF("doc_id")
  }

  /** A batch: signatures to add, ids to tombstone, compact afterwards. */
  private case class Batch(adds: Seq[(Long, Seq[Option[Long]])], dels: Seq[Long],
                           compact: Boolean = false)

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case a: scala.collection.Seq[_] => a.mkString("[", ",", "]")
      case v => String.valueOf(v)
    }.mkString(",")).toSeq.sorted

  /** The store's log and base rows, the read view and the index. */
  private def state(p: DedupMaintenance): Map[String, Seq[String]] = Map(
    "base" -> rowsOf(spark.read.parquet(s"${p.dir}/base")),
    "log" -> (if (LabelStore.seqs(spark, p.dir).isEmpty) Nil
              else rowsOf(spark.read.parquet(s"${p.dir}/delta"))),
    "read" -> rowsOf(LabelStore.read(spark, p.dir)),
    "index" -> rowsOf(p.index.select("doc_id", "band", "bkey")),
    "sigs" -> rowsOf(p.sigs.select("doc_id")))

  private def run(name: String, base: Seq[(Long, Seq[Option[Long]])],
                  batches: Seq[Batch]): Unit = {
    val driver = MaintenanceFixture.build(spark,
      graft.core.Scratch.dir(s"$name-driver"), sigsOf(base))
    val dist = Dedup.arm.withValue(Dedup.Arm.Broadcast)(MaintenanceFixture.build(spark,
      graft.core.Scratch.dir(s"$name-dist"), sigsOf(base)))
    var live = base.toMap
    val all = (base ++ batches.flatMap(_.adds)).toMap
    batches.zipWithIndex.foreach { case (b, i) =>
      val add = if (b.adds.isEmpty) None else Some(sigsOf(b.adds).localCheckpoint(true))
      val dels = if (b.dels.isEmpty) None else Some(idsOf(b.dels))
      def batch(m: DedupMaintenance): Unit = { m(add, dels); if (b.compact) m.compact() }
      batch(driver)
      Dedup.arm.withValue(Dedup.Arm.Broadcast)(batch(dist))
      live = live ++ b.adds -- b.dels
      val (d, s) = (state(driver), state(dist))
      d.keys.foreach(k => assert(d(k) === s(k), s"$name batch $i: $k differs between the arms"))
      val want = rowsOf(Dedup.connectedComponents(Dedup.candidatesFromSigs(
        sigsOf(live.toSeq), "doc_id", assumeUnique = true), "doc_a", "doc_b"))
      assert(d("read") === want, s"$name batch $i: read differs from the from-scratch clustering")
    }
    assert(all.nonEmpty)
  }

  test("the arms agree batch by batch on merges, splits, deleted minima, " +
    "null signatures, exact duplicates and deletes of later adds") {
    val base = Seq(
      1L -> sig(1, 2), 2L -> sig(1, 3),                    // component {1,2}
      3L -> sig(4, 5), 4L -> sig(4, 6),                    // component {3,4}
      5L -> sig(7, 8), 6L -> sig(8, 9), 7L -> sig(9, 10),  // chain 5-6-7, bridge 6
      8L -> sig(11, 12), 9L -> sig(11, 12), 10L -> sig(11, 12), // exact group
      11L -> sig(13, 14), 12L -> sig(13, 15), 13L -> sig(13, 16), // minimum 11
      14L -> NullSig, 15L -> NullSig,                      // too short to shingle
      16L -> sig(17, 18))                                  // a singleton
    run("arms-cases", base, Seq(
      // add only: 20 merges {1,2} and {3,4}; a null-signature doc; a copy
      // of the exact group
      Batch(Seq(20L -> sig(2, 4), 21L -> NullSig, 22L -> sig(11, 12)), Nil),
      // delete only: the bridge splits the chain into singletons, the
      // minimum of {11,12,13} goes, and 30 is tombstoned before its add
      Batch(Nil, Seq(6L, 11L, 30L), compact = true),
      // 30 arrives and pairs with the singleton 16; the exact group's
      // kept representative and a null-signature doc are deleted
      Batch(Seq(30L -> sig(17, 19), 31L -> sig(20, 21)), Seq(8L, 14L)),
      // 32 pairs with 7, now a singleton; the merge's bridge 20 and the
      // copy 22 are deleted, 21 (null) stays
      Batch(Seq(32L -> sig(9, 22)), Seq(20L, 22L), compact = true),
      // re-add under a new id a signature whose group died out
      Batch(Seq(40L -> sig(13, 14), 41L -> sig(11, 12)), Seq(9L, 10L))))
  }

  test("the arms agree on seeded random schedules") {
    for (seed <- Seq(3L, 17L)) {
      val rnd = new scala.util.Random(seed)
      def doc(): Seq[Option[Long]] =
        if (rnd.nextInt(10) == 0) NullSig else sig(rnd.nextInt(9), 9 + rnd.nextInt(9))
      val base = (1L to 30L).map(_ -> doc())
      var next = 31L
      var live = base.map(_._1).toSet
      val batches = (0 until 4).map { i =>
        // batch 2 only deletes; the others add fresh docs and copies of
        // base docs' signatures (exact duplicates)
        val adds = if (i == 2) Nil else
          (0 until 1 + rnd.nextInt(5)).map { _ => next += 1; (next - 1) -> doc() } ++
            (0 until rnd.nextInt(3)).map { _ =>
              next += 1; (next - 1) -> base(rnd.nextInt(base.size))._2 }
        // live ids, plus the id the next batch adds first
        val dels = rnd.shuffle((live ++ adds.map(_._1)).toSeq.sorted)
          .take(rnd.nextInt(4)) :+ next
        live = live ++ adds.map(_._1) -- dels
        Batch(adds, dels, compact = i % 2 == 1)
      }
      run(s"arms-seed$seed", base, batches)
    }
  }
}
