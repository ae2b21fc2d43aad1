package graft.llm

import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.propBoolean
import graft.SparkTestSession

/** ScalaCheck property of the label store's one-join read: for random
  * short sequences of (delta rows, drop labels) batches, [[LabelStore.read]]
  * equals the plain fold — in batch order, drop the batch's labels,
  * then union its delta — and [[LabelStore.compact]] keeps that answer.
  * Labels come from a pool of four, so they recur within a batch (a
  * batch re-adds a label it drops) and across batches.
  */
object LabelStoreProperties extends Properties("LabelStore") with SparkTestSession {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8) // each trial writes and reads a store

  private type Rows = List[(Long, Long)]

  private val rowsGen: Gen[Rows] = Gen.chooseNum(0, 5).flatMap(n =>
    Gen.listOfN(n, Gen.zip(Gen.chooseNum(1L, 8L), Gen.chooseNum(1L, 4L))))
  private val batchGen: Gen[(Rows, List[Long])] = Gen.zip(rowsGen,
    Gen.chooseNum(0, 3).flatMap(n => Gen.listOfN(n, Gen.chooseNum(1L, 4L))))
  private val batchesGen = Gen.chooseNum(1, 3).flatMap(n => Gen.listOfN(n, batchGen))

  property("read equals the in-order fold of drops and deltas; compact keeps it") =
    Prop.forAll(rowsGen, batchesGen) { (base, batches) =>
      val s = spark; import s.implicits._
      val dir = graft.core.Scratch.dir("labelstore-prop")
      LabelStore.create(s, dir, base.toDF("node", "label"))
      batches.foreach { case (delta, drops) =>
        LabelStore.appendDelta(s, dir, delta.toDF("node", "label"), drops.toDF("label"))
      }
      val want = batches.foldLeft(base) { case (acc, (delta, drops)) =>
        acc.filterNot(r => drops.contains(r._2)) ++ delta
      }.sorted
      def got = LabelStore.read(s, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toList.sorted
      val read = got
      LabelStore.compact(s, dir)
      (read == want) :| s"read $read, fold $want" &&
        (got == want) :| "after compact"
    }
}
