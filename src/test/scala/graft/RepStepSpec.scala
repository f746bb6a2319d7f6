package graft

import org.scalacheck.{Gen, Prop, Test}
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.DocsStream

/** Properties of the one rep step every doc-stream rep handler runs
  * ([[DocsStream.repStep]]): one (band, bucket)'s state fed a bucket's
  * ids as micro-batches.
  */
class RepStepSpec extends AnyFunSuite {

  private val Empty = (Long.MaxValue, Seq.empty[Long])

  /** A bucket: distinct ids, each with a small sorted shingle set (from a
    * tiny universe, so displaced-pair Jaccards land on both sides of 0.5).
    */
  private val bucket: Gen[Seq[(Long, Seq[Long])]] = for {
    ids <- Gen.nonEmptyContainerOf[Set, Long](Gen.choose(0L, 10000L))
    shs <- Gen.listOfN(ids.size,
      Gen.containerOf[Set, Long](Gen.choose(0L, 5L)).map(_.toSeq.sorted))
  } yield ids.toSeq.zip(shs)

  /** Fold the step over `batches`, collecting edges and counters. */
  private def run(batches: Seq[Seq[(Long, Seq[Long])]]) = {
    var state = Empty
    val edges = Seq.newBuilder[(Long, Long)]
    var displaced = 0L; var overConnect = 0L; var nDisp = 0L
    batches.foreach { b =>
      val s = DocsStream.repStep(state, b)
      state = (s.minSeen, s.repSh)
      edges ++= s.candidates.map(c => (c._1, c._2))
      edges ++= s.displaced.map(p => (p._1, p._2))
      nDisp += s.displaced.size
      displaced += s.nDisplaced; overConnect += s.nOverConnect
      assert(s.nOverConnect == s.displaced.count(_._4 >= 0.5))
    }
    (state, edges.result(), displaced, overConnect, nDisp)
  }

  private def connectedToMin(ids: Seq[Long], edges: Seq[(Long, Long)]): Boolean = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) => parent(find(a)) = find(b) }
    val root = find(ids.min)
    ids.forall(find(_) == root)
  }

  private def check(p: Prop): Unit = {
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(300), p)
    assert(res.passed, res.status.toString)
  }

  test("any split into micro-batches, in any order: the state ends at the " +
      "bucket minimum and the emitted edges connect every id to it") {
    val gen = for {
      b <- bucket
      nBatches <- Gen.choose(1, 6)
      slot <- Gen.listOfN(b.size, Gen.choose(0, nBatches - 1))
      order <- Gen.listOfN(b.size, Gen.choose(0, Int.MaxValue))
    } yield (b, b.zip(slot).zip(order).sortBy(_._2).map(_._1)
      .groupBy(_._2).toSeq.sortBy(_._1).map(_._2.map(_._1)))
    check(Prop.forAllNoShrink(gen) { case (b, batches) =>
      val (state, edges, displaced, _, nDisp) = run(batches)
      val (minId, minSh) = b.minBy(_._1)
      state == (minId, minSh) && connectedToMin(b.map(_._1), edges) &&
        displaced == nDisp
    })
  }

  test("id-ordered arrival emits no displaced pair, increments no counter, " +
      "and anchors every candidate at the bucket minimum") {
    val gen = for {
      b <- bucket
      cuts <- Gen.listOfN(b.size, Gen.oneOf(true, false))
    } yield {
      val sorted = b.sortBy(_._1)
      // start a new micro-batch before every element whose cut is set
      sorted.zip(cuts).foldLeft(Vector.empty[Vector[(Long, Seq[Long])]]) {
        case (acc, (r, cut)) =>
          if (acc.isEmpty || cut) acc :+ Vector(r)
          else acc.init :+ (acc.last :+ r)
      }
    }
    check(Prop.forAllNoShrink(gen) { batches =>
      val ids = batches.flatten.map(_._1)
      val (_, edges, displaced, overConnect, nDisp) = run(batches)
      nDisp == 0 && displaced == 0 && overConnect == 0 &&
        edges == ids.tail.map(id => (id, ids.head))
    })
  }

  test("a re-delivered id equal to the stored rep emits nothing") {
    val sh = Seq(1L, 2L, 3L)
    val s = DocsStream.repStep((5L, sh), Seq((5L, sh)))
    assert(s.minSeen == 5L && s.repSh == sh)
    assert(s.candidates.isEmpty && s.displaced.isEmpty)
    assert(s.nDisplaced == 0 && s.nOverConnect == 0)
  }
}
