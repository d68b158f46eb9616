package esperbench

import org.scalatest.funsuite.AnyFunSuite

/** Self-test of the harness's pure parts: op sequences and statistics. */
class HarnessSpec extends AnyFunSuite {
  import Plan._

  private val words = Seq("spark", "window", "join", "the", "scan", "sort")
  private val docs = (0L until 200L).map { i =>
    i -> Seq.tabulate(12 + (i % 7).toInt)(j => words(((i * 7 + j * 3) % words.size).toInt)).mkString(" ")
  }
  private val vecs = (0L until 120L).toIndexedSeq

  test("the same seed gives the same interactive sequence, another seed another") {
    assert(interactive(7, 4) == interactive(7, 4))
    assert(interactive(7, 4) != interactive(8, 4))
  }

  test("an interactive sequence runs every pool query equally often") {
    val seq = interactive(3, 5)
    assert(seq.groupBy(identity).values.map(_.size).toSet == Set(5))
    assert(seq.toSet == InteractivePool.toSet)
  }

  test("the interactive pool is 12 eligible rows, allotted to families by size") {
    assert(InteractivePool.distinct.size == 12)
    assert(InteractivePool.groupBy(_.takeWhile(_.isLetter)).map { case (f, v) => f -> v.size } ==
      Map("e" -> 4, "a" -> 2, "r" -> 1, "p" -> 1, "j" -> 1, "m" -> 1, "o" -> 1, "f" -> 1))
    val all = InteractivePool.toSet ++ Set("e13_caption_search", "t03_dedup", "x01_cross")
    assert(InteractivePool.forall(interactiveEligible(_, all, Set("e13_caption_search"))))
    assert(!interactiveEligible("e13_caption_search", all, Set("e13_caption_search")))
    assert(!interactiveEligible("t03_dedup", all, Set.empty))
    assert(!interactiveEligible("j99_missing", all, Set.empty))
  }

  test("the same seed gives the same search_rw plan, another seed another") {
    assert(searchRw(7, docs, vecs, 2) == searchRw(7, docs, vecs, 2))
    assert(searchRw(7, docs, vecs, 2).timed != searchRw(8, docs, vecs, 2).timed)
  }

  test("search_rw writes after every three or four reads, compaction last in a block") {
    val p = searchRw(5, docs, vecs, 3)
    assert(p.timed.size == 3 * BlockSize)
    p.timed.grouped(BlockSize).foreach { b =>
      assert(b.filterNot(_.op.isRead).map(_.op.kind) == WriteKinds)
      val writesAt = b.indices.filterNot(b(_).op.isRead)
      val readsBefore = (-1 +: writesAt).sliding(2).map { case Seq(x, y) => y - x - 1 }.toSet
      assert(readsBefore == Set(3, 4))
      assert(b.last.op == Compact)
    }
    assert(p.timed.groupBy(_.op.kind).map { case (k, v) => k -> v.size } ==
      (ReadKinds.map(_ -> 3 * ReadsPerKind) ++ WriteKinds.map(_ -> 3)).toMap)
    assert(p.warmup.map(_.op.kind).toSet == (ReadKinds ++ WriteKinds).toSet)
  }

  test("search_rw appends never reuse an indexed or already appended id") {
    for (seed <- 1L to 20L) {
      val p = searchRw(seed, docs, vecs, 3)
      val steps = p.warmup ++ p.timed
      val docBatches = steps.collect { case Step(TextAppend(ids), _, _) => ids }
      val vecBatches = steps.collect { case Step(VecAppend(ids), _, _) => ids }
      val appendedDocs = docBatches.flatten
      val appendedVecs = vecBatches.flatten
      assert(docBatches.size == 4 && vecBatches.size == 4)
      assert(appendedDocs.distinct.size == appendedDocs.size)
      assert(appendedVecs.distinct.size == appendedVecs.size)
      assert(appendedDocs.toSet.intersect(p.indexedDocs.toSet).isEmpty)
      assert(appendedVecs.toSet.intersect(p.indexedVecs.toSet).isEmpty)
    }
  }

  test("checked reads see exactly the ids their prefix of ops left live") {
    val p = searchRw(11, docs, vecs, 2)
    var live = p.indexedDocs.toSet
    (p.warmup ++ p.timed).foreach { s =>
      s.checkDocs.foreach(c => assert(c == live))
      s.op match {
        case TextAppend(ids) => live ++= ids
        case TextDelete(ids) => assert(ids.forall(live)); live --= ids
        case _ =>
      }
    }
    assert(p.timed.count(_.checkDocs.isDefined) == 2 * 3)
  }

  test("the percentile picks the value with at least 10 samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    assert(percentile(xs, 0.90) == 90.0)
    assert(xs.count(_ > percentile(xs, 0.90)) == 10)
    val few = (1 to 40).map(_.toDouble)
    assert(percentile(few, 0.90) == 30.0)
    assert(few.count(_ > percentile(few, 0.90)) == 10)
    assert(percentile(scala.util.Random.shuffle(xs), 0.50) == 50.0)
    val sixteen = (1 to 16).map(_.toDouble)
    assert(percentile(sixteen, 0.90) == median(sixteen))
    assertThrows[IllegalArgumentException](percentile((1 to 10).map(_.toDouble), 0.90))
  }

  test("a tail over ten or fewer samples is the largest one") {
    assert(tail((1 to 40).map(_.toDouble), 0.90) == 30.0)
    assert(tail(Seq(3.0, 9.0, 1.0), 0.90) == 9.0)
    assert(tailRank(10, 0.90) == 10)
  }

  test("the median is the lower middle value") {
    assert(median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.0)
  }
}
