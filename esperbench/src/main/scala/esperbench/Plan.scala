package esperbench

import scala.util.Random

/** Seeded op sequences for the benchmark workloads. Pure: no Spark, so
  * the same seed and inputs always give the same sequence, and the
  * self-test can check that without a session. */
object Plan {

  /** Families of the `interactive` rows: relational (j), interval
    * algebra (r), analytics (a), Esper catalog (e), ordering (o),
    * predicates (p), media (m) and functions (f). */
  val InteractiveFamilies: Set[String] = Set("j", "r", "a", "e", "o", "p", "m", "f")

  /** A row `interactive` may draw: a query of one of its families whose
    * serve path does not read a persisted index (`search_rw` covers
    * those). */
  def interactiveEligible(name: String, all: collection.Set[String],
                          idxBacked: Set[String]): Boolean =
    all(name) && InteractiveFamilies(name.takeWhile(_.isLetter)) && !idxBacked(name)

  /** The `interactive` pool: a fixed sample of 12 of the 137 eligible
    * rows, stratified by family and by latency. The 12 slots go to the
    * families in proportion to their eligible row counts (largest
    * remainder, at least one each): e 4, a 2, and one each for r, p, j,
    * m, o and f. Within a family, its rows sorted by their sf0.01
    * latency in the engine's scale-ladder bench are cut into that many
    * equal-count strata, and from each the row nearest the stratum's
    * mean latency is taken. Sample mean 0.290 s and median 0.235 s
    * against the eligible rows' 0.289 s and 0.242 s; slowest pick
    * 0.735 s (e02). */
  val InteractivePool: Vector[String] = Vector(
    "e21_pose_pair", "e24_people_sitting", "e40_topic_overlap", "e02_commercials",
    "a25_moments_sketch", "a13_overlap_totals",
    "r01_coalesce", "p13_hash_sample", "j08_overlap_clip_first",
    "m09_blurriness", "f06_json_regex", "o08_zorder")

  /** `blocks` passes over the pool, each in its own seeded order: every
    * query runs equally often, so seeds differ only in order. */
  def interactive(seed: Long, blocks: Int): Vector[String] = {
    val rnd = new Random(seed)
    Vector.fill(blocks)(rnd.shuffle(InteractivePool)).flatten
  }

  // ---- search_rw -------------------------------------------------------

  sealed trait Op { def kind: String; def isRead: Boolean }
  sealed trait Read extends Op { def isRead = true }
  sealed trait Write extends Op { def isRead = false }
  final case class Phrase(words: Seq[String]) extends Read { def kind = "text.phrase" }
  final case class Bool(query: String) extends Read { def kind = "text.bool" }
  final case class Bm25(terms: Seq[String]) extends Read { def kind = "text.bm25" }
  final case class Knn(vecId: Long) extends Read { def kind = "similarity.knn" }
  final case class TextAppend(docIds: Vector[Long]) extends Write { def kind = "text.append" }
  final case class VecAppend(vecIds: Vector[Long]) extends Write { def kind = "similarity.append" }
  final case class TextDelete(docIds: Vector[Long]) extends Write { def kind = "text.delete" }
  final case class VecDelete(vecIds: Vector[Long]) extends Write { def kind = "similarity.delete" }
  case object Compact extends Write { def kind = "index.compact" }

  /** One op plus, for the seeded sample of reads whose output is
    * checked, the live ids the read must answer over. */
  final case class Step(op: Op, checkDocs: Option[Set[Long]] = None,
                        checkVecs: Option[Set[Long]] = None)

  final case class SearchPlan(indexedDocs: Vector[Long], indexedVecs: Vector[Long],
                              warmup: Vector[Step], timed: Vector[Step])

  val ReadsPerKind = 4
  val ReadKinds: Seq[String] = Seq("text.phrase", "text.bool", "text.bm25",
    "similarity.knn")
  /** The writes of a block, in order. Compaction comes last, so every
    * block reads over a growing segment count and then folds it back. */
  val WriteKinds: Seq[String] = Seq("text.append", "similarity.append",
    "text.delete", "similarity.delete", "index.compact")
  /** Ops per block: 16 reads and 5 writes, a write after every three or
    * four reads. */
  val BlockSize: Int = ReadKinds.size * ReadsPerKind + WriteKinds.size
  val HeldOutShare = 10
  val TextDeleteBatch = 10
  val VecDeleteBatch = 5

  /** Split the corpus into indexed and held-out ids (one in ten held
    * out), then lay out the warm-up and `blocks` blocks whose reads
    * come in seeded order. Appends take held-out ids in batches sized so the
    * pool lasts the run; deletes take live ids; a held-out id is
    * appended at most once and a deleted id never comes back, so no
    * append collides with an indexed id. Read terms come from live
    * captions and kNN query vectors from the corpus. */
  def searchRw(seed: Long, docs: IndexedSeq[(Long, String)], vecIds: IndexedSeq[Long],
               blocks: Int): SearchPlan = {
    val rnd = new Random(seed)
    val text = docs.toMap
    val allDocs = docs.map(_._1).toVector.sorted
    val allVecs = vecIds.toVector.sorted
    val heldDocs = rnd.shuffle(allDocs).take(allDocs.size / HeldOutShare)
    val heldVecs = rnd.shuffle(allVecs).take(allVecs.size / HeldOutShare)
    var liveDocs = allDocs.toSet -- heldDocs
    var liveVecs = allVecs.toSet -- heldVecs
    var pendDocs = heldDocs
    var pendVecs = heldVecs
    val appends = blocks + 1
    val docBatch = heldDocs.size / appends
    val vecBatch = heldVecs.size / appends
    require(docBatch > 0 && vecBatch > 0, s"corpus too small for $blocks blocks")

    def pick(s: Set[Long]): Long = { val v = s.toVector.sorted; v(rnd.nextInt(v.size)) }
    def caption(): Vector[String] = text(pick(liveDocs)).split(" ").toVector
    def word(t: Vector[String]): String = t(rnd.nextInt(t.size))
    def take(s: Set[Long], n: Int): Vector[Long] = rnd.shuffle(s.toVector.sorted).take(n).sorted

    def make(kind: String, checked: Boolean): Step = kind match {
      case "text.phrase" =>
        val t = caption(); val i = rnd.nextInt(t.size - 1)
        Step(Phrase(t.slice(i, i + 2)), Option.when(checked)(liveDocs))
      case "text.bool" =>
        val t = caption(); val i = rnd.nextInt(t.size - 1)
        Step(Bool(s""""${t(i)} ${t(i + 1)}" AND (${word(t)} OR NOT ${word(t)})"""),
          Option.when(checked)(liveDocs))
      case "text.bm25" =>
        val t = caption().distinct
        Step(Bm25(rnd.shuffle(t).take(3)), Option.when(checked)(liveDocs))
      case "similarity.knn" =>
        Step(Knn(allVecs(rnd.nextInt(allVecs.size))), checkVecs = Some(liveVecs))
      case "text.append" =>
        val b = pendDocs.take(docBatch).sorted
        pendDocs = pendDocs.drop(docBatch); liveDocs ++= b
        Step(TextAppend(b))
      case "similarity.append" =>
        val b = pendVecs.take(vecBatch).sorted
        pendVecs = pendVecs.drop(vecBatch); liveVecs ++= b
        Step(VecAppend(b))
      case "text.delete" =>
        val b = take(liveDocs, TextDeleteBatch); liveDocs --= b
        Step(TextDelete(b))
      case "similarity.delete" =>
        val b = take(liveVecs, VecDeleteBatch); liveVecs --= b
        Step(VecDelete(b))
      case "index.compact" => Step(Compact)
    }

    val indexedDocs = liveDocs.toVector.sorted
    val indexedVecs = liveVecs.toVector.sorted
    val warmup = (ReadKinds ++ WriteKinds).map(make(_, checked = false)).toVector
    val timed = Vector.fill(blocks) {
      val reads = rnd.shuffle(ReadKinds.flatMap(Seq.fill(ReadsPerKind)(_)))
      val w = WriteKinds.size
      val order = WriteKinds.indices.flatMap { i =>
        reads.slice(i * reads.size / w, (i + 1) * reads.size / w) :+ WriteKinds(i)
      }
      // one checked read of each kind per block, at a seeded position
      val checkedAt = ReadKinds.map { k =>
        val at = order.indices.filter(order(_) == k)
        at(rnd.nextInt(at.size))
      }.toSet
      order.indices.map(i => make(order(i), checkedAt(i)))
    }.flatten
    SearchPlan(indexedDocs, indexedVecs, warmup, timed)
  }

  // ---- statistics ------------------------------------------------------

  /** 1-based rank of the nearest-rank percentile `q` (at least the
    * median) of `n` samples, lowered where needed so that at least ten
    * samples lie beyond it, but never below the median: a tail figure
    * rests on ten or more samples, never on one or two, and with fewer
    * than 21 samples it is the median. */
  def percentileRank(n: Int, q: Double): Int = {
    require(n > 10, s"a percentile needs more than 10 samples, got $n")
    require(q >= 0.5, s"a tail percentile is at least the median, got $q")
    math.max(math.ceil(0.5 * n).toInt, math.min(math.ceil(q * n).toInt, n - 10))
  }

  def percentile(xs: Seq[Double], q: Double): Double =
    xs.sorted.apply(percentileRank(xs.size, q) - 1)

  /** `percentile` where there are more than ten samples; otherwise, as
    * when a run far slower than usual ends early, the largest sample. */
  def tailRank(n: Int, q: Double): Int = if (n > 10) percentileRank(n, q) else n

  def tail(xs: Seq[Double], q: Double): Double = xs.sorted.apply(tailRank(xs.size, q) - 1)

  /** Nearest-rank median (the lower middle value for an even count). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    s(math.ceil(0.5 * s.size).toInt - 1)
  }
}
