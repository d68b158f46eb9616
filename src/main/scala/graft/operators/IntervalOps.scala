package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Interval-algebra operators over a DataFrame of rows
  * `(key, s, e, payload...)` — the Spark-native re-expression of the
  * Rekall `VideoIntervalCollection` surface reconstructed in SURVEY §2.4
  * (reference call sites: app/esper/rekall_query.py,
  * app/esper/commercial_detection_rekall.py, app/esper/interview.py).
  *
  * Design notes (100 TB scale):
  *  - Every op is per-key; all shuffles hash on the key column, so the
  *    reference's per-video process-pool runtime (rekall_parallel.py:40-151)
  *    is replaced by ordinary Spark partitioning.
  *  - All ops are expressed with windows / range joins / built-in
  *    functions — whole-stage-codegen friendly, no typed lambdas except
  *    `foldIntervals` (inherently sequential per key, like the
  *    reference's stack fold commercial_detection_rekall.py:168-187).
  *  - Interval joins equi-join on `key` first (hash join), then apply
  *    the temporal predicate per key-group; per-key cardinalities are
  *    modest in this domain (intervals per video), which keeps the
  *    nested part cheap. A band column (`bandBucket`) is provided for
  *    the skewed case — it adds a second equi key of width `w` so
  *    Catalyst gets a tighter hash key (the reference's
  *    `working_window` optimization, rekall_query.py:136).
  */
object IntervalOps {

  /** Column-name convention for an interval frame. */
  final case class Cols(key: String = "k", start: String = "s", end: String = "e")

  private def w(c: Cols) =
    Window.partitionBy(col(c.key)).orderBy(col(c.start), col(c.end))

  // --------------------------------------------------------------------
  // R1: coalesce — merge overlapping-or-touching intervals per key
  // (touch merges, matching the reference's dilate-by-eps-then-coalesce
  // idiom; `gap` > 0 additionally closes gaps <= gap).
  // Classic island pattern: running max(end) over preceding rows marks
  // island starts; prefix-sum of starts numbers the islands.
  // --------------------------------------------------------------------
  def coalesce(df: DataFrame, c: Cols = Cols(), gap: Long = 0,
               payloadAggs: Seq[Column] = Nil): DataFrame = {
    val win = w(c)
    val runMax = max(col(c.end)).over(win.rowsBetween(Window.unboundedPreceding, -1))
    val isNew = when(runMax.isNull || col(c.start) > runMax + lit(gap), 1).otherwise(0)
    val grp = sum(col("__new")).over(win.rowsBetween(Window.unboundedPreceding, 0))
    df.withColumn("__new", isNew)
      .withColumn("__grp", grp)
      .groupBy(col(c.key), col("__grp"))
      .agg(min(col(c.start)).as(c.start),
        (max(col(c.end)).as(c.end) +: payloadAggs): _*)
      .drop("__grp")
  }

  /** R2: dilate — widen (d>0) or shrink (d<0) every interval by d on
    * both sides. `clampAtZero` floors the start for frame/second
    * domains; it must stay OFF inside dilate-coalesce-undilate ([[smooth]])
    * or intervals near 0 shift right and lose coverage. */
  def dilate(df: DataFrame, d: Long, c: Cols = Cols(),
             clampAtZero: Boolean = false): DataFrame = {
    val s = if (clampAtZero) greatest(col(c.start) - d, lit(0L)) else col(c.start) - d
    df.withColumn(c.start, s).withColumn(c.end, col(c.end) + d)
  }

  /** R3: filter_length — keep intervals with length in [minLen, maxLen]. */
  def filterLength(df: DataFrame, minLen: Long, maxLen: Long = Long.MaxValue,
                   c: Cols = Cols()): DataFrame =
    df.filter((col(c.end) - col(c.start)).between(minLen, maxLen))

  /** R5: set_union — bag union of two collections (same schema). */
  def union(a: DataFrame, b: DataFrame): DataFrame = a.unionByName(b)

  // --------------------------------------------------------------------
  // R6 / J12: minus — per-key time-span subtraction A \ B.
  // Fully relational (no per-key iteration): coalesce B, left-join each
  // `a` to its overlapping b's, then emit the gap segments between
  // consecutive b's (and the head/tail segments) with windows.
  // --------------------------------------------------------------------
  def minus(a: DataFrame, b: DataFrame, c: Cols = Cols()): DataFrame = {
    // alias B's columns to fresh names: withColumnRenamed keeps attribute
    // ids, which makes the join ambiguous when A and B share lineage
    // (e.g. both derived from the same captions table)
    val bc = coalesce(b.select(col(c.key), col(c.start), col(c.end)), c)
      .select(col(c.key).as("__bk"), col(c.start).as("__bs"), col(c.end).as("__be"))
    val aa = a.withColumn("__aid", monotonically_increasing_id())
    val joined = aa.join(bc,
      col(c.key) === col("__bk") &&
        col("__bs") < col(c.end) && col("__be") > col(c.start),
      "left").drop("__bk")
    val win = Window.partitionBy(col("__aid")).orderBy(col("__bs"))
    // segment before this b: [max(a.s, prev_be), bs)
    val segStart = greatest(col(c.start),
      org.apache.spark.sql.functions.coalesce(
        lag(col("__be"), 1).over(win), col(c.start)))
    val withSegs = joined
      .withColumn("__segs", segStart)
      .withColumn("__maxbe", max(col("__be")).over(win))
      .withColumn("__rnLast",
        row_number().over(Window.partitionBy(col("__aid")).orderBy(col("__bs").desc_nulls_last)))
    val mids = withSegs
      .filter(col("__bs").isNotNull && col("__segs") < col("__bs"))
      .select(col(c.key), col("__segs").as(c.start), col("__bs").as(c.end))
    val tails = withSegs
      .filter(col("__rnLast") === 1)
      .withColumn("__ts", when(col("__maxbe").isNull, col(c.start))
        .otherwise(greatest(col(c.start), col("__maxbe"))))
      .filter(col("__ts") < col(c.end))
      .select(col(c.key), col("__ts").as(c.start), col(c.end))
    mids.unionByName(tails)
  }

  // --------------------------------------------------------------------
  // R7 / J8 / J10: overlaps — intersecting spans of A with B, clipped to
  // the intersection [greatest(starts), least(ends)).
  // --------------------------------------------------------------------
  def overlaps(a: DataFrame, b: DataFrame, c: Cols = Cols()): DataFrame = {
    val bb = b.select(col(c.key).as("__k2"), col(c.start).as("__bs"), col(c.end).as("__be"))
    a.join(bb, col(c.key) === col("__k2") &&
        col("__bs") < col(c.end) && col("__be") > col(c.start))
      .select(col(c.key),
        greatest(col(c.start), col("__bs")).as(c.start),
        least(col(c.end), col("__be")).as(c.end))
  }

  /** Spatiotemporal (time x X x Y) overlap join — the Interval3D
    * surface (reference captions.py:121-140 / rekall_vgrid Interval3D;
    * SURVEY §1.1 optional x1..y2 columns). Both sides carry
    * (key, s, e, x1, x2, y1, y2); pairs must overlap on ALL three
    * dimensions and the output is the clipped 3-D intersection. The
    * join stays an equi-join on key with the three range predicates
    * applied per key group, exactly like [[overlaps]]. */
  def overlaps3D(a: DataFrame, b: DataFrame, c: Cols = Cols()): DataFrame = {
    val bb = b.select(col(c.key).as("__k2"),
      col(c.start).as("__bs"), col(c.end).as("__be"),
      col("x1").as("__bx1"), col("x2").as("__bx2"),
      col("y1").as("__by1"), col("y2").as("__by2"))
    a.join(bb, col(c.key) === col("__k2") &&
        col("__bs") < col(c.end) && col("__be") > col(c.start) &&
        col("__bx1") < col("x2") && col("__bx2") > col("x1") &&
        col("__by1") < col("y2") && col("__by2") > col("y1"))
      .select(col(c.key),
        greatest(col(c.start), col("__bs")).as(c.start),
        least(col(c.end), col("__be")).as(c.end),
        greatest(col("x1"), col("__bx1")).as("x1"),
        least(col("x2"), col("__bx2")).as("x2"),
        greatest(col("y1"), col("__by1")).as("y1"),
        least(col("y2"), col("__by2")).as("y2"))
  }

  /** J7: containment join — rows of A fully inside some row of B
    * (b.s <= a.s && a.e <= b.e), keeping both sides' columns. */
  def containedIn(a: DataFrame, b: DataFrame, c: Cols = Cols()): DataFrame = {
    val bb = b.select(col(c.key).as("__k2"), col(c.start).as("__bs"), col(c.end).as("__be"))
    a.join(bb, col(c.key) === col("__k2") &&
        col("__bs") <= col(c.start) && col(c.end) <= col("__be"))
      .drop("__k2")
  }

  /** R8 / J13: merge — for pairs (a, b) satisfying `pred` (a predicate
    * over columns `__bs`/`__be` of b vs a's start/end), produce the span
    * [least(starts), greatest(ends)). Callers typically coalesce after. */
  def mergeSpans(a: DataFrame, b: DataFrame, pred: Cols => Column,
                 c: Cols = Cols()): DataFrame = {
    val bb = b.select(col(c.key).as("__k2"), col(c.start).as("__bs"), col(c.end).as("__be"))
    a.join(bb, col(c.key) === col("__k2") && pred(c))
      .select(col(c.key),
        least(col(c.start), col("__bs")).as(c.start),
        greatest(col(c.end), col("__be")).as(c.end))
  }

  /** R10 / J11: filter_against — interval semi-join: keep a in A if some
    * b in B satisfies `pred`. `pred` sees b's bounds as `__bs`/`__be`. */
  def filterAgainst(a: DataFrame, b: DataFrame, pred: Cols => Column,
                    c: Cols = Cols()): DataFrame = {
    val bb = b.select(col(c.key).as("__k2"), col(c.start).as("__bs"), col(c.end).as("__be"))
    a.join(bb, col(c.key) === col("__k2") && pred(c), "left_semi")
  }

  /** R13: split — chop every interval into chunks of length <= step.
    * Half-open empty/negative intervals (e <= s) yield no chunks (the
    * guard keeps `sequence` from throwing on illegal boundaries). */
  def split(df: DataFrame, step: Long, c: Cols = Cols()): DataFrame =
    df.filter(col(c.end) > col(c.start))
      .withColumn("__gs",
        explode(sequence(col(c.start), col(c.end) - 1, lit(step))))
      .select(col(c.key), col("__gs").as(c.start),
        least(col("__gs") + step, col(c.end)).as(c.end))

  // --------------------------------------------------------------------
  // R14: Allen-style temporal predicate builders (column predicates for
  // use with mergeSpans/filterAgainst; b bounds appear as __bs/__be).
  // Matches the reference's before(max_dist)/after/overlaps composition
  // (rekall_query.py:12-14, interview_with_person_x.py:46-48).
  // --------------------------------------------------------------------
  object Allen {
    def overlapsPred(c: Cols): Column =
      col("__bs") < col(c.end) && col("__be") > col(c.start)
    /** a strictly before b, gap in [0, maxDist]. */
    def before(maxDist: Long)(c: Cols): Column =
      (col("__bs") - col(c.end)).between(0, maxDist)
    /** a strictly after b, gap in [0, maxDist]. */
    def after(maxDist: Long)(c: Cols): Column =
      (col(c.start) - col("__be")).between(0, maxDist)
    def orPred(ps: (Cols => Column)*)(c: Cols): Column =
      ps.map(_(c)).reduce(_ || _)
  }

  /** R17 macro: keep short intervals only when within `dist` of another
    * interval; always keep intervals longer than `minLong`.
    * (reference: rekall_query.py:130-140 remove_isolated_interval) */
  def removeIsolated(df: DataFrame, minLong: Long, dist: Long,
                     c: Cols = Cols()): DataFrame = {
    val long = filterLength(df, minLong)
    val short = df.filter(col(c.end) - col(c.start) < minLong)
    val near = filterAgainst(short, df,
      cc => Allen.orPred(Allen.before(dist), Allen.after(dist), Allen.overlapsPred _)(cc)
        && !(col("__bs") === col(cc.start) && col("__be") === col(cc.end)), c)
    union(long, near)
  }

  /** R18 macro: dilate -> coalesce -> undilate; turns sampled point
    * detections into contiguous presence segments (stride smoothing,
    * reference rekall_query.py:232-239). */
  def smooth(df: DataFrame, d: Long, c: Cols = Cols()): DataFrame =
    dilate(coalesce(dilate(df, d, c), c), -d, c)

  /** Exact integer floor division (toward -inf): `x div w` truncates
    * toward zero, and `floor(x / w)` rounds through double (wrong past
    * 2^53, e.g. nano timestamps) — subtracting pmod first makes the
    * numerator an exact multiple, so the integral divide is exact floor. */
  private def floorDiv(x: Column, w: Long): Column =
    call_function("div", x - pmod(x, lit(w)), lit(w))

  /** Optional band bucket for skewed keys: a second equi-join key of
    * width `w` (the reference's working_window; SURVEY §4). Intervals
    * spanning several buckets must be exploded by the caller. */
  def bandBucket(start: Column, w: Long): Column = floorDiv(start, w)

  /** [[overlaps]] with the working_window optimization
    * (rekall_query.py:136): both sides are exploded into the w-sized
    * band buckets they span and the join keys on (key, bucket), so a
    * skewed key with a long timeline hashes into many groups instead of
    * one quadratic per-key nested loop. Pairs spanning several shared
    * buckets are deduped on synthetic pair ids; the result multiset is
    * identical to [[overlaps]] (IntervalBandedSpec proves it). */
  def bandedOverlaps(a: DataFrame, b: DataFrame, w: Long,
                     c: Cols = Cols()): DataFrame = {
    require(w > 0)
    // e <= s rows can't satisfy the strict-overlap predicate anyway;
    // filtering them keeps sequence() from throwing and keeps the
    // result multiset identical to overlaps().
    val aa = a.select(col(c.key), col(c.start), col(c.end))
      .filter(col(c.end) > col(c.start))
      .withColumn("__aid", monotonically_increasing_id())
      .withColumn("__ab", explode(sequence(
        floorDiv(col(c.start), w), floorDiv(col(c.end) - 1, w))))
    val bb = b.select(col(c.key).as("__k2"), col(c.start).as("__bs"), col(c.end).as("__be"))
      .filter(col("__be") > col("__bs"))
      .withColumn("__bid", monotonically_increasing_id())
      .withColumn("__bb", explode(sequence(
        floorDiv(col("__bs"), w), floorDiv(col("__be") - 1, w))))
    aa.join(bb, col(c.key) === col("__k2") && col("__ab") === col("__bb") &&
        col("__bs") < col(c.end) && col("__be") > col(c.start))
      .dropDuplicates("__aid", "__bid")
      .select(col(c.key),
        greatest(col(c.start), col("__bs")).as(c.start),
        least(col(c.end), col("__be")).as(c.end))
  }

  // --------------------------------------------------------------------
  // R11: ordered fold per key — the one inherently sequential operator
  // (bounded coalesce: merge overlapping intervals but cap the merged
  // span at maxSpan, reference commercial_detection_rekall.py:168-187).
  // Typed flatMapGroups over per-key sorted iterators; partitioned by
  // key so a 1000-executor cluster folds videos in parallel.
  // --------------------------------------------------------------------
  def boundedCoalesce(df: DataFrame, maxSpan: Long, c: Cols = Cols()): DataFrame = {
    import df.sparkSession.implicits._
    val ds = df.select(col(c.key).cast("long"), col(c.start).cast("long"),
      col(c.end).cast("long")).as[(Long, Long, Long)]
    ds.groupByKey(_._1)
      .flatMapGroups { (k, it) =>
        val sorted = it.toArray.sortBy(t => (t._2, t._3))
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
        var cur: (Long, Long) = null
        sorted.foreach { case (_, s, e) =>
          if (cur == null) cur = (s, e)
          else if (s <= cur._2 && math.max(e, cur._2) - cur._1 <= maxSpan)
            cur = (cur._1, math.max(e, cur._2))
          else { out += ((k, cur._1, cur._2)); cur = (s, e) }
        }
        if (cur != null) out += ((k, cur._1, cur._2))
        out.iterator
      }
      .toDF(c.key, c.start, c.end)
  }

  // --------------------------------------------------------------------
  // Peak concurrency: max simultaneous open intervals per key (the
  // "peak concurrent viewers" sweep). The +1/-1 running sum is the
  // SCALABLE two-phase prefix sum (graft.text.Packing.withRunningOffset)
  // over ONE composite key ordering (keyRank, t, end-before-start, id):
  // per-key resets are unnecessary because each key's deltas cancel to
  // zero, so the global cumsum IS the per-key sweep — no single-task
  // corpus-sized window anywhere. Intervals are half-open [s, e): an
  // end at t closes before a start at t opens.
  //
  // Preconditions (composite key must fit a long): 0 <= t < 2^18,
  // 0 <= id < 2^24, distinct keys < 2^20. Returns one row per key:
  // (key, peak, peak_t = earliest instant attaining the peak).
  // --------------------------------------------------------------------
  def peakConcurrency(df: DataFrame, c: Cols = Cols(),
                      idCol: String = "event_id"): DataFrame = {
    val del = df.select(col(c.key), col(c.start).as("t"),
        lit(1L).as("delta"), lit(1L).as("flag"), col(idCol).as("__id"))
      .union(df.select(col(c.key), col(c.end).as("t"),
        lit(-1L).as("delta"), lit(0L).as("flag"), col(idCol).as("__id")))
    val tw = Window.orderBy(col(c.key))
    val keys = broadcast(del.select(c.key).distinct()
      .withColumn("__kn", row_number().over(tw).cast("long")))
    val keyed = del.join(keys, c.key)
      .withColumn("__key",
        expr("(((__kn * 262144 + t) * 2 + flag) * 16777216) + __id"))
    val rs = graft.text.Packing
      .withRunningOffset(keyed, "__key", "delta", "__off")
      .withColumn("c", col("__off") + col("delta"))
    val peaks = rs.groupBy(c.key).agg(max(col("c")).as("peak"))
    rs.join(peaks, c.key).filter(col("c") === col("peak"))
      .groupBy(col(c.key), col("peak")).agg(min(col("t")).as("peak_t"))
      .select(col(c.key), col("peak"), col("peak_t"))
  }
}
