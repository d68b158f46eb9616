package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Scalar function library (SURVEY §2.8): bbox geometry, time, string,
  * array and vector helpers. All pure `Column` expressions — they stay
  * inside whole-stage codegen; no UDFs. The reference implemented these
  * as Python lambdas / Django F-expressions (e.g. bbox height
  * app/query/base_models.py:225-230, IoU app/esper/validation.py:51-64,
  * lowercase ratio app/esper/commercial_detection_rekall.py:88-97). */
object Fns {

  // ---------------- bbox geometry (normalized [0,1] coords) ----------
  def bboxHeight(y1: Column, y2: Column): Column = y2 - y1
  def bboxWidth(x1: Column, x2: Column): Column = x2 - x1
  def bboxArea(x1: Column, x2: Column, y1: Column, y2: Column): Column =
    (x2 - x1) * (y2 - y1)

  /** Intersection-over-union of two boxes (validation.py:51-64). */
  def iou(ax1: Column, ax2: Column, ay1: Column, ay2: Column,
          bx1: Column, bx2: Column, by1: Column, by2: Column): Column = {
    val ix = greatest(least(ax2, bx2) - greatest(ax1, bx1), lit(0.0))
    val iy = greatest(least(ay2, by2) - greatest(ay1, by1), lit(0.0))
    val inter = ix * iy
    val union = bboxArea(ax1, ax2, ay1, ay2) + bboxArea(bx1, bx2, by1, by2) - inter
    inter / union
  }

  // ---------------- time ---------------------------------------------

  /** events.ts -> epoch seconds, whatever the column's physical dtype.
    * The canonical parquet has shipped `ts` both as int64 nanoseconds
    * (read via nanosAsLong) and as timestamp[us]; derive seconds from
    * whichever arrived rather than assuming one:
    *  - LONG nanos: exact integer division — `floor(ts/1e9)` would
    *    round through double (nanos ~1.7e18 exceed 2^53) and can land
    *    on the wrong second;
    *  - TIMESTAMP / TIMESTAMP_NTZ: `unix_seconds` after a cast to the
    *    session-zoned type (sessions run UTC, so NTZ converts verbatim
    *    and matches DuckDB's `epoch_ns(ts)//1e9` oracle exactly).
    * Anything else fails loudly with the drifted dtype named. */
  def tsSec(df: DataFrame): Column = df.schema("ts").dataType match {
    case LongType => expr("ts div 1000000000")
    case TimestampType | TimestampNTZType =>
      unix_seconds(col("ts").cast(TimestampType))
    case dt => throw new IllegalArgumentException(
      s"events.ts: unsupported dtype $dt (expected LONG nanos or TIMESTAMP[_NTZ])")
  }

  /** Hour-of-day at a frame offset within a video that starts at
    * `startHour` (spark_util.py:63-78 _annotate_hour — there a
    * collect+UDF per row; here a pure expression that broadcasts
    * through the video-dim join instead). */
  def hourOffset(startHour: Column, minFrame: Column, fps: Column): Column =
    pmod(floor(startHour + (minFrame / fps) / 3600.0).cast("long"), lit(24L))
      .cast("int")

  // ---------------- strings ------------------------------------------
  /** Fraction of letters that are lowercase
    * (commercial_detection_rekall.py:88-97 caption-case heuristic).
    * Letter-free text scores 0.0 (the nullif guard avoids ANSI-mode
    * DIVIDE_BY_ZERO on payloads with no letters). */
  def lowercaseRatio(s: Column): Column =
    coalesce(
      length(regexp_replace(s, "[^a-z]", "")).cast("double") /
        nullif(length(regexp_replace(s, "[^A-Za-z]", "")), lit(0)),
      lit(0.0))

  // ---------------- keypoints -----------------------------------------
  /** Named accessors over the reference's fixed flat keypoint layout
    * (base_models.py:290-329): an array of (x, y, score) triples —
    * 18 pose, then 70 face, then 2x21 hand keypoints. Pure `element_at`
    * / `slice` expressions, 1-based like Spark/SQL arrays. */
  object Keypoints {
    val PoseCount = 18; val FaceCount = 70; val HandCount = 21
    // pose keypoint indices (base_models.py:297-315)
    val Nose = 0; val Neck = 1
    val RShoulder = 2; val RElbow = 3; val RWrist = 4
    val LShoulder = 5; val LElbow = 6; val LWrist = 7
    val RHip = 8; val RKnee = 9; val RAnkle = 10
    val LHip = 11; val LKnee = 12; val LAnkle = 13
    val REye = 14; val LEye = 15; val REar = 16; val LEar = 17

    def x(kps: Column, idx: Int): Column = element_at(kps, idx * 3 + 1)
    def y(kps: Column, idx: Int): Column = element_at(kps, idx * 3 + 2)
    def score(kps: Column, idx: Int): Column = element_at(kps, idx * 3 + 3)

    /** The pose / face sub-arrays
      * (base_models.py:318-329 pose/face/hand_keypoints). */
    def pose(kps: Column): Column = slice(kps, 1, PoseCount * 3)
    def face(kps: Column): Column = slice(kps, PoseCount * 3 + 1, FaceCount * 3)

    /** Both wrists above the nose (image y grows downward) —
      * unused_queries.py:41-42 hands_above_head. */
    def handsAboveHead(kps: Column): Column =
      y(kps, LWrist) < y(kps, Nose) && y(kps, RWrist) < y(kps, Nose)
  }

  // ---------------- vectors (array<float|double>) ---------------------
  // Native codegen'd expressions (graft.plans.VecDot/VecNorm2/VecCosine):
  // one primitive loop over ArrayData instead of an interpreted
  // zip_with/aggregate lambda per element; identical left-fold IEEE
  // results (NativeExprSpec bit-equality test).
  private def bridge = org.apache.spark.sql.graftbridge.Bridge

  def dot(a: Column, b: Column): Column =
    bridge.column(graft.plans.VecDot(bridge.expression(a), bridge.expression(b)))

  def l2norm(a: Column): Column =
    bridge.column(graft.plans.VecNorm2(bridge.expression(a)))

  /** Single-pass cosine (dot and both norms in one traversal). */
  def cosine(a: Column, b: Column): Column =
    bridge.column(graft.plans.VecCosine(bridge.expression(a), bridge.expression(b)))

  def l2dist(a: Column, b: Column): Column =
    sqrt(aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0d), (acc, x) => acc + x))

  /** Single-pass squared L2 (no sqrt) — codegen'd; exact on
    * integer-valued inputs below 2^53 (the quantized Lloyd kernel). */
  def l2sq(a: Column, b: Column): Column =
    bridge.column(graft.plans.VecL2Sq(bridge.expression(a), bridge.expression(b)))

  /** Morton (Z-order) key: interleave the low `bits` bits of two
    * non-negative bucket columns — x on even bit positions, y on odd.
    * Pure per-row shift/mask arithmetic (codegen'd, shuffle-free); the
    * multi-dimensional layout key behind ZORDER-style file clustering. */
  def mortonKey(qx: Column, qy: Column, bits: Int): Column =
    (0 until bits).map { i =>
      shiftleft(shiftright(qx, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(qy, i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)
}
