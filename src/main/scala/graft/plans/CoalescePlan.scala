package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, GenericInternalRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.types.LongType

/** Whole-operator Catalyst extension (SURVEY §7.3 tier c): interval
  * coalesce as a custom physical operator. The declarative form
  * (IntervalOps.coalesce) needs two window passes over one shuffle;
  * this operator declares `ClusteredDistribution(key)` +
  * per-partition ordering and merges islands in a single streaming
  * sweep — Spark's planner inserts exactly one exchange + sort, and the
  * sweep is O(n) with O(1) state per key group. Registered through
  * [[CoalesceIntervalsStrategy]], which [[CoalescePlan.coalesceNative]]
  * installs on its session (CoalescePlan.install).
  *
  * Semantics are identical to IntervalOps.coalesce(df, c, gap):
  * merge intervals that overlap or touch, closing gaps <= gap
  * (CoalescePlanSpec proves equivalence on random data).
  */
case class CoalesceIntervals(child: LogicalPlan,
                             key: Attribute, s: Attribute, e: Attribute,
                             gap: Long) extends UnaryNode {
  // fixed attributes (not name lookups against child.output): the
  // optimizer may rewrite the child (column pruning, empty-relation
  // propagation) while this node's output must stay stable
  override def output: Seq[Attribute] = Seq(key, s, e)
  override def references: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(Seq(key, s, e))
  override protected def withNewChildInternal(c: LogicalPlan): CoalesceIntervals =
    copy(child = c)
}

case class CoalesceIntervalsExec(child: SparkPlan,
                                 key: Attribute, s: Attribute, e: Attribute,
                                 gap: Long) extends UnaryExecNode {
  override def output: Seq[Attribute] = Seq(key, s, e)

  override def requiredChildDistribution: Seq[Distribution] =
    Seq(ClusteredDistribution(Seq(key)))

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(Seq(SortOrder(key, Ascending), SortOrder(s, Ascending), SortOrder(e, Ascending)))

  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(key, Ascending), SortOrder(s, Ascending))

  override protected def doExecute(): RDD[InternalRow] = {
    val kOrd = child.output.indexOf(key)
    val sOrd = child.output.indexOf(s)
    val eOrd = child.output.indexOf(e)
    val g = gap
    child.execute().mapPartitions ({ iter =>
      new Iterator[InternalRow] {
        private val proj = UnsafeProjection.create(Array[org.apache.spark.sql.types.DataType](
          LongType, LongType, LongType))
        private val out = new GenericInternalRow(3)
        private var hasCur = false
        private var curKNull = false
        private var curK = 0L; private var curS = 0L; private var curE = 0L

        private def emit(): InternalRow = {
          if (curKNull) out.update(0, null) else out.update(0, curK)
          out.update(1, curS); out.update(2, curE)
          proj(out)
        }

        override def hasNext: Boolean = hasCur || iter.hasNext

        override def next(): InternalRow = {
          while (iter.hasNext) {
            val r = iter.next()
            // null s/e rows were filtered in coalesceNative; a null key is
            // its own group (matching the declarative window form, where
            // partitionBy groups nulls together). NULLS FIRST ordering
            // keeps the null-key group contiguous in the sorted stream.
            val kNull = r.isNullAt(kOrd)
            val k = if (kNull) 0L else r.getLong(kOrd)
            val rs = r.getLong(sOrd); val re = r.getLong(eOrd)
            val sameKey = kNull == curKNull && (kNull || k == curK)
            if (!hasCur) { hasCur = true; curKNull = kNull; curK = k; curS = rs; curE = re }
            else if (sameKey && rs <= curE + g) { if (re > curE) curE = re }
            else {
              val res = emit()
              curKNull = kNull; curK = k; curS = rs; curE = re
              return res
            }
          }
          // input exhausted: flush the open island
          hasCur = false
          emit()
        }
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(c: SparkPlan) = copy(child = c)
}

object CoalesceIntervalsStrategy extends org.apache.spark.sql.execution.SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case CoalesceIntervals(child, k, s, e, gap) =>
      CoalesceIntervalsExec(planLater(child), k, s, e, gap) :: Nil
    case _ => Nil
  }
}

object CoalescePlan {
  /** Idempotently install the planner strategy on a session. */
  def install(spark: SparkSession): Unit = {
    val cur = spark.experimental.extraStrategies
    if (!cur.exists(_.isInstanceOf[CoalesceIntervalsStrategy.type]))
      spark.experimental.extraStrategies = cur :+ CoalesceIntervalsStrategy
  }

  /** Native coalesce over a DataFrame with long (key, s, e) columns.
    * Rows with null bounds are dropped (an interval without bounds is
    * meaningless); null keys form their own group, as in the
    * declarative window form. */
  def coalesceNative(df: DataFrame, keyName: String, sName: String,
                     eName: String, gap: Long = 0): DataFrame = {
    val spark = df.sparkSession
    install(spark)
    val slim = df.selectExpr(s"CAST($keyName AS BIGINT) AS $keyName",
      s"CAST($sName AS BIGINT) AS $sName", s"CAST($eName AS BIGINT) AS $eName")
      .filter(org.apache.spark.sql.functions.col(sName).isNotNull &&
        org.apache.spark.sql.functions.col(eName).isNotNull)
    val analyzed = slim.queryExecution.analyzed
    def a(n: String) = analyzed.output.find(_.name == n).get
    org.apache.spark.sql.graftbridge.Bridge.ofRows(spark,
      CoalesceIntervals(analyzed, a(keyName), a(sName), a(eName), gap))
  }
}
