package graft.plans

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, LongType}

/** Native Catalyst expressions (SURVEY §7.3 tier-b extension): hot
  * interval predicates as codegen'd expressions so they stay inside
  * whole-stage codegen and are callable from SQL text. The reference
  * computed these in per-row Python (app/esper/spark_util.py:594-622
  * overlap_seconds UDF); here it is a first-class expression with
  * `doGenCode`, registered as SQL function `overlap_seconds` by
  * [[GraftFunctions.register]].
  */
case class OverlapSeconds(aS: Expression, aE: Expression,
                          bS: Expression, bE: Expression)
  extends Expression {

  override def children: Seq[Expression] = Seq(aS, aE, bS, bE)
  override def checkInputDataTypes(): TypeCheckResult =
    if (children.forall(_.dataType == LongType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects 4 bigint arguments, got " +
        children.map(_.dataType.simpleString).mkString(", "))
  override def dataType: DataType = LongType
  override def nullable: Boolean = children.exists(_.nullable)
  override def prettyName: String = "overlap_seconds"

  override def eval(input: InternalRow): Any = {
    val as = aS.eval(input); val ae = aE.eval(input)
    val bs = bS.eval(input); val be = bE.eval(input)
    if (as == null || ae == null || bs == null || be == null) null
    else {
      val lo = math.max(as.asInstanceOf[Long], bs.asInstanceOf[Long])
      val hi = math.min(ae.asInstanceOf[Long], be.asInstanceOf[Long])
      java.lang.Long.valueOf(math.max(0L, hi - lo))
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val a1 = aS.genCode(ctx); val a2 = aE.genCode(ctx)
    val b1 = bS.genCode(ctx); val b2 = bE.genCode(ctx)
    val nullCheck =
      if (nullable)
        s"${a1.isNull} || ${a2.isNull} || ${b1.isNull} || ${b2.isNull}"
      else "false"
    ev.copy(code = code"""
      ${a1.code}
      ${a2.code}
      ${b1.code}
      ${b2.code}
      boolean ${ev.isNull} = $nullCheck;
      long ${ev.value} = 0L;
      if (!${ev.isNull}) {
        long graft_lo = Math.max(${a1.value}, ${b1.value});
        long graft_hi = Math.min(${a2.value}, ${b2.value});
        ${ev.value} = Math.max(0L, graft_hi - graft_lo);
      }""")
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(c(0), c(1), c(2), c(3))
}

object GraftFunctions {
  import org.apache.spark.sql.graftbridge.Bridge

  /** Column-API form. */
  def overlapSeconds(aS: Column, aE: Column, bS: Column, bE: Column): Column =
    Bridge.column(OverlapSeconds(
      Bridge.expression(aS), Bridge.expression(aE),
      Bridge.expression(bS), Bridge.expression(bE)))

  /** Word-level Levenshtein distance between two token arrays. */
  def tokenEditDistance(a: Column, b: Column): Column =
    Bridge.column(TokenEditDistance(Bridge.expression(a), Bridge.expression(b)))

  /** Unicode NFC normalization (UAX #15 canonical composition). */
  def nfcNormalize(s: Column): Column =
    Bridge.column(NfcNormalize(Bridge.expression(s)))

  /** Highest multiplicity of any element of a string array (the
    * top-n-gram count behind Gopher-style repetition filters). */
  def maxMultiplicity(arr: Column): Column =
    Bridge.column(MaxMultiplicity(Bridge.expression(arr)))

  /** Register the SQL functions (idempotent; per-session — skip when
    * already present to avoid a per-call replace warning). `Q.tune`
    * calls this at every query entry, the one way they reach a session. */
  def register(spark: SparkSession): Unit = {
    def put(name: String, builder: Seq[Expression] => Expression): Unit = {
      val id = new org.apache.spark.sql.catalyst.FunctionIdentifier(name)
      if (!spark.sessionState.functionRegistry.functionExists(id))
        spark.sessionState.functionRegistry
          .createOrReplaceTempFunction(name, builder, "built-in")
    }
    put("overlap_seconds", es => OverlapSeconds(es(0), es(1), es(2), es(3)))
    put("vec_dot", es => VecDot(es(0), es(1)))
    put("vec_norm2", es => VecNorm2(es(0)))
    put("vec_cosine", es => VecCosine(es(0), es(1)))
    put("rolling_hash", es => RollingHash(es(0)))
    put("token_edit_distance", es => TokenEditDistance(es(0), es(1)))
    put("nfc_normalize", es => NfcNormalize(es(0)))
    put("max_multiplicity", es => MaxMultiplicity(es(0)))
  }
}
