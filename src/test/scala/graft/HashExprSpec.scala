package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.plans.GraftFunctions
import graft.text.TextOps

/** Native rolling-hash expression: bit-equality with the HOF fold it
  * replaced, SQL registration, null handling. */
class HashExprSpec extends SparkSpec {
  import spark.implicits._

  private val samples = Seq(
    "",
    "a",
    "hello world",
    "the quick brown fox jumps over the lazy dog 42 !?",
    "tabs\tand\nnewlines",
    "café résumé",        // latin-1 supplement
    "こんにちは",    // BMP multibyte
    "x" * 5000)

  test("rolling_hash equals the aggregate/transform/split HOF fold") {
    val df = samples.toDF("text")
    val rows = df.select(
        TextOps.fingerprint($"text").as("native"),
        HashExprSpec.fingerprintHof($"text").as("hof"))
      .collect()
    rows.foreach(r => assert(r.getLong(0) === r.getLong(1), r.toString))
  }

  test("rolling_hash SQL function and null propagation") {
    GraftFunctions.register(spark)
    val viaSql = Seq("hello world").toDF("t")
      .selectExpr("rolling_hash(t)").as[Long].head()
    val expected = Seq("hello world").toDF("t")
      .select(HashExprSpec.fingerprintHof($"t")).as[Long].head()
    assert(viaSql === expected)
    val nullRow = Seq(Option.empty[String]).toDF("t")
      .selectExpr("rolling_hash(t)").collect().head
    assert(nullRow.isNullAt(0))
  }

  test("shingles equals the window-function form (incl. edge cases)") {
    import org.apache.spark.sql.expressions.Window
    val docs = (Seq(
      (1L, "a b c d e"),
      (2L, "a b"),            // shorter than k -> no shingles
      (3L, ""),               // empty text
      (4L, "x  y z w"),       // doubled space -> empty token kept
      (5L, "a b c a b c a b c")) ++ // repeats collapse via distinct
      (6L to 40L).map(i => (i, s"tok$i " * (i % 7).toInt + "tail end cap")))
      .toDF("doc_id", "text")
    val native = TextOps.shingles(docs, 3)
      .as[(Long, String)].collect().sorted.toList
    // reference: posexplode + lead window (the round-2 implementation)
    val w = Window.partitionBy($"doc_id").orderBy($"pos")
    val windowed = docs
      .select($"doc_id", posexplode(split($"text", " ")).as(Seq("pos", "tok")))
      .withColumn("sh", concat_ws(" ",
        (0 until 3).map(i => lead($"tok", i).over(w)): _*))
      .filter(size(split($"sh", " ")) === 3)
      .select($"doc_id", $"sh").distinct()
      .as[(Long, String)].collect().sorted.toList
    assert(native === windowed)
  }

  test("rolling_hash matches under codegen over a real column scan") {
    // wide enough that whole-stage codegen (not interpreted fallback)
    // is exercised; compare the two forms over distinct shingle-ish rows
    val df = (0 until 2000)
      .map(i => s"token$i next$i last$i").toDF("sh")
    val mismatches = df.select(
        TextOps.fingerprint($"sh").as("a"), HashExprSpec.fingerprintHof($"sh").as("b"))
      .filter($"a" =!= $"b").count()
    assert(mismatches === 0L)
  }

  test("nfc_normalize composes decomposed sequences; ASCII passes through") {
    GraftFunctions.register(spark)
    // the corpus is ASCII so t34's oracle can't exercise the non-ASCII
    // behavior — pin it here: decomposed e + U+0301 composes to é,
    // already-composed and pure-ASCII inputs are returned unchanged,
    // the op is idempotent, and both forms fingerprint identically
    // after normalization (the whole point of the gate)
    val decomposed = "cafe\u0301" // e + U+0301 COMBINING ACUTE ACCENT
    val composed = "caf\u00e9"     // precomposed U+00E9
    val rows = Seq(
      ("d", decomposed), ("c", composed), ("a", "plain ascii")
    ).toDF("k", "s")
      .select($"k", $"s", GraftFunctions.nfcNormalize($"s").as("n"))
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
    assert(rows("d")._2 === composed)
    assert(rows("c")._2 === composed)
    assert(rows("a")._2 === "plain ascii")
    // idempotence + fingerprint equality across input forms
    val fp = Seq((decomposed, composed)).toDF("a", "b")
      .select(
        TextOps.fingerprint(GraftFunctions.nfcNormalize($"a")).as("fa"),
        TextOps.fingerprint(GraftFunctions.nfcNormalize($"b")).as("fb"),
        GraftFunctions.nfcNormalize(GraftFunctions.nfcNormalize($"a")).as("nn"))
      .head()
    assert(fp.getLong(0) === fp.getLong(1))
    assert(fp.getString(2) === composed)
    // SQL registration + null propagation
    val viaSql = Seq(Tuple1(decomposed)).toDF("s")
      .selectExpr("nfc_normalize(s) AS n", "nfc_normalize(CAST(NULL AS STRING)) AS z")
      .head()
    assert(viaSql.getString(0) === composed)
    assert(viaSql.isNullAt(1))
  }

  test("merge_pair equals the \\b-bounded regex sweep, including self-pairs") {
    import org.apache.spark.sql.graftbridge.Bridge
    def mp(toks: org.apache.spark.sql.Column, w1: String, w2: String) =
      Bridge.column(graft.plans.MergePair(Bridge.expression(toks),
        Bridge.expression(lit(w1)), Bridge.expression(lit(w2))))
    val texts = Seq(
      "a a a",             // self-pair: greedy left-to-right, not rightmost
      "a a a a",
      "x a a y a a",
      "a b a b a",
      "b",
      "ab a a",            // token boundary: 'ab' must not match 'a'
      "a")
    val df = texts.toDF("text")
    // pair (a, a)
    val got = df.select(
        array_join(mp(split(col("text"), " "), "a", "a"), " ").as("m"),
        regexp_replace(col("text"), "\\ba a\\b", "a_a").as("r"))
      .collect()
    got.foreach(r => assert(r.getString(0) === r.getString(1),
      s"merge_pair diverged from the regex sweep: ${r.getString(0)} vs ${r.getString(1)}"))
    // pair (a, b) on alternating text
    val got2 = df.select(
        array_join(mp(split(col("text"), " "), "a", "b"), " ").as("m"),
        regexp_replace(col("text"), "\\ba b\\b", "a_b").as("r"))
      .collect()
    got2.foreach(r => assert(r.getString(0) === r.getString(1)))
    // explicit expectations for the tricky self-pair rows
    val direct = df.select(array_join(mp(split(col("text"), " "), "a", "a"), " "))
      .as[String].collect()
    assert(direct(0) === "a_a a")
    assert(direct(1) === "a_a a_a")
    assert(direct(5) === "ab a_a")
  }

  test("max_multiplicity equals a groupBy-count reference (incl. edges)") {
    val rnd = new scala.util.Random(877)
    val cases: Seq[Seq[String]] =
      Seq(Seq.empty[String], Seq(""), Seq("a"), Seq("a", "a", "a"),
        Seq("a", "b", "a", "b", "a")) ++
        Seq.fill(30)(Seq.fill(rnd.nextInt(50))(s"w${rnd.nextInt(8)}"))
    val got = cases.toDF("arr")
      .select(GraftFunctions.maxMultiplicity($"arr").as("m"))
      .as[Long].collect().toSeq
    val want = cases.map(c =>
      if (c.isEmpty) 0L else c.groupBy(identity).values.map(_.size).max.toLong)
    assert(got === want)
    // over the Shingles feed: the top-2-gram of a doc that repeats one
    val top2 = Seq(Tuple1("x y z x y w x y")).toDF("text")
      .select(GraftFunctions.maxMultiplicity(
        org.apache.spark.sql.graftbridge.Bridge.column(
          graft.plans.Shingles(
            org.apache.spark.sql.graftbridge.Bridge.expression($"text"), 2))).as("m"))
      .as[Long].head()
    assert(top2 === 3L) // "x y" occurs 3 times
    // SQL registration + null propagation
    val viaSql2 = spark.sql(
      "SELECT max_multiplicity(array('a','b','a')) AS m, " +
        "max_multiplicity(CAST(NULL AS ARRAY<STRING>)) AS z").head()
    assert(viaSql2.getLong(0) === 2L)
    assert(viaSql2.isNullAt(1))
  }

  test("array_longs_not_in_sorted takes only arrays without null elements") {
    import org.apache.spark.sql.graftbridge.Bridge
    import org.apache.spark.sql.types.{ArrayType, LongType}
    def notIn(a: org.apache.spark.sql.Column, hot: org.apache.spark.sql.Column) =
      Bridge.column(graft.plans.ArrayLongsNotInSorted(
        Bridge.expression(a), Bridge.expression(hot)))
    // both inputs of its one caller (TextOps.pairStatsImpl) declare
    // containsNull = false, so rejecting null-capable arrays costs it
    // nothing
    val docs = Seq((1L, "a b c d a b c"), (2L, "a b")).toDF("doc_id", "text")
    val sids = docs.select(TextOps.sidArray($"text", 3).as("s"))
    assert(sids.schema("s").dataType === ArrayType(LongType, containsNull = false))
    val hot = TextOps.shingleIds(docs, 3)
      .agg(sort_array(collect_list($"sid")).as("hot"))
    assert(hot.schema("hot").dataType === ArrayType(LongType, containsNull = false))
    assert(sids.crossJoin(hot).select(size(notIn($"s", $"hot"))).as[Int].collect()
      .toSeq === Seq(0, 0))
    // non-null slots: the left order is kept, hot elements drop out
    val one = spark.range(1).select(
      notIn(array(lit(5L), lit(1L), lit(3L), lit(1L)), array(lit(1L), lit(4L))).as("k"))
    assert(one.as[Seq[Long]].head() === Seq(5L, 3L))
    // a null-capable element type on either side fails analysis loudly
    // instead of reading a null slot as 0
    val nullable = array(lit(1L), lit(null).cast("long"))
    Seq(notIn(nullable, array(lit(1L))), notIn(array(lit(1L)), nullable)).foreach { c =>
      val e = intercept[org.apache.spark.sql.AnalysisException](
        spark.range(1).select(c).collect())
      assert(e.getMessage.contains("without null elements"), e.getMessage)
    }
  }
}

object HashExprSpec {
  /** Reference form of [[TextOps.fingerprint]]: interpreted lambda + one
    * array slot per character — the cross-check oracle for the native
    * rolling hash. */
  def fingerprintHof(text: Column): Column =
    aggregate(
      transform(split(text, ""), c => ascii(c).cast("long")),
      lit(0L),
      (acc, x) => (acc * 31 + x) % 1000000007L)
}
