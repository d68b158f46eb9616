package graft

import org.apache.spark.sql.functions._

/** LSM depth stress (r15 VERDICT ask #6): how serve latency grows with
  * manifest segment count when autoCompact is OFF, and that the
  * compaction policy bounds it. N small appends land N postings
  * segments; every serve unions the live ones, so segment count is
  * the serve-side cost driver the autoCompact knob exists to bound.
  *
  * Emits one JSON line: serve seconds (min of 3) at increasing
  * segment depths, then after autoCompact(maxSegments=8) — recorded
  * in STRESS10X.md next to the serve-latency tables.
  *
  * Run: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *        sbt "runMain graft.StressLsm"
  */
object StressLsm {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.build()
    val base = java.nio.file.Files.createTempDirectory("lsm_stress_")
    val dir = base.resolve("idx").toString
    val toks = graft.queries.Q.toks(spark, sfDir)
    val nBatches = 24
    // base build = residue 0; each append batch = one further residue
    // (disjoint doc_ids, the append contract)
    graft.text.PhraseSearch.writeIndex(
      toks.filter(col("doc_id") % (nBatches + 1) === 0), dir, nBuckets = 64)

    def nSegs(): Int =
      graft.index.Manifest.load(spark, dir).segs("postings").size
    def serveSec(): Double =
      (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        graft.text.PhraseSearch
          .servedSearch(spark, dir, "customer AND (table OR merge)")
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.min

    import Sessions.num3
    val depths = scala.collection.mutable.ArrayBuffer[(Int, Double)]()
    depths += ((nSegs(), serveSec()))
    val record = Set(4, 8, 16, 24)
    (1 to nBatches).foreach { i =>
      graft.text.PhraseSearch.appendIndex(
        toks.filter(col("doc_id") % (nBatches + 1) === i), dir)
      if (record(i)) depths += ((nSegs(), serveSec()))
    }
    // the policy: one amortized rewrite bounds the union depth
    val t0 = System.nanoTime()
    val compacted = graft.text.PhraseSearch.autoCompact(spark, dir,
      maxSegments = 8)
    val compactSec = (System.nanoTime() - t0) / 1e9
    val after = ((nSegs(), serveSec()))
    val curve = depths.map { case (n, s) => s"""{"segments":$n,"serve_sec":${num3(s)}}""" }
      .mkString("[", ",", "]")
    println(
      s"""{"metric":"lsm_depth","sf":"$sfDir","curve":$curve,""" +
      s""""auto_compacted":$compacted,"compact_sec":${num3(compactSec)},""" +
      s""""after_compact":{"segments":${after._1},"serve_sec":${num3(after._2)}}}""")
    graft.queries.Q.rmTree(base)
    spark.stop()
  }
}
