package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // SPARK_GRAFT_MASTER: lets a multi-executor correctness run (VERDICT
    // r20 ask #5) use local-cluster[2,16,*] so broadcasts/repartitions
    // cross a real executor boundary at least once per round
    val spark = Sessions.build(master = sys.env.get("SPARK_GRAFT_MASTER"))
    new java.io.File(outDir).mkdirs()
    // iteration aid (as Bench's SPARK_GRAFT_BENCH_ONLY): run only
    // queries matching the comma-separated name prefixes; unset = all.
    val selected = Sessions.select(Sessions.envPrefixes("SPARK_GRAFT_VERIFY_ONLY"))
    // Failed queries MUST leave a loud trace in the artifact tree: the
    // round-9 testdata regen crashed 39 queries and this loop's old
    // stderr-only catch made them silently ABSENT from the correctness
    // artifact (the driver records only directories that exist) — the
    // hole was only found by diffing round artifacts. Now a failure
    // (a) keeps the query directory, emptied of any partial parquet,
    // (b) writes a `_FAILED` marker carrying the exception, and
    // (c) lands in a failures.json manifest next to oracle_sql.json —
    // so both tools/check.py and the driver see a dir with no parquet
    // and count a failure instead of skipping.
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    selected.foreach { case (name, fn) =>
      // coalesce(1) is CONTRACT TOOLING, not a serving shape: the
      // driver's hash-compare wants one file per query and the dump
      // runs at sf0.01 — a production export of an sf-scale result
      // would keep its partitioning (see CaptionExport/ExportSink)
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failures(name) = Option(e.getMessage).getOrElse(e.toString)
        val qdir = new java.io.File(s"$outDir/$name")
        // a write that died mid-flight may have left partial part-files
        // that a glob-based compare would happily read as "the result"
        if (qdir.isDirectory) qdir.listFiles().foreach(_.delete())
        qdir.mkdirs()
        Files.writeString(Paths.get(s"$outDir/$name/_FAILED"),
          s"$name failed: $e\n")
      }
      // intra-query caches (t03/t04/t06/LSH/...) are never reused across
      // queries; dropping them keeps 100+ queries from accumulating
      // cached blocks until the old gen fills and every later query
      // pays GC + eviction
      spark.catalog.clearCache()
      // checkpoint blocks (CC rounds, e44's final label pin, the
      // Lloyd assignment pin) are not catalog entries — sweep them
      // too, AFTER the write above materialized the result (see
      // Checkpoints.sweep for the ordering contract and Bench for
      // the measured r6 leak)
      graft.util.Checkpoints.sweep(spark)
    }
    import Sessions.jsonStr
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonStr(k)}: ${jsonStr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val fjson = failures
      .map { case (k, v) => s"${jsonStr(k)}: ${jsonStr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/failures.json"), fjson)
    if (failures.nonEmpty)
      System.err.println(s"[verify] ${failures.size} quer(ies) FAILED: " +
        failures.keys.mkString(", "))
    spark.stop()
  }
}
