package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.sources.{FileRelations, Tables}
import org.apache.spark.sql.{AnalysisException, Row}

/** Base tables load through the engine's one file-relation resolver:
  * each table file is resolved once per session, keyed by path,
  * modification time and length, so building a query from tables the
  * session has already loaded starts no Spark job. */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  /** The rows of the closed-loop benchmark's `interactive` pool. */
  private val interactivePool = Seq(
    "e21_pose_pair", "e24_people_sitting", "e40_topic_overlap", "e02_commercials",
    "a25_moments_sketch", "a13_overlap_totals", "r01_coalesce", "p13_hash_sample",
    "j08_overlap_clip_first", "m09_blurriness", "f06_json_regex", "o08_zorder")

  /** The benchmark's sf0.01 tables, copied to a fresh dir so this
    * session has resolved none of them yet. */
  private lazy val sf: String = {
    val dst = Files.createTempDirectory("tables_sf_")
    Tables.all.foreach(t => Files.copy(Paths.get(s"esperbench/data/sf0.01/$t.parquet"),
      dst.resolve(s"$t.parquet")))
    dst.toString
  }

  test("building the interactive pool rows a second time in one session starts no Spark job") {
    def build(): Unit = interactivePool.foreach(n => SparkEntry.queries(n)(spark, sf))
    val cold = jobsStartedBy(build())
    assert(cold > 0, "the first build should resolve the tables with Spark jobs")
    val warm = interactivePool.map(n => n -> jobsStartedBy(SparkEntry.queries(n)(spark, sf)))
      .filter(_._2 > 0)
    assert(warm.isEmpty, s"rebuilding started Spark jobs: $warm")
  }

  test("a table file rewritten under the same path is resolved again and serves the new rows") {
    val dir = Files.createTempDirectory("tables_rewrite_")
    val file = dir.resolve("region.parquet")
    /** `df` as a single-file region table at `file`. */
    def write(df: org.apache.spark.sql.DataFrame): Unit = {
      val out = dir.resolve("out")
      df.coalesce(1).write.mode("overwrite").parquet(out.toString)
      val part = Files.list(out).filter(_.getFileName.toString.endsWith(".parquet"))
        .findFirst().get
      Files.move(part, file, StandardCopyOption.REPLACE_EXISTING)
    }
    def region(): Set[Row] = Tables.region(spark, dir.toString).collect().toSet
    write(Seq((0L, "AFRICA")).toDF("r_regionkey", "r_name"))
    assert(region() === Set(Row(0L, "AFRICA")))
    assert(FileRelations.isResolved(spark, file.toString))
    val (len, mtime) = (Files.size(file), Files.getLastModifiedTime(file))
    // a new column too: a relation resolved from the old file would
    // keep the old schema, so the new rows show only if it is resolved again
    write(Seq((0L, "AFRICA", "a"), (1L, "AMERICA", "b"), (2L, "ASIA", "c"))
      .toDF("r_regionkey", "r_name", "r_comment"))
    // same modification time, so only the length tells the files apart
    Files.setLastModifiedTime(file, mtime)
    assert(Files.size(file) !== len)
    assert(region() === Set(Row(0L, "AFRICA", "a"), Row(1L, "AMERICA", "b"), Row(2L, "ASIA", "c")))
  }

  test("the catalog: scheme still loads the session catalog table") {
    Seq((5L, "X")).toDF("r_regionkey", "r_name").createOrReplaceTempView("graft_ts_region")
    try assert(Tables.load(spark, "catalog:graft_ts_", "region").collect().toSeq ===
      Seq(Row(5L, "X")))
    finally spark.catalog.dropTempView("graft_ts_region")
  }

  test("a missing table file fails with Spark's PATH_NOT_FOUND") {
    val dir = Files.createTempDirectory("tables_missing_").toString
    val e = intercept[AnalysisException](Tables.region(spark, dir))
    assert(e.getCondition === "PATH_NOT_FOUND", e.getMessage)
  }
}
