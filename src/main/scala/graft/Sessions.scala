package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one SparkSession factory of the engine's entry points (Bench,
  * Verify, Explain, StressLsm, StFloor and the test session), plus the
  * setup the harness mains share: query selection by name prefix and
  * the JSON spelling of their result lines.
  *
  * Engine SQL functions and the optimizer rule are NOT installed here:
  * `Q.tune` installs them per session at query entry, the only path
  * that also reaches sessions this factory never built (a caller of
  * `SparkEntry.queries` may hand in its own).
  */
object Sessions {

  /** A session on `master` (default `local[cpus]`; `cpus` defaults to
    * `SPARK_GRAFT_CPUS`, else 32) with `cpus` shuffle partitions, UTC,
    * UI off, an 8000-entry codegen cache and a fresh temp warehouse
    * removed at JVM exit. A `local-cluster` master gets executors that
    * run this JVM's classpath. */
  def build(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"),
            master: Option[String] = None,
            logLevel: String = "WARN"): SparkSession = {
    val m = master.getOrElse(s"local[$cpus]")
    // per-run warehouse: two concurrent runs on one box must not
    // clobber each other's managed tables (Bench's layout section,
    // the bucketed test fixtures), and none land in the working dir
    val warehouse = Files.createTempDirectory("graft_warehouse_")
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      try graft.queries.Q.rmTree(warehouse) catch {
        case e: Throwable =>
          System.err.println(s"[sessions] could not remove the warehouse $warehouse: $e")
      }))
    val base = SparkSession.builder().master(m)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // static conf: the default 100-entry compiled-class cache thrashes
      // across a 100+-query corpus (hundreds of generated classes), so
      // queries late in the run re-pay janino compilation they already
      // did — t05 measured 0.6 s standalone vs 2.2 s mid-run
      .config("spark.sql.codegen.cache.maxEntries", "8000")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", warehouse.toString)
    // local-cluster executors are SEPARATE JVMs launched by the
    // in-process worker: they need this JVM's classpath (sbt-managed,
    // no assembly jar) and a real heap to run the corpus
    val configured =
      if (m.startsWith("local-cluster")) base
        .config("spark.executor.extraClassPath",
          System.getProperty("java.class.path"))
        .config("spark.executor.memory",
          sys.env.getOrElse("SPARK_GRAFT_EXEC_MEM", "4g"))
      else base
    val spark = configured.getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    // drop ONLY the expected per-unpersist truncation WARN from freed
    // CC checkpoints (message-scoped regex filter — ADVICE r7: a
    // whole-logger ERROR override also hid unexpected RDD warnings)
    graft.util.LogFilters.suppressExpectedCheckpointTruncationWarns()
    // the per-query cache rebuild after clearCache re-registers the
    // same query-internal cached frames — CacheManager's "already
    // cached" WARN per query is expected; keep the tail readable
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.CacheManager",
      org.apache.logging.log4j.Level.ERROR)
    spark
  }

  /** Comma-separated query-name prefixes in `envVar`; empty when it is
    * unset or blank, which selects the full corpus. */
  def envPrefixes(envVar: String): Seq[String] =
    sys.env.getOrElse(envVar, "").split(",").map(_.trim).filter(_.nonEmpty).toSeq

  /** The `SparkEntry.queries` whose names start with one of `prefixes`;
    * all of them when `prefixes` is empty. */
  def select(prefixes: Seq[String]): Map[String, (SparkSession, String) => DataFrame] =
    if (prefixes.isEmpty) SparkEntry.queries
    else SparkEntry.queries.filter { case (n, _) => prefixes.exists(n.startsWith) }

  /** JSON string literal: quote, backslash and ALL control chars
    * (< 0x20) escaped — a tab or CR in oracle SQL or an error
    * message would otherwise make a reader's json.load fail. */
  def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Three decimals with an explicit Locale.ROOT: the f"" interpolator
    * is default-locale sensitive, and a comma-decimal locale would emit
    * invalid JSON. */
  def num3(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
}
