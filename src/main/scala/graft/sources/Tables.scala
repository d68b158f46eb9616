package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet-backed table catalog over the driver testdata directory.
  *
  * Mirrors the reference's parquet mirror loader
  * (reference: app/esper/spark.py:68-76 `spark.load('query_face')`) —
  * every table is a parquet file keyed by name under a scale-factor dir.
  * Columnar/parquet-first per SURVEY §1.2.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** S2: parquet load by table key. Column pruning + predicate pushdown
    * happen in Catalyst; callers select/filter freely.
    *
    * A table file is resolved once per session through
    * [[FileRelations.read]], keyed by its path, modification time and
    * length: building a query from already-loaded tables starts no
    * Spark job, a file rewritten in place is detected and resolved
    * again, and only metadata (schema, file listing) is cached, never
    * rows. A missing file fails as `spark.read.parquet` does.
    *
    * The `catalog:<prefix>` scheme resolves `name` to the session
    * catalog table `<prefix><name>` instead of a parquet path, so the
    * SAME query functions run unchanged off bucketed/sorted catalog
    * tables (Bench's layout section, PlanAuditSpec's zero-exchange
    * cases) — the storage layout is a deployment choice, never a
    * query rewrite. */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (sfDir.startsWith("catalog:"))
      spark.table(sfDir.stripPrefix("catalog:") + name)
    else FileRelations.read(spark, s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame     = load(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  // ------------------------------------------------------------------
  // 100 TB storage layout (SURVEY §7.4): interval-heavy tables bucketed
  // by their join key so per-key interval ops co-locate without an
  // exchange, and fact tables hive-partitioned on coarse dims so
  // partition pruning cuts the scan before any filter runs.
  // StorageSpec proves both plan properties.
  // ------------------------------------------------------------------

  /** Write `df` bucketed + sorted by `key` as a catalog table: joins and
    * aggregations on `key` between equally-bucketed tables skip the
    * shuffle entirely (Spark reuses the on-disk hash layout). */
  def writeBucketed(df: DataFrame, table: String, key: String,
                    buckets: Int, sortCols: Seq[String]): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, key)
      .sortBy(sortCols.head, sortCols.tail: _*)
      .saveAsTable(table)

  /** Write `df` hive-partitioned on `cols` (the channel/year/month
    * layout at 100 TB): equality filters on `cols` become partition
    * pruning — pruned directories are never listed, let alone read. */
  def writePartitioned(df: DataFrame, path: String, cols: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(cols: _*).parquet(path)
}
