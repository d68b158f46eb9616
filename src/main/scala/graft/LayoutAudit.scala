package graft

import org.apache.spark.sql.SparkSession

/** Plan-only layout audit for the families the Bench layout sweep
  * EXCLUDES with a rationale (t/v: "their shuffle keys are derived —
  * table bucketing can't pre-place them"). This main makes that
  * rationale evidence instead of assertion: it buckets EVERY keyed
  * table — including documents by doc_id and embeddings by vec_id —
  * and counts hash exchanges per t/v query on both layouts without
  * executing anything. A row whose count drops would belong in the
  * timed sweep; a row whose count doesn't confirms the exclusion.
  *
  * Run: `runMain graft.LayoutAudit [sfDir] [familyPrefixes...]`
  * (defaults: sf0.01, families t,v).
  */
object LayoutAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val fams = if (args.length > 1) args.drop(1).toSeq else Seq("t", "v")
    val warehouse = java.nio.file.Files.createTempDirectory("graft_la_wh_")
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.warehouse.dir", warehouse.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.sources.Tables
    val pre = "graft_la_"
    def pq(n: String) = Tables.load(spark, sfDir, n)
    Tables.writeBucketed(pq("lineitem"), pre + "lineitem", "l_orderkey",
      8, Seq("l_orderkey", "l_linenumber"))
    Tables.writeBucketed(pq("orders"), pre + "orders", "o_orderkey",
      8, Seq("o_orderkey"))
    Tables.writeBucketed(pq("events"), pre + "events", "user_id",
      8, Seq("user_id"))
    Tables.writeBucketed(pq("customer"), pre + "customer", "c_custkey",
      8, Seq("c_custkey"))
    Tables.writeBucketed(pq("documents"), pre + "documents", "doc_id",
      8, Seq("doc_id"))
    Tables.writeBucketed(pq("embeddings"), pre + "embeddings", "vec_id",
      8, Seq("vec_id"))
    Seq("region", "nation", "supplier", "part")
      .foreach(n => pq(n).createOrReplaceTempView(pre + n))
    // index-backed serves read the persisted index layout, not tables
    val idxBacked = graft.queries.Q.layoutIdxBacked
    def hashEx(dir: String, name: String): Int =
      try {
        // build FIRST (tune() re-enables AQE inside the query), then
        // disable AQE before forcing the lazy plan so exchanges are
        // plain nodes — the same ordering Bench's layout section uses
        val df = SparkEntry.queries(name)(spark, dir)
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try df.queryExecution.executedPlan.collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
            if e.outputPartitioning.isInstanceOf[
              org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => e
        }.size
        finally spark.conf.set("spark.sql.adaptive.enabled", "true")
      }
      catch { case ex: Throwable =>
        System.err.println(s"[layout-audit] $name/$dir failed: ${ex.getMessage}")
        -1
      }
    val names = SparkEntry.queries.keys.toSeq.sorted.filter { n =>
      val fam = n.takeWhile(_.isLetter)
      fams.contains(fam) && !idxBacked(n) &&
        // ph: only the in-process rows — a served row's plan reads the
        // index layout, and building one keyed on the catalog dir
        // would measure a pointless rebuild (see Q.layoutInProcessPh)
        (fam != "ph" || graft.queries.Q.layoutInProcessPh(n))
    }
    var improved = 0
    names.foreach { n =>
      val a = hashEx(sfDir, n)
      val b = hashEx(s"catalog:$pre", n)
      val tag = if (b >= 0 && a > b) { improved += 1; "  IMPROVED" } else ""
      println(f"$n%-34s parquet=$a%2d bucketed=$b%2d$tag")
    }
    println(s"\n${names.size} queries audited; $improved improved by " +
      "doc_id/vec_id bucketing")
    spark.stop()
    graft.queries.Q.rmTree(warehouse)
  }
}
