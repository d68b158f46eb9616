package graft

/** Plan-quality inspection: prints formatted physical plans for the
  * queries whose names start with one of the given prefixes (all of
  * them when none are given) so pushdown/broadcast/codegen can be
  * audited (run: `runMain graft.Explain [sfDir] [prefix...]`). */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = Sessions.build()
    Sessions.select(args.drop(1).toSeq).keys.toSeq.sorted.foreach { n =>
      println(s"\n================ $n ================")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
