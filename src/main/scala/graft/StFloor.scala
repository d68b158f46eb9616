package graft

import java.nio.file.Files
import org.apache.spark.sql.{Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._

/** st-family floor decomposition (r21, VERDICT r20 ask #6): how much of
  * a streaming-parity query's wall time is the micro-batch machinery
  * itself — source listing + per-batch planning + state store +
  * offset/commit logs + the per-batch sink job — versus the query's
  * actual computation. Method: run the SAME staged input through
  * (a) a passthrough stream (select *, identical sink/checkpoint
  * shape), (b) the real st22 tumbling aggregate, each at
  * maxFilesPerTrigger=1 (3 batches) and unbounded (1 batch), plus
  * (c) the sink read-back + presentation sort alone.
  * Run: `runMain graft.StFloor [sfDir]` (default sf0.1). */
object StFloor {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Sessions.build()
    import graft.queries.Q
    val SENT = 10000000L
    // st22's staged fixture, built once (same construction as the query)
    def frames(s: SparkSession) = {
      val iv = Q.evTyped(s, sfDir, "click")
        .select(col("user_id"), col("s"), col("e"),
          timestamp_seconds(col("s")).as("ts"))
      val sent = iv.select(col("user_id")).distinct()
        .select(col("user_id"), lit(SENT).as("s"), lit(SENT + 1).as("e"),
          timestamp_seconds(lit(SENT)).as("ts"))
      Seq(iv.filter(col("s") >= 20000 && col("s") < 43200),
        iv.filter(col("s") >= 43200),
        iv.filter(col("s") < 20000).unionByName(sent))
    }
    val stageBase = Files.createTempDirectory("stfloor_in_")
    val inDir = {
      val dfs = frames(spark)
      val tmp = stageBase.resolve("stage")
      val in = stageBase.resolve("in")
      Files.createDirectories(in)
      dfs.zipWithIndex.map { case (df, i) => df.withColumn("__b", lit(i)) }
        .reduce(_.unionByName(_)).repartition(col("__b"))
        .write.partitionBy("__b").mode("overwrite").parquet(tmp.toString)
      dfs.indices.foreach { i =>
        val bDir = tmp.resolve(s"__b=$i")
        val l = Files.list(bDir)
        val part = try {
          import scala.jdk.CollectionConverters._
          l.iterator().asScala.find(_.getFileName.toString.startsWith("part-")).get
        } finally l.close()
        val dst = in.resolve(f"b$i%02d.parquet")
        Files.move(part, dst)
        Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 60000L))
      }
      in.toString
    }
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "user_id BIGINT, s BIGINT, e BIGINT, ts TIMESTAMP")
    def streamSession(): SparkSession = {
      val ss = spark.newSession()
      ss.conf.set("spark.sql.shuffle.partitions", "2")
      ss
    }
    def run(tag: String, perFile: Boolean, agg: Boolean): Double = {
      val base = Files.createTempDirectory(s"stfloor_${tag}_")
      val outDir = base.resolve("out"); Files.createDirectories(outDir)
      val t0 = System.nanoTime()
      val ss = streamSession()
      val rd = ss.readStream.schema(schema)
      val src = (if (perFile) rd.option("maxFilesPerTrigger", 1) else rd)
        .parquet(inDir)
      val out =
        if (agg) src.withWatermark("ts", "0 seconds")
          .groupBy(col("user_id"), window(col("ts"), "600 seconds"))
          .agg(count(lit(1)).as("n"),
            min(col("s")).as("min_s"), max(col("e")).as("max_e"))
          .select(col("user_id"),
            col("window.start").cast("long").as("win_s"),
            col("window.end").cast("long").as("win_e"),
            col("n"), col("min_s"), col("max_e"))
        else src.toDF()
      val q = out.writeStream.outputMode("append")
        .option("checkpointLocation", base.resolve("ckpt").toString)
        .foreachBatch { (b: Dataset[Row], _: Long) =>
          b.repartition(1).write.mode("append").parquet(outDir.toString)
        }
        .start()
      q.processAllAvailable(); q.stop()
      val dt = (System.nanoTime() - t0) / 1e9
      Q.rmTree(base)
      dt
    }
    def minOf(n: Int)(f: => Double): Double = (1 to n).map(_ => f).min
    // warm one full cycle of each shape so JIT/codegen is out of the min
    run("warm1", perFile = true, agg = true)
    run("warm2", perFile = true, agg = false)
    val passthru3 = minOf(3)(run("p3", perFile = true, agg = false))
    val passthru1 = minOf(3)(run("p1", perFile = false, agg = false))
    val agg3 = minOf(3)(run("a3", perFile = true, agg = true))
    val agg1 = minOf(3)(run("a1", perFile = false, agg = true))
    // empty-input stream: start + zero-batch + stop = pure lifecycle
    val emptyDir = Files.createTempDirectory("stfloor_empty_")
    val lifecycle = minOf(3) {
      val base = Files.createTempDirectory("stfloor_lc_")
      val t0 = System.nanoTime()
      val ss = streamSession()
      val q = ss.readStream.schema(schema).parquet(emptyDir.toString)
        .writeStream.outputMode("append")
        .option("checkpointLocation", base.resolve("ckpt").toString)
        .foreachBatch { (_: Dataset[Row], _: Long) => () }
        .start()
      q.processAllAvailable(); q.stop()
      val dt = (System.nanoTime() - t0) / 1e9
      Q.rmTree(base); dt
    }
    println(f"[stfloor] lifecycle (start+stop, 0 batches):   $lifecycle%.3f s")
    println(f"[stfloor] passthrough, 1 batch:                $passthru1%.3f s")
    println(f"[stfloor] passthrough, 3 batches (1 file/trig): $passthru3%.3f s")
    println(f"[stfloor] st22 aggregate, 1 batch:             $agg1%.3f s")
    println(f"[stfloor] st22 aggregate, 3 batches:           $agg3%.3f s")
    println(f"[stfloor] per-extra-batch cost (passthrough):  ${(passthru3 - passthru1) / 2}%.3f s")
    println(f"[stfloor] state/agg compute (3-batch delta):   ${agg3 - passthru3}%.3f s")
    Q.rmTree(stageBase); Q.rmTree(emptyDir)
    spark.stop()
  }
}
