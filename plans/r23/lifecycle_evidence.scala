// Lifecycle evidence for both index planes: the committed manifest after
// every maintenance op, executed plans of the served reads and of the
// compaction writes, and the outcome of the empty-output cases.
//
// Run against a compiled tree (one run per tree, then diff the outputs):
//
//   OUT=plans/r23/after spark-shell --master local[2] \
//     --conf spark.sql.adaptive.enabled=false --conf spark.ui.enabled=false \
//     --driver-class-path target/scala-2.13/classes < plans/r23/lifecycle_evidence.scala
//
// Output under $OUT: manifests/<plane>-<step>-<op>.manifest (the raw bytes
// of the version each op committed), plans/<name>.txt (executedPlan with
// expression ids, plan ids and temp paths normalized) and empty_cases.txt.
import graft.index.Manifest
import graft.similarity.IntKMeans
import graft.text.PhraseSearch
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

// one block, so the shell compiles it whole (no line-by-line evaluation)
object Evidence {
  def run(): Unit = {
    import spark.implicits._

    spark.sparkContext.setLogLevel("ERROR")
    val out = sys.env("OUT")
    val root = Files.createTempDirectory("lifecycle_").toString
    Seq("manifests", "plans").foreach(d => Files.createDirectories(Paths.get(out, d)))

    def norm(s: String): String = s
      .replace(root, "<root>")
      .replaceAll("#\\d+L?", "#N")
      .replaceAll("plan_id=\\d+", "plan_id=N")
    def save(rel: String, text: String): Unit =
      Files.write(Paths.get(out, rel), text.getBytes("UTF-8"))

    var step = 0
    def snap(plane: String, dir: String, op: String): Unit = {
      val v = Manifest.load(spark, dir).version
      // the empty cases are named without a step: they differ by design
      step += 1
      val name = if (plane == "empty") s"empty-$op" else f"$plane-$step%02d-$op"
      Files.copy(Paths.get(s"$dir/manifest/v$v.manifest"),
        Paths.get(out, s"manifests/$name.manifest"))
    }

    // ---------------- fixtures ----------------
    val words = Vector("the", "quick", "brown", "fox", "cat", "slow", "green", "turtle")
    def toksOf(ids: Seq[Long], shift: Int = 0): DataFrame =
      ids.flatMap(id => (0 until 6).map(p =>
          (id, p, words(((id * 3 + p * 5 + shift) % words.size).toInt))))
        .toDF("doc_id", "pos", "tok")
    def embsOf(ids: Seq[Long], shift: Int = 0): DataFrame = ids.map { id =>
        (id, Array.tabulate(8)(d => ((id * 7 + d * 13 + shift) % 7 - 3).toFloat), 0)
      }.toDF("vec_id", "embedding", "label")

    // ---------------- phrase lifecycle ----------------
    val ph = s"$root/phrase"
    PhraseSearch.writeIndex(toksOf((1L to 20L).filter(_ % 2 == 0)), ph, nBuckets = 8); snap("phrase", ph, "build")
    PhraseSearch.appendIndex(toksOf((1L to 20L).filter(_ % 2 == 1)), ph); snap("phrase", ph, "append")
    PhraseSearch.deleteFromIndex(Seq(3L, 4L).toDF("doc_id"), ph); snap("phrase", ph, "delete")
    val phAfterDelete = PhraseSearch.currentSeq(spark, ph)
    PhraseSearch.upsertIndex(toksOf(Seq(6L), shift = 1), ph); snap("phrase", ph, "upsert")
    PhraseSearch.appendIndex(toksOf(Seq(21L, 22L)), ph); snap("phrase", ph, "append")
    PhraseSearch.deleteFromIndex(Seq(5L).toDF("doc_id"), ph); snap("phrase", ph, "delete")
    PhraseSearch.rollbackIndex(spark, ph, PhraseSearch.currentSeq(spark, ph) - 1); snap("phrase", ph, "rollback")
    PhraseSearch.deleteFromIndex(Seq(7L).toDF("doc_id"), ph); snap("phrase", ph, "delete")
    PhraseSearch.vacuumIndex(spark, ph, phAfterDelete + 1); snap("phrase", ph, "vacuum")

    // served-read plans on the two-segment index with tombstones
    val phTwo = s"$root/phrase_two"
    PhraseSearch.writeIndex(toksOf((1L to 20L).filter(_ % 2 == 0)), phTwo, nBuckets = 8)
    PhraseSearch.appendIndex(toksOf((1L to 20L).filter(_ % 2 == 1)), phTwo)
    PhraseSearch.deleteFromIndex(Seq(3L, 4L).toDF("doc_id"), phTwo)
    save("plans/phrase_hits.txt", norm(PhraseSearch.servedPhraseHits(spark, phTwo,
      Seq("quick", "brown")).queryExecution.executedPlan.toString))
    save("plans/boolean.txt", norm(PhraseSearch.servedSearch(spark, phTwo,
      "quick AND NOT cat").queryExecution.executedPlan.toString))
    save("plans/bm25.txt", norm(PhraseSearch.servedBm25TopK(spark, phTwo,
      Seq("quick", "fox"), k = 3).queryExecution.executedPlan.toString))
    // the esperbench search_rw read shapes: a phrase AND (word OR NOT
    // word), and BM25 over three terms
    save("plans/boolean_bench.txt", norm(PhraseSearch.servedSearch(spark, phTwo,
      "\"quick brown\" AND (fox OR NOT cat)").queryExecution.executedPlan.toString))
    save("plans/bm25_bench.txt", norm(PhraseSearch.servedBm25TopK(spark, phTwo,
      Seq("quick", "fox", "turtle"), k = 3).queryExecution.executedPlan.toString))

    // write plans, captured by a listener (the listener bus is asynchronous)
    val captured = scala.collection.mutable.ArrayBuffer.empty[String]
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        captured.synchronized { captured += s"== $f ==\n${qe.executedPlan}" }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    def writePlans(body: => Unit): String = {
      captured.synchronized(captured.clear())
      spark.listenerManager.register(listener)
      body
      Thread.sleep(3000)
      spark.listenerManager.unregister(listener)
      norm(captured.synchronized(captured.mkString("\n")))
    }
    save("plans/phrase_compact.txt", writePlans(PhraseSearch.compactIndex(spark, phTwo)))

    PhraseSearch.compactIndex(spark, ph); snap("phrase", ph, "compact")
    val phShard = s"$root/phrase_shard"
    PhraseSearch.writeIndex(toksOf(30L to 36L), phShard, nBuckets = 8); snap("phrase", phShard, "build")
    PhraseSearch.deleteFromIndex(Seq(31L).toDF("doc_id"), phShard); snap("phrase", phShard, "delete")
    val phMerged = s"$root/phrase_merged"
    PhraseSearch.mergeIndexes(spark, Seq(ph, phShard), phMerged); snap("phrase", phMerged, "merge")

    // ---------------- IVF lifecycle ----------------
    val iv = s"$root/ivf"
    IntKMeans.writeIndex(embsOf(1L to 20L), iv, nlist = 2); snap("ivf", iv, "build")
    IntKMeans.appendIndex(embsOf(21L to 30L), iv); snap("ivf", iv, "append")
    IntKMeans.deleteFromIndex(Seq(3L, 4L).toDF("vec_id"), iv); snap("ivf", iv, "delete")
    val ivAfterDelete = IntKMeans.currentSeq(spark, iv)
    IntKMeans.upsertIndex(embsOf(Seq(6L), shift = 2), iv); snap("ivf", iv, "upsert")
    IntKMeans.appendIndex(embsOf(31L to 33L), iv); snap("ivf", iv, "append")
    IntKMeans.deleteFromIndex(Seq(5L).toDF("vec_id"), iv); snap("ivf", iv, "delete")
    IntKMeans.rollbackIndex(spark, iv, IntKMeans.currentSeq(spark, iv) - 1); snap("ivf", iv, "rollback")
    IntKMeans.deleteFromIndex(Seq(7L).toDF("vec_id"), iv); snap("ivf", iv, "delete")
    IntKMeans.vacuumIndex(spark, iv, ivAfterDelete + 1); snap("ivf", iv, "vacuum")

    val ivTwo = s"$root/ivf_two"
    IntKMeans.writeIndex(embsOf(1L to 20L), ivTwo, nlist = 2)
    IntKMeans.appendIndex(embsOf(21L to 30L), ivTwo)
    IntKMeans.deleteFromIndex(Seq(3L, 4L).toDF("vec_id"), ivTwo)
    save("plans/knn.txt", norm(IntKMeans.servedTopK(spark, ivTwo,
      embsOf(Seq(1L, 25L)), k = 3, nprobe = 2).queryExecution.executedPlan.toString))
    save("plans/ivf_compact.txt", writePlans(IntKMeans.compactIndex(spark, ivTwo)))

    IntKMeans.compactIndex(spark, iv); snap("ivf", iv, "compact")
    val ivShard = s"$root/ivf_shard"
    IntKMeans.initShard(spark, iv, ivShard); snap("ivf", ivShard, "init_shard")
    IntKMeans.appendIndex(embsOf(40L to 45L), ivShard); snap("ivf", ivShard, "append")
    IntKMeans.deleteFromIndex(Seq(41L).toDF("vec_id"), ivShard); snap("ivf", ivShard, "delete")
    val ivMerged = s"$root/ivf_merged"
    IntKMeans.mergeIndexes(spark, Seq(iv, ivShard), ivMerged); snap("ivf", ivMerged, "merge")

    // ---------------- empty outputs (the cases this change fixes) ----------
    val report = new StringBuilder
    def outcome(what: String)(body: => Any): Unit = {
      val r = try { body; "ok" } catch {
        case e: Throwable =>
          val msg = Option(e.getMessage).getOrElse("").linesIterator.toSeq.headOption.getOrElse("")
          s"${e.getClass.getSimpleName}: ${msg.take(140)}"
      }
      report.append(s"$what -> ${norm(r)}\n")
    }

    val phEmpty = s"$root/phrase_empty_build"
    outcome("phrase writeIndex(empty)")(PhraseSearch.writeIndex(toksOf(Nil), phEmpty, nBuckets = 8))
    snap("empty", phEmpty, "phrase_build")
    outcome("  served read")(PhraseSearch.servedPhraseHits(spark, phEmpty, Seq("fox")).collect())
    outcome("  append")(PhraseSearch.appendIndex(toksOf(Seq(1L)), phEmpty))
    outcome("  served read after append")(report.append(s"    rows=${
      PhraseSearch.servedPhraseHits(spark, phEmpty, Seq("fox")).count()}\n"))

    val phDead = s"$root/phrase_dead_shard"
    PhraseSearch.writeIndex(toksOf(Seq(1L, 2L)), phDead, nBuckets = 8)
    PhraseSearch.deleteFromIndex(Seq(1L, 2L).toDF("doc_id"), phDead)
    val phDeadOut = s"$root/phrase_dead_merged"
    outcome("phrase mergeIndexes(all-deleted shard)")(PhraseSearch.mergeIndexes(spark, Seq(phDead), phDeadOut))
    if (Manifest.latest(spark, phDeadOut).nonEmpty) snap("empty", phDeadOut, "phrase_merge")
    outcome("  append")(PhraseSearch.appendIndex(toksOf(Seq(3L)), phDeadOut))
    outcome("  served read after append")(report.append(s"    rows=${
      PhraseSearch.servedPhraseHits(spark, phDeadOut, Seq("quick")).count()}\n"))

    val ivDead = s"$root/ivf_dead_shard"
    IntKMeans.initShard(spark, iv, ivDead)
    IntKMeans.appendIndex(embsOf(50L to 52L), ivDead)
    IntKMeans.deleteFromIndex(embsOf(50L to 52L).select("vec_id"), ivDead)
    val ivDeadOut = s"$root/ivf_dead_merged"
    outcome("ivf mergeIndexes(all-deleted shard)")(IntKMeans.mergeIndexes(spark, Seq(ivDead), ivDeadOut))
    snap("empty", ivDeadOut, "ivf_merge")
    outcome("  served read")(IntKMeans.servedTopK(spark, ivDeadOut, embsOf(Seq(1L)), k = 3, nprobe = 2).collect())
    outcome("  append")(IntKMeans.appendIndex(embsOf(60L to 62L), ivDeadOut))
    outcome("  served read after append")(report.append(s"    rows=${
      IntKMeans.servedTopK(spark, ivDeadOut, embsOf(Seq(1L)), k = 3, nprobe = 2).count()}\n"))
    outcome("  compact")(IntKMeans.compactIndex(spark, ivDeadOut))

    for ((plane, dir, ids) <- Seq(("phrase", s"$root/phrase_empty_delete", "doc_id"),
                                 ("ivf", s"$root/ivf_empty_delete", "vec_id"))) {
      if (plane == "phrase") PhraseSearch.writeIndex(toksOf(1L to 4L), dir, nBuckets = 8)
      else IntKMeans.writeIndex(embsOf(1L to 20L), dir, nlist = 2)
      val none = Seq.empty[Long].toDF(ids)
      outcome(s"$plane deleteFromIndex(empty)")(
        if (plane == "phrase") PhraseSearch.deleteFromIndex(none, dir)
        else IntKMeans.deleteFromIndex(none, dir))
      snap("empty", dir, s"${plane}_delete")
      if (plane == "phrase") PhraseSearch.compactIndex(spark, dir) else IntKMeans.compactIndex(spark, dir)
      snap("empty", dir, s"${plane}_compact")
      outcome(s"  as-of 1 read after compact")(
        if (plane == "phrase") PhraseSearch.servedPhraseHits(spark, dir, Seq("quick"), asOf = Some(1L)).collect()
        else IntKMeans.servedTopK(spark, dir, embsOf(Seq(1L)), k = 3, nprobe = 2, asOf = Some(1L)).collect())
    }
    save("empty_cases.txt", report.toString)
  }
}
Evidence.run()
System.exit(0)
