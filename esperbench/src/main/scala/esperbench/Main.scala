package esperbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s.{DefaultFormats, Extraction}
import org.json4s.jackson.JsonMethods.{compact, render}

/** Harness JVM: one closed-loop client on a `local[nproc]` session.
  *
  * Plays one workload's seeded op sequence once, after a warm-up that
  * runs each distinct op once, and writes a JSON result file for
  * `run.py`, which checks outputs against DuckDB and prints the metrics.
  *
  * Usage: Main --workload <interactive|search_rw> --seed <n> --seconds <s>
  *   --trace <0|1> --data <tables dir> --work <fresh run dir>
  *   --out <result.json> --spans <spans.json> --deadline-ms <epoch ms>
  *
  * No timed op but the first starts after `--deadline-ms`: a run far
  * slower than usual ends its sequence early and still reports the ops
  * it played.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        data: String, work: String, out: String, spans: String,
                        deadlineMs: Long)

  /** Op-sequence length per workload, as blocks of ops. A block takes
    * about this many seconds on a 4-core x86 box, so `--seconds`
    * sets the length; the run is bounded by op count, not by time. */
  val BlockSeconds = Map("interactive" -> 7.0, "search_rw" -> 15.0)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("data"), need("work"), need("out"), need("spans"),
      need("deadline-ms").toLong)
    require(BlockSeconds.contains(a.workload), s"unknown workload ${a.workload}")
    require(a.seconds > 0, "--seconds must be positive")
    a
  }

  def blocks(a: Args): Int = math.max(1, math.round(a.seconds / BlockSeconds(a.workload)).toInt)

  def session(work: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("esperbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.codegen.cache.maxEntries", "8000")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.util.LogFilters.suppressExpectedCheckpointTruncationWarns()
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.CacheManager", org.apache.logging.log4j.Level.ERROR)
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val trace = new Trace(a.trace)
    val spark = trace.span("setup.session", always = true)(session(a.work))
    val counters = new Counters
    if (a.trace) spark.sparkContext.addSparkListener(counters)
    val run = new Run(spark, a, trace, counters)
    val body = a.workload match {
      case "interactive" => new Interactive(run).play()
      case "search_rw"   => new SearchRw(run).play()
    }
    write(a.out, run.result(body))
    if (a.trace) write(a.spans, trace.spans)
    spark.stop()
  }

  private def write(path: String, v: Any): Unit = Files.write(Paths.get(path),
    compact(render(Extraction.decompose(v)(DefaultFormats))).getBytes(StandardCharsets.UTF_8))
}

final case class OpRecord(id: Int, kind: String, seconds: Double, ok: Boolean,
                          hygieneSeconds: Double)

/** State shared by both workloads: the op loop, failures, checks and
  * the metrics derived from them. */
final class Run(val spark: SparkSession, val args: Main.Args, val trace: Trace,
                counters: Counters) {
  val sc = spark.sparkContext
  val cores = Runtime.getRuntime.availableProcessors
  val ops = mutable.ArrayBuffer[OpRecord]()
  val errors = mutable.ArrayBuffer[String]()
  var checks = 0
  val checkErrors = mutable.ArrayBuffer[String]()
  private var timedStartMs = 0L
  private var timedT0, timedT1 = 0L
  private var gcMs0, gcMs1 = 0L

  private def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  /** End of set-up: wait (at most 5 s) until the JIT compilers have
    * worked off the warm-up's backlog, so they do not compete with the
    * first timed ops for cores. */
  def settle(): Unit = trace.span("setup.settle", always = true) {
    val jit = ManagementFactory.getCompilationMXBean
    val t0 = System.nanoTime()
    var last = jit.getTotalCompilationTime
    var busy = true
    while (busy && System.nanoTime() - t0 < 5e9) {
      Thread.sleep(250)
      val now = jit.getTotalCompilationTime
      busy = now - last > 25
      last = now
    }
  }

  /** Timed ops of the sequence: the first always, the others while the
    * deadline has not passed. */
  def timed[T](seq: Seq[T]): Iterator[(T, Int)] = {
    planned = seq.size
    seq.iterator.zipWithIndex.takeWhile { case (_, id) =>
      id == 0 || System.currentTimeMillis() < args.deadlineMs
    }
  }
  private var planned = 0

  def check(ok: Boolean, what: => String): Unit = {
    checks += 1
    if (!ok) checkErrors += what
  }

  /** Between ops, outside op time: drop cached frames and checkpoint
    * pins so no op bills the next one. */
  def hygiene(): Double = {
    val t0 = System.nanoTime()
    trace.span("hygiene") {
      spark.catalog.clearCache()
      graft.util.Checkpoints.sweep(spark)
    }
    (System.nanoTime() - t0) / 1e9
  }

  /** A warm-up op: runs once during set-up; a failure counts. */
  def warm(kind: String)(body: => Unit): Unit = {
    try body
    catch { case e: Throwable => errors += s"warm-up $kind: ${msg(e)}" }
    hygiene()
  }

  /** One timed op: its span is the op latency; jobs it starts are
    * grouped under its id. */
  def op(id: Int, kind: String)(body: => Unit): Unit = {
    if (id == 0) {
      timedStartMs = System.currentTimeMillis()
      gcMs0 = gcMs()
      timedT0 = System.nanoTime()
    }
    val t0 = System.nanoTime()
    val ok =
      try { trace.span("op", id, always = true)(body); true }
      catch { case e: Throwable => errors += s"op $id $kind: ${msg(e)}"; false }
      finally trace.endOp(sc)
    val secs = (System.nanoTime() - t0) / 1e9
    ops += OpRecord(id, kind, secs, ok, hygiene())
    timedT1 = System.nanoTime()
    gcMs1 = gcMs()
  }

  /** Run `body` as layer `name` of op `id`, with its jobs tagged. */
  def layer[T](id: Int, name: String)(body: => T): T = trace.span(name, id) {
    trace.phase(sc, id, name)
    body
  }

  def msg(e: Throwable) = Option(e.getMessage).getOrElse(e.toString).takeWhile(_ != '\n').take(300)

  def result(body: Map[String, Any]): Map[String, Any] = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val n = ops.size
    val wall = (timedT1 - timedT0) / 1e9
    val secs = ops.map(_.seconds).toSeq
    val failed = ops.count(!_.ok)
    val e2e = Map(
      "setup_s" -> (timedStartMs - jvmStart) / 1000.0,
      "ops_per_s" -> n / wall,
      "op_p50_s" -> Plan.median(secs),
      "op_p90_s" -> Plan.tail(secs, 0.90))
    var layers = Map[String, Any]()
    if (trace.enabled) {
      org.apache.spark.ListenerDrain(sc)
      val acc = counters.byOp.filter { case (op, _) => op >= 0 }.values
      def perOp(f: counters.Acc => Long): Double = acc.map(f).sum.toDouble / n
      def spanPerOp(name: String) = trace.spans.filter(s => s.name == name && s.op >= 0)
        .map(_.seconds).sum / n
      layers = Map(
        "setup.session_s" -> trace.seconds("setup.session").sum,
        "sources.load_s" -> trace.seconds("sources.load").sum,
        "setup.warmup_s" -> trace.seconds("setup.warmup").sum,
        "queries.build_s" -> spanPerOp("queries.build"),
        "queries.build_jobs" -> perOp(_.buildJobs),
        "sql.plan_s" -> spanPerOp("sql.plan"),
        "exec.run_s" -> spanPerOp("exec.run"),
        "hygiene_s" -> ops.map(_.hygieneSeconds).sum / n,
        "spark.jobs" -> perOp(_.jobs),
        "spark.stages" -> perOp(_.stages),
        "spark.tasks" -> perOp(_.tasks),
        "spark.core_busy_frac" -> acc.map(_.runMs).sum / 1000.0 / (wall * cores),
        "spark.task_run_s" -> perOp(_.runMs) / 1000.0,
        "spark.task_cpu_s" -> perOp(_.cpuNs) / 1e9,
        "spark.shuffle_write_mb" -> perOp(_.shuffleWrite) / 1e6,
        "spark.shuffle_read_mb" -> perOp(_.shuffleRead) / 1e6,
        "spark.input_mb" -> perOp(_.input) / 1e6,
        "spark.spill_mb" -> perOp(_.spill) / 1e6,
        "spark.gc_s" -> (gcMs1 - gcMs0) / 1000.0 / n)
    }
    Map("workload" -> args.workload, "seed" -> args.seed, "trace" -> trace.enabled,
      "cores" -> cores, "n_ops" -> n, "planned_ops" -> planned, "failed_ops" -> failed,
      "op_p90_pct" -> Plan.tailRank(n, 0.90).toDouble / n,
      "errors" -> errors, "checks" -> checks, "check_errors" -> checkErrors,
      "end_to_end" -> e2e, "per_layer" -> layers) ++ body
  }
}

/** `interactive`: short relational, interval, catalog and analytics
  * queries at sf0.01, each op one query run to completion. */
final class Interactive(r: Run) {
  import r._
  private val queries = graft.SparkEntry.queries
  private val oracle = graft.SparkEntry.oracleSql

  def play(): Map[String, Any] = {
    Plan.InteractivePool.foreach(n => check(
      Plan.interactiveEligible(n, queries.keySet, graft.queries.Q.layoutIdxBacked),
      s"$n is not an interactive-pool row of SparkEntry.queries"))
    trace.span("sources.load", always = true) {
      graft.sources.Tables.all.foreach(t => graft.sources.Tables.load(spark, args.data, t).count())
    }
    // build, plan, run: what a timed op does
    def run(name: String, id: Int): Long = {
      val df = layer(id, "queries.build")(queries(name)(spark, args.data))
      layer(id, "sql.plan")(df.queryExecution.executedPlan)
      layer(id, "exec.run")(df.queryExecution.toRdd.count())
    }
    // warm-up: each query once, by the timed ops' own path
    val warmRows = mutable.Map[String, Long]()
    trace.span("setup.warmup", always = true) {
      Plan.InteractivePool.foreach(name => warm(name)(warmRows(name) = run(name, -1)))
    }
    settle()
    // row counts of the timed runs, checked against the warm-up's
    val rows = mutable.Map[String, Set[Long]]().withDefaultValue(Set.empty)
    timed(Plan.interactive(args.seed, Main.blocks(args))).foreach { case (name, id) =>
      op(id, name)(rows(name) += run(name, id))
    }
    // after the timed phase: each query's result, for the oracle check
    val written = Plan.InteractivePool.filter(warmRows.contains).filter { name =>
      try {
        queries(name)(spark, args.data).write.parquet(s"${args.work}/results/$name")
        true
      } catch { case e: Throwable => errors += s"result of $name: ${msg(e)}"; false }
      finally hygiene()
    }
    val family = ops.groupBy(_.kind.takeWhile(_.isLetter)).map { case (f, rs) =>
      s"queries.$f.p50_s" -> Plan.median(rs.map(_.seconds).toSeq)
    }
    Map("results" -> written.map(n => n -> Map("warm_rows" -> warmRows(n),
        "timed_rows" -> rows(n), "oracle" -> oracle.get(n))).toMap,
      "workload_layers" -> (if (trace.enabled) family else Map.empty))
  }
}

/** `search_rw`: served phrase, boolean, BM25 and kNN reads over
  * persisted indexes while appends, deletes and compactions land. */
final class SearchRw(r: Run) {
  import r._
  import spark.implicits._
  import Plan._
  import graft.text.PhraseSearch
  import graft.similarity.IntKMeans

  private val K = 10
  private val pdir = s"${args.work}/index/phrase"
  private val vdir = s"${args.work}/index/ivf"

  private def toks(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
  private def only(df: DataFrame, key: String, ids: Iterable[Long]): DataFrame =
    df.join(broadcast(ids.toSeq.toDF(key)), Seq(key), "left_semi")
  private def segments(): Int = Seq(pdir, vdir)
    .map(d => graft.index.Manifest.load(spark, d).segments.values.map(_.size).sum).sum

  def play(): Map[String, Any] = {
    graft.queries.Q.tune(spark)
    val (docsDf, embDf) = trace.span("sources.load", always = true) {
      val d = graft.sources.Tables.documents(spark, args.data).select("doc_id", "text")
      val e = graft.sources.Tables.embeddings(spark, args.data)
      d.count(); e.count()
      (d, e)
    }
    val docs = docsDf.collect().map(x => (x.getLong(0), x.getString(1))).toIndexedSeq
    val emb = embDf.select("vec_id", "embedding").collect()
      .map(x => x.getLong(0) -> x.getSeq[Float](1).toSeq).toMap
    val plan = Plan.searchRw(args.seed, docs, emb.keys.toIndexedSeq, Main.blocks(args))
    trace.span("index.build", always = true) {
      PhraseSearch.writeIndex(toks(only(docsDf, "doc_id", plan.indexedDocs)), pdir)
      IntKMeans.writeIndex(only(embDf, "vec_id", plan.indexedVecs), vdir, nlist = 16)
    }
    hygiene()
    def query(id: Long) = Seq((id, emb(id))).toDF("vec_id", "embedding")

    // one op: build the read's frame, plan it, collect it; or run a write
    def runStep(id: Int, s: Step): Option[Any] = s.op match {
      case read: Read =>
        val df = layer(id, "queries.build")(read match {
          case Phrase(ws) => PhraseSearch.servedPhraseHits(spark, pdir, ws)
          case Bool(q)    => PhraseSearch.servedSearch(spark, pdir, q)
          case Bm25(ts)   => PhraseSearch.servedBm25TopK(spark, pdir, ts, k = K)
          case Knn(v)     => IntKMeans.servedTopK(spark, vdir, query(v), k = K, nprobe = 4)
        })
        layer(id, "sql.plan")(df.queryExecution.executedPlan)
        Some(answer(read, layer(id, "exec.run")(df.collect())))
      case w: Write =>
        layer(id, "exec.run")(w match {
          case TextAppend(ids) => PhraseSearch.appendIndex(toks(only(docsDf, "doc_id", ids)), pdir)
          case VecAppend(ids)  => IntKMeans.appendIndex(only(embDf, "vec_id", ids), vdir)
          case TextDelete(ids) => PhraseSearch.deleteFromIndex(ids.toDF("doc_id"), pdir)
          case VecDelete(ids)  => IntKMeans.deleteFromIndex(ids.toDF("vec_id"), vdir)
          case Compact =>
            PhraseSearch.compactIndex(spark, pdir)
            IntKMeans.compactIndex(spark, vdir)
        })
        None
    }

    trace.span("setup.warmup", always = true) {
      plan.warmup.foreach(s => warm(s.op.kind)(runStep(-1, s)))
    }
    settle()
    val answers = mutable.Map[Int, Any]()
    val segs = mutable.ArrayBuffer[Int]()
    var liveSegs = if (trace.enabled) segments() else 0
    timed(plan.timed).foreach { case (s, id) =>
      op(id, s.op.kind)(runStep(id, s).foreach(answers(id) = _))
      if (trace.enabled) {
        if (s.op.isRead) segs += liveSegs else liveSegs = segments()
      }
    }

    // outside the timed phase: sampled reads against the reference
    // evaluators over the live documents, kNN results against liveness
    val recall = mutable.ArrayBuffer[Double]()
    plan.timed.zipWithIndex.foreach { case (s, id) =>
      answers.get(id).foreach { got =>
        for (live <- s.checkDocs) {
          val liveDocs = only(docsDf, "doc_id", live)
          val want = answer(s.op.asInstanceOf[Read], (s.op match {
            case Phrase(ws) => PhraseSearch.phraseHits(toks(liveDocs), ws)
            case Bool(q)    => PhraseSearch.search(q, toks(liveDocs), liveDocs.select("doc_id"))
            case Bm25(ts)   => PhraseSearch.bm25TopK(liveDocs, ts, K)
            case other      => sys.error(s"no reference for $other")
          }).collect())
          check(got == want, s"op $id ${s.op}: served answer differs from the reference")
          hygiene()
        }
        for (live <- s.checkVecs; Knn(v) <- Some(s.op)) {
          val ids = got.asInstanceOf[Seq[Long]]
          check(ids.size == K && ids.distinct.size == K && ids.forall(live),
            s"op $id knn($v): want $K distinct live vec_ids, got $ids")
          if (trace.enabled) {
            val exact = graft.similarity.Similarity
              .cosineTopK(only(embDf, "vec_id", live), query(v), K)
              .select("vec_id").as[Long].collect().toSet
            recall += ids.count(exact).toDouble / K
            hygiene()
          }
        }
      }
    }

    val kinds = ops.groupBy(_.kind).map { case (k, rs) => k -> rs.map(_.seconds).toSeq }
    val reads = ops.filter(o => ReadKinds.contains(o.kind)).map(_.seconds).toSeq
    val writes = ops.filter(o => WriteKinds.contains(o.kind)).map(_.seconds).toSeq
    val extra = Map(
      "read_p50_s" -> Some(reads).filter(_.nonEmpty).map(median),
      "read_p90_s" -> Some(reads).filter(_.nonEmpty).map(tail(_, 0.90)),
      "write_p50_s" -> Some(writes).filter(_.nonEmpty).map(median))
      .collect { case (k, Some(v)) => k -> v }
    val specific =
      if (!trace.enabled) Map.empty[String, Any]
      else {
        val loads = Seq.fill(21) {
          val t0 = System.nanoTime()
          graft.index.Manifest.load(spark, pdir); graft.index.Manifest.load(spark, vdir)
          (System.nanoTime() - t0) / 1e9
        }
        kinds.map { case (k, xs) => s"${k}_p50_s" -> median(xs) } ++ Map(
          "index.build_s" -> trace.seconds("index.build").sum,
          "index.manifest_load_s" -> median(loads),
          "index.live_segments" -> segs.sum.toDouble / segs.size,
          "similarity.knn_recall" -> recall.sum / recall.size)
      }
    Map("search" -> extra, "workload_layers" -> specific)
  }

  /** The comparable answer of a read: hit sets for phrase and boolean
    * reads, the ranked list for BM25 and kNN. */
  private def answer(read: Read, rows: Array[Row]): Any = {
    def long(x: Row, c: String) = x.getAs[Number](c).longValue
    read match {
      case Phrase(_) => rows.map(x => (long(x, "doc_id"), long(x, "pos"))).toSet
      case Bool(_)   => rows.map(long(_, "doc_id")).toSet
      case Bm25(_)   => rows.map(x => (long(x, "doc_id"), long(x, "bm25_micro"))).toSeq
      case Knn(_)    => rows.sortBy(long(_, "rank")).map(long(_, "vec_id")).toSeq
    }
  }
}
