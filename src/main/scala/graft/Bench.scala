package graft
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Benchmark main: times every SparkEntry query against
  * SPARK_GRAFT_SF_DIR (default sf0.1) on a [[Sessions.build]] session
  * (local[SPARK_GRAFT_CPUS], default 32).
  *
  * Timing forces full materialization through the `noop` write sink so
  * final sorts/projections are measured (a bare `count()` lets Catalyst's
  * EliminateSorts + column pruning delete them). The single JSON result
  * line is both printed to stdout (last line) and written to a file
  * (SPARK_GRAFT_BENCH_OUT, default BENCH.json) so the artifact survives
  * sbt log truncation.
  */
object Bench {
  /** Queries run once, untimed, before the timed passes (those in the
    * run's selection only).
    *
    * t05 warms the explode/two-level-agg simhash pipeline (codegen +
    * JIT) that t05/t06 share — without it, whichever of the two runs
    * first absorbs ~3-4 s of one-time compilation into its measurement.
    * t03 likewise warms the jaccardPairs inverted-index + localCheckpoint
    * machinery shared by t14/t15/t37/t38/t42 (first cold run measured
    * ~2.9x the warm min on whichever of those shuffles first).
    * t04 additionally warms the minhash/band path t60 re-runs, and
    * st07 the two-phase prefix-sum machinery (a28/a30/t12/t48/t58) —
    * without them, whichever of those queries lands first in pass 1
    * absorbs a 10-30 s cold hit (r10 measured t60 at 37 s cold vs
    * 3.1 s warm; the min-estimator hides it, the samples don't).
    * The served/appended index queries run once untimed so their
    * one-time memoized index builds (Q.memoIndex) happen here — every
    * timed sample then measures SERVE latency alone; the build costs
    * are reported separately (index_build_sec in the JSON). */
  val warmups: Seq[String] = Seq(
    "j01_equi_join_agg", "t01_exact_dedup", "v01_cosine_topk", "r01_coalesce",
    "t05_simhash", "t03_shingle_jaccard", "t04_minhash_lsh",
    "st07_peak_concurrency",
    "ph06_served_phrase", "ph10_appended_phrase", "ph11_compacted_phrase",
    // deletion/upsert lifecycle: ph15 shares phdel with ph14, ph18
    // shares phups with ph17 — one warmup per memoized index tag
    "ph13_index_audit", "ph14_deleted_phrase", "ph16_reclaimed_phrase",
    "ph17_upserted_phrase", "ph19_synced_phrase", "ph21_merged_phrase",
    "v29_ivf_served", "v30_ivf_appended", "v31_ivf_compacted",
    "v32_ivf_deleted", "v33_ivf_reclaimed", "v34_ivf_upserted",
    "v35_ivf_merged",
    // rollback/refresh/vacuum generations: ph27 shares phrbk w/ ph26
    "ph26_rollback_phrase", "v39_ivf_rollback", "v40_ivf_refreshed",
    "ph29_vacuumed_phrase", "v43_ivf_vacuumed",
    "st16_stream_index_parity", "st17_stream_cdc_parity",
    "st18_stream_ivf_parity", "st19_stream_reencode_parity",
    // the parity fixtures' staged inputs are memoized per corpus
    // (stagedInput) — warm each distinct staging tag so no pass-1
    // sample absorbs a fixture build (st21/st24 share st14's tag)
    "st14_stream_coalesce_parity", "st15_stream_asof_parity",
    "st20_stream_density_parity", "st22_stream_late_drop",
    "st23_stream_stream_join",
    // cross-plane pairs (xpl/xpl2) and the PQ tier (ivfpq) build in
    // their own memo tags — unwarmed, their pass-1 sample absorbed
    // the build and polluted `spread` (r15 verdict nit #1: x07 22.7x)
    "x07_cross_plane_takedown", "x08_cross_plane_reencode",
    "v48_ivf_pq_served",
    // the GC-history scenario builds its own memo tag (phgc) — the
    // r15 bench-spread nit recurred on it in r16 (67.6x first-sample
    // spread from the 4.5 s scenario build landing in pass 1)
    "ph42_manifest_gc")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH.json")
    val spark = Sessions.build()
    // warmup (untimed): touch every table (which also resolves it once
    // for the session, so timed builds start no load job) and run
    // representative query shapes so the first timed query doesn't
    // absorb parquet-footer reads + JIT (~3-4 s skew on whichever query
    // happens to run first)
    graft.sources.Tables.all.foreach { t =>
      try graft.sources.Tables.load(spark, sfDir, t).count()
      catch { case e: Throwable =>
        System.err.println(s"[bench] warmup table $t failed: ${e.getMessage}") }
    }
    // SPARK_GRAFT_BENCH_ONLY: comma-separated name prefixes for targeted
    // local iteration (e.g. "t03,t04,v05"); unset or empty = the full corpus.
    val only = Sessions.envPrefixes("SPARK_GRAFT_BENCH_ONLY")
    val selected = Sessions.select(only)
    // targeted runs warm only what they measure — a 1-query iteration
    // loop must not pay 13 index builds it never serves from
    warmups.filter(selected.contains).foreach { n =>
      try SparkEntry.queries(n)(spark, sfDir).write.format("noop")
        .mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] warmup query $n failed: ${e.getMessage}") }
    }
    // Each query is timed at least twice and the MIN reported (a third
    // sample if the best is still >1 s): on a shared sandbox a single
    // shot is hostage to GC debt and co-tenant noise — the round-5 gate
    // run showed trivial projections at 10-25x their standalone time in
    // contiguous slow windows while the same HEAD measured clean
    // locally. The min is the right estimator for "what this plan
    // costs": noise is strictly additive.
    //
    // Samples are INTERLEAVED (full passes over the corpus, min taken
    // per query across passes) rather than back-to-back: a co-tenant
    // slow window lasting a couple of minutes swallows ALL consecutive
    // samples of one query (r7 measured t15 at 13.3 s min-of-3
    // back-to-back vs 3.2 s standalone on identical code), but with
    // pass interleaving the same query's samples land many minutes
    // apart, so the min sees at least one clean window. Total timed
    // work is unchanged — the samples are just reordered.
    // A crashed query must NOT contribute a wall-clock number: the
    // round-9 artifact timed 39 AnalysisException no-ops at 0.06 s
    // each, so the headline total read as an improvement while a
    // quarter of the corpus never ran. A failed sample is None; a
    // query with zero successful samples is reported under "failed"
    // (with its error) and excluded from "queries" and the total.
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // Contention telemetry (r11 verdict: the gate artifact and the
    // code's claim disagreed on t14 and nothing in the artifact could
    // say which was right). Before each pass, time a fixed
    // single-thread integer spin: its cost is constant on a quiet box,
    // so probe_i / min(probe) is a direct co-tenant load marker
    // recorded next to the samples it contextualizes.
    def loadProbe(): Double = {
      val t0 = System.nanoTime()
      var x = 0x9e3779b97f4a7c15L; var i = 0
      while (i < 200000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      if (x == 42L) System.err.println("unreachable") // defeat DCE
      (System.nanoTime() - t0) / 1e9
    }
    // Probes are taken at each pass start AND every 25 timed samples
    // within a pass (ADVICE r12: one probe per multi-minute pass can
    // miss the couple-of-minutes contention windows entirely);
    // `probesAt` records how many timed samples had completed when
    // each probe ran, so a contended window localizes to the samples
    // it actually affected. ~10 intra-pass probes x 0.4 s on a full
    // pass is ~2% of wall time.
    val probes = scala.collection.mutable.ArrayBuffer[Double]()
    val probesAt = scala.collection.mutable.ArrayBuffer[Int]()
    var nTimed = 0
    var lastProbeAt = -1000
    def probe(): Unit = {
      probesAt += nTimed; probes += loadProbe(); lastProbeAt = nTimed
    }
    val wallT0 = System.nanoTime()
    def once(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Option[Double] = {
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          errors(name) = Option(e.getMessage).getOrElse(e.toString)
            .takeWhile(_ != '\n').take(300)
          false
        }
      val dt = (System.nanoTime() - t0) / 1e9
      // intra-query caches are never shared across queries; without
      // this a 100+-query run accumulates cached blocks + broadcasts
      // until the old gen fills and late queries pay GC/eviction
      // (measured: the same query 2-4x slower late in a full run)
      spark.catalog.clearCache()
      // checkpoint blocks (the CC rounds' labels, e44's final label
      // pin and Lloyd assignment pin, most visibly) are NOT catalog
      // entries — clearCache never touches them. Sweep persistent
      // RDDs AFTER the noop write materialized the result, so no
      // query's pinned state bills the next: the r6 gate leaked
      // localCheckpoints until t15/t14/v10 ran 3-5x their standalone
      // cost late in the run (ordering contract: Checkpoints.sweep).
      graft.util.Checkpoints.sweep(spark)
      // bill this sample's garbage to this sample, not the next one
      System.gc()
      if (ok) Some(dt) else None
    }
    val ordered = selected.toSeq
    // Each pass runs in an INDEPENDENT deterministic shuffle of the
    // corpus: with a fixed order, a positional effect (whatever the
    // previous query left behind — GC debt, codegen-cache state, block
    // eviction) tracks the SAME query in every pass and the per-query
    // min can't see through it. The r6/r7 gate artifacts measured t14
    // at ~12 s in both rounds while three independent single-run
    // environments measured 2.9-4.3 s — and recorded only the min, so
    // the evidence was discarded. Randomizing order per pass breaks
    // any position->query correlation, and ALL per-pass samples are
    // recorded in the artifact ("samples") so a future anomaly
    // localizes itself (slow-everywhere vs slow-in-one-window).
    def shuffledPass(pass: Int) =
      new scala.util.Random(1000003L * pass + 7919L).shuffle(ordered)
    val samples = scala.collection.mutable.LinkedHashMap[String, Vector[Option[Double]]]()
    ordered.foreach { case (n, _) => samples(n) = Vector.empty }
    // one timed sample, with the every-25-samples interleaved probe
    def timedOne(n: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit = {
      if (nTimed - lastProbeAt >= 25) probe()
      samples(n) :+= once(n, fn)
      nTimed += 1
    }
    Seq(1, 2).foreach { pass =>
      probe()
      shuffledPass(pass).foreach { case (n, f) => timedOne(n, f) }
    }
    // third pass over every non-trivial query (best still > 0.25 s —
    // the spread floor; r19 verdict ask #2: two same-HEAD gate runs
    // disagreed by up to ±15% on totals, and a min-of-TWO estimator
    // leaves mid-range queries one contended window away from a >10%
    // per-query move; min-of-three corroborates the min). A query
    // with no successful sample yet gets one more chance too.
    probe()
    shuffledPass(3).filter { case (n, _) =>
        samples(n).flatten.forall(_ > 0.25) }
      .foreach { case (n, f) => timedOne(n, f) }
    // fourth pass over the 0.1-1.5 s band: the same-HEAD benchdiff
    // runs showed exactly these queries carrying the residual min
    // jitter (a 50-100 ms scheduler/GC wobble is 15-30% of a 0.4 s
    // query, and with only 3 samples both runs rarely hit the floor).
    // The band is cheap — one extra pass costs ~2 min of a 20+ min
    // run and roughly halves the >10% same-HEAD movers.
    probe()
    shuffledPass(6).filter { case (n, _) =>
        val good = samples(n).flatten
        good.nonEmpty && good.min > 0.1 && good.min < 1.5 }
      .foreach { case (n, f) => timedOne(n, f) }
    // Spread-gated resampling (r11 verdict ask #5): a query whose
    // samples disagree by >2x was measured under at least one
    // contended window, and its min may STILL be a contended number
    // if all its windows were bad (r11's t14: [13.3, 6.6, 7.4] — the
    // 2.8 s quiet-box cost never got a clean window). Re-run just
    // those queries, up to two more passes, until every non-trivial
    // query's min/max spread is < 2x or the pass budget is spent.
    def spreadOf(n: String): Double = {
      val good = samples(n).flatten
      if (good.size < 2 || good.min <= 0.0) 1.0 else good.max / good.min
    }
    Seq(4, 5).foreach { pass =>
      val noisy = shuffledPass(pass).filter { case (n, _) =>
        val good = samples(n).flatten
        // cap at 6 samples/query: once a min is corroborated twice the
        // extra pass adds decidability, not information. Gate floor =
        // the 0.25 s spread floor and ratio 1.5 (was 0.5/2.0 — r19's
        // same-HEAD reruns showed 0.3-1 s queries moving 10-25% under
        // the looser gate)
        good.nonEmpty && good.size < 6 && good.min > 0.25 && spreadOf(n) > 1.5
      }
      if (noisy.nonEmpty) {
        probe()
        noisy.foreach { case (n, f) => timedOne(n, f) }
      }
    }
    val results = ordered.flatMap { case (n, _) =>
      val good = samples(n).flatten
      if (good.nonEmpty) Some(n -> good.min) else None
    }
    val resultMap = results.toMap
    import Sessions.{jsonStr, num3}
    // ---- corpus-level bucketed-layout bench (r18 verdict ask #5) ----
    // StorageSpec proves bucketing kills the join/agg exchange on toy
    // tables; this measures it on the REAL corpus queries: the shuffle-
    // heavy j/r/e rows re-run off bucketed+sorted catalog tables via
    // Tables.load's `catalog:` scheme (zero query changes — the layout
    // is a deployment choice). One layout, keyed by the dominant access
    // pattern: lineitem/orders by orderkey (the j01/j04/j05 join+agg
    // spine; e30's frame windows ride the same key), events by user_id
    // (the interval family's partition key), customer by c_custkey
    // (j02's outer-join+rollup key — its orders side still shuffles,
    // the honest partial-co-location case). Reported per query: wall
    // seconds on both layouts (parquet number = the main corpus min)
    // and the count of HASH-partitioned exchanges in the physical plan
    // (the range exchange of a final orderBy is presentation, not
    // data-motion the layout can remove). Skipped in partial runs.
    // runs on full-corpus benches by default; SPARK_GRAFT_BENCH_LAYOUT=1
    // forces it in a partial run (iteration aid), =0 disables entirely
    def layoutSection(partialRun: Boolean): String = {
      val want = sys.env.get("SPARK_GRAFT_BENCH_LAYOUT")
      if (want.contains("0") || (partialRun && !want.contains("1"))) "null"
      else try {
      import graft.sources.Tables
      val pre = "graft_"
      def pq(n: String) = Tables.load(spark, sfDir, n)
      // the tables land in the session's fresh per-run temp warehouse
      // (Sessions.build), so no earlier run's table dirs can collide
      val lt0 = System.nanoTime()
      Tables.writeBucketed(pq("lineitem"), pre + "lineitem", "l_orderkey",
        32, Seq("l_orderkey", "l_linenumber"))
      Tables.writeBucketed(pq("orders"), pre + "orders", "o_orderkey",
        32, Seq("o_orderkey"))
      Tables.writeBucketed(pq("events"), pre + "events", "user_id",
        32, Seq("user_id"))
      Tables.writeBucketed(pq("customer"), pre + "customer", "c_custkey",
        32, Seq("c_custkey"))
      // r20: the t/v exclusion ("their shuffle keys are derived") was
      // TESTED by a plan-only t/v audit (since folded into this
      // section) and found wrong for 26 of 91 rows — a doc_id/vec_id bucketing removes real exchanges (t44
      // 13->0, t05 4->0: the per-doc aggregate/join legs AROUND the
      // derived-key stages ride the table key). Documents and
      // embeddings are bucketed too and the t/v families swept.
      Tables.writeBucketed(pq("documents"), pre + "documents", "doc_id",
        32, Seq("doc_id"))
      Tables.writeBucketed(pq("embeddings"), pre + "embeddings", "vec_id",
        32, Seq("vec_id"))
      Seq("region", "nation", "supplier", "part")
        .foreach(n => pq(n).createOrReplaceTempView(pre + n))
      val buildSec = (System.nanoTime() - lt0) / 1e9
      val cdir = s"catalog:$pre"
      // CORPUS-WIDE sweep (r19 verdict ask #1): every runnable batch
      // query over the bucketed tables — the j/r spine, the full
      // a/e/x/o/p analytical families, the st batch rows (st01-13,
      // the user_id session/window family) and the t/v text/vector
      // planes. Excluded: index-backed rows (their serves read the
      // persisted index layout, not the tables — re-keying the memo
      // on `catalog:` would measure a pointless rebuild; the shared
      // list is Q.layoutIdxBacked) and the streaming-parity rows
      // (file-source fixtures).
      val idxBacked = graft.queries.Q.layoutIdxBacked
      // r21: the in-process ph rows join the sweep (VERDICT r20 nit
      // #1); the family's served rows stay out via layoutInProcessPh
      val fams = Set("j", "r", "a", "e", "x", "o", "p", "t", "v", "ph")
      // a prefix-filtered run sweeps only its own selection (iteration
      // aid — the full-corpus gate run always sweeps everything)
      val lqs = selected.keys.toSeq.sorted.filter { n =>
        val fam = n.takeWhile(_.isLetter)
        !idxBacked(n) &&
          (fam != "ph" || graft.queries.Q.layoutInProcessPh(n)) &&
          (fams(fam) ||
            // toIntOption: a future digit-free st name must skip this
            // row, not NumberFormatException the whole layout section
            // (ADVICE r20)
            (fam == "st" && n.stripPrefix("st").takeWhile(_.isDigit)
              .toIntOption.exists(_ <= 13)))
      }
      def hashExchanges(dir: String, name: String): Seq[String] = {
        val df = SparkEntry.queries(name)(spark, dir)
        val prev = spark.conf.get("spark.sql.adaptive.enabled")
        // AQE off so exchanges are plain nodes (planning is lazy: the
        // toggle lands before the plan is forced; no execution needed)
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try df.queryExecution.executedPlan.collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
            if e.outputPartitioning.isInstanceOf[
              org.apache.spark.sql.catalyst.plans.physical.HashPartitioning]
            => e.outputPartitioning
              .asInstanceOf[
                org.apache.spark.sql.catalyst.plans.physical.HashPartitioning]
              .expressions.map(_.sql).mkString(", ")
        }
        finally spark.conf.set("spark.sql.adaptive.enabled", prev)
      }
      val rows = lqs.map { n =>
        val f = SparkEntry.queries(n)
        // t/v rows get ONE timed bucketed sample (the exchange counts
        // are the primary signal there; the wall number is a sanity
        // check) — the original seven families keep min-of-2
        val fam = n.takeWhile(_.isLetter)
        val nSamples = if (fam == "t" || fam == "v") 1 else 2
        val ss = Seq.fill(nSamples)(once(s"layout:$n", (sp, _) => f(sp, cdir))).flatten
        val exP = hashExchanges(sfDir, n)
        val exB = hashExchanges(cdir, n)
        val pqSec = resultMap.get(n).map(num3).getOrElse("null")
        val bkSec = if (ss.nonEmpty) num3(ss.min) else "null"
        // the keys of every exchange the bucketed layout did NOT
        // remove — each remaining shuffle names itself (a rollup on a
        // non-bucket dim, a derived key, a second join key)
        val keys = if (exB.isEmpty) "" else
          s""","bucketed_exchange_keys":${exB.map(jsonStr).mkString("[", ",", "]")}"""
        s""""$n":{"parquet_sec":$pqSec,"bucketed_sec":$bkSec,""" +
          s""""parquet_hash_exchanges":${exP.size},""" +
          s""""bucketed_hash_exchanges":${exB.size}$keys}"""
      }
      val nZeroB = rows.count(_.contains("\"bucketed_hash_exchanges\":0"))
      System.err.println(
        s"[bench] layout sweep: ${lqs.size} queries, $nZeroB zero-exchange on bucketed")
      s"""{"build_sec":${num3(buildSec)},"buckets":32,"n_queries":${lqs.size},""" +
        s""""n_zero_exchange_bucketed":$nZeroB,""" +
        s""""queries":${rows.mkString("{", ",", "}")}}"""
      } catch { case e: Throwable =>
        System.err.println(s"[bench] layout section failed: ${e.getMessage}")
        "null"
      }
    }
    val failed = ordered.collect {
      case (n, _) if samples(n).flatten.isEmpty =>
        n -> errors.getOrElse(n, "failed")
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + num3(v) }
      .mkString("{", ",", "}")
    val sampleJson = samples.map { case (k, vs) =>
      s"\"" + k + "\":" +
        vs.map(_.map(num3).getOrElse("null")).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val failedJson = failed.map { case (k, v) => jsonStr(k) + ":" + jsonStr(v) }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    // a prefix-filtered run must not clobber the full-corpus gate
    // artifact with a partial total: divert to a .partial file unless
    // an output path was given explicitly, and mark the JSON
    val partial = only.nonEmpty
    val effOut =
      if (partial && sys.env.get("SPARK_GRAFT_BENCH_OUT").isEmpty)
        outPath + ".partial" else outPath
    val partialField = if (partial) "\"partial\":true," else ""
    // run-level contention record: per-pass load-probe seconds (ratio
    // to their min = co-tenant load during that pass), total wall
    // time, and each query's min/max sample spread — the fields that
    // let a verdict distinguish "this plan regressed" from "this box
    // was busy" without cross-referencing wall clocks (r11 ask #5)
    val wallSec = (System.nanoTime() - wallT0) / 1e9
    val probeJson = probes.map(num3).mkString("[", ",", "]")
    val probeAtJson = probesAt.map(_.toString).mkString("[", ",", "]")
    // one-time memoized index builds (ph06-ph10 / v29 / v30 serve
    // from these) — the build/serve split the r12 verdict asked for:
    // timed samples are serve-only, the build cost lives here
    val buildJson = graft.queries.Q.indexBuildSecs(sfDir).toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + num3(v) }
      .mkString("{", ",", "}")
    // spread is a PLAN-variance signal, so it is only meaningful where
    // the plan dominates the sample: below ~0.25 s the max/min ratio
    // measures constant noise (scheduler jitter, one GC), and r15's
    // artifact carried 10-16x "spreads" on 20-ms queries that read as
    // contention. Sub-quarter-second queries are excluded (their
    // samples remain in "samples" for anyone who wants the raw data).
    val spreadJson = ordered.flatMap { case (n, _) =>
      val good = samples(n).flatten
      if (good.size >= 2 && good.min >= 0.25)
        Some("\"" + n + "\":" + num3(good.max / good.min)) else None
    }.mkString("{", ",", "}")
    val layoutJson = layoutSection(partial)
    val json =
      s"""{"metric":"total","value":${num3(total)},"unit":"sec",$partialField"queries":$qs,"failed":$failedJson,"samples":$sampleJson,"load_probe_sec":$probeJson,"load_probe_at":$probeAtJson,"index_build_sec":$buildJson,"layout":$layoutJson,"wall_sec":${num3(wallSec)},"spread":$spreadJson,"sf":"$sfDir"}"""
    Files.write(Paths.get(effOut), (json + "\n").getBytes(StandardCharsets.UTF_8))
    spark.stop()
    // The stdout copy carries the per-query map (r21 verdict ask #2:
    // PERF's per-query comparison read n_common=0 because the printed
    // line had only the total) on a long line printed FIRST, and the
    // short headline LAST. A bounded log-tail capture keeps the END of
    // the output (r22's 2000-char capture started mid-map when the long
    // line came last), so the final line — the one a parser takes — is
    // always the complete headline; the per-query map precedes it when
    // the window is wide enough, and the file always holds it.
    // Samples/spread/layout stay file-only (they would triple the line
    // again).
    val shortFailed = failed.map { case (k, _) =>
      "\"" + k.takeWhile(_ != '_') + "\"" }.mkString("[", ",", "]")
    val loadRatio = if (probes.nonEmpty && probes.min > 0) probes.max / probes.min else 1.0
    println(
      s"""{"metric":"total","value":${num3(total)},"unit":"sec","nqueries":${results.size},"queries":$qs,"failed":$shortFailed,"load":${num3(loadRatio)},"sf":"$sfDir"}""")
    println(
      s"""{"metric":"total","value":${num3(total)},"unit":"sec","nqueries":${results.size},"failed":$shortFailed,"load":${num3(loadRatio)},"sf":"$sfDir"}""")
  }
}
