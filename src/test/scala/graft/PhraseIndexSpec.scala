package graft

import org.apache.spark.sql.functions._
import graft.text.PhraseSearch

/** The persisted caption/posting index (build/serve split of the
  * phrase plane): the served paths must return exactly what the
  * in-process paths return, and the serve-side postings scan must
  * PRUNE — only the query vocabulary's bucket directories may be
  * read (the property that makes the layout viable at 100 TB). */
class PhraseIndexSpec extends SparkSpec {
  import spark.implicits._

  // tiny corpus with repeated phrases across docs, multi-word overlap
  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown cat sleeps near the quick brown fox"),
    (3L, "a slow green turtle walks past the dog"),
    (4L, "quick brown quick brown quick brown"),
    (5L, "the fox and the dog and the turtle")
  ).toDF("doc_id", "text")

  private lazy val toks = docs.select(col("doc_id"),
    posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))

  private def freshIndex(nBuckets: Int): String = {
    val dir = java.nio.file.Files.createTempDirectory("phrase_idx_").toString
    PhraseSearch.writeIndex(toks, dir, nBuckets)
    dir
  }

  test("served phrase hits match the in-process path exactly") {
    val dir = freshIndex(16)
    for (phrase <- Seq(Seq("quick", "brown"), Seq("the"), Seq("quick", "brown", "fox"))) {
      val direct = PhraseSearch.phraseHits(toks, phrase).collect().toSet
      val served = PhraseSearch.servedPhraseHits(spark, dir, phrase).collect().toSet
      assert(served === direct, s"phrase $phrase diverged")
    }
  }

  test("served proximity hits match the in-process path exactly") {
    val dir = freshIndex(16)
    val direct = PhraseSearch.proximityHits(toks, "fox", "dog", 6).collect().toSet
    val served = PhraseSearch.servedProximityHits(spark, dir, "fox", "dog", 6)
      .collect().toSet
    assert(served === direct)
  }

  test("serve-side postings scan prunes to the vocabulary's buckets") {
    val nBuckets = 16
    val dir = freshIndex(nBuckets)
    // static pruning: the bucket predicate is a plan-time partition
    // filter. AQE's query-stage wrappers hide subtrees from collect
    // (see PlanAuditSpec), so audit with AQE off.
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val served = PhraseSearch.servedPhraseHits(spark, dir, Seq("quick", "brown"))
      served.collect()
      val scans = served.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
      assert(scans.nonEmpty, "postings scan not found")
      scans.foreach { sc =>
        assert(sc.partitionFilters.nonEmpty,
          "postings scan lost its bucket partition filter — every bucket dir would be read")
        // at most one bucket dir per vocabulary word actually read
        val selected = sc.selectedPartitions.partitionCount
        assert(selected <= 2,
          s"scan read $selected bucket partitions for a 2-word vocabulary")
      }
      // the tok residual must push down to parquet (row-group stats
      // inside a bucket are the second pruning level)
      val pushed = scans.map(_.metadata.getOrElse("PushedFilters", "")).mkString
      assert(pushed.contains("tok"), s"tok filter not pushed down: $pushed")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("served boolean search matches the in-process path exactly") {
    val dir = freshIndex(16)
    val universe = docs.select("doc_id")
    for (q <- Seq("""fox AND dog""", """"quick brown" OR turtle""",
                  """the AND NOT (cat OR turtle)""",
                  // wildcard terms: starred words are prefix patterns
                  // in the query language, in phrases included
                  """qui* AND NOT tur*""", """"qui* bro*" OR zebra""",
                  """NOT sl*""")) {
      val direct = PhraseSearch.search(q, toks, universe).collect().toSet
      val served = PhraseSearch.servedSearch(spark, dir, q).collect().toSet
      assert(served === direct, s"boolean query [$q] diverged")
    }
  }

  test("served BM25 matches the in-process scorer exactly") {
    val dir = freshIndex(16)
    val direct = PhraseSearch.bm25TopK(docs, Seq("quick", "dog"), 5)
      .collect().toSeq
    val served = PhraseSearch.servedBm25TopK(spark, dir, Seq("quick", "dog"), 5)
      .collect().toSeq
    // ranked output: order matters, scores must be integer-identical
    assert(served === direct)
  }

  test("BM25 terms are a set: a repeated term scores once on every form") {
    val dir = freshIndex(16)
    val once = PhraseSearch.bm25TopK(docs, Seq("quick", "dog"), 5).collect().toSeq
    assert(once.nonEmpty)
    val twice = Seq("quick", "dog", "quick")
    assert(PhraseSearch.bm25TopK(docs, twice, 5).collect().toSeq === once,
      "in-process BM25 counted a repeated term twice")
    assert(PhraseSearch.servedBm25TopK(spark, dir, twice, 5).collect().toSeq === once,
      "served BM25 counted a repeated term twice")
    val batch = PhraseSearch.servedBatchBm25TopK(spark, dir, Seq(7L -> twice), 5)
      .orderBy("rank").collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Long]("bm25_micro"))).toSeq
    assert(batch === once.map(r => (r.getLong(0), r.getLong(1))),
      "batch BM25 counted a repeated term twice")
  }

  /** The file scans of `df`'s executed plan, AQE query stages
    * included; a reused stage counts once. */
  private def fileScans(df: org.apache.spark.sql.DataFrame,
                        component: String) = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case o => o +: (o.children ++ o.subqueries).flatMap(walk)
    }
    walk(df.queryExecution.executedPlan).collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
        if s.relation.location.rootPaths.exists(_.toString.contains(s"/$component/")) => s
    }
  }

  /** Jobs a warm read starts (build, plan and collect), after a first
    * read of the same shape has resolved the index segments. */
  private def warmJobs(read: => org.apache.spark.sql.DataFrame): Int = {
    read.collect()
    jobsStartedBy(read.collect())
  }

  test("a served boolean read is one postings pass; doclen is read only when NOT can match a wordless doc") {
    val dir = freshIndex(16)
    // the benchmark's shape: a phrase AND (word OR NOT word)
    val bench = "\"quick brown\" AND (fox OR NOT dog)"
    val read = PhraseSearch.servedSearch(spark, dir, bench)
    assert(read.collect().toSet ===
      PhraseRef.search(bench, toks, docs.select("doc_id")).collect().toSet)
    assert(fileScans(read, "postings").size === 1,
      "the boolean read scans the postings more than once")
    assert(fileScans(read, "doclen").isEmpty,
      "a tree that is false with every leaf false read the doclen universe")
    val jobs = warmJobs(PhraseSearch.servedSearch(spark, dir, bench))
    assert(jobs <= 3, s"a warm boolean read started $jobs jobs")
    val notLed = PhraseSearch.servedSearch(spark, dir, "NOT brown")
    assert(notLed.collect().toSet ===
      PhraseRef.search("NOT brown", toks, docs.select("doc_id")).collect().toSet)
    assert(fileScans(notLed, "doclen").size === 1,
      "a NOT-led read must take its universe from the live doclen")
  }

  test("a served BM25 read scans the postings once and runs at most 4 jobs") {
    val dir = freshIndex(16)
    val terms = Seq("quick", "dog", "turtle")
    val read = PhraseSearch.servedBm25TopK(spark, dir, terms, 5)
    assert(read.collect().toSeq ===
      PhraseSearch.bm25TopK(docs, terms, 5).collect().toSeq)
    assert(fileScans(read, "postings").size === 1,
      "the BM25 read scans the postings more than once (df re-read?)")
    val jobs = warmJobs(PhraseSearch.servedBm25TopK(spark, dir, terms, 5))
    assert(jobs <= 4, s"a warm BM25 read started $jobs jobs")
    val batch = PhraseSearch.servedBatchBm25TopK(spark, dir,
      Seq(1L -> Seq("quick", "dog"), 2L -> Seq("turtle")), 5)
    batch.collect()
    assert(fileScans(batch, "postings").size === 1,
      "the batch BM25 read scans the postings more than once (df re-read?)")
  }

  test("appendIndex: build+append serves identically to a full rebuild") {
    val dir = java.nio.file.Files.createTempDirectory("phrase_idx_").toString
    PhraseSearch.writeIndex(toks.filter(col("doc_id") % 2 === 0), dir, 16)
    val before = postingFiles(dir)
    PhraseSearch.appendIndex(toks.filter(col("doc_id") % 2 === 1), dir)
    val after = postingFiles(dir)
    // incremental: the base build's files are untouched — append adds
    // new files, it does not rewrite the index
    assert(before.subsetOf(after), "append rewrote or removed base files")
    assert(after.size > before.size, "append added no files")
    for (phrase <- Seq(Seq("quick", "brown"), Seq("the"), Seq("fox"))) {
      val direct = PhraseSearch.phraseHits(toks, phrase).collect().toSet
      val served = PhraseSearch.servedPhraseHits(spark, dir, phrase).collect().toSet
      assert(served === direct, s"appended index diverged on $phrase")
    }
    // BM25 needs the doclen sidecar maintained too
    val direct = PhraseSearch.bm25TopK(docs, Seq("quick", "dog"), 5).collect().toSeq
    val served = PhraseSearch.servedBm25TopK(spark, dir, Seq("quick", "dog"), 5)
      .collect().toSeq
    assert(served === direct, "appended doclen sidecar diverged")
  }

  test("served BM25's postings scans prune to the term buckets") {
    val dir = freshIndex(16)
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val served = PhraseSearch.servedBm25TopK(spark, dir, Seq("quick", "dog"), 5)
      served.collect()
      val scans = served.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
      val posting = scans.filter(_.relation.location.rootPaths.exists(
        _.toString.contains("postings")))
      assert(posting.nonEmpty, "postings scan not found")
      // tf and df both derive from servedPostings — EVERY postings scan
      // in the plan must carry the bucket partition filter and touch at
      // most one bucket dir per term
      posting.foreach { sc =>
        assert(sc.partitionFilters.nonEmpty,
          "a postings scan lost its bucket partition filter")
        assert(sc.selectedPartitions.partitionCount <= 2,
          s"scan read ${sc.selectedPartitions.partitionCount} bucket partitions for 2 terms")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("compactIndex restores one file set per bucket without changing results") {
    val dir = java.nio.file.Files.createTempDirectory("phrase_idx_").toString
    PhraseSearch.writeIndex(toks.filter(col("doc_id") % 2 === 0), dir, 16)
    PhraseSearch.appendIndex(toks.filter(col("doc_id") % 2 === 1), dir)
    val beforeHits = PhraseSearch.servedPhraseHits(spark, dir, Seq("quick", "brown"))
      .collect().toSet
    val beforeBm25 = PhraseSearch.servedBm25TopK(spark, dir, Seq("quick", "dog"), 5)
      .collect().toSeq
    val filesBefore = postingFiles(dir)
    PhraseSearch.compactIndex(spark, dir)
    val filesAfter = postingFiles(dir)
    // append left >1 file in at least one bucket; compaction collapses
    // each bucket back to a single sorted file set
    assert(filesAfter.size < filesBefore.size,
      s"compaction did not reduce files (${filesBefore.size} -> ${filesAfter.size})")
    assert(PhraseSearch.servedPhraseHits(spark, dir, Seq("quick", "brown"))
      .collect().toSet === beforeHits)
    assert(PhraseSearch.servedBm25TopK(spark, dir, Seq("quick", "dog"), 5)
      .collect().toSeq === beforeBm25)
  }

  private def postingFiles(dir: String): Set[String] = {
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir, "postings"))
    try walk.iterator().asScala
      .filter(p => p.toString.endsWith(".parquet"))
      .map(_.toString).toSet
    finally walk.close()
  }

  test("multi-segment serves keep per-branch bucket pruning (append before compact)") {
    // between an append and the next compaction the manifest lists >1
    // postings segment and the read is a Union of per-segment scans —
    // EVERY branch must keep its static bucket partition filter, or
    // appends would silently degrade serving to full-index reads
    val dir = java.nio.file.Files.createTempDirectory("phrase_idx_").toString
    PhraseSearch.writeIndex(toks.filter(col("doc_id") % 2 === 0), dir, 16)
    PhraseSearch.appendIndex(toks.filter(col("doc_id") % 2 === 1), dir)
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val served = PhraseSearch.servedPhraseHits(spark, dir, Seq("quick", "brown"))
      served.collect()
      val scans = served.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains("postings")) => s }
      assert(scans.size >= 2, "expected one scan per live postings segment")
      scans.foreach { sc =>
        assert(sc.partitionFilters.nonEmpty,
          "a segment's scan lost its bucket partition filter")
        assert(sc.selectedPartitions.partitionCount <= 2,
          s"a segment scan read ${sc.selectedPartitions.partitionCount} bucket dirs for 2 words")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("prefix serve stays exact through the whole maintenance lifecycle") {
    // the lexicon is maintained by every op (appends add vocabulary,
    // rewrites rebuild it from kept rows, upserts may leave stale
    // SUPERSET entries until a rewrite) — the serve must stay exact
    // through all of it, as-of reads included
    def expect(t: org.apache.spark.sql.DataFrame, prefix: String) =
      t.filter(col("tok").startsWith(prefix))
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
        .collect().toSet
    val dir = java.nio.file.Files.createTempDirectory("phrase_pfx_").toString
    PhraseSearch.writeIndex(toks.filter(col("doc_id") % 2 === 0), dir, 16)
    PhraseSearch.appendIndex(toks.filter(col("doc_id") % 2 === 1), dir)
    assert(PhraseSearch.servedPrefixDocs(spark, dir, "qu").collect().toSet ===
      expect(toks, "qu"), "prefix after append diverged")
    val s2 = PhraseSearch.currentSeq(spark, dir)
    // upsert doc 2: its old vocabulary (quick/brown/...) lingers in
    // the lexicon as a harmless superset; the postings decide
    PhraseSearch.upsertIndex(toksV2.filter(col("doc_id") === 2L), dir)
    val afterUpsert = toks.filter(col("doc_id") =!= 2L)
      .unionByName(toksV2.filter(col("doc_id") === 2L))
    assert(PhraseSearch.servedPrefixDocs(spark, dir, "qu").collect().toSet ===
      expect(afterUpsert, "qu"), "prefix after upsert diverged")
    assert(PhraseSearch.servedPrefixDocs(spark, dir, "sle").collect().toSet ===
      expect(afterUpsert, "sle"), "prefix over upsert-added vocab diverged")
    // as-of: the CURRENT lexicon expands the vocabulary, the as-of
    // postings cut decides — snapshot s2 must not see doc 2's rewrite
    assert(PhraseSearch.servedPrefixDocs(spark, dir, "qu", asOf = Some(s2))
      .collect().toSet === expect(toks, "qu"), "as-of prefix diverged")
    PhraseSearch.deleteFromIndex(Seq(4L).toDF("doc_id"), dir)
    val afterDelete = afterUpsert.filter(col("doc_id") =!= 4L)
    assert(PhraseSearch.servedPrefixDocs(spark, dir, "qu").collect().toSet ===
      expect(afterDelete, "qu"), "prefix after delete diverged")
    // compaction converges the lexicon to the live vocabulary
    PhraseSearch.compactIndex(spark, dir)
    assert(PhraseSearch.servedPrefixDocs(spark, dir, "qu").collect().toSet ===
      expect(afterDelete, "qu"), "prefix after compaction diverged")
    val lex = spark.read.parquet(
      s"$dir/${graft.index.Manifest.load(spark, dir).segs("lexicon").head}")
    assert(lex.filter(col("tok") === "sleeps").count() === 0L,
      "compaction must drop vocabulary no live row holds from the lexicon")
    assert(lex.filter(col("tok") === "sleepy").count() === 1L,
      "the upserted doc's vocabulary must survive compaction")
  }

  test("wildcard phrase serves exactly (exact/star slots, multi-star, maintenance)") {
    // the in-process spec: slot i matches token at pos+i, starred
    // slots by prefix — computed straight off the token table
    def expect(t: org.apache.spark.sql.DataFrame,
               pattern: Seq[String]): Set[org.apache.spark.sql.Row] = {
      def slot(i: Int) = {
        val w = pattern(i)
        val f = if (w.endsWith("*")) col("tok").startsWith(w.dropRight(1))
                else col("tok") === w
        t.filter(f).select(col("doc_id"), (col("pos") - i).as("pos"))
      }
      (1 until pattern.length).foldLeft(slot(0)) { (acc, i) =>
        acc.join(slot(i), Seq("doc_id", "pos"), "left_semi")
      }.collect().toSet
    }
    val dir = freshIndex(16)
    for (pat <- Seq(Seq("qui*"), Seq("the", "qui*"), Seq("qu*", "br*"),
                    Seq("quick", "brown", "f*"), Seq("t*", "quick")))
      assert(PhraseSearch.servedWildcardPhraseHits(spark, dir, pat)
        .collect().toSet === expect(toks, pat), s"pattern $pat diverged")
    // absent prefix matches nothing; bare star refuses
    assert(PhraseSearch.servedWildcardPhraseHits(spark, dir, Seq("zeb*", "the"))
      .isEmpty)
    intercept[IllegalArgumentException] {
      PhraseSearch.servedWildcardPhraseHits(spark, dir, Seq("the", "*"))
    }
    // maintenance: upsert changes the match set; as-of restores it
    val s1 = PhraseSearch.currentSeq(spark, dir)
    PhraseSearch.upsertIndex(toksV2.filter(col("doc_id") === 2L), dir)
    val afterUpsert = toks.filter(col("doc_id") =!= 2L)
      .unionByName(toksV2.filter(col("doc_id") === 2L))
    assert(PhraseSearch.servedWildcardPhraseHits(spark, dir, Seq("the", "qui*"))
      .collect().toSet === expect(afterUpsert, Seq("the", "qui*")),
      "wildcard phrase after upsert diverged")
    assert(PhraseSearch.servedWildcardPhraseHits(spark, dir,
        Seq("the", "qui*"), asOf = Some(s1)).collect().toSet ===
      expect(toks, Seq("the", "qui*")), "as-of wildcard phrase diverged")
  }

  test("appendIndex to buckets absent from the base build still serves (new partition dirs)") {
    // base = docs 1-2 only; the appended docs carry vocabulary whose
    // hash buckets may not exist yet as directories — partition
    // discovery must pick the new dirs up and pruning must still work
    val dir = java.nio.file.Files.createTempDirectory("phrase_idx_").toString
    PhraseSearch.writeIndex(toks.filter(col("doc_id") <= 2), dir, 64)
    PhraseSearch.appendIndex(toks.filter(col("doc_id") > 2), dir)
    for (phrase <- Seq(Seq("turtle"), Seq("the", "fox"), Seq("quick", "brown"))) {
      val direct = PhraseSearch.phraseHits(toks, phrase).collect().toSet
      val served = PhraseSearch.servedPhraseHits(spark, dir, phrase).collect().toSet
      assert(served === direct, s"new-bucket append diverged on $phrase")
    }
  }

  test("appendIndex with an empty batch is a no-op") {
    val dir = freshIndex(16)
    val before = PhraseSearch.servedBm25TopK(spark, dir, Seq("quick", "dog"), 5)
      .collect().toSeq
    PhraseSearch.appendIndex(toks.filter(col("doc_id") > 9999), dir)
    val after = PhraseSearch.servedBm25TopK(spark, dir, Seq("quick", "dog"), 5)
      .collect().toSeq
    assert(after === before)
  }

  test("compactIndex is idempotent (second compaction changes nothing)") {
    val dir = java.nio.file.Files.createTempDirectory("phrase_idx_").toString
    PhraseSearch.writeIndex(toks.filter(col("doc_id") % 2 === 0), dir, 16)
    PhraseSearch.appendIndex(toks.filter(col("doc_id") % 2 === 1), dir)
    PhraseSearch.compactIndex(spark, dir)
    val files1 = postingFiles(dir).size
    val hits1 = PhraseSearch.servedPhraseHits(spark, dir, Seq("quick", "brown"))
      .collect().toSet
    PhraseSearch.compactIndex(spark, dir)
    assert(postingFiles(dir).size === files1, "re-compaction changed the file count")
    assert(PhraseSearch.servedPhraseHits(spark, dir, Seq("quick", "brown"))
      .collect().toSet === hits1)
  }

  test("randomized grammar serve parity (100 seeded ASTs)") {
    // the r17 failure mode was a grammar construct landing in one
    // evaluator but not the others; random ASTs over the corpus
    // vocabulary (plus an absent word) sweep every construct
    // COMBINATION — juxtaposed phrases inside NEAR, counts on
    // [groups], NOT over proximity — not just the hand-picked cases
    // above. Both sides parse the same rendered string, so parser,
    // the join-tree reference evaluator (PhraseRef) and the served
    // one-pass evaluator are pinned to one another.
    val dir = freshIndex(16)
    val universe = docs.select("doc_id")
    PhraseGen.samples(PhraseGen.tree(parityPool, 3), 100).foreach { q =>
      val str = PhraseGen.render(q)
      val direct = PhraseRef.search(str, toks, universe).collect().toSet
      val served = PhraseSearch.servedSearch(spark, dir, str).collect().toSet
      assert(served === direct, s"serve parity diverged for [$str]")
    }
  }

  private val parityPool = Seq("quick", "brown", "fox", "dog", "turtle",
    "the", "slow", "zebra")

  test("randomized grammar serve parity over a multi-segment index with tombstones") {
    // the served universe is the LIVE doclen and only NOT-led trees
    // read it, so run the same 100 ASTs plus NOT-led and OR-NOT trees
    // over a build + append + delete index (two segments per
    // component, tombstones), at HEAD and at the pre-delete snapshot
    val dir = java.nio.file.Files.createTempDirectory("phrase_par_").toString
    PhraseSearch.writeIndex(toks.filter(col("doc_id") <= 2), dir, 16)
    PhraseSearch.appendIndex(toks.filter(col("doc_id") > 2), dir)
    val beforeDelete = PhraseSearch.currentSeq(spark, dir)
    PhraseSearch.deleteFromIndex(Seq(2L, 5L).toDF("doc_id"), dir)
    val live = toks.filter(!col("doc_id").isin(2L, 5L))
    val queries = PhraseGen.samples(PhraseGen.tree(parityPool, 3), 100)
      .map(PhraseGen.render) ++ Seq("NOT brown", "NOT zebra",
        "NOT (quick AND dog)", "fox OR NOT dog", "\"quick brown\" OR NOT turtle",
        "NOT the AND NOT slow", "(NOT fox) OR (turtle AND NOT dog)")
    for ((asOf, want) <- Seq((None, live), (Some(beforeDelete), toks))) {
      val universe = want.select("doc_id").distinct()
      queries.foreach { str =>
        val direct = PhraseRef.search(str, want, universe).collect().toSet
        val served = PhraseSearch.servedSearch(spark, dir, str, asOf = asOf)
          .collect().toSet
        assert(served === direct, s"serve parity diverged for [$str] at $asOf")
      }
    }
  }

  test("served boolean search handles queries over absent vocabulary") {
    val dir = freshIndex(16)
    val universe = docs.select("doc_id")
    // 'zebra' never occurs: NOT zebra = every doc; zebra AND fox = none
    for (q <- Seq("NOT zebra", "zebra AND fox", "fox OR zebra")) {
      val direct = PhraseSearch.search(q, toks, universe).collect().toSet
      val served = PhraseSearch.servedSearch(spark, dir, q).collect().toSet
      assert(served === direct, s"absent-vocab query [$q] diverged")
    }
  }

  test("deleteFromIndex hides docs from every served surface immediately") {
    val dir = freshIndex(16)
    PhraseSearch.deleteFromIndex(Seq(2L, 4L).toDF("doc_id"), dir)
    val liveToks = toks.filter(!col("doc_id").isin(2L, 4L))
    val liveDocs = docs.filter(!col("doc_id").isin(2L, 4L))
    // phrase
    assert(PhraseSearch.servedPhraseHits(spark, dir, Seq("quick", "brown"))
      .collect().toSet ===
      PhraseSearch.phraseHits(liveToks, Seq("quick", "brown")).collect().toSet)
    // boolean — including the NOT universe (a deleted doc must not be
    // resurrected by "NOT <word it lacked>")
    for (q <- Seq("fox AND dog", "NOT turtle", "quick OR turtle")) {
      val direct = PhraseSearch.search(q, liveToks, liveDocs.select("doc_id"))
        .collect().toSet
      assert(PhraseSearch.servedSearch(spark, dir, q).collect().toSet === direct,
        s"deleted-index boolean [$q] diverged")
    }
    // BM25 — the GLOBAL stats (N, L, df) must shift to the live corpus
    assert(PhraseSearch.servedBm25TopK(spark, dir, Seq("quick", "dog"), 5)
      .collect().toSeq ===
      PhraseSearch.bm25TopK(liveDocs, Seq("quick", "dog"), 5).collect().toSeq,
      "deleted-index BM25 stats did not shift to the live corpus")
  }

  test("compaction physically reclaims tombstoned rows and clears the sidecar") {
    val dir = freshIndex(16)
    PhraseSearch.deleteFromIndex(Seq(2L, 4L).toDF("doc_id"), dir)
    val logical = PhraseSearch.servedPhraseHits(spark, dir, Seq("quick", "brown"))
      .collect().toSet
    PhraseSearch.compactIndex(spark, dir)
    // sidecar cleared
    assert(PhraseSearch.pendingDeletes(spark, dir).isEmpty,
      "compaction left tombstone segments in the manifest")
    // rows physically gone from both sidecars (raw reads, no filter)
    assert(PhraseSearch.rawPostings(spark, dir)
      .filter(col("doc_id").isin(2L, 4L)).count() === 0L,
      "tombstoned postings survived compaction")
    assert(PhraseSearch.rawDoclen(spark, dir)
      .filter(col("doc_id").isin(2L, 4L)).count() === 0L,
      "tombstoned doclen rows survived compaction")
    // reclaimed layout serves the same results as the logical view
    assert(PhraseSearch.servedPhraseHits(spark, dir, Seq("quick", "brown"))
      .collect().toSet === logical)
  }

  test("deletes are idempotent and unindexed ids are no-ops") {
    val dir = freshIndex(16)
    PhraseSearch.deleteFromIndex(Seq(2L).toDF("doc_id"), dir)
    val once = PhraseSearch.servedBm25TopK(spark, dir, Seq("quick", "dog"), 5)
      .collect().toSeq
    // re-delete the same id, and delete an id the index never held
    PhraseSearch.deleteFromIndex(Seq(2L, 999L).toDF("doc_id"), dir)
    assert(PhraseSearch.servedBm25TopK(spark, dir, Seq("quick", "dog"), 5)
      .collect().toSeq === once)
    // and compaction after the mixed batch still converges
    PhraseSearch.compactIndex(spark, dir)
    assert(PhraseSearch.servedBm25TopK(spark, dir, Seq("quick", "dog"), 5)
      .collect().toSeq === once)
  }

  test("deleteFromIndex after compaction still deletes (seq survives the rewrite)") {
    // compaction rewrites postings/doclen; if it dropped the seq
    // column, a later delete's `seq < upto` anti-join would see null
    // seq on compacted rows and the deleted docs would be served
    val dir = java.nio.file.Files.createTempDirectory("phrase_idx_").toString
    PhraseSearch.writeIndex(toks.filter(col("doc_id") % 2 === 0), dir, 16)
    PhraseSearch.appendIndex(toks.filter(col("doc_id") % 2 === 1), dir)
    PhraseSearch.compactIndex(spark, dir)
    PhraseSearch.deleteFromIndex(Seq(2L, 4L).toDF("doc_id"), dir)
    val liveToks = toks.filter(!col("doc_id").isin(2L, 4L))
    val liveDocs = docs.filter(!col("doc_id").isin(2L, 4L))
    assert(PhraseSearch.servedPhraseHits(spark, dir, Seq("quick", "brown"))
      .collect().toSet ===
      PhraseSearch.phraseHits(liveToks, Seq("quick", "brown")).collect().toSet,
      "delete after compaction did not hide compacted rows")
    assert(PhraseSearch.servedBm25TopK(spark, dir, Seq("quick", "dog"), 5)
      .collect().toSeq ===
      PhraseSearch.bm25TopK(liveDocs, Seq("quick", "dog"), 5).collect().toSeq)
    // and the reclaim converges too
    PhraseSearch.compactIndex(spark, dir)
    assert(PhraseSearch.rawPostings(spark, dir)
      .filter(col("doc_id").isin(2L, 4L)).count() === 0L)
  }

  // the corrected corpus an upsert must converge to: doc 2's text
  // CHANGED (shorter, new vocabulary) and doc 6 is brand-new
  private lazy val docsV2 = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the sleepy cat purrs"),
    (3L, "a slow green turtle walks past the dog"),
    (4L, "quick brown quick brown quick brown"),
    (5L, "the fox and the dog and the turtle"),
    (6L, "a brand new document about the quick turtle")
  ).toDF("doc_id", "text")

  private lazy val toksV2 = docsV2.select(col("doc_id"),
    posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))

  test("upsertIndex converges a stale index to the corrected corpus") {
    val dir = freshIndex(16) // built on the STALE corpus (docs v1)
    PhraseSearch.upsertIndex(toksV2.filter(col("doc_id").isin(2L, 6L)), dir)
    // phrase positions: replacement rows (not the stale ones) serve
    for (phrase <- Seq(Seq("quick", "brown"), Seq("sleepy", "cat"),
                       Seq("quick", "turtle"), Seq("the")))
      assert(PhraseSearch.servedPhraseHits(spark, dir, phrase).collect().toSet ===
        PhraseSearch.phraseHits(toksV2, phrase).collect().toSet,
        s"upserted index diverged from corrected corpus on $phrase")
    // BM25: global N/L/df must reflect the corrected corpus exactly
    assert(PhraseSearch.servedBm25TopK(spark, dir, Seq("quick", "cat"), 6)
      .collect().toSeq ===
      PhraseSearch.bm25TopK(docsV2, Seq("quick", "cat"), 6).collect().toSeq,
      "upserted BM25 stats diverged from the corrected corpus")
    // boolean NOT universe: the upserted doc 2 must appear under its
    // NEW vocabulary only
    assert(PhraseSearch.servedSearch(spark, dir, "NOT brown").collect().toSet ===
      PhraseSearch.search("NOT brown", toksV2, docsV2.select("doc_id"))
        .collect().toSet)
  }

  test("upsert then compact physically drops the stale version") {
    val dir = freshIndex(16)
    PhraseSearch.upsertIndex(toksV2.filter(col("doc_id").isin(2L, 6L)), dir)
    val logical = PhraseSearch.servedBm25TopK(spark, dir, Seq("quick", "cat"), 6)
      .collect().toSeq
    PhraseSearch.compactIndex(spark, dir)
    // the stale doc-2 rows (old vocabulary) are physically gone…
    assert(PhraseSearch.rawPostings(spark, dir)
      .filter(col("doc_id") === 2L && col("tok") === "brown").count() === 0L,
      "stale doc-2 postings survived compaction")
    // …while the replacement rows survived their own doc's tombstone
    assert(PhraseSearch.rawPostings(spark, dir)
      .filter(col("doc_id") === 2L && col("tok") === "cat").count() > 0L,
      "replacement doc-2 postings were reclaimed along with the stale ones")
    assert(PhraseSearch.rawDoclen(spark, dir)
      .filter(col("doc_id") === 2L).count() === 1L,
      "doclen must hold exactly the replacement row for an upserted doc")
    assert(PhraseSearch.servedBm25TopK(spark, dir, Seq("quick", "cat"), 6)
      .collect().toSeq === logical)
  }

  test("diff-driven sync (delete removed + upsert changed/added) converges to the new corpus") {
    // today's corpus: doc 2 changed, doc 6 added, doc 4 REMOVED
    val docsV3 = docsV2.filter(col("doc_id") =!= 4L)
    val toksV3 = docsV3.select(col("doc_id"),
      posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
    val dir = freshIndex(16) // yesterday's index (docs v1)
    // the classify-and-apply loop ph19 runs: one full-outer diff, then
    // exactly the maintenance ops it prescribes
    val diff = docsV3.join(
      docs.select(col("doc_id"), col("text").as("old_text")),
      Seq("doc_id"), "full_outer")
    PhraseSearch.deleteFromIndex(
      diff.filter(col("text").isNull).select("doc_id"), dir)
    PhraseSearch.upsertIndex(
      diff.filter(col("text").isNotNull &&
          (col("old_text").isNull || col("text") =!= col("old_text")))
        .select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "tok"))), dir)
    for (phrase <- Seq(Seq("quick", "brown"), Seq("sleepy", "cat"), Seq("the")))
      assert(PhraseSearch.servedPhraseHits(spark, dir, phrase).collect().toSet ===
        PhraseSearch.phraseHits(toksV3, phrase).collect().toSet,
        s"synced index diverged on $phrase")
    assert(PhraseSearch.servedBm25TopK(spark, dir, Seq("quick", "cat"), 6)
      .collect().toSeq ===
      PhraseSearch.bm25TopK(docsV3, Seq("quick", "cat"), 6).collect().toSeq,
      "synced BM25 stats diverged")
    // compaction converges the physical layout: the removed doc and
    // the stale version of the changed doc are both reclaimed
    PhraseSearch.compactIndex(spark, dir)
    assert(PhraseSearch.rawPostings(spark, dir)
      .filter(col("doc_id") === 4L).count() === 0L, "removed doc survived")
    assert(PhraseSearch.rawPostings(spark, dir)
      .filter(col("doc_id") === 2L && col("tok") === "brown").count() === 0L,
      "stale version of the changed doc survived")
    assert(PhraseSearch.servedBm25TopK(spark, dir, Seq("quick", "cat"), 6)
      .collect().toSeq ===
      PhraseSearch.bm25TopK(docsV3, Seq("quick", "cat"), 6).collect().toSeq)
  }

  test("upserting a never-indexed doc degenerates to a plain append") {
    val dir = freshIndex(16)
    PhraseSearch.upsertIndex(toksV2.filter(col("doc_id") === 6L), dir)
    val expected = toks.unionByName(toksV2.filter(col("doc_id") === 6L))
    assert(PhraseSearch.servedPhraseHits(spark, dir, Seq("quick", "turtle"))
      .collect().toSet ===
      PhraseSearch.phraseHits(expected, Seq("quick", "turtle")).collect().toSet)
  }

  test("as-of snapshot reads reproduce every historical index state") {
    // event log: build (0) -> upsert doc 2 (tombstone=1, append=2)
    // -> delete doc 4 (3); snapshots are the states between events
    val dir = freshIndex(16)
    val s1 = PhraseSearch.currentSeq(spark, dir)
    PhraseSearch.upsertIndex(toksV2.filter(col("doc_id") === 2L), dir)
    val s2 = PhraseSearch.currentSeq(spark, dir)
    PhraseSearch.deleteFromIndex(Seq(4L).toDF("doc_id"), dir)
    val s3 = PhraseSearch.currentSeq(spark, dir)
    assert(s1 < s2 && s2 < s3, "maintenance events must advance the counter")
    val afterUpsert = toks.filter(col("doc_id") =!= 2L)
      .unionByName(toksV2.filter(col("doc_id") === 2L))
    val afterDelete = afterUpsert.filter(col("doc_id") =!= 4L)
    for ((asOf, want, label) <- Seq(
        (Some(s1), toks, "original build"),
        (Some(s2), afterUpsert, "post-upsert"),
        (Some(s3), afterDelete, "post-delete"),
        (None, afterDelete, "latest"))) {
      assert(PhraseSearch.servedPhraseHits(spark, dir, Seq("quick", "brown"),
          asOf = asOf).collect().toSet ===
        PhraseSearch.phraseHits(want, Seq("quick", "brown")).collect().toSet,
        s"snapshot '$label' phrase hits diverged")
      val docsAt = want.select("doc_id").distinct()
      assert(PhraseSearch.servedSearch(spark, dir, "NOT brown", asOf = asOf)
          .collect().toSet ===
        PhraseSearch.search("NOT brown", want, docsAt).collect().toSet,
        s"snapshot '$label' NOT-universe diverged")
    }
    // BM25 stats at snapshot 1 are the ORIGINAL corpus's N/L/df
    assert(PhraseSearch.servedBm25TopK(spark, dir, Seq("quick", "dog"), 5,
        asOf = Some(s1)).collect().toSeq ===
      PhraseSearch.bm25TopK(docs, Seq("quick", "dog"), 5).collect().toSeq,
      "snapshot BM25 must score with the snapshot's corpus stats")
    // compaction reclaims to the LATEST state — history before it is
    // gone by design (the trade a physical reclaim always makes)
    PhraseSearch.compactIndex(spark, dir)
    assert(PhraseSearch.servedPhraseHits(spark, dir, Seq("quick", "brown"))
      .collect().toSet ===
      PhraseSearch.phraseHits(afterDelete, Seq("quick", "brown")).collect().toSet)
  }

  test("mergeIndexes folds shard builds into one clean layout, resolving tombstones") {
    val base = java.nio.file.Files.createTempDirectory("phrase_mrg_").toString
    val (a, b, out) = (s"$base/a", s"$base/b", s"$base/out")
    PhraseSearch.writeIndex(toks.filter(col("doc_id") % 2 === 0), a, 16)
    PhraseSearch.writeIndex(toks.filter(col("doc_id") % 2 === 1), b, 16)
    // takedown lands on each shard; ids a shard doesn't hold are no-ops
    PhraseSearch.deleteFromIndex(Seq(2L, 5L).toDF("doc_id"), a)
    PhraseSearch.deleteFromIndex(Seq(2L, 5L).toDF("doc_id"), b)
    PhraseSearch.mergeIndexes(spark, Seq(a, b), out)
    val liveToks = toks.filter(!col("doc_id").isin(2L, 5L))
    val liveDocs = docs.filter(!col("doc_id").isin(2L, 5L))
    for (phrase <- Seq(Seq("quick", "brown"), Seq("the"), Seq("fox")))
      assert(PhraseSearch.servedPhraseHits(spark, out, phrase).collect().toSet ===
        PhraseSearch.phraseHits(liveToks, phrase).collect().toSet,
        s"merged index diverged on $phrase")
    assert(PhraseSearch.servedBm25TopK(spark, out, Seq("quick", "dog"), 5)
      .collect().toSeq ===
      PhraseSearch.bm25TopK(liveDocs, Seq("quick", "dog"), 5).collect().toSeq,
      "merged BM25 stats diverged from the live union")
    // the merged layout starts clean: no tombstones, rows physically
    // absent, and later maintenance (delete) works against it
    assert(PhraseSearch.pendingDeletes(spark, out).isEmpty)
    assert(PhraseSearch.rawPostings(spark, out)
      .filter(col("doc_id").isin(2L, 5L)).count() === 0L,
      "shard tombstones not resolved during merge")
    PhraseSearch.deleteFromIndex(Seq(1L).toDF("doc_id"), out)
    assert(PhraseSearch.servedPhraseHits(spark, out, Seq("quick", "brown"))
      .collect().toSet ===
      PhraseSearch.phraseHits(liveToks.filter(col("doc_id") =!= 1L),
        Seq("quick", "brown")).collect().toSet,
      "post-merge delete did not apply")
  }

  test("mergeIndexes refuses shards with mismatched bucket moduli") {
    val base = java.nio.file.Files.createTempDirectory("phrase_mrg_").toString
    PhraseSearch.writeIndex(toks.filter(col("doc_id") % 2 === 0), s"$base/a", 16)
    PhraseSearch.writeIndex(toks.filter(col("doc_id") % 2 === 1), s"$base/b", 8)
    intercept[IllegalArgumentException] {
      PhraseSearch.mergeIndexes(spark, Seq(s"$base/a", s"$base/b"), s"$base/out")
    }
  }

  test("rollbackIndex truncates the event log back to a snapshot") {
    // event log: build (0) -> upsert doc 2 (1,2) -> delete doc 4 (3)
    val dir = freshIndex(16)
    val s1 = PhraseSearch.currentSeq(spark, dir)
    PhraseSearch.upsertIndex(toksV2.filter(col("doc_id") === 2L), dir)
    val s2 = PhraseSearch.currentSeq(spark, dir)
    PhraseSearch.deleteFromIndex(Seq(4L).toDF("doc_id"), dir)
    // roll the delete back: HEAD must serve the post-upsert state and
    // the delete's tombstone must be physically gone
    PhraseSearch.rollbackIndex(spark, dir, s2)
    val afterUpsert = toks.filter(col("doc_id") =!= 2L)
      .unionByName(toksV2.filter(col("doc_id") === 2L))
    assert(PhraseSearch.currentSeq(spark, dir) === s2)
    assert(PhraseSearch.servedPhraseHits(spark, dir, Seq("quick", "brown"))
      .collect().toSet ===
      PhraseSearch.phraseHits(afterUpsert, Seq("quick", "brown")).collect().toSet,
      "HEAD after rollback must equal the target snapshot")
    // older snapshots are untouched (rollback truncates, never damages)
    assert(PhraseSearch.servedPhraseHits(spark, dir, Seq("quick", "brown"),
        asOf = Some(s1)).collect().toSet ===
      PhraseSearch.phraseHits(toks, Seq("quick", "brown")).collect().toSet,
      "pre-rollback history must survive a rollback")
    // roll the upsert back too: the replacement rows (seq >= s1) and
    // the upsert's tombstone both vanish — original build served at HEAD
    PhraseSearch.rollbackIndex(spark, dir, s1)
    assert(PhraseSearch.servedBm25TopK(spark, dir, Seq("quick", "dog"), 5)
      .collect().toSeq ===
      PhraseSearch.bm25TopK(docs, Seq("quick", "dog"), 5).collect().toSeq,
      "rollback to the base build must restore its BM25 stats exactly")
    assert(PhraseSearch.pendingDeletes(spark, dir).isEmpty,
      "rolled-back tombstones must be physically removed")
    // maintenance continues from the freed slot: a fresh append must
    // serve exactly like an append onto a never-rolled-back build
    PhraseSearch.appendIndex(toksV2.filter(col("doc_id") === 6L), dir)
    val want = toks.unionByName(toksV2.filter(col("doc_id") === 6L))
    assert(PhraseSearch.servedPhraseHits(spark, dir, Seq("quick", "turtle"))
      .collect().toSet ===
      PhraseSearch.phraseHits(want, Seq("quick", "turtle")).collect().toSet,
      "append after rollback must reuse the vacated seq slot cleanly")
    // a no-op rollback (to the current seq) changes nothing
    val before = PhraseSearch.currentSeq(spark, dir)
    PhraseSearch.rollbackIndex(spark, dir, before)
    assert(PhraseSearch.currentSeq(spark, dir) === before)
    intercept[IllegalArgumentException] {
      PhraseSearch.rollbackIndex(spark, dir, before + 1)
    }
  }

  test("vacuumIndex reclaims only below the watermark; retained snapshots stay exact") {
    // events: build (0) -> delete doc 4 (1) -> append doc 6 (2)
    //   -> delete doc 6 (3); vacuum at watermark 3: doc 4's tombstone
    // (upto 1 < 3) is fully aged -> physically reclaimed; doc 6's
    // (upto 3) is NOT -> snapshot 3 must still see doc 6
    val dir = freshIndex(16)
    PhraseSearch.deleteFromIndex(Seq(4L).toDF("doc_id"), dir)
    PhraseSearch.appendIndex(toksV2.filter(col("doc_id") === 6L), dir)
    val s3 = PhraseSearch.currentSeq(spark, dir)
    PhraseSearch.deleteFromIndex(Seq(6L).toDF("doc_id"), dir)
    val head = PhraseSearch.servedPhraseHits(spark, dir, Seq("quick", "brown"))
      .collect().toSet
    PhraseSearch.vacuumIndex(spark, dir, s3)
    // doc 4 physically gone, doc 6 physically retained (logically dead)
    val posts = PhraseSearch.rawPostings(spark, dir)
    assert(posts.filter(col("doc_id") === 4L).count() === 0L,
      "fully-aged tombstone's rows must be reclaimed")
    assert(posts.filter(col("doc_id") === 6L).count() > 0L,
      "rows a retained snapshot needs must survive the vacuum")
    // HEAD unchanged; the retained snapshot still sees doc 6
    assert(PhraseSearch.servedPhraseHits(spark, dir, Seq("quick", "brown"))
      .collect().toSet === head, "vacuum changed the HEAD serve")
    val withSix = toks.filter(col("doc_id") =!= 4L)
      .unionByName(toksV2.filter(col("doc_id") === 6L))
    assert(PhraseSearch.servedPhraseHits(spark, dir, Seq("quick", "turtle"),
        asOf = Some(s3)).collect().toSet ===
      PhraseSearch.phraseHits(withSix, Seq("quick", "turtle")).collect().toSet,
      "retained snapshot diverged after vacuum")
    // below the watermark: refused loudly, for reads AND rollbacks
    intercept[IllegalArgumentException] {
      PhraseSearch.servedPhraseHits(spark, dir, Seq("quick"), asOf = Some(1L))
        .collect()
    }
    intercept[IllegalArgumentException] {
      PhraseSearch.rollbackIndex(spark, dir, 1L)
    }
    // vacuum is idempotent at the same watermark
    PhraseSearch.vacuumIndex(spark, dir, s3)
    assert(PhraseSearch.servedPhraseHits(spark, dir, Seq("quick", "brown"))
      .collect().toSet === head)
    // a fresh build in the same dir resets history: the watermark and
    // tombstones must not leak into the new generation
    PhraseSearch.writeIndex(toks, dir, 16)
    assert(PhraseSearch.servedPhraseHits(spark, dir, Seq("quick", "brown"),
        asOf = Some(1L)).collect().toSet ===
      PhraseSearch.phraseHits(toks, Seq("quick", "brown")).collect().toSet,
      "stale history sidecars leaked into a rebuilt index")
  }

  test("compaction with tombstones advances the watermark; crashed vacuum recovers") {
    // compact ≡ vacuum at the current seq: snapshots that lost rows
    // to the reclaim must REFUSE loudly afterwards, and so must
    // rollbacks into them
    val dir = freshIndex(16)
    PhraseSearch.deleteFromIndex(Seq(4L).toDF("doc_id"), dir)
    val cur = PhraseSearch.currentSeq(spark, dir)
    PhraseSearch.compactIndex(spark, dir)
    intercept[IllegalArgumentException] {
      PhraseSearch.servedPhraseHits(spark, dir, Seq("quick"), asOf = Some(1L))
        .collect()
    }
    intercept[IllegalArgumentException] {
      PhraseSearch.rollbackIndex(spark, dir, 1L)
    }
    // HEAD and the current snapshot still serve
    assert(PhraseSearch.servedPhraseHits(spark, dir, Seq("quick", "brown"),
        asOf = Some(cur)).collect().toSet ===
      PhraseSearch.phraseHits(toks.filter(col("doc_id") =!= 4L),
        Seq("quick", "brown")).collect().toSet)
    // a compaction with NO tombstones is a pure re-layout: no
    // watermark, history intact
    val dir2 = freshIndex(16)
    PhraseSearch.compactIndex(spark, dir2)
    assert(PhraseSearch.servedPhraseHits(spark, dir2, Seq("quick", "brown"),
        asOf = Some(1L)).collect().toSet ===
      PhraseSearch.phraseHits(toks, Seq("quick", "brown")).collect().toSet,
      "tombstone-free compaction must not bound time travel")
    // crashed vacuum under the manifest protocol: a writer that died
    // AFTER staging its rewritten segments but BEFORE the manifest
    // commit has changed NOTHING observable — the old snapshot (rows,
    // tombstones, watermark) serves intact, historical reads
    // included; re-running the vacuum completes the reclaim.
    val dir3 = freshIndex(16)
    PhraseSearch.deleteFromIndex(Seq(4L).toDF("doc_id"), dir3)
    val cur3 = PhraseSearch.currentSeq(spark, dir3)
    val headHits = PhraseSearch
      .servedPhraseHits(spark, dir3, Seq("quick", "brown")).collect().toSet
    // simulate the crash: orphan staged segment + half-written manifest
    PhraseSearch.rawPostings(spark, dir3).limit(1)
      .write.mode("overwrite").parquet(s"$dir3/postings/seg-999")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir3/manifest/v999.manifest.tmp"),
      "version=999\n".getBytes)
    assert(PhraseSearch.servedPhraseHits(spark, dir3, Seq("quick", "brown"))
      .collect().toSet === headHits,
      "uncommitted staged state must be invisible to serves")
    assert(PhraseSearch.servedPhraseHits(spark, dir3, Seq("quick", "brown"),
        asOf = Some(1L)).collect().toSet ===
      PhraseSearch.phraseHits(toks, Seq("quick", "brown")).collect().toSet,
      "a crashed vacuum must not bound time travel (nothing committed)")
    PhraseSearch.vacuumIndex(spark, dir3, cur3)
    assert(PhraseSearch.rawPostings(spark, dir3)
      .filter(col("doc_id") === 4L).count() === 0L,
      "re-run vacuum must finish the reclaim")
    assert(PhraseSearch.servedPhraseHits(spark, dir3, Seq("quick", "brown"))
      .collect().toSet === headHits)
    // the watermark is MONOTONIC: vacuuming below it is refused
    intercept[IllegalArgumentException] {
      PhraseSearch.vacuumIndex(spark, dir3, cur3 - 1)
    }
  }

  test("snapshotDiff classifies added/removed/changed and ignores no-op rewrites") {
    // events: build (0) -> delete doc 4 (1) -> upsert doc 2 changed
    // (2,3) -> upsert doc 5 with IDENTICAL content (4,5) -> append
    // doc 6 (6). Diff snapshot 1 (the base build) vs HEAD.
    val dir = freshIndex(16)
    val s1 = PhraseSearch.currentSeq(spark, dir)
    PhraseSearch.deleteFromIndex(Seq(4L).toDF("doc_id"), dir)
    PhraseSearch.upsertIndex(toksV2.filter(col("doc_id") === 2L), dir)
    // same tokens re-written under new seqs: content signature equal
    PhraseSearch.upsertIndex(toks.filter(col("doc_id") === 5L), dir)
    PhraseSearch.appendIndex(toksV2.filter(col("doc_id") === 6L), dir)
    val head = PhraseSearch.currentSeq(spark, dir)
    val got = PhraseSearch.snapshotDiff(spark, dir, s1, head)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(4L -> "removed", 2L -> "changed", 6L -> "added"),
      s"diff misclassified: $got — doc 5's identical rewrite must NOT appear")
    // a self-diff is empty
    assert(PhraseSearch.snapshotDiff(spark, dir, head, head).isEmpty)
    // direction matters: reversing the endpoints flips add/remove
    val rev = PhraseSearch.snapshotDiff(spark, dir, head, s1)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rev(4L) === "added" && rev(6L) === "removed")
  }

  test("randomized lifecycle: every recorded snapshot replays exactly (seeded)") {
    // property: under ANY interleaving of append/delete/upsert, each
    // snapshot id recorded after an event serves exactly the corpus
    // state of that moment — phrase hits, the boolean NOT-universe,
    // and BM25's global stats. Seeded RNG keeps the trials
    // reproducible; the in-memory doc map is the executable spec.
    val vocabWords = Vector("quick", "brown", "fox", "dog", "lazy",
      "turtle", "jumps", "sleeps")
    val rnd = new scala.util.Random(42)
    def genText() =
      Seq.fill(5 + rnd.nextInt(8))(vocabWords(rnd.nextInt(vocabWords.size)))
        .mkString(" ")
    for (trial <- 1 to 3) {
      val dir = java.nio.file.Files
        .createTempDirectory(s"phrase_prop${trial}_").toString
      var nextId = 1L
      def freshId() = { val i = nextId; nextId += 1; i }
      var state = Map((1 to 5).map(_ => freshId() -> genText()): _*)
      def toksOf(m: Map[Long, String]) = m.toSeq.toDF("doc_id", "text")
        .select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
      PhraseSearch.writeIndex(toksOf(state), dir, nBuckets = 8)
      val snaps = scala.collection.mutable.Buffer(
        PhraseSearch.currentSeq(spark, dir) -> state)
      (1 to 6).foreach { _ =>
        rnd.nextInt(3) match {
          case 0 => // append a batch of NEW docs (contract: disjoint ids)
            val batch = Map((1 to 1 + rnd.nextInt(2))
              .map(_ => freshId() -> genText()): _*)
            PhraseSearch.appendIndex(toksOf(batch), dir)
            state = state ++ batch
          case 1 => // delete an existing id (or a missing one — no-op)
            val id = if (rnd.nextBoolean() && state.nonEmpty)
              state.keys.toSeq(rnd.nextInt(state.size))
            else 999L + rnd.nextInt(5)
            PhraseSearch.deleteFromIndex(Seq(id).toDF("doc_id"), dir)
            state = state - id
          case 2 => // upsert: changed existing + possibly brand-new
            val id = if (state.nonEmpty)
              state.keys.toSeq(rnd.nextInt(state.size)) else freshId()
            val batch = Map(id -> genText())
            PhraseSearch.upsertIndex(toksOf(batch), dir)
            state = state ++ batch
        }
        snaps += PhraseSearch.currentSeq(spark, dir) -> state
      }
      snaps.foreach { case (s, st) =>
        val want = toksOf(st)
        assert(PhraseSearch.servedPhraseHits(spark, dir,
            Seq("quick", "brown"), asOf = Some(s)).collect().toSet ===
          PhraseSearch.phraseHits(want, Seq("quick", "brown"))
            .collect().toSet, s"trial $trial snapshot $s: phrase diverged")
        assert(PhraseSearch.servedSearch(spark, dir, "quick AND NOT dog",
            asOf = Some(s)).collect().toSet ===
          PhraseSearch.search("quick AND NOT dog", want,
            want.select("doc_id").distinct()).collect().toSet,
          s"trial $trial snapshot $s: boolean diverged")
        assert(PhraseSearch.servedBm25TopK(spark, dir, Seq("quick", "fox"),
            5, asOf = Some(s)).collect().toSeq ===
          PhraseSearch.bm25TopK(st.toSeq.toDF("doc_id", "text"),
            Seq("quick", "fox"), 5).collect().toSeq,
          s"trial $trial snapshot $s: BM25 stats diverged")
      }
      // physical reclaim converges to the last state
      PhraseSearch.compactIndex(spark, dir)
      assert(PhraseSearch.servedPhraseHits(spark, dir, Seq("quick", "brown"))
        .collect().toSet ===
        PhraseSearch.phraseHits(toksOf(state), Seq("quick", "brown"))
          .collect().toSet, s"trial $trial: post-compaction HEAD diverged")
    }
  }

  test("index round-trips the modulus (serve reads nBuckets from meta)") {
    // different modulus than the serve-side default would break bucket
    // recomputation if it were not persisted — build at 7, serve must
    // still match
    val dir = freshIndex(7)
    val direct = PhraseSearch.phraseHits(toks, Seq("the", "quick")).collect().toSet
    val served = PhraseSearch.servedPhraseHits(spark, dir, Seq("the", "quick"))
      .collect().toSet
    assert(served === direct)
  }

  test("NEAR/k, count thresholds and wildcard escapes evaluate identically in-process and served") {
    val dir = freshIndex(16)
    val universe = docs.select("doc_id")
    for (q <- Seq(
      "(quick NEAR/3 fox) AND NOT turtle",
      "\"quick brown\" NEAR/4 dog",
      "quick{2}",
      "brown{3} OR (slow NEAR/2 green)",
      "qu* NEAR/5 dog",
      "the & brow* | turtle",
      "quick & (fox | cat) :: 4",
      "brown & quick{2} & the :: 6")) {
      val direct = PhraseSearch.search(q, toks, universe)
        .collect().map(_.getLong(0)).toSet
      val served = PhraseSearch.servedSearch(spark, dir, q)
        .collect().map(_.getLong(0)).toSet
      assert(served === direct, s"query <$q> diverged between paths")
    }
    // ground truth spot checks on the fixture (docs 2 and 4 repeat
    // 'quick'; 'fox' sits within 3 of a 'quick' in docs 1 and 2)
    assert(PhraseSearch.search("quick{2}", toks, universe)
      .collect().map(_.getLong(0)).toSet === Set(2L, 4L),
      "count threshold missed a repeated-token doc")
    assert(PhraseSearch.search("(quick NEAR/3 fox) AND NOT turtle", toks,
      universe).collect().map(_.getLong(0)).toSet === Set(1L, 2L))
  }

  test("inflection groups, juxtaposition and subtree NEAR evaluate identically in-process and served") {
    val dir = freshIndex(16)
    val universe = docs.select("doc_id")
    for (q <- Seq(
      "[jump]",                            // family of 'jump' ∋ 'jumps'
      "[jumping] | [sleep]",               // ing-lemma recovery
      "the quick brown",                   // unquoted 3-word phrase
      "quick brown NEAR/3 fox",            // juxtaposed NEAR operand
      "[jump] NEAR/4 (dog | cat)",         // OR+Infl subtree operand
      "quick NEAR/2 brown NEAR/5 fox",     // left-chained NEAR
      "[sleep]{1} & the quick",            // count over an Infl leaf
      "[jump] & dog :: 5")) {              // Infl conjunct in a window
      val direct = PhraseSearch.search(q, toks, universe)
        .collect().map(_.getLong(0)).toSet
      val served = PhraseSearch.servedSearch(spark, dir, q)
        .collect().map(_.getLong(0)).toSet
      assert(served === direct, s"query <$q> diverged between paths")
    }
    // ground truth on the fixture: 'jumps' only in doc 1 (pos 4, dog
    // at 8 → within 4); 'sleeps' only in doc 2; 'the quick brown'
    // starts in docs 1 and 2; the unquoted and quoted phrase
    // spellings are the same query
    def ids(q: String): Set[Long] =
      PhraseSearch.search(q, toks, docs.select("doc_id"))
        .collect().map(_.getLong(0)).toSet
    assert(ids("[jump]") === Set(1L))
    assert(ids("[jumping] | [sleep]") === Set(1L, 2L))
    assert(ids("the quick brown") === Set(1L, 2L))
    assert(ids("the quick brown") === ids("\"the quick brown\""))
    assert(ids("[jump] NEAR/4 (dog | cat)") === Set(1L))
    assert(ids("[jump] & dog :: 5") === Set(1L))
    assert(ids("quick NEAR/2 brown NEAR/5 fox") === Set(1L, 2L))
  }

  test("an inflection group's served scan prunes statically to the family's buckets") {
    // the family is a CLOSED exact-word set (Inflect.expand), so the
    // bucket predicate is a plan-time partition filter — stronger than
    // the wildcard path's runtime DPP (no lexicon pass needed)
    val dir = freshIndex(16)
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val served = PhraseSearch.servedSearch(spark, dir, "[jump]")
      served.collect()
      val famSize = graft.text.Inflect.expand("jump").size
      val postingsScans = served.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.output.exists(_.name == "tok") => s
      }
      assert(postingsScans.nonEmpty, "postings scan not found")
      postingsScans.foreach { sc =>
        assert(sc.partitionFilters.nonEmpty,
          "[jump]'s postings scan lost its static bucket partition filter")
        assert(sc.selectedPartitions.partitionCount <= famSize,
          s"scan read ${sc.selectedPartitions.partitionCount} bucket dirs " +
            s"for a $famSize-word family")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("compacting a fully-tombstoned index publishes empty components; append revives it") {
    // ADVICE r15 #1 (phrase twin): the empty rewrite used to fail
    // pre-commit on the lexicon re-read — loud, but the op could
    // never complete. Now it commits EMPTY components: reads fail on
    // the loud empty-index path and an append revives the index.
    val dir = freshIndex(16)
    PhraseSearch.deleteFromIndex(toks.select("doc_id").distinct(), dir)
    PhraseSearch.compactIndex(spark, dir) // must complete
    val m = graft.index.Manifest.load(spark, dir)
    for (c <- Seq("postings", "doclen", "lexicon", "tombstones"))
      assert(m.segs(c).isEmpty, s"empty rewrite left $c segments")
    val e = intercept[IllegalStateException] {
      PhraseSearch.servedPhraseHits(spark, dir, Seq("quick")).collect()
    }
    assert(e.getMessage.contains("no postings segments"),
      s"wrong failure mode: ${e.getMessage}")
    PhraseSearch.appendIndex(toks.filter(col("doc_id") <= 2), dir)
    val revived = PhraseSearch.servedPhraseHits(spark, dir, Seq("quick"))
      .collect().toSet
    assert(revived ===
      PhraseSearch.phraseHits(toks.filter(col("doc_id") <= 2), Seq("quick"))
        .collect().toSet,
      "append after empty-compact did not revive the index")
  }
}
