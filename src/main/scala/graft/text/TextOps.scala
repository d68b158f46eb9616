package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis / dedup operators for a training-data pipeline over a
  * `documents(doc_id, text, ...)` table: tokenization, shingling,
  * MinHash+LSH near-dup, SimHash, quality scoring, language scoring and
  * rolling-hash fingerprints (SURVEY §7.5; reference analogues: caption
  * tokenization app/esper/spacy_tokenize.py, lowercase heuristics
  * app/esper/commercial_detection_rekall.py:88-97).
  *
  * Everything is deterministic integer arithmetic over a token/shingle
  * dictionary so results are engine-independent (DuckDB-checkable).
  */
object TextOps {

  /** One row per (doc_id, pos, tok). */
  def tokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))

  /** Distinct k-token shingles per doc (k=3): the set representation
    * used for near-dup detection. Built per row from the token array —
    * NO window over the exploded token table (that form shuffles and
    * sorts every token in the corpus just to see k-1 neighbors; this
    * one sees them in the array for free, so shingling is map-side
    * only and the sole exchange is the final distinct). Docs shorter
    * than k tokens produce no shingles, as before. */
  def shingles(docs: DataFrame, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.graftbridge.Bridge
    // per-doc array_distinct BEFORE the explode: each doc is one input
    // row, so within-doc dedup IS global dedup of (doc_id, sh) — the
    // same row set the former global .distinct() produced, without
    // shuffling every shingle string in the corpus to get it
    docs.select(col("doc_id"),
      explode(array_distinct(Bridge.column(
        graft.plans.Shingles(Bridge.expression(col("text")), k)))).as("sh"))
  }

  /** Hashed-shingle ids, fully map-side: fingerprint each k-shingle
    * inside the per-doc array and dedup (string dups AND hash
    * collisions within a doc collapse together) before exploding —
    * the (doc_id, sid) set is globally distinct by construction, so
    * the inverted-index builders pay ZERO shuffles before their first
    * aggregation. */
  def shingleIds(docs: DataFrame, k: Int): DataFrame =
    docs.select(col("doc_id"), explode(sidArray(col("text"), k)).as("sid"))

  /** The per-doc distinct hashed-shingle array [[shingleIds]] explodes
    * (string dups AND hash collisions within a doc collapse). */
  private[graft] def sidArray(textCol: Column, k: Int): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    val arr = Bridge.column(
      graft.plans.Shingles(Bridge.expression(textCol), k))
    array_distinct(transform(arr, sh => fingerprint(sh)))
  }

  /** [[shingleIds]] carrying extra per-doc columns through the explode
    * map-side — callers that need (doc attr, sid) pairs must NOT pay a
    * corpus-sized re-join on doc_id to get the attribute back. */
  def shingleIdsWith(docs: DataFrame, k: Int, extra: String*): DataFrame =
    docs.select((col("doc_id") +: extra.map(col)) :+
      explode(sidArray(col("text"), k)).as("sid"): _*)

  /** Per-row distinct k-shingle count — the map-side form of
    * `shingles(df,k).groupBy(doc_id).count()`: a quantity every row can
    * compute about itself must never cost a corpus-sized
    * explode+shuffle (ADVICE r7: t18 paid exactly that). Docs shorter
    * than k tokens count 0 (empty shingle array). */
  def distinctShingleCount(textCol: Column, k: Int): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    size(array_distinct(Bridge.column(
      graft.plans.Shingles(Bridge.expression(textCol), k)))).cast("long")
  }

  /** Positioned k-token shingles: one row per (doc_id, s, sh) where
    * `s` is the 0-based start token index of the window — the span
    * form [[graft.text.Dedup.dupSpanStats]] needs. Same map-side-only
    * construction as [[shingles]] (the native [[graft.plans.Shingles]]
    * array is in document order, so `posexplode` yields the start
    * index for free); no distinct — every occurrence is a span. */
  def positionedShingles(docs: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.graftbridge.Bridge
    docs.select(col("doc_id"),
      posexplode(Bridge.column(
        graft.plans.Shingles(Bridge.expression(col("text")), k))).as(Seq("s", "sh")))
  }

  /** BPE-ish regex pre-tokens (the GPT-2 pre-tokenizer shape:
    * contraction suffix, letter run, digit run, punctuation run, each
    * with an optional leading space). Stays inside the regex subset
    * Java and RE2 share with IDENTICAL semantics (no lookaround, and
    * the whitespace class is spelled out explicitly — Java's \s
    * includes vertical tab \x0B, RE2's does not, so \s itself is NOT
    * in the shared subset), so DuckDB counts identically. */
  def bpeTokens(textCol: Column): Column =
    regexp_extract_all(textCol,
      lit("""'[a-z]+| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 \t\n\r\f']+"""), lit(0))

  /** Deterministic dictionary: shingle/token -> dense 1-based id by
    * sort order — identical ids to `dense_rank() over (order by v)` but
    * without the single-partition window: distinct -> range-partitioned
    * SQL sort -> zipWithIndex (one of the few legitimate RDD drops; the
    * per-partition offset sum is what a window cannot do scalably).
    * The sort stays in Spark SQL so the collation is UTF8String binary
    * order (unsigned UTF-8 bytes) — identical to DuckDB's BINARY
    * collation; an RDD sortBy on java.lang.String would use UTF-16
    * code-unit order, which diverges on supplementary-plane text. */
  def dict(values: DataFrame, valueCol: String, idCol: String): DataFrame = {
    val spark = values.sparkSession
    import spark.implicits._
    val indexed = values.select(col(valueCol).cast("string")).distinct()
      .orderBy(col(valueCol))
      .as[String].rdd
      .zipWithIndex()
      .map { case (v, i) => (v, i + 1L) }
    spark.createDataFrame(indexed).toDF(valueCol, idCol)
  }

  /** Exact shingle-Jaccard near-dup pairs (d1 < d2, jacc >= tauJacc):
    * hashed shingle ids, document-frequency cap before the
    * inverted-index self-join (the round-1 scale guard — a boilerplate
    * shingle shared by f docs otherwise emits f^2 candidate pairs),
    * then the exact Jaccard filter. Columns: d1, d2, inter, n1, n2,
    * jacc. The edge generator for dedup clustering.
    *
    * EAGER: the pair set (small — candidate-bounded) is materialized
    * here via `localCheckpoint` so both corpus-sized cached
    * intermediates can be unpersisted BEFORE returning — a lazily
    * returned plan would pin them for however long the caller waits to
    * run its action (the r8 gate measured t14 ~1.8x slower under
    * full-corpus cache churn from exactly these blocks). HAZARD: as
    * with [[graft.text.Dedup.connectedComponentsWithRounds]], the
    * returned frame is lineage-truncated — consume it before any
    * `sc.getPersistentRDDs` sweep (the harness mains sweep only after
    * each query's write, which is safe). */
  def jaccardPairs(docs: DataFrame, k: Int = 3, dfCap: Int = 50,
                   tauJacc: Double = 0.5): DataFrame = {
    val (plan, cached) = jaccardPairsImpl(docs, k, dfCap, tauJacc, persist = true)
    val pairs = plan.localCheckpoint(true)
    cached.foreach(_.unpersist(false))
    pairs
  }

  /** Containment near-dup pairs: same candidate generation as
    * [[jaccardPairs]] but scored by the ASYMMETRIC containment
    * C(A,B) = |A ∩ B| / |A| (CCNet / Broder's "inclusion" metric) —
    * a short doc fully embedded in a long one has cmax ≈ 1 yet a
    * Jaccard of only |A|/|B|, so the symmetric filter misses exactly
    * the quote/boilerplate-embedding duplication this catches. Keeps
    * pairs with max(C(A,B), C(B,A)) >= tauC; emits the Jaccard too so
    * callers can see which pairs the symmetric metric would have kept.
    * Scale: the df-cap bounds candidates identically to jaccardPairs
    * (the pigeonhole argument is metric-independent); same eager
    * checkpoint + cache-release discipline. */
  def containmentPairs(docs: DataFrame, k: Int = 3, dfCap: Int = 50,
                       tauC: Double = 0.8): DataFrame = {
    val (stats, cached) = pairStatsImpl(docs, k, dfCap, persist = true)
    val plan = stats
      .withColumn("cmax", greatest(
        col("inter").cast("double") / col("n1").cast("double"),
        col("inter").cast("double") / col("n2").cast("double")))
      .filter(col("cmax") >= tauC)
    val pairs = plan.localCheckpoint(true)
    cached.foreach(_.unpersist(false))
    pairs
  }

  /** Winnowing-fingerprint candidate pairs (MOSS; Schleimer et al. 2003
    * "Winnowing: Local Algorithms for Document Fingerprinting"): per-doc
    * winnowed fingerprints (k-gram hashes, window w) explode into a
    * ~2/(w+1)-density inverted index, df-capped like [[jaccardPairs]],
    * and docs sharing >= minShared selected fingerprints become
    * candidates (d1 < d2, n_shared). Positional selection guarantees a
    * candidate for any shared token run >= w + k - 1.
    *
    * Same EAGER discipline as [[jaccardPairs]]: the bounded pair set is
    * localCheckpoint'ed so both corpus-sized cached intermediates are
    * unpersisted BEFORE returning — the r9 verdict flagged t39's inline
    * copy of this pipeline for pinning exactly these two caches across
    * the rest of a full-corpus run. */
  def winnowPairs(docs: DataFrame, k: Int = 3, w: Int = 4, dfCap: Int = 50,
                  minShared: Int = 2): DataFrame = {
    val sel = docs.select(col("doc_id"),
      explode(winnow(col("text"), k, w)).as("fp")).cache()
    val hot = broadcast(sel.groupBy(col("fp"))
      .agg(count(lit(1)).as("df")).filter(col("df") > dfCap).select("fp"))
    val pruned = sel.join(hot, Seq("fp"), "left_anti").cache()
    val plan = pruned.select(col("doc_id").as("d1"), col("fp"))
      .join(pruned.select(col("doc_id").as("d2"), col("fp")), Seq("fp"))
      .filter(col("d1") < col("d2"))
      .groupBy("d1", "d2").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
    val pairs = plan.localCheckpoint(true)
    sel.unpersist(false)
    pruned.unpersist(false)
    pairs
  }

  /** The lazy pair plan [[jaccardPairs]] materializes; `persist` caches
    * the two reused intermediates (ids is read by the df-cap count and
    * the index build; sh by the sizes agg and both self-join sides).
    * Package-private so PlanAuditSpec can audit the physical plan the
    * checkpoint job executes — the public API's result is an opaque
    * LogicalRDD leaf. Returns (plan, cached intermediates to free).
    *
    * Candidate-generation note (measured, r11): an exact
    * AllPairs/PPJoin prefix filter (rarest-first canonical order,
    * prefix length n - ceil(tau*n) + 1, size-ratio bound) was
    * prototyped here and CUT CANDIDATES 3.6x on this corpus (1.13M ->
    * 310k at sf0.1) yet ran ~2.5x SLOWER end to end: the df join +
    * two doc_id windows + candidate distinct + per-candidate array
    * intersection cost more than the saved join volume, because this
    * corpus's pairs share ~1 shingle each so the full join is narrow
    * and cheap while verification rows carry two ~52-element arrays.
    * On a Zipfian web corpus (hot shingles, deep posting lists) the
    * prefix variant wins and the df-capped full join loses recall-free
    * pruning headroom — revisit if the data profile changes; the
    * df-cap keeps the full join sub-quadratic either way. */
  private[graft] def jaccardPairsImpl(docs: DataFrame, k: Int, dfCap: Int,
      tauJacc: Double, persist: Boolean): (DataFrame, Seq[DataFrame]) = {
    val (stats, cached) = pairStatsImpl(docs, k, dfCap, persist)
    (stats.filter(col("jacc") >= tauJacc), cached)
  }

  /** Shared near-dup pair statistics (d1 < d2, inter, n1, n2, jacc) —
    * the inverted-index candidate generator both similarity metrics
    * filter over. Package-private so PlanAuditSpec can audit the lazy
    * plan (the public APIs return opaque LogicalRDD leaves). */
  private[graft] def pairStatsImpl(docs: DataFrame, k: Int, dfCap: Int,
      persist: Boolean): (DataFrame, Seq[DataFrame]) = {
    import org.apache.spark.sql.graftbridge.Bridge
    // df-cap hot set: the same map-side-explode -> partial-combined
    // (sid, df) aggregate as ever, but delivered to every task as ONE
    // sorted long array through a scalar subquery (the BloomFns shape,
    // exact instead of approximate) rather than as a broadcast
    // anti-join relation. The subquery runs once per execution and
    // ships with the task binary — the same bytes the broadcast hash
    // relation shipped, minus the hash-table framing.
    val hotArr = shingleIds(docs, k)
      .groupBy(col("sid")).agg(count(lit(1)).as("df"))
      .filter(col("df") > dfCap)
      .agg(sort_array(collect_list(col("sid"))).as("hot"))
    // r22 (VERDICT r21 ask #4): prune AND size per row. kept = the
    // doc's distinct sid array minus the hot set (binary search per
    // element) and nsh = size(kept) on the same row — the r21 `count()
    // over (partition by doc_id)` window shuffled + sorted EVERY pruned
    // posting row by doc_id to compute a quantity each row can compute
    // about itself, and the anti-join re-shipped the hot set as a hash
    // relation. Both are gone: the generator is now map-side from scan
    // to the inverted-index self-join, for all nine consumers.
    val kept = Bridge.column(graft.plans.ArrayLongsNotInSorted(
      Bridge.expression(sidArray(col("text"), k)),
      Bridge.expression(graft.plans.BloomFns.scalarSubquery(hotArr))))
    val sh0 = docs
      .select(col("doc_id"), kept.as("__kept"))
      .select(col("doc_id"), size(col("__kept")).cast("long").as("nsh"),
        explode(col("__kept")).as("sid"))
    val sh = if (persist) sh0.cache() else sh0
    val plan = sh.select(col("doc_id").as("d1"), col("sid"), col("nsh").as("n1"))
      .join(sh.select(col("doc_id").as("d2"), col("sid"), col("nsh").as("n2")),
        Seq("sid"))
      .filter(col("d1") < col("d2"))
      .groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("inter"),
        min(col("n1")).as("n1"), min(col("n2")).as("n2"))
      .withColumn("jacc", col("inter").cast("double") /
        (col("n1") + col("n2") - col("inter")).cast("double"))
    (plan, if (persist) Seq(sh) else Nil)
  }

  /** TextRank keyword scores (Mihalcea & Tarau 2004): PageRank power
    * iteration over the undirected token co-occurrence graph (adjacent
    * tokens, edge weight = co-occurrence count). Fully integer so the
    * ranking is cross-engine exact — scores scaled 1e6, damping 0.85 as
    * the rational 17/20, per-edge floor division:
    *   pr'(v) = 150000 + 17 * sum_{u~v} floor(pr(u)*w(u,v)/wdeg(u)) / 20
    *
    * Scale/lifecycle: bigrams come from the native map-side Shingles
    * expression, so the ONE corpus-sized pass is the edge aggregation;
    * the edge and node tables are vocabulary-bounded and eagerly
    * checkpointed once. Each iteration is then a single
    * vocabulary-sized join+agg over materialized leaves (a lazily
    * unrolled loop instead re-derives the corpus scan per iteration —
    * measured 32 scans / 50 exchanges in the 3-iteration plan), with
    * superseded rounds unpersisted as in
    * [[graft.text.Dedup.connectedComponentsWithRounds]]. Returns
    * (tok, pr); lineage-truncated — consume before a cache sweep. */
  def textRank(docs: DataFrame, iters: Int = 3): DataFrame = {
    val bg = positionedShingles(docs, 2)
      .select(split(col("sh"), " ").as("p"))
      .select(element_at(col("p"), 1).as("u"), element_at(col("p"), 2).as("v"))
      .filter(col("u") =!= col("v"))
    val edges = bg.union(bg.select(col("v").as("u"), col("u").as("v")))
      .groupBy("u", "v").agg(count(lit(1)).as("w"))
    val wdeg = edges.groupBy("u").agg(sum(col("w")).as("wd"))
    val ew = edges.join(wdeg, "u").localCheckpoint(true)
    val nodes = docs.select(explode(split(col("text"), " ")).as("tok"))
      .distinct().localCheckpoint(true)
    var pr = nodes.withColumn("pr", lit(1000000L))
    var prevRdd: Option[org.apache.spark.rdd.RDD[_]] = None
    for (_ <- 1 to iters) {
      val contrib = ew.join(pr.withColumnRenamed("tok", "u"), "u")
        .select(col("v"), expr("(pr * w) div wd").as("c"))
        .groupBy("v").agg(sum(col("c")).as("sc"))
      val next = nodes.join(contrib, nodes("tok") === contrib("v"), "left")
        .select(col("tok"),
          expr("150000 + (17 * coalesce(sc, CAST(0 AS BIGINT))) div 20").as("pr"))
        .localCheckpoint(true)
      prevRdd.foreach(_.unpersist(false))
      prevRdd = checkpointRdd(next)
      pr = next
    }
    Seq(ew, nodes).flatMap(checkpointRdd).foreach(_.unpersist(false))
    pr
  }

  /** See [[graft.text.Dedup]]'s twin: the block-manager RDD pinned by
    * an eager localCheckpoint, for deterministic release. */
  private def checkpointRdd(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.analyzed
      .collectFirst { case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd }

  /** Winnowed document fingerprints (Schleimer et al.'s winnowing —
    * the MOSS selection rule, reused by modern corpus-dedup pipelines):
    * hash every k-gram IN ORDER (duplicates kept — selection is
    * positional, unlike the set-semantics shingle ops), slide a
    * w-window over the hash sequence, keep each window's minimum, and
    * distinct the selections. Guarantee: two docs sharing any token
    * run of length >= w+k-1 share at least one selected fingerprint,
    * at ~2/(w+1) the index density of full shingling — the winnowed
    * index is what gets shipped at 100 TB, not the full postings.
    * Fully per-row columnar; callers explode only the (small)
    * selected set to build the index. Codegen'd native expression
    * ([[graft.plans.WinnowFps]]); `TextOpsSpec.winnowHof` is the
    * built-in-functions form it replaced (bit-equal — TextOpsSpec). */
  def winnow(text: Column, k: Int, w: Int): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(graft.plans.WinnowFps(Bridge.expression(text), k, w))
  }

  /** Word-level alignment over an arbitrary candidate pair set — the
    * second stage of the transcript-alignment pipeline (reference
    * app/esper/transcript_alignment.py: per-segment word alignment of
    * caption vs ASR words), decoupled from the candidate GENERATOR so a
    * pipeline computes pairs once and feeds every alignment consumer
    * (t31 distances, t33 re-timing) without re-paying the candidate
    * self-join. Per pair: codegen'd token-Levenshtein DP (two-row,
    * O(n*m) inside one whole-stage loop), char Levenshtein, and the
    * normalized word-error ratio. Scale: per-pair cost is bounded by
    * whatever generator produced `pairs` — never corpus-quadratic.
    * Input: pairs (d1, d2); docs (doc_id, text). */
  def alignPairs(pairs: DataFrame, docs: DataFrame): DataFrame = {
    val t1 = docs.select(col("doc_id").as("d1"), col("text").as("x1"))
    val t2 = docs.select(col("doc_id").as("d2"), col("text").as("x2"))
    pairs.select("d1", "d2").join(t1, "d1").join(t2, "d2")
      .select(col("d1"), col("d2"),
        size(split(col("x1"), " ")).cast("long").as("n1"),
        size(split(col("x2"), " ")).cast("long").as("n2"),
        graft.plans.GraftFunctions.tokenEditDistance(
          split(col("x1"), " "), split(col("x2"), " ")).as("tok_dist"),
        levenshtein(col("x1"), col("x2")).cast("long").as("chr_dist"))
      .withColumn("wer", col("tok_dist").cast("double") /
        greatest(col("n1"), col("n2")).cast("double"))
  }

  /** Per-word transcript re-timing — the aligner's OTHER output
    * (reference app/esper/load_aligned_transcript.py:14-24
    * dump_aligned_transcript_byword: a word-level SRT where each word
    * gets a timestamp interpolated within its aligned segment;
    * transcript_alignment.py:15 SEG_LENGTH = 60 s). Each aligned pair's
    * reference doc d1 owns a 60 s segment window [d1*segMs,
    * (d1+1)*segMs) and word w of n is linearly interpolated into it —
    * the R12 rescale move, token-index space onto the millisecond
    * timeline, in exact integer division so the row set is
    * cross-engine-hashable. Emits one VTT cue per word via the s14
    * caption-export path. Input: pairs (d1, d2); docs (doc_id, text). */
  def retimeWords(pairs: DataFrame, docs: DataFrame,
                  segMs: Long = 60000L): DataFrame = {
    // join FIRST, explode AFTER: only the pair set's reference docs
    // (bounded by the candidate generator) ever explode into words —
    // exploding the whole corpus and then joining would shuffle every
    // token of every document to retime a handful of pairs
    val refDocs = pairs.select("d1", "d2")
      .join(docs.select(col("doc_id").as("d1"), col("text")), "d1")
    refDocs.select(col("d1"), col("d2"),
        size(split(col("text"), " ")).cast("long").as("n"),
        posexplode(split(col("text"), " ")).as(Seq("w", "word")))
      .select(col("d1"), col("d2"), col("w").cast("long").as("w"), col("word"),
        (col("d1") * segMs + call_function("div",
          col("w").cast("long") * segMs, col("n"))).as("ws_ms"),
        (col("d1") * segMs + call_function("div",
          (col("w").cast("long") + 1) * segMs, col("n"))).as("we_ms"))
      .withColumn("cue", graft.result.CaptionExport.cueMs(
        col("ws_ms"), col("we_ms"), col("word")))
  }

  /** MinHash signatures: k universal-ish hashes
    * h_i(x) = (x * a_i + b_i) mod p with a_i = (2i+3)*524287 mod p,
    * b_i = (5i+7)*8191 — the multipliers must be large enough that the
    * product wraps mod p, otherwise h_i is monotone in x and every hash
    * degenerates to "the minimum id" (caught by TextOpsSpec). */
  def minhash(docShingleIds: DataFrame, k: Int = 8, p: Long = 1000003L): DataFrame =
    docShingleIds
      .withColumn("i", explode(sequence(lit(0), lit(k - 1))))
      .groupBy(col("doc_id"), col("i"))
      .agg(min((col("sid") * ((col("i") * 2 + 3) * 524287L % p) +
        (col("i") * 5 + 7) * 8191L) % p).as("mh"))

  /** LSH banding over minhash rows: bands of `rows` hashes, one integer
    * signature per (doc, band). Candidate near-dups collide on a band.
    * Each hash is scaled positionally by p^(rows-1-(i%rows)) so the
    * signature is a base-p positional encoding — distinct hash tuples
    * never collide within a band (a uniform scale would make the sum
    * order-insensitive). rows <= 3 keeps mh * p^(rows-1) < 2^63. */
  def lshBands(mh: DataFrame, rows: Int = 2, p: Long = 1000003L): DataFrame = {
    require(rows >= 1 && rows <= 3, s"rows=$rows would overflow the base-p signature")
    val mult = Seq.iterate(1L, rows)(_ * p).reverse // p^(rows-1) ... p^0
    mh.withColumn("band", expr(s"i div $rows"))
      .groupBy(col("doc_id"), col("band"))
      .agg(sum(col("mh") * element_at(array(mult.map(lit): _*), (col("i") % rows).cast("int") + 1)).as("sig"))
  }

  /** 16-bit SimHash over weighted token ids: bit j set iff
    * sum(cnt * (2*((tid*(2j+3)+j) mod 97 mod 2) - 1)) > 0. */
  def simhash(docTokenCounts: DataFrame, bits: Int = 16): DataFrame =
    docTokenCounts
      .withColumn("j", explode(sequence(lit(0), lit(bits - 1))))
      .withColumn("bitsign",
        ((col("tid") * (col("j") * 2 + 3) + col("j")) % 97 % 2) * 2 - 1)
      .groupBy(col("doc_id"), col("j"))
      .agg(sum(col("cnt") * col("bitsign")).as("acc"))
      .groupBy(col("doc_id"))
      .agg(sum(when(col("acc") > 0,
          expr("shiftleft(CAST(1 AS BIGINT), CAST(j AS INT))"))
        .otherwise(0L)).as("simhash"))

  /** 64-bit SimHash emitted as `bits/bandBits` band limbs
    * (doc_id, band, val): band b holds bits [b*bandBits, (b+1)*bandBits)
    * as a small non-negative integer. Splitting the signature into
    * limbs keeps every value far from the 2^63 sign bit (so the
    * arithmetic is portable to any engine) and directly feeds the
    * banded Hamming join: by pigeonhole, two signatures within Hamming
    * distance (bands-1) share at least one identical band, so pairing
    * on (band, val) equality is a complete candidate generator — no
    * all-pairs comparison (the scale fix for equal-signature pairing,
    * VERDICT round 1). */
  def simhashBands(docTokenCounts: DataFrame, bits: Int = 64,
                   bandBits: Int = 16): DataFrame = {
    require(bits % bandBits == 0 && bandBits < 63)
    // explode + two-level groupBy, all whole-stage-codegen'd. Measured
    // against two "clever" alternatives at sf0.1 and both lost:
    // a collect_list + elementwise HOF fold (interpreted lambda per
    // element) and a custom TypedImperativeAggregate (kicks the whole
    // aggregate out of codegen). The explode's partial HashAggregate
    // already combines to (docs x bits) rows per partition map-side,
    // so the exploded rows never cross the exchange anyway.
    docTokenCounts
      .withColumn("j", explode(sequence(lit(0), lit(bits - 1))))
      .withColumn("bitsign",
        ((col("tid") * (col("j") * 2 + 3) + col("j")) % 97 % 2) * 2 - 1)
      .groupBy(col("doc_id"), col("j"))
      .agg(sum(col("cnt") * col("bitsign")).as("acc"))
      .withColumn("band", expr(s"j div $bandBits"))
      .groupBy(col("doc_id"), col("band"))
      .agg(sum(when(col("acc") > 0,
          expr(s"shiftleft(CAST(1 AS BIGINT), CAST(j % $bandBits AS INT))"))
        .otherwise(0L)).as("val"))
  }

  /** Per-row MinHash signature array (nh hashes) — the map-side form
    * of `minhash(shingleIds(docs, k), nh, p)` pivoted to one row per
    * doc (r21; see [[graft.plans.MinHashSigs]] — TextOpsSpec pins
    * bit-equality). A doc too short to shingle gets an all-NULL
    * array (the aggregate form emitted no rows; null band signatures
    * can never collide, so the candidate sets agree). */
  def minhashSigs(textCol: Column, k: Int, nh: Int = 16,
                  p: Long = 1000003L): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(graft.plans.MinHashSigs(Bridge.expression(textCol), k, nh, p))
  }

  /** Banded (doc_id, band, sig) rows off the per-row signature — the
    * map-side form of `lshBands(minhash(...), rows = 2, p)`: band b's
    * signature is the base-p positional fold mh[2b]*p + mh[2b+1],
    * exactly lshBands' sum of positionally-scaled hashes. Docs too
    * short to shingle produce NULL sigs that no equi-join can match
    * (the aggregate form emitted no rows at all — same pair sets). */
  def minhashBands(docs: DataFrame, k: Int, nh: Int = 16,
                   p: Long = 1000003L): DataFrame = {
    val mh = minhashSigs(col("text"), k, nh, p)
    docs.select(col("doc_id"), mh.as("__mh"))
      .select(col("doc_id"), posexplode(array((0 until nh / 2).map { b =>
        (element_at(col("__mh"), 2 * b + 1) * p +
          element_at(col("__mh"), 2 * b + 2)).as(s"s$b")
      }: _*)).as(Seq("band", "sig")))
  }

  /** Per-row band limbs of the 64-bit SimHash — the map-side form of
    * `simhashBands(toks.groupBy(doc_id, tok).count, bits, bandBits)`
    * pivoted to one row per doc (r21: the aggregate pipeline paid three
    * corpus exchanges for doc-local quantities; see
    * [[graft.plans.SimHashLimbs]] for the bit-equality argument —
    * TextOpsSpec pins it). Returns array<long> of bits/bandBits limbs,
    * limb b = bits [b*bandBits, (b+1)*bandBits). */
  def simhashLimbs(textCol: Column, bits: Int = 64, bandBits: Int = 16): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(graft.plans.SimHashLimbs(Bridge.expression(textCol), bits, bandBits))
  }

  /** Content-defined chunk array (LBFS/FastCDC family, pure local
    * rule): cut where the rolling hash of the trailing `w` codepoints
    * is ≡ 0 mod `divisor` — see [[graft.plans.CdcChunks]]. The
    * storage-style dedup plane: identical runs shared across docs
    * chunk identically at any offset, so chunk-hash groupBy dedup
    * finds them without alignment. */
  def cdcChunks(textCol: Column, w: Int = 8, divisor: Long = 64L): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(graft.plans.CdcChunks(Bridge.expression(textCol), w, divisor))
  }

  /** Polynomial rolling hash of the full text, mod 1e9+7 — a stable
    * document fingerprint (content-defined identity). Codegen'd native
    * expression ([[graft.plans.RollingHash]]); `HashExprSpec.fingerprintHof`
    * is the built-in-functions form it replaced (bit-equal — HashExprSpec). */
  def fingerprint(text: Column): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(graft.plans.RollingHash(Bridge.expression(text)))
  }

  /** Quality-score components (length/uniqueness/token stats) — the
    * pure-expression form of per-doc quality filters. */
  def qualityColumns(textCol: Column): Seq[(String, Column)] = {
    val toks = split(textCol, " ")
    val ntok = size(toks)
    Seq(
      "n_tok" -> ntok,
      "n_chars" -> length(textCol),
      "avg_tok_len" -> ((length(textCol) - (ntok - 1)).cast("double") / ntok.cast("double")),
      "uniq_ratio" -> (size(array_distinct(toks)).cast("double") / ntok.cast("double")))
  }

  /** Per-row MinHash band signature — the streaming form of
    * [[minhash]]+[[lshBands]]: shingle set, hash family, and a 2-row
    * band folded into ONE pure expression tree (no explode, no
    * aggregation), so it runs on a streaming DataFrame in append mode.
    * Shingle ids are xxhash64 (codegen'd builtin — the streaming path
    * has no DuckDB oracle, so cross-engine portability doesn't bind
    * here); the two minhashes use wrapping multipliers like
    * [[minhash]]'s family. Docs too short to shingle yield NULL —
    * callers pick the fallback. */
  def minhashBandSig(textCol: Column, k: Int = 3, band: Int = 0): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    require(band >= 0 && band < 1000, "band multiplier must stay < 2^63 / P")
    val P = 1000000007L
    // reduce the 64-bit shingle id into [0, P) BEFORE the hash-family
    // multiply: sid < P keeps sid * a < 2^63 (ANSI mode makes a silent
    // wrap an ARITHMETIC_OVERFLOW error instead)
    val sids = transform(
      Bridge.column(graft.plans.Shingles(Bridge.expression(textCol), k)),
      sh => pmod(xxhash64(sh), lit(P)))
    // independent hash pair per band (OR-construction families)
    val (a1, b1) = (2654435761L + 1000003L * band, 1L + 7L * band)
    val (a2, b2) = (2246822519L + 999983L * band, 7L + 11L * band)
    val h1 = array_min(transform(sids, s => pmod(s * lit(a1) + lit(b1), lit(P))))
    val h2 = array_min(transform(sids, s => pmod(s * lit(a2) + lit(b2), lit(P))))
    h1 * lit(P) + h2
  }

  /** PII patterns shared by the scrubber and its match counters. Every
    * regex here is valid — with identical match semantics — in BOTH
    * Java regex (Spark codegen'd regexp_replace/regexp_count) and RE2
    * (the DuckDB oracle): greedy quantifiers and character classes
    * only, no lookaround, no backrefs, no word boundaries. */
  val piiPatterns: Seq[(String, String)] = Seq(
    "EMAIL" -> "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "PHONE" -> "[0-9]{3}-[0-9]{3}-[0-9]{4}",
    "IP" -> "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}")

  /** Redact every PII match with a <TYPE> token. Emails are scrubbed
    * first so an address's host part is gone before the IP rule runs;
    * phone (dashed) and IP (dotted) can't overlap each other. Pure
    * per-row expression chain — embarrassingly parallel, no shuffle. */
  def scrubPii(textCol: Column): Column =
    piiPatterns.foldLeft(textCol) { case (c, (name, pat)) =>
      regexp_replace(c, pat, s"<$name>")
    }

  /** Stopword-profile language scorer: fraction of tokens found in a
    * per-language stopword list (n-gram-free heuristic langid). */
  def stopwordRatio(textCol: Column, stopwords: Seq[String]): Column = {
    val toks = split(textCol, " ")
    val hits = filter(toks, t => stopwords.map(w => t === lit(w)).reduce(_ || _))
    size(hits).cast("double") / size(toks).cast("double")
  }
}
