package graft.queries

import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.text.PhraseSearch
import Q._

/** Caption phrase/boolean search coverage (SURVEY §3.3 / §2 group 4):
  * the reference's caption-index query language re-expressed as
  * position joins and one-pass boolean aggregates over the postings. */
object PhraseQueries {

  val queries: Map[String, QFn] = Map(
    // PH1: exact n-gram phrase occurrences with positions
    "ph01_phrase_hits" -> ((s, d) =>
      PhraseSearch.phraseHits(toks(s, d), Seq("the", "customer"))
        .orderBy("doc_id", "pos")),

    // PH2: boolean query language -> doc-id set
    "ph02_boolean_search" -> ((s, d) => {
      val t = toks(s, d)
      val universe = Tables.documents(tune(s), d).select("doc_id")
      PhraseSearch.search("""spark AND (window OR NOT batch)""", t, universe)
        .orderBy("doc_id")
    }),

    // PH3: the reference's end-to-end caption-search user journey
    // (captions.py:147-179 _get_lowercase_segments; same shape as the
    // topic-segment pipelines): a boolean query narrows the doc
    // universe, token hits become intervals on the token timeline,
    // dilate ±5 (clamped at 0), per-doc coalesce merges hit clusters
    // into segments carrying their hit count, and a min-length filter
    // drops isolated mentions. Every stage is the library operator its
    // standalone query already checks (ph02 search / ph01 hits /
    // r02 dilate / r01+r16 coalesce+payload / r03 filter_length),
    // composed end-to-end and still oracle-exact.
    "ph03_phrase_segments" -> ((s, d) => {
      import graft.operators.IntervalOps
      val t = toks(s, d)
      val universe = Tables.documents(tune(s), d).select("doc_id")
      val docSet =
        PhraseSearch.search("""customer AND NOT "slow scan"""", t, universe)
      val c = IntervalOps.Cols("doc_id")
      val hits = PhraseSearch.phraseHits(t, Seq("customer"))
        .join(docSet, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("pos").cast("long").as("s"),
          (col("pos") + 1).cast("long").as("e"))
      val segs = IntervalOps.coalesce(
        IntervalOps.dilate(hits, 5, c, clampAtZero = true), c,
        payloadAggs = Seq(count(lit(1)).as("n_hits")))
      IntervalOps.filterLength(segs, 12, c = c)
        .orderBy("doc_id", "s")
    }),

    // PH4: BM25 ranked retrieval — the relevance-ranked upgrade of the
    // reference's count-ordered caption search (captions.py:126-140).
    // Log-free rational idf + micro-integer per-term scores keep the
    // ranking oracle-exact (see PhraseSearch.bm25TopK's scaladoc).
    "ph04_bm25_topk" -> ((s, d) =>
      PhraseSearch.bm25TopK(
        Tables.documents(tune(s), d).select("doc_id", "text"),
        Seq("customer", "spark", "vector"), k = 10)),

    // PH5: proximity (NEAR/k) search — "spark" within 8 tokens of
    // "window". Width-k position bands turn the |p_a − p_b| <= k
    // theta predicate into one (doc, bucket) equi join (a-side posts
    // ±1 buckets; each within-k pair collides exactly once).
    "ph05_near_search" -> ((s, d) =>
      PhraseSearch.proximityHits(toks(s, d), "spark", "window", 8)
        .orderBy("doc_id", "p_a", "p_b")),

    // PH6: the SERVED phrase search — answer ph01's phrase from the
    // persistent inverted index (postings partitioned by token-hash
    // bucket, the production 100 TB layout: tokenize once, serve from
    // pruned bucket dirs). Oracle = ph01's SQL: the served path must
    // be indistinguishable from the in-process one. PhraseIndexSpec
    // asserts the scan actually prunes (PartitionFilters on bucket).
    // The index is built ONCE per corpus per JVM (Q.memoIndex, shared
    // by ph06-ph09) so the timed query measures SERVE latency — the
    // property the layout exists to provide; Bench reports the
    // one-time build separately (index_build_sec).
    "ph06_served_phrase" -> ((s, d) => {
      val dir = phIdx(s, d)
      PhraseSearch.servedPhraseHits(s, dir, Seq("the", "customer"))
        .orderBy("doc_id", "pos")
    }),

    // PH7: served NEAR/k — ph05's proximity query from the same
    // persisted index layout (two vocabulary buckets read, nothing
    // else).
    "ph07_served_near" -> ((s, d) => {
      val dir = phIdx(s, d)
      PhraseSearch.servedProximityHits(s, dir, "spark", "window", 8)
        .orderBy("doc_id", "p_a", "p_b")
    }),

    // PH8: served BOOLEAN search — ph02's query language evaluated
    // entirely from the index: postings from the vocabulary's pruned
    // buckets, the NOT-universe from the doclen sidecar. With ph09
    // this completes SURVEY §3.3's serve story: every caption-language
    // form (phrase, NEAR, boolean, ranked) has a served path.
    "ph08_served_boolean" -> ((s, d) =>
      PhraseSearch.servedSearch(s, phIdx(s, d),
          """spark AND (window OR NOT batch)""")
        .orderBy("doc_id")),

    // PH9: served BM25 — ph04's ranked retrieval with tf from the
    // pruned term postings, dl from the doclen sidecar, df/N/L as one
    // broadcast scalar aggregate. Same integer micro-score arithmetic,
    // so ph04's oracle applies verbatim.
    "ph09_served_bm25" -> ((s, d) =>
      PhraseSearch.servedBm25TopK(s, phIdx(s, d),
        Seq("customer", "spark", "vector"), k = 10)),

    // PH10: INCREMENTAL index maintenance — build the index on half
    // the corpus (even doc_ids), appendIndex the other half as a new
    // batch (the daily-crawl shape: new files in the same bucket
    // dirs, stored modulus, no rebuild), then serve ph01's phrase.
    // Oracle = ph01's full-corpus SQL: full-rebuild ≡ build+append.
    "ph10_appended_phrase" -> ((s, d) => {
      val t = toks(s, d)
      val dir = Q.memoIndex("ph10", d) { dir =>
        PhraseSearch.writeIndex(
          t.filter(col("doc_id") % 2 === 0), dir, nBuckets = 64)
        PhraseSearch.appendIndex(t.filter(col("doc_id") % 2 === 1), dir)
      }
      PhraseSearch.servedPhraseHits(s, dir, Seq("the", "customer"))
        .orderBy("doc_id", "pos")
    }),

    // PH12: HYBRID retrieval — the lexical arm (ph04's BM25, top-50)
    // fused with a semantic arm (v08's exact-integer int8 dot against
    // doc 0's embedding, top-50) by Borda count: each arm contributes
    // (60 − rank) for its top-50, fused score = sum, top-10 by
    // (fused desc, doc_id). Rank fusion is THE standard way a
    // training-data / RAG pipeline combines keyword and embedding
    // retrieval, and Borda (unlike reciprocal-rank fusion's 1/(k+r)
    // doubles) is integer end to end, so the whole query is
    // oracle-exact. Scale shape: each arm ends in a TakeOrdered
    // top-50; the rank windows run over those 50-row frames, never
    // the corpus; the fusion join is 50x50.
    "ph12_hybrid_fusion" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(tune(s), d).select("doc_id", "text")
      val e = Tables.embeddings(tune(s), d)
      val tw = Window.orderBy(col("bm25_micro").desc, col("doc_id"))
      val tr = PhraseSearch.bm25TopK(docs, Seq("customer", "spark", "vector"), 50)
        .withColumn("r_t", row_number().over(tw))
        .select(col("doc_id"), (lit(60) - col("r_t")).cast("long").as("b_t"))
      // single-query arm: TakeOrdered top-50, THEN rank the 50-row
      // frame — int8TopK's per-query rank window would run over the
      // whole scored corpus in one partition for a 1-query set
      val vw = Window.orderBy(col("qdot").desc, col("doc_id"))
      val vr = graft.similarity.Similarity
        .int8Scores(e, e.filter(col("vec_id") === 0))
        .select(col("vec_id").as("doc_id"), col("qdot"))
        .orderBy(col("qdot").desc, col("doc_id")).limit(50)
        .withColumn("r_v", row_number().over(vw))
        .select(col("doc_id"), (lit(60) - col("r_v")).cast("long").as("b_v"))
      tr.join(vr, Seq("doc_id"), "full_outer")
        .na.fill(0L, Seq("b_t", "b_v"))
        .select(col("doc_id"), (col("b_t") + col("b_v")).as("borda"))
        .orderBy(col("borda").desc, col("doc_id"))
        .limit(10)
    }),

    // PH13: full-index integrity audit — read EVERY posting row from
    // the persisted index and aggregate per bucket (posting count,
    // distinct terms, distinct docs); the oracle recomputes the same
    // aggregates from the raw corpus with the bucket formula mirrored
    // (rolling hash mod nBuckets). Unlike ph06-ph09 (which prove the
    // served ANSWER right for one query), this proves the index
    // CONTENTS complete and correctly bucketed — the operational
    // health check a serving index runs after each build/append, and
    // the direct observability for bucket skew (a hot bucket shows up
    // as an outlier n_postings row).
    "ph13_index_audit" -> ((s, d) => {
      val dir = phIdx(s, d)
      PhraseSearch.rawPostings(tune(s), dir)
        .groupBy(col("bucket").cast("long").as("bucket"))
        .agg(count(lit(1)).as("n_postings"),
          countDistinct(col("tok")).as("n_terms"),
          countDistinct(col("doc_id")).as("n_docs"))
        .orderBy("bucket")
    }),

    // PH11: COMPACTION — the full maintenance lifecycle (build half,
    // append half, compact back to one sorted file set per bucket),
    // then serve ph01's phrase. Compaction is a layout rewrite of the
    // index itself; the oracle (ph01's full-corpus SQL) proves it
    // changes nothing observable.
    "ph11_compacted_phrase" -> ((s, d) => {
      val t = toks(s, d)
      val dir = Q.memoIndex("ph11", d) { dir =>
        PhraseSearch.writeIndex(
          t.filter(col("doc_id") % 2 === 0), dir, nBuckets = 64)
        PhraseSearch.appendIndex(t.filter(col("doc_id") % 2 === 1), dir)
        PhraseSearch.compactIndex(s, dir)
      }
      PhraseSearch.servedPhraseHits(s, dir, Seq("the", "customer"))
        .orderBy("doc_id", "pos")
    }),

    // PH14: DELETION — build the full index, tombstone every doc with
    // doc_id ≡ 3 (mod 7) (a takedown/purge batch: one tiny sidecar
    // write, no index rewrite), then serve ph01's phrase. The
    // tombstoned docs must vanish immediately — oracle = ph01's SQL
    // over the corpus minus the deleted docs, i.e. serving a deleted
    // index is indistinguishable from rebuilding on what remains.
    "ph14_deleted_phrase" -> ((s, d) =>
      PhraseSearch.servedPhraseHits(s, phDelIdx(s, d), Seq("the", "customer"))
        .orderBy("doc_id", "pos")),

    // PH15: deletion must shift the GLOBAL ranking stats too — BM25's
    // N/L/avgdl (live doclen rows) and per-term df (live postings) —
    // not just drop rows from results. Oracle = ph04's SQL with the
    // token table filtered to surviving docs: every deleted doc
    // changes every surviving doc's score via the corpus stats, so a
    // stale-stats serve path would hash-mismatch.
    "ph15_deleted_bm25" -> ((s, d) =>
      PhraseSearch.servedBm25TopK(s, phDelIdx(s, d),
        Seq("customer", "spark", "vector"), k = 10)),

    // PH16: physical RECLAIM — delete, then compact: compaction drops
    // the tombstoned docs' rows from postings and doclen during its
    // rewrite and clears the sidecar (PhraseIndexSpec asserts the
    // rows and the tombstone dir are gone). Same oracle as ph14: the
    // logical-delete view and the reclaimed layout must agree.
    "ph16_reclaimed_phrase" -> ((s, d) => {
      val t = toks(s, d)
      val dir = Q.memoIndex("ph16", d) { dir =>
        PhraseSearch.writeIndex(t, dir, nBuckets = 64)
        PhraseSearch.deleteFromIndex(
          Tables.documents(tune(s), d).filter(col("doc_id") % 7 === 3)
            .select("doc_id"), dir)
        PhraseSearch.compactIndex(s, dir)
      }
      PhraseSearch.servedPhraseHits(s, dir, Seq("the", "customer"))
        .orderBy("doc_id", "pos")
    }),

    // PH17: UPSERT (the re-crawl shape — the reference re-ingests
    // changed videos, scannerutil.py:136-146 + the Video FK cascade):
    // build the index on a STALE corpus (docs ≡ 2 mod 5 truncated to
    // their first 10 tokens; docs ≡ 0 mod 11 missing entirely), then
    // one upsertIndex call with the corrected/new docs' full token
    // rows — tombstone at seq S kills every older version, the
    // replacement rows written AT S survive it, nothing is rewritten.
    // Oracle = ph01's FULL-corpus SQL: a stale-then-upserted index
    // must be indistinguishable from one built on the corrected
    // corpus.
    "ph17_upserted_phrase" -> ((s, d) =>
      PhraseSearch.servedPhraseHits(s, phUpsIdx(s, d), Seq("the", "customer"))
        .orderBy("doc_id", "pos")),

    // PH18: the upsert must converge the GLOBAL ranking stats too —
    // BM25's N/L/avgdl (doclen) and per-term df over the corrected
    // corpus, not the stale one: the truncated docs shorten L and the
    // missing docs shrink N, so serving stale stats would shift every
    // surviving doc's score and hash-mismatch. Oracle = ph04's
    // full-corpus SQL.
    "ph18_upserted_bm25" -> ((s, d) =>
      PhraseSearch.servedBm25TopK(s, phUpsIdx(s, d),
        Seq("customer", "spark", "vector"), k = 10)),

    // PH19: the maintenance lifecycle driven by CHANGE DETECTION —
    // t63's corpus snapshot diff classifies every document
    // (added/changed/removed), and an index built on YESTERDAY's
    // snapshot is synced with exactly the ops the diff prescribes:
    // removed ids tombstoned, changed+added docs upserted in one
    // batch (added ids degenerate to plain appends). This is the
    // daily loop a 100 TB corpus index runs: one equi-join diff,
    // batch-sized maintenance writes, zero rebuild. Oracle = ph01's
    // full-corpus SQL: the synced index must be indistinguishable
    // from one built on TODAY's corpus.
    "ph19_synced_phrase" -> ((s, d) =>
      PhraseSearch.servedPhraseHits(s, phSyncIdx(s, d), Seq("the", "customer"))
        .orderBy("doc_id", "pos")),

    // PH20: the sync converges the GLOBAL ranking stats too — the
    // mixed delete+upsert batch shifts BM25's N/L/df exactly to
    // today's corpus (the removed block shrinks N, the upserted
    // drafts lengthen their dl). Oracle = ph04's full-corpus SQL.
    "ph20_synced_bm25" -> ((s, d) =>
      PhraseSearch.servedBm25TopK(s, phSyncIdx(s, d),
        Seq("customer", "spark", "vector"), k = 10)),

    // PH21: SHARD MERGE — the distributed build shape: two builders
    // index disjoint corpus halves in parallel (shared modulus, no
    // other coordination), each absorbs a takedown batch (doc_id ≡ 3
    // mod 7; ids the shard doesn't hold are no-ops), then one merge
    // job folds the shards into a single serving layout, resolving
    // both tombstone sets during the rewrite (Lucene's segment
    // merge). Oracle = ph14's deleted-corpus SQL: the merged index
    // must be indistinguishable from a fresh build on the union of
    // the shards' LIVE docs.
    "ph21_merged_phrase" -> ((s, d) =>
      PhraseSearch.servedPhraseHits(s, phMrgIdx(s, d), Seq("the", "customer"))
        .orderBy("doc_id", "pos")),

    // PH22: the merged doclen sidecar carries the global stats — BM25
    // over the merged index must score with the union-of-live-docs
    // N/L/df, not either shard's. Oracle = ph15's deleted-corpus SQL.
    "ph22_merged_bm25" -> ((s, d) =>
      PhraseSearch.servedBm25TopK(s, phMrgIdx(s, d),
        Seq("customer", "spark", "vector"), k = 10)),

    // PH23: TIME TRAVEL — serve ph01's phrase from snapshot 1 of the
    // upserted index (ph17's layout: stale build = event 0, the
    // upsert's tombstone+append = events 1-2). Every maintenance
    // batch is a versioned event, so `asOf = 1` must reproduce the
    // STALE corpus exactly — the reproducibility hook a training-data
    // pipeline needs ("rebuild the corpus view that produced run X"
    // after the corpus moved on). The read is the same pruned-bucket
    // scan with two extra pushed-down predicates (seq < S,
    // upto < S); no second layout, no rewrite. Oracle = ph01's SQL
    // over the stale corpus (docs ≡ 0 mod 11 absent, docs ≡ 2 mod 5
    // truncated to their first 10 tokens).
    "ph23_asof_phrase" -> ((s, d) =>
      PhraseSearch.servedPhraseHits(s, phUpsIdx(s, d), Seq("the", "customer"),
          asOf = Some(1L))
        .orderBy("doc_id", "pos")),

    // PH24: the snapshot read must reproduce the GLOBAL ranking stats
    // of that moment too — BM25's N/L/df as the stale corpus had
    // them, not today's (the upserted docs changed L and df for every
    // surviving doc). A stale-stats bug in either direction
    // hash-mismatches. Oracle = ph04's SQL over the stale corpus.
    "ph24_asof_bm25" -> ((s, d) =>
      PhraseSearch.servedBm25TopK(s, phUpsIdx(s, d),
        Seq("customer", "spark", "vector"), k = 10, asOf = Some(1L))),

    // PH25: as-of BOOLEAN search — ph08's query language served from
    // snapshot 1 of the upserted index. The NOT-universe must
    // time-travel too: it comes from the doclen sidecar cut to the
    // snapshot, so a NOT arm neither resurrects docs that hadn't been
    // crawled yet nor keeps docs whose replacement arrived later.
    // With ph23/ph24 this gives every §3.3 served form an as-of
    // variant. Oracle = ph02's boolean over the stale corpus tokens.
    "ph25_asof_boolean" -> ((s, d) =>
      PhraseSearch.servedSearch(s, phUpsIdx(s, d),
          """spark AND (window OR NOT batch)""", asOf = Some(1L))
        .orderBy("doc_id")),

    // PH26: ROLLBACK — the undo for a bad maintenance batch. The
    // index takes a bad upsert AND a bad delete after its base build,
    // then [[PhraseSearch.rollbackIndex]] truncates the event log
    // back to snapshot 1: rows written at events >= 1 and tombstones
    // recorded at events >= 1 are PHYSICALLY dropped and the counter
    // reset, so serving HEAD (no asOf) must equal what the as-of read
    // answered before — and maintenance continues from the freed
    // slot. ph23 proves the historical state is readABLE; this proves
    // it is restorABLE as the live index. Oracle = ph23's stale-
    // corpus SQL, served here at HEAD.
    "ph26_rollback_phrase" -> ((s, d) =>
      PhraseSearch.servedPhraseHits(s, phRbkIdx(s, d), Seq("the", "customer"))
        .orderBy("doc_id", "pos")),

    // PH27: the rollback must restore the GLOBAL ranking stats too —
    // doclen is truncated alongside the postings, so BM25's N/L/df at
    // HEAD are the stale corpus's (a rollback that only fixed the
    // postings would score with post-upsert stats and hash-mismatch).
    // Oracle = ph24's stale-corpus BM25 SQL, served at HEAD.
    "ph27_rollback_bm25" -> ((s, d) =>
      PhraseSearch.servedBm25TopK(s, phRbkIdx(s, d),
        Seq("customer", "spark", "vector"), k = 10)),

    // PH28: KWIC SNIPPETS — the presentation step a search serving
    // path ends with: for every served phrase hit, the +/-2-token
    // context window around the match, rendered as one string. The
    // hits come from the index (pruned-bucket scan); the context
    // comes from re-tokenizing ONLY the hit documents — a broadcast
    // semi-join keeps the corpus scan result-sized (the forward-index
    // read every KWIC/highlighter does), never corpus-sized. Window
    // membership is a banded positions join; the window's token order
    // is restored with one array_sort per hit, not a sort shuffle.
    "ph28_kwic_snippets" -> ((s, d) => {
      val hits = PhraseSearch.servedPhraseHits(s, phIdx(s, d),
        Seq("the", "customer"))
      val ctx = toks(s, d)
        .join(broadcast(hits.select(col("doc_id")).distinct()),
          Seq("doc_id"), "left_semi")
        .select(col("doc_id").as("c_doc"), col("pos").as("c_pos"), col("tok"))
      hits.join(ctx, col("doc_id") === col("c_doc") &&
          col("c_pos").between(col("pos") - 2, col("pos") + 3))
        .groupBy(col("doc_id"), col("pos"))
        .agg(array_join(
          transform(array_sort(collect_list(struct(col("c_pos"), col("tok")))),
            x => x.getField("tok")), " ").as("snippet"))
        .orderBy("doc_id", "pos")
    }),

    // PH29: RETENTION VACUUM — the policy between logical delete
    // (keeps all history) and compaction (reclaims to HEAD, keeps
    // none): physically reclaim only what no snapshot >= the
    // watermark can see, refuse older as-of reads loudly (liveOnly
    // checks the persisted watermark), keep younger history exact.
    // The takedown's rows are physically gone after the vacuum here
    // (watermark = current seq, so its tombstone is fully aged), yet
    // serving HEAD must be indistinguishable from the logical-delete
    // state — ph14's deleted-corpus oracle verbatim.
    "ph29_vacuumed_phrase" -> ((s, d) =>
      PhraseSearch.servedPhraseHits(s, phVacIdx(s, d), Seq("the", "customer"))
        .orderBy("doc_id", "pos")),

    // PH30: FILTERED ranking — v41's allow-list pre-filter on the
    // text plane (tenant/collection scoping: "top BM25 docs WITHIN
    // this slice"). The filter semi-joins the candidate rows before
    // the top-k, so all 10 slots fill with in-scope docs; the corpus
    // stats (N, L, df) deliberately stay GLOBAL — a per-filter df
    // would re-rank identically-matching docs differently per tenant.
    // The oracle pins both halves: scores computed from global stats,
    // ranking restricted to the slice.
    "ph30_filtered_bm25" -> ((s, d) =>
      PhraseSearch.servedBm25TopK(s, phIdx(s, d),
        Seq("customer", "spark", "vector"), k = 10,
        allowed = Some(Tables.documents(tune(s), d)
          .filter(col("doc_id") % 3 === 1).select("doc_id")))),

    // PH31: BATCH phrase search — a TABLE of phrases answered in ONE
    // pass over the index (the batch-inference shape: a training-data
    // pipeline matches thousands of patterns per corpus sweep; one
    // scan per phrase would be corpus-thousands of scans). The phrase
    // set becomes a broadcast terms dimension (query_id, off, tok);
    // one pruned postings read (union of all phrase vocabularies)
    // joins it, each match votes for an alignment start = pos - off,
    // a start with ALL of its phrase's offsets present is a hit —
    // count-equals-length per (query, doc, start), no per-phrase
    // position self-joins at all (arbitrary phrase length, same one
    // aggregate). Oracle replays the alignment votes in SQL.
    "ph31_batch_phrase" -> ((s, d) => {
      val phrases: Seq[(Long, Seq[String])] = Seq(
        0L -> Seq("the", "customer"),
        1L -> Seq("slow", "hash", "batch"),
        2L -> Seq("window", "fast", "query"))
      import s.implicits._
      val terms = phrases.flatMap { case (q, ws) =>
        ws.zipWithIndex.map { case (w, i) => (q, i.toLong, w) }
      }.toDF("query_id", "off", "tok")
      val lens = phrases.map { case (q, ws) => (q, ws.length.toLong) }
        .toDF("query_id", "len")
      val vocab = phrases.flatMap(_._2).distinct
      PhraseSearch.servedPostings(s, phIdx(s, d), vocab)
        .join(broadcast(terms), "tok")
        .select(col("query_id"), col("doc_id"),
          (col("pos") - col("off")).as("start"))
        .groupBy(col("query_id"), col("doc_id"), col("start"))
        .agg(count(lit(1)).as("nmatch"))
        .join(broadcast(lens), "query_id")
        .filter(col("nmatch") === col("len"))
        .select(col("query_id"), col("doc_id"),
          col("start").cast("int").as("pos"))
        .orderBy("query_id", "doc_id", "pos")
    }),

    // PH32: PREFIX (wildcard) search — `cust*` expansion served from
    // the index. The bucket hash can't route a prefix, so this is the
    // one served read that touches every bucket dir — and the reason
    // the tok-sort invariant is maintained through build/append/
    // compact: the pushed StringStartsWith prunes at row-group
    // min/max granularity inside every file, so I/O tracks the
    // prefix range's posting volume, not the index size.
    "ph32_prefix_search" -> ((s, d) =>
      PhraseSearch.servedPrefixDocs(s, phIdx(s, d), "cust")
        .orderBy("doc_id", "tok")),

    // PH37: the MANIFEST as a query surface — one row per index
    // component with its live segment count and the snapshot's
    // version / sequence counter / retention watermark. The
    // observability a maintenance scheduler reads (segment counts
    // growing = compact soon), and an oracle row that pins the commit
    // protocol's accounting itself: a fresh build must be exactly
    // manifest v1, next_seq 1, one segment per data component, no
    // tombstones, no watermark — any drift in the protocol's
    // numbering hash-fails here before it confuses a lifecycle op.
    "ph37_index_manifest" -> ((s, d) =>
      graft.index.Manifest.describe(s, phIdx(s, d)).orderBy("component")),

    // PH38: WILDCARD PHRASE — phrase matching where a slot is a
    // prefix pattern ("the cust*"), served from the index: the exact
    // slot reads its statically pruned bucket, the starred slot goes
    // through the lexicon (range scan -> DPP -> pushed StartsWith),
    // and the position fold is ph01's left-semi join. The caption
    // feature the reference's SORTED lexicon exists for
    // (captions.py:13-30), now with positions.
    "ph38_wildcard_phrase" -> ((s, d) =>
      PhraseSearch.servedWildcardPhraseHits(s, phIdx(s, d),
          Seq("the", "cust*"))
        .orderBy("doc_id", "pos")),

    // PH39: WILDCARD terms in the boolean LANGUAGE — `cust* AND NOT
    // spark` served from the index: starred terms route through the
    // lexicon (ph32/ph38's pruning), exact terms keep their static
    // buckets, and the one-pass evaluator is unchanged.
    // With ph38 this closes §3.3's wildcard story: prefix expansion,
    // wildcard phrases, and wildcard boolean all serve pruned.
    "ph39_wildcard_boolean" -> ((s, d) =>
      PhraseSearch.servedSearch(s, phIdx(s, d), "cust* AND NOT spark")
        .orderBy("doc_id")),

    // PH40: NEAR/k as a LANGUAGE construct (r15 VERDICT miss #1) —
    // `(scan NEAR/6 merg*) AND NOT "slow table"` served from the
    // index: the proximity operator composes with wildcards, AND/NOT
    // and phrases inside ONE query string, the surface the
    // reference's caption language exposes (captions.py:99-103,
    // `HURRICANE & IRMA :: 30`). The wildcard NEAR operand routes
    // through the lexicon like ph39; the proximity join itself is the
    // ph05/ph07 banding (each side posts to ±1 width-k buckets — one
    // equi key per within-k pair, never a per-doc cross product).
    "ph40_near_language" -> ((s, d) =>
      PhraseSearch.servedSearch(s, phIdx(s, d),
          "(scan NEAR/6 merg*) AND NOT \"slow table\"")
        .orderBy("doc_id")),

    // PH43: the reference's literal `:: k` window spelling — n-ary
    // proximity over a conjunction with OR-alternatives
    // (`MOSUL & (BATTLE | SIEGE) :: 60`, stories.ipynb's key-phrase
    // form), served pruned: docs holding a 'scan' occurrence with a
    // merge-or-sort occurrence AND a 'table' occurrence both within
    // 12 positions of it (anchor-window semantics — the first
    // conjunct is the key term, the rest its context). Each partner
    // check is the ph05 banding; the anchor set only shrinks per
    // conjunct.
    "ph43_window_language" -> ((s, d) =>
      PhraseSearch.servedSearch(s, phIdx(s, d),
          "scan & (merge | sort) & table :: 12")
        .orderBy("doc_id")),

    // PH42: VERSION-HISTORY GC accounting under the reader-grace
    // window (r15 VERDICT stretch #8) — a maintenance history run
    // with gcRetainVersions = 2: five commits (build, two appends, a
    // delete, a compact), each gc pruning manifest versions older
    // than HEAD−2. The retained ledger is a protocol CONSTANT: v3/v4
    // survive with their sequence counters and segment totals, v1/v2
    // are pruned, and the compact's v5 carries the retention
    // watermark it advanced — pinning the pruning policy in the gate
    // the way ph37/v47 pin the commit accounting.
    "ph42_manifest_gc" -> ((s, d) => {
      val dir = Q.memoIndex("phgc", d) { dir =>
        val t = toks(s, d)
        val old = s.conf.get("spark.graft.index.gcRetainVersions", "0")
        s.conf.set("spark.graft.index.gcRetainVersions", "2")
        try {
          PhraseSearch.writeIndex(t.filter(col("doc_id") % 4 === 0),
            dir, nBuckets = 64)                                     // v1
          PhraseSearch.appendIndex(t.filter(col("doc_id") % 4 === 1), dir) // v2
          PhraseSearch.appendIndex(t.filter(col("doc_id") % 4 === 2), dir) // v3
          PhraseSearch.deleteFromIndex(                             // v4
            t.filter(col("doc_id") % 8 === 1).select("doc_id").distinct(),
            dir)
          PhraseSearch.compactIndex(s, dir)                         // v5
        } finally s.conf.set("spark.graft.index.gcRetainVersions", old)
      }
      graft.index.Manifest.history(s, dir).orderBy("version")
    }),

    // PH41: count-threshold factor + the reference operator
    // spellings — `spark{3} & (merg* | "slow scan")`: docs mentioning
    // spark at least 3 times (a per-doc posting count, grouped before
    // the boolean joins) intersected with a wildcard-or-phrase
    // disjunction, all in the short `&`/`|` forms the reference
    // queries use ('SEAN SPICER & [RESIGN]').
    "ph41_count_threshold" -> ((s, d) =>
      PhraseSearch.servedSearch(s, phIdx(s, d),
          "spark{3} & (merg* | \"slow scan\")")
        .orderBy("doc_id")),

    // PH33: SNAPSHOT DIFF — which docs changed between the stale
    // build (snapshot 1) and HEAD of the upserted index, classified
    // added/changed, computed ENTIRELY from the index (two as-of
    // scans, position-weighted integer signatures, one full-outer
    // join) — the reproducibility audit between two training runs'
    // corpus views without storing either corpus. t63 diffs two
    // CORPUS snapshots to decide maintenance; this diffs two INDEX
    // snapshots after the fact. Truncated docs whose first 10 tokens
    // were all they had are correctly NOT reported (their content
    // never differed) — the signature, not the event log, decides.
    "ph33_snapshot_diff" -> ((s, d) => {
      val dir = phUpsIdx(s, d)
      PhraseSearch.snapshotDiff(s, dir, 1L, PhraseSearch.currentSeq(s, dir))
        .orderBy("doc_id")
    }),

    // PH34: BATCH BM25 — ph31's one-pass batch shape on the RANKED
    // surface: a table of term-set queries scored in one pruned
    // postings read (union vocabulary), one global df/N/L, a
    // broadcast (query_id, tok) fan-out, and one rank window for all
    // per-query top-10s. The relevance-labeling shape: a training-
    // data pipeline scores thousands of topic queries per corpus
    // sweep, and per-query TakeOrdereds can't share the scan.
    "ph34_batch_bm25" -> ((s, d) =>
      PhraseSearch.servedBatchBm25TopK(s, phIdx(s, d), Seq(
          0L -> Seq("customer", "spark", "vector"),
          1L -> Seq("window", "batch"),
          2L -> Seq("slow", "hash", "table")), k = 10)
        .orderBy("query_id", "rank")),

    // PH35: FACETED search — the facet-panel data layer every search
    // UI ships next to its results: the boolean query's doc set
    // (served from the index) joined to the dimension columns and
    // counted per (lang, source). The hit set is result-sized, so the
    // metadata join is a broadcast semi on the documents scan — the
    // corpus is never re-scanned for the counts, and the facet agg is
    // map-side partial over the hit docs.
    "ph35_faceted_search" -> ((s, d) => {
      val hits = PhraseSearch.servedSearch(s, phIdx(s, d),
        """spark AND (window OR NOT batch)""")
      Tables.documents(tune(s), d)
        .join(broadcast(hits.select(col("doc_id"))), Seq("doc_id"), "left_semi")
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("lang", "source")
    }),

    // PH36: PENDING-RECLAIM backlog — the ops metric behind the
    // compaction/vacuum schedule: which doc ids are logically deleted
    // but still physically present (tombstoned, not yet reclaimed),
    // and at which event each takedown landed. One sidecar read; the
    // oracle knows the set because the scenario defines it (phDelIdx
    // tombstones docs ≡ 3 mod 7 at event 1, none reclaimed yet).
    "ph36_pending_deletes" -> ((s, d) =>
      PhraseSearch.pendingDeletes(s, phDelIdx(s, d)).orderBy("doc_id")),

    // PH44: INFLECTION GROUP `[WORD]` + count threshold — the
    // reference caption language's bracketed-lemma construct
    // ('SEAN SPICER & [RESIGN]', other_queries.py:251): `[scanning]`
    // matches every corpus member of the scanning-lemma family
    // (Inflect.expand — a closed exact-word set, so the served path
    // prunes to the family's hash buckets STATICALLY), `{2}` gates on
    // per-doc family frequency. The oracle bakes the SAME literal
    // family list — both engines match byte-identical vocabularies.
    "ph44_inflection_search" -> ((s, d) =>
      PhraseSearch.servedSearch(s, phIdx(s, d), "[scanning]{2} & customer")
        .orderBy("doc_id")),

    // PH45: BARE-WORD JUXTAPOSITION — the reference's own query
    // strings spell multi-word phrases inline with no quotes
    // ('STONEMAN DOUGLAS', stories.ipynb; 'SEAN SPICER',
    // other_queries.py:251): adjacent bare words fold into ONE phrase
    // exactly like the quoted form, so `slow scan | fast merge`
    // is two position-adjacency joins OR'd, then intersected with a
    // plain containment conjunct. SERVED (r19): the evaluator runs
    // off the pruned postings buckets of the 5-word vocabulary, not a
    // corpus tokenize — the in-process evaluator stays pinned to this
    // plan by PhraseIndexSpec's randomized serve-parity property, so
    // the bench row measures the 100 TB shape.
    "ph45_juxtaposed_phrase" -> ((s, d) =>
      PhraseSearch.servedSearch(s, phIdx(s, d),
          "(slow scan | fast merge) & customer")
        .orderBy("doc_id")),

    // PH46: NEAR over POSITION-BEARING SUBTREES (r16 VERDICT ask #8):
    // the right operand is an OR-alternative holding an inflection
    // group — positions of `merge | [scans]` = the union of both
    // branches' occurrence sets, banded against the customer anchors
    // with the ph05 width-k bucketing. Served: the whole vocabulary
    // (customer + merge + the scans family) prunes statically.
    "ph46_subtree_near" -> ((s, d) =>
      PhraseSearch.servedSearch(s, phIdx(s, d),
          "customer NEAR/6 (merge | [scans])")
        .orderBy("doc_id")),

    // PH47: CHAINED NEAR — `a NEAR/5 b NEAR/3 c` associates LEFT like
    // Within's fold: the customer anchors that have spark within 5
    // are then checked against window within 9 (anchor positions
    // survive each stage, so the second window measures from the
    // ORIGINAL anchor — not from spark). Each stage is one banded
    // equi-join; the anchor set only shrinks.
    "ph47_chained_near" -> ((s, d) =>
      PhraseSearch.servedSearch(s, phIdx(s, d),
          "customer NEAR/5 spark NEAR/9 window")
        .orderBy("doc_id")),

    // PH48: a JUXTAPOSED phrase as the anchor of the reference's
    // `:: k` window, SERVED — the full 'STONEMAN DOUGLAS & SHOOTING
    // :: 60' shape (stories.ipynb): the unquoted two-word phrase's
    // starts anchor the window, the second conjunct must occur within
    // 10 positions. Three pruned vocabulary buckets, the ph05 banding.
    "ph48_window_juxtaposed" -> ((s, d) =>
      PhraseSearch.servedSearch(s, phIdx(s, d), "slow scan & customer :: 10")
        .orderBy("doc_id"))
  )

  /** Shared merged index (ph21/ph22): two shard builds over disjoint
    * halves, a tombstone batch on each, one [[PhraseSearch.mergeIndexes]]. */
  private def phMrgIdx(s: org.apache.spark.sql.SparkSession, d: String): String =
    Q.memoIndex("phmrg", d) { dir =>
      val t = toks(s, d)
      val deadIds = Tables.documents(tune(s), d)
        .filter(col("doc_id") % 7 === 3).select("doc_id")
      val (shardA, shardB) = (s"$dir/shardA", s"$dir/shardB")
      PhraseSearch.writeIndex(t.filter(col("doc_id") % 2 === 0), shardA, 64)
      PhraseSearch.writeIndex(t.filter(col("doc_id") % 2 === 1), shardB, 64)
      PhraseSearch.deleteFromIndex(deadIds, shardA)
      PhraseSearch.deleteFromIndex(deadIds, shardB)
      PhraseSearch.mergeIndexes(s, Seq(shardA, shardB), dir)
      // the shards are build scratch — the merged layout is the index
      Seq(shardA, shardB).foreach(p => Q.rmTree(java.nio.file.Paths.get(p)))
    }

  /** Shared diff-synced index (ph19/ph20): build on t63's
    * deterministic "yesterday" snapshot (docs ending in 2 not yet
    * crawled, docs ending in 1 a 40-char draft, a retired id block at
    * +1e6), classify today's corpus against it with t63's full-outer
    * diff, then apply the diff as maintenance ops. */
  private def phSyncIdx(s: org.apache.spark.sql.SparkSession, d: String): String =
    Q.memoIndex("phsync", d) { dir =>
      val now = Tables.documents(tune(s), d).select(col("doc_id"), col("text"))
      val old = now.filter(col("doc_id") % 10 =!= 2)
        .select(col("doc_id"),
          when(col("doc_id") % 10 === 1, substring(col("text"), 1, 40))
            .otherwise(col("text")).as("text"))
        .unionByName(now.filter(col("doc_id") % 10 === 3)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      def tok(df: org.apache.spark.sql.DataFrame) =
        df.select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
      PhraseSearch.writeIndex(tok(old), dir, nBuckets = 64)
      val diff = now
        .join(old.select(col("doc_id"), col("text").as("old_text")),
          Seq("doc_id"), "full_outer")
      PhraseSearch.deleteFromIndex(
        diff.filter(col("text").isNull).select("doc_id"), dir)
      PhraseSearch.upsertIndex(tok(
        diff.filter(col("text").isNotNull &&
          (col("old_text").isNull || col("text") =!= col("old_text")))
          .select("doc_id", "text")), dir)
    }

  /** Shared stale-then-upserted index (ph17/ph18): base build on a
    * corrupted corpus (truncated + missing docs), then ONE
    * [[PhraseSearch.upsertIndex]] call with the corrected docs' full
    * token rows. A doc that is both changed and never-indexed
    * exercises the degenerate-append path inside the same batch. */
  private def phUpsIdx(s: org.apache.spark.sql.SparkSession, d: String): String =
    Q.memoIndex("phups", d) { dir =>
      val t = toks(s, d)
      val changed = col("doc_id") % 5 === 2
      val missing = col("doc_id") % 11 === 0
      PhraseSearch.writeIndex(
        t.filter(!missing && (!changed || col("pos") < 10)), dir, nBuckets = 64)
      PhraseSearch.upsertIndex(t.filter(changed || missing), dir)
    }

  /** Shared rolled-back index (ph26/ph27): phUpsIdx's stale build +
    * upsert, plus a delete batch on top — then ONE
    * [[PhraseSearch.rollbackIndex]] to snapshot 1 truncates all of it
    * (the upsert's replacement rows, its tombstone, and the delete's)
    * and the live HEAD is the stale build again. */
  private def phRbkIdx(s: org.apache.spark.sql.SparkSession, d: String): String =
    Q.memoIndex("phrbk", d) { dir =>
      val t = toks(s, d)
      val changed = col("doc_id") % 5 === 2
      val missing = col("doc_id") % 11 === 0
      PhraseSearch.writeIndex(
        t.filter(!missing && (!changed || col("pos") < 10)), dir, nBuckets = 64)
      PhraseSearch.upsertIndex(t.filter(changed || missing), dir)
      PhraseSearch.deleteFromIndex(
        Tables.documents(tune(s), d).filter(col("doc_id") % 7 === 3)
          .select("doc_id"), dir)
      PhraseSearch.rollbackIndex(s, dir, 1L)
    }

  /** Shared vacuumed index (ph29): phDelIdx's build + takedown, then
    * ONE [[PhraseSearch.vacuumIndex]] at the current seq — the
    * takedown's tombstone is fully aged, so its rows are physically
    * reclaimed and the sidecar cleared, with the watermark persisted. */
  private def phVacIdx(s: org.apache.spark.sql.SparkSession, d: String): String =
    Q.memoIndex("phvac", d) { dir =>
      PhraseSearch.writeIndex(toks(s, d), dir, nBuckets = 64)
      PhraseSearch.deleteFromIndex(
        Tables.documents(tune(s), d).filter(col("doc_id") % 7 === 3)
          .select("doc_id"), dir)
      PhraseSearch.vacuumIndex(s, dir, PhraseSearch.currentSeq(s, dir))
    }

  /** Shared deleted-but-not-yet-compacted index (ph14/ph15): full
    * build + one tombstone batch (doc_id ≡ 3 mod 7). */
  private def phDelIdx(s: org.apache.spark.sql.SparkSession, d: String): String =
    Q.memoIndex("phdel", d) { dir =>
      PhraseSearch.writeIndex(toks(s, d), dir, nBuckets = 64)
      PhraseSearch.deleteFromIndex(
        Tables.documents(tune(s), d).filter(col("doc_id") % 7 === 3)
          .select("doc_id"), dir)
    }

  /** The shared per-corpus persisted caption index (built once per
    * JVM; ph06-ph09 all serve from it — the production shape: one
    * batch build, many queries). */
  private def phIdx(s: org.apache.spark.sql.SparkSession, d: String): String =
    Q.memoIndex("phidx", d)(dir =>
      PhraseSearch.writeIndex(toks(s, d), dir, nBuckets = 64))

  /** A deterministic word list as a SQL IN-list literal (the words
    * are plain lowercase tokens — no quoting hazards). */
  private def sqlList(ws: Seq[String]): String =
    ws.map(w => s"'$w'").mkString(", ")

  // shared oracle bodies: the served/appended paths must return
  // EXACTLY what the in-process forms return — same SQL (the index is
  // a layout, not a semantics change)
  private val phraseHitsSql =
    s"""SELECT a.doc_id, CAST(a.pos AS INT) AS pos
       |FROM (${Q.toksSql}) a JOIN (${Q.toksSql}) b
       |  ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
       |WHERE a.tok = 'the' AND b.tok = 'customer'
       |ORDER BY 1, 2""".stripMargin

  // plain positions join + |Δ| filter (the oracle need not band; the
  // pair set is identical)
  private val nearSql =
    s"""SELECT a.doc_id, CAST(a.pos AS INT) AS p_a, CAST(b.pos AS INT) AS p_b
       |FROM (${Q.toksSql}) a JOIN (${Q.toksSql}) b
       |  ON b.doc_id = a.doc_id
       |WHERE a.tok = 'spark' AND b.tok = 'window'
       |  AND abs(a.pos - b.pos) <= 8
       |ORDER BY 1, 2, 3""".stripMargin

  private val booleanSql =
    """SELECT doc_id FROM documents
      |WHERE list_contains(string_split(text,' '), 'spark')
      |  AND (list_contains(string_split(text,' '), 'window')
      |       OR NOT list_contains(string_split(text,' '), 'batch'))
      |ORDER BY doc_id""".stripMargin

  // ph04/ph09: every arithmetic step mirrors the Spark expression tree
  // op-for-op (integer idf terms cast to DOUBLE, left-associated
  // products/sums, round-then-cast before the per-doc sum) so the
  // doubles are bit-identical and the BIGINT sum is order-free.
  private def bm25CtesFrom(tkSql: String) =
    s"""tk AS ($tkSql),
       |dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tk GROUP BY 1),
       |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM tk
       |       WHERE tok IN ('customer', 'spark', 'vector') GROUP BY 1, 2),
       |dfs AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dl) AS BIGINT) AS l FROM dl),
       |sc AS (SELECT tf.doc_id,
       |    CAST(round(
       |      (CAST(2 * (n - df) + 1 AS DOUBLE) / CAST(2 * df + 1 AS DOUBLE))
       |      * ((88.0 * tf * l) / (40.0 * tf * l + 12.0 * l + 36.0 * dl.dl * n))
       |      * 1000000, 0) AS BIGINT) AS sc
       |  FROM tf JOIN dfs ON dfs.tok = tf.tok
       |  JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN tot)""".stripMargin

  private[queries] val bm25Ctes = bm25CtesFrom(Q.toksSql)

  // ph14/ph15/ph16: the corpus with doc_id ≡ 3 (mod 7) deleted — the
  // served deleted index must be indistinguishable from a rebuild on
  // the surviving docs (including BM25's N/L/df corpus stats).
  private val delToksSql =
    s"SELECT * FROM (${Q.toksSql}) tdel WHERE doc_id % 7 <> 3"

  // ph23/ph24: the STALE corpus phUpsIdx's base build indexed (event
  // 0) — docs ≡ 0 mod 11 not yet crawled, docs ≡ 2 mod 5 truncated
  // to their first 10 tokens. An as-of-snapshot-1 read must be
  // indistinguishable from a rebuild on exactly this corpus.
  private val staleToksSql =
    s"""SELECT * FROM (${Q.toksSql}) tst
       |WHERE doc_id % 11 <> 0 AND (doc_id % 5 <> 2 OR pos < 10)""".stripMargin

  private val staleAsOfPhraseSql =
    s"""SELECT a.doc_id, CAST(a.pos AS INT) AS pos
       |FROM ($staleToksSql) a JOIN ($staleToksSql) b
       |  ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
       |WHERE a.tok = 'the' AND b.tok = 'customer'
       |ORDER BY 1, 2""".stripMargin

  private val staleAsOfBm25Sql =
    s"""WITH ${bm25CtesFrom(staleToksSql)}
       |SELECT doc_id, CAST(sum(sc) AS BIGINT) AS bm25_micro
       |FROM sc GROUP BY 1
       |ORDER BY bm25_micro DESC, doc_id LIMIT 10""".stripMargin

  // ph25: ph02's boolean evaluated over the stale corpus TOKENS (the
  // truncation can cut a term out of a doc's first 10 tokens, so the
  // raw-text oracle would be wrong here) — universe = docs the stale
  // corpus had at all.
  private val staleAsOfBooleanSql =
    s"""WITH st AS ($staleToksSql),
       |has AS (SELECT DISTINCT doc_id, tok FROM st)
       |SELECT DISTINCT doc_id FROM st
       |WHERE doc_id IN (SELECT doc_id FROM has WHERE tok = 'spark')
       |  AND (doc_id IN (SELECT doc_id FROM has WHERE tok = 'window')
       |       OR doc_id NOT IN (SELECT doc_id FROM has WHERE tok = 'batch'))
       |ORDER BY doc_id""".stripMargin

  private val deletedPhraseSql =
    s"""SELECT a.doc_id, CAST(a.pos AS INT) AS pos
       |FROM ($delToksSql) a JOIN ($delToksSql) b
       |  ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
       |WHERE a.tok = 'the' AND b.tok = 'customer'
       |ORDER BY 1, 2""".stripMargin

  private val deletedBm25Sql =
    s"""WITH ${bm25CtesFrom(delToksSql)}
       |SELECT doc_id, CAST(sum(sc) AS BIGINT) AS bm25_micro
       |FROM sc GROUP BY 1
       |ORDER BY bm25_micro DESC, doc_id LIMIT 10""".stripMargin

  private val bm25Sql =
    s"""WITH $bm25Ctes
       |SELECT doc_id, CAST(sum(sc) AS BIGINT) AS bm25_micro
       |FROM sc GROUP BY 1
       |ORDER BY bm25_micro DESC, doc_id LIMIT 10""".stripMargin

  // ph12: both arms reuse proven-exact arithmetic (bm25Ctes = ph04's
  // score; the int8 dot = v08's); Borda weights 60 − rank are integer,
  // so the fused ordering is cross-engine deterministic.
  private val hybridSql =
    s"""WITH $bm25Ctes,
       |bt AS (SELECT doc_id, CAST(sum(sc) AS BIGINT) AS bm25_micro
       |       FROM sc GROUP BY 1),
       |tr AS (SELECT doc_id, CAST(row_number() OVER (
       |         ORDER BY bm25_micro DESC, doc_id) AS BIGINT) AS r_t FROM bt),
       |trf AS (SELECT doc_id, CAST(60 - r_t AS BIGINT) AS b_t FROM tr
       |        WHERE r_t <= 50),
       |m AS (SELECT max(abs(CAST(x AS DOUBLE))) AS ma
       |      FROM (SELECT unnest(embedding) AS x FROM embeddings) u0),
       |z AS (SELECT c.vec_id, unnest(list_zip(q0.qe, c.embedding)) AS p
       |      FROM (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0) q0
       |      JOIN embeddings c ON c.vec_id <> 0),
       |dq AS (SELECT vec_id, CAST(sum(
       |         CAST(round(CAST(p[1] AS DOUBLE) * 127.0 / (SELECT ma FROM m)) AS BIGINT)
       |         * CAST(round(CAST(p[2] AS DOUBLE) * 127.0 / (SELECT ma FROM m)) AS BIGINT)
       |       ) AS BIGINT) AS qdot FROM z GROUP BY 1),
       |vr AS (SELECT vec_id AS doc_id, CAST(row_number() OVER (
       |         ORDER BY qdot DESC, vec_id) AS BIGINT) AS r_v FROM dq),
       |vrf AS (SELECT doc_id, CAST(60 - r_v AS BIGINT) AS b_v FROM vr
       |        WHERE r_v <= 50),
       |f AS (SELECT COALESCE(t.doc_id, v.doc_id) AS doc_id,
       |        COALESCE(t.b_t, 0) + COALESCE(v.b_v, 0) AS borda
       |      FROM trf t FULL OUTER JOIN vrf v ON v.doc_id = t.doc_id)
       |SELECT doc_id, CAST(borda AS BIGINT) AS borda FROM f
       |ORDER BY borda DESC, doc_id LIMIT 10""".stripMargin

  val oracle: Map[String, String] = Map(
    "ph06_served_phrase" -> phraseHitsSql,
    "ph07_served_near" -> nearSql,
    "ph08_served_boolean" -> booleanSql,
    "ph09_served_bm25" -> bm25Sql,
    "ph10_appended_phrase" -> phraseHitsSql,
    "ph11_compacted_phrase" -> phraseHitsSql,
    "ph12_hybrid_fusion" -> hybridSql,
    "ph14_deleted_phrase" -> deletedPhraseSql,
    "ph15_deleted_bm25" -> deletedBm25Sql,
    "ph16_reclaimed_phrase" -> deletedPhraseSql,
    // ph17/ph18: upsert converges to the corrected (= full) corpus,
    // so the plain full-corpus oracles apply verbatim
    "ph17_upserted_phrase" -> phraseHitsSql,
    "ph18_upserted_bm25" -> bm25Sql,
    // ph19/ph20: the diff-synced index converges to today's (= full)
    // corpus, so the full-corpus oracles apply verbatim
    "ph19_synced_phrase" -> phraseHitsSql,
    "ph20_synced_bm25" -> bm25Sql,
    // ph21/ph22: merge resolves both shards' tombstones, so the
    // deleted-corpus oracles (ph14/ph15's) apply verbatim
    "ph21_merged_phrase" -> deletedPhraseSql,
    "ph22_merged_bm25" -> deletedBm25Sql,
    // ph23/ph24: snapshot 1 of the upserted index = the stale corpus
    // the base build indexed, positions, BM25 stats and all
    "ph23_asof_phrase" -> staleAsOfPhraseSql,
    "ph24_asof_bm25" -> staleAsOfBm25Sql,
    "ph25_asof_boolean" -> staleAsOfBooleanSql,

    // ph26/ph27: rollback restores the stale build as the LIVE index
    // — same stale-corpus SQL as the as-of reads, served at HEAD
    "ph26_rollback_phrase" -> staleAsOfPhraseSql,
    "ph27_rollback_bm25" -> staleAsOfBm25Sql,

    // ph29: vacuum-at-HEAD ≡ the logical-delete state — ph14's oracle
    "ph29_vacuumed_phrase" -> deletedPhraseSql,

    // ph31: the alignment-vote batch matcher replayed in SQL — a
    // (query, doc, start) with ALL its phrase offsets present is a hit
    "ph31_batch_phrase" ->
      s"""WITH tk AS (${Q.toksSql}),
         |tm AS (SELECT * FROM (VALUES
         |  (0, 0, 'the'), (0, 1, 'customer'),
         |  (1, 0, 'slow'), (1, 1, 'hash'), (1, 2, 'batch'),
         |  (2, 0, 'window'), (2, 1, 'fast'), (2, 2, 'query'))
         |  v(query_id, off, tok)),
         |n AS (SELECT query_id, count(*) AS len FROM tm GROUP BY 1)
         |SELECT CAST(c.query_id AS BIGINT) AS query_id, c.doc_id,
         |  CAST(c.start AS INT) AS pos
         |FROM (SELECT t.query_id, k.doc_id, k.pos - t.off AS start
         |      FROM tk k JOIN tm t ON k.tok = t.tok) c
         |JOIN n ON n.query_id = c.query_id
         |GROUP BY 1, 2, 3, n.len
         |HAVING count(*) = n.len
         |ORDER BY 1, 2, 3""".stripMargin,

    // ph33: both snapshots' signatures replayed from the corpus texts
    // (stale = truncated/missing view, current = full view)
    "ph33_snapshot_diff" -> {
      // per-term mod P then a final mod P, with the LCG position mix
      // (PhraseSearch.snapshotDiff's hardened signature, mirrored
      // op-for-op: all terms positive, so % agrees across engines)
      def sigSql(tk: String) =
        s"""SELECT doc_id, CAST(sum(
           |  (list_reduce(list_prepend(CAST(0 AS BIGINT),
           |    list_transform(string_split(tok,''),
           |      c -> CAST(ascii(c) AS BIGINT))),
           |    (a, x) -> (a * 31 + x) % 1000000007)
           |   * (((CAST(pos AS BIGINT) + 1) * 1103515245 + 12345)
           |      % 2147483648 + 1)
           |  ) % 1000000007) AS BIGINT) % 1000000007 AS s
           |FROM ($tk) GROUP BY 1""".stripMargin
      s"""WITH sf AS (${sigSql(staleToksSql)}),
         |st AS (${sigSql(Q.toksSql)})
         |SELECT coalesce(sf.doc_id, st.doc_id) AS doc_id,
         |  CASE WHEN sf.s IS NULL THEN 'added'
         |       WHEN st.s IS NULL THEN 'removed'
         |       ELSE 'changed' END AS change
         |FROM sf FULL OUTER JOIN st ON st.doc_id = sf.doc_id
         |WHERE sf.s IS NULL OR st.s IS NULL OR sf.s <> st.s
         |ORDER BY doc_id""".stripMargin
    },

    // ph37: the fresh build's manifest is a protocol CONSTANT
    "ph37_index_manifest" ->
      """SELECT * FROM (VALUES
        |  ('doclen', CAST(1 AS BIGINT), CAST(1 AS BIGINT),
        |   CAST(1 AS BIGINT), CAST(NULL AS BIGINT)),
        |  ('lexicon', 1, 1, 1, NULL),
        |  ('postings', 1, 1, 1, NULL),
        |  ('tombstones', 0, 1, 1, NULL)
        |) v(component, n_segments, version, next_seq, retention)
        |ORDER BY component""".stripMargin,

    // ph43: anchor occurrences of the key term with every context
    // conjunct within the window (plain |Δ| EXISTS per conjunct — the
    // oracle need not band)
    "ph43_window_language" ->
      s"""WITH tk AS (${Q.toksSql}),
         |anchor AS (SELECT doc_id, pos FROM tk WHERE tok = 'scan'),
         |c1 AS (SELECT doc_id, pos FROM tk WHERE tok IN ('merge', 'sort')),
         |c2 AS (SELECT doc_id, pos FROM tk WHERE tok = 'table')
         |SELECT DISTINCT a.doc_id FROM anchor a
         |WHERE EXISTS (SELECT 1 FROM c1 WHERE c1.doc_id = a.doc_id
         |        AND abs(a.pos - c1.pos) <= 12)
         |  AND EXISTS (SELECT 1 FROM c2 WHERE c2.doc_id = a.doc_id
         |        AND abs(a.pos - c2.pos) <= 12)
         |ORDER BY doc_id""".stripMargin,

    // ph42: the retained version ledger after the 5-commit history at
    // gcRetainVersions = 2 — v1/v2 pruned, v3 (build + 2 appends: 3
    // segments per data component), v4 (+1 tombstone), v5 (compact:
    // one segment per data component, watermark at seq 4, counter
    // unchanged)
    "ph42_manifest_gc" ->
      """SELECT * FROM (VALUES
        |  (CAST(3 AS BIGINT), CAST(3 AS BIGINT),
        |   CAST(NULL AS BIGINT), CAST(9 AS BIGINT)),
        |  (4, 4, NULL, 10),
        |  (5, 4, 4, 3)
        |) v(version, next_seq, retention, n_segments)
        |ORDER BY version""".stripMargin,

    // ph38: exact slot + LIKE-prefix slot at adjacent positions
    "ph38_wildcard_phrase" ->
      s"""WITH tk AS (${Q.toksSql})
         |SELECT a.doc_id, CAST(a.pos AS INT) AS pos
         |FROM tk a JOIN tk b
         |  ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
         |WHERE a.tok = 'the' AND b.tok LIKE 'cust%'
         |ORDER BY 1, 2""".stripMargin,

    // ph39: LIKE-prefix containment minus the excluded exact term
    "ph39_wildcard_boolean" ->
      s"""WITH tk AS (${Q.toksSql})
         |SELECT DISTINCT doc_id FROM tk WHERE tok LIKE 'cust%'
         |  AND doc_id NOT IN (SELECT doc_id FROM tk WHERE tok = 'spark')
         |ORDER BY doc_id""".stripMargin,

    // ph40: proximity pair exists (plain |Δ| join — the oracle need
    // not band) minus the adjacent-phrase docs
    "ph40_near_language" ->
      s"""WITH tk AS (${Q.toksSql}),
         |near AS (SELECT DISTINCT a.doc_id FROM tk a JOIN tk b
         |  ON b.doc_id = a.doc_id
         |  WHERE a.tok = 'scan' AND b.tok LIKE 'merg%'
         |    AND abs(a.pos - b.pos) <= 6),
         |ex AS (SELECT DISTINCT a.doc_id FROM tk a JOIN tk b
         |  ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
         |  WHERE a.tok = 'slow' AND b.tok = 'table')
         |SELECT doc_id FROM near
         |WHERE doc_id NOT IN (SELECT doc_id FROM ex)
         |ORDER BY doc_id""".stripMargin,

    // ph41: per-doc count threshold AND (prefix OR adjacent phrase)
    "ph41_count_threshold" ->
      s"""WITH tk AS (${Q.toksSql}),
         |c3 AS (SELECT doc_id FROM tk WHERE tok = 'spark'
         |       GROUP BY 1 HAVING count(*) >= 3),
         |alt AS (SELECT DISTINCT doc_id FROM tk WHERE tok LIKE 'merg%'
         |  UNION
         |  SELECT DISTINCT a.doc_id FROM tk a JOIN tk b
         |    ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
         |  WHERE a.tok = 'slow' AND b.tok = 'scan')
         |SELECT doc_id FROM c3
         |WHERE doc_id IN (SELECT doc_id FROM alt)
         |ORDER BY doc_id""".stripMargin,

    // ph44: the SAME literal inflection family both engines match
    // (Inflect.expand is deterministic/sorted — see its scaladoc),
    // gated per doc at >= 2 occurrences, intersected with 'customer'
    "ph44_inflection_search" ->
      s"""WITH tk AS (${Q.toksSql}),
         |fam AS (SELECT doc_id FROM tk
         |        WHERE tok IN (${sqlList(graft.text.Inflect.expand("scanning"))})
         |        GROUP BY 1 HAVING count(*) >= 2)
         |SELECT doc_id FROM fam
         |WHERE doc_id IN (SELECT doc_id FROM tk WHERE tok = 'customer')
         |ORDER BY doc_id""".stripMargin,

    // ph45: the unquoted phrases are plain position-adjacency joins —
    // juxtaposition is spelling, not semantics
    "ph45_juxtaposed_phrase" ->
      s"""WITH tk AS (${Q.toksSql}),
         |ph AS (SELECT DISTINCT a.doc_id FROM tk a JOIN tk b
         |         ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
         |       WHERE (a.tok = 'slow' AND b.tok = 'scan')
         |          OR (a.tok = 'fast' AND b.tok = 'merge'))
         |SELECT doc_id FROM ph
         |WHERE doc_id IN (SELECT doc_id FROM tk WHERE tok = 'customer')
         |ORDER BY doc_id""".stripMargin,

    // ph46: the OR-subtree operand's occurrence set is the union of
    // its branches (merge ∪ the scans family); plain |Δ| EXISTS —
    // the oracle need not band
    "ph46_subtree_near" ->
      s"""WITH tk AS (${Q.toksSql}),
         |anchor AS (SELECT doc_id, pos FROM tk WHERE tok = 'customer'),
         |ctx AS (SELECT doc_id, pos FROM tk
         |        WHERE tok = 'merge'
         |           OR tok IN (${sqlList(graft.text.Inflect.expand("scans"))}))
         |SELECT DISTINCT a.doc_id FROM anchor a
         |WHERE EXISTS (SELECT 1 FROM ctx c WHERE c.doc_id = a.doc_id
         |        AND abs(a.pos - c.pos) <= 6)
         |ORDER BY doc_id""".stripMargin,

    // ph47: left-chained NEAR — both windows measure from the
    // ORIGINAL customer anchor (the anchor survives each stage)
    "ph47_chained_near" ->
      s"""WITH tk AS (${Q.toksSql}),
         |anchor AS (SELECT doc_id, pos FROM tk WHERE tok = 'customer'),
         |c1 AS (SELECT doc_id, pos FROM tk WHERE tok = 'spark'),
         |c2 AS (SELECT doc_id, pos FROM tk WHERE tok = 'window')
         |SELECT DISTINCT a.doc_id FROM anchor a
         |WHERE EXISTS (SELECT 1 FROM c1 WHERE c1.doc_id = a.doc_id
         |        AND abs(a.pos - c1.pos) <= 5)
         |  AND EXISTS (SELECT 1 FROM c2 WHERE c2.doc_id = a.doc_id
         |        AND abs(a.pos - c2.pos) <= 9)
         |ORDER BY doc_id""".stripMargin,

    // ph48: anchor = the unquoted phrase's start positions (adjacency
    // join); plain |Δ| EXISTS for the window partner
    "ph48_window_juxtaposed" ->
      s"""WITH tk AS (${Q.toksSql}),
         |anchor AS (SELECT a.doc_id, a.pos FROM tk a JOIN tk b
         |           ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
         |           WHERE a.tok = 'slow' AND b.tok = 'scan'),
         |c1 AS (SELECT doc_id, pos FROM tk WHERE tok = 'customer')
         |SELECT DISTINCT a.doc_id FROM anchor a
         |WHERE EXISTS (SELECT 1 FROM c1 WHERE c1.doc_id = a.doc_id
         |        AND abs(a.pos - c1.pos) <= 10)
         |ORDER BY doc_id""".stripMargin,

    // ph36: the scenario's takedown set — docs ≡ 3 mod 7, event 1
    "ph36_pending_deletes" ->
      """SELECT DISTINCT doc_id, CAST(1 AS BIGINT) AS upto
        |FROM documents WHERE doc_id % 7 = 3 ORDER BY doc_id""".stripMargin,

    // ph35: ph02's boolean hit set, faceted over the dim columns
    "ph35_faceted_search" ->
      s"""SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs
         |FROM documents WHERE doc_id IN ($booleanSql)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // ph34: the batch scoring replayed — one tf/df/N/L set, the
    // (query, tok) fan-out, per-(doc,term) micro-scores rounded then
    // summed per (query, doc), ranked per query
    "ph34_batch_bm25" ->
      s"""WITH tk AS (${Q.toksSql}),
         |tm AS (SELECT * FROM (VALUES
         |  (0, 'customer'), (0, 'spark'), (0, 'vector'),
         |  (1, 'window'), (1, 'batch'),
         |  (2, 'slow'), (2, 'hash'), (2, 'table')) v(query_id, tok)),
         |dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
         |       FROM tk GROUP BY 1),
         |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM tk
         |       WHERE tok IN (SELECT tok FROM tm) GROUP BY 1, 2),
         |dfs AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |          CAST(sum(dl) AS BIGINT) AS l FROM dl),
         |sc AS (SELECT tm.query_id, tf.doc_id,
         |    CAST(round(
         |      (CAST(2 * (n - df) + 1 AS DOUBLE) / CAST(2 * df + 1 AS DOUBLE))
         |      * ((88.0 * tf * l) / (40.0 * tf * l + 12.0 * l + 36.0 * dl.dl * n))
         |      * 1000000, 0) AS BIGINT) AS sc
         |  FROM tf JOIN tm ON tm.tok = tf.tok
         |  JOIN dfs ON dfs.tok = tf.tok
         |  JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN tot),
         |g AS (SELECT query_id, doc_id, CAST(sum(sc) AS BIGINT) AS bm25_micro
         |      FROM sc GROUP BY 1, 2),
         |r AS (SELECT query_id, doc_id, bm25_micro,
         |        CAST(row_number() OVER (PARTITION BY query_id
         |          ORDER BY bm25_micro DESC, doc_id) AS INT) AS rank
         |      FROM g)
         |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, rank, bm25_micro
         |FROM r WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    // ph32: per-(doc, matched-token) frequency under the prefix
    "ph32_prefix_search" ->
      s"""SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
         |FROM (${Q.toksSql}) t WHERE tok LIKE 'cust%'
         |GROUP BY 1, 2 ORDER BY doc_id, tok""".stripMargin,

    // ph30: global stats, sliced ranking — ph04's CTEs with the
    // allow-list applied AFTER scoring, BEFORE the top-k
    "ph30_filtered_bm25" ->
      s"""WITH $bm25Ctes
         |SELECT doc_id, CAST(sum(sc) AS BIGINT) AS bm25_micro
         |FROM sc WHERE doc_id % 3 = 1 GROUP BY 1
         |ORDER BY bm25_micro DESC, doc_id LIMIT 10""".stripMargin,

    // ph28: per-hit context window, token order restored inside the
    // aggregate — same phrase-hit join as ph01 underneath
    "ph28_kwic_snippets" ->
      s"""WITH tk AS (${Q.toksSql}),
         |h AS (SELECT a.doc_id, a.pos FROM tk a JOIN tk b
         |        ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
         |      WHERE a.tok = 'the' AND b.tok = 'customer')
         |SELECT h.doc_id, CAST(h.pos AS INT) AS pos,
         |  array_to_string(list(c.tok ORDER BY c.pos), ' ') AS snippet
         |FROM h JOIN tk c ON c.doc_id = h.doc_id
         |  AND c.pos BETWEEN h.pos - 2 AND h.pos + 3
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // ph13: bucket = the same (acc*31 + codepoint) % 1e9+7 rolling
    // hash both engines compute (see TextQueries' shingleIdsSql),
    // mod the build's 64 buckets; the hash is non-negative so % and
    // pmod agree.
    "ph13_index_audit" ->
      s"""WITH tk AS (${Q.toksSql}),
         |b AS (SELECT doc_id, pos, tok,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    list_transform(string_split(tok,''), c -> CAST(ascii(c) AS BIGINT))),
         |    (a, x) -> (a * 31 + x) % 1000000007) % 64 AS bucket
         |  FROM tk)
         |SELECT bucket, CAST(count(*) AS BIGINT) AS n_postings,
         |  CAST(count(DISTINCT tok) AS BIGINT) AS n_terms,
         |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
         |FROM b GROUP BY 1 ORDER BY 1""".stripMargin,
    "ph01_phrase_hits" -> phraseHitsSql,
    "ph05_near_search" -> nearSql,
    "ph02_boolean_search" -> booleanSql,

    "ph03_phrase_segments" -> {
      val ivSql =
        s"""SELECT h.doc_id, greatest(h.pos - 5, 0) AS s, h.pos + 6 AS e
           |FROM (SELECT doc_id, pos FROM (${Q.toksSql}) t0
           |      WHERE tok = 'customer') h
           |WHERE h.doc_id NOT IN (
           |  SELECT a.doc_id FROM (${Q.toksSql}) a JOIN (${Q.toksSql}) b
           |    ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
           |  WHERE a.tok = 'slow' AND b.tok = 'scan')""".stripMargin
      s"""SELECT doc_id, s, e, n_hits
         |FROM (${Q.coalesceSql(ivSql, key = "doc_id",
                                extraAggs = ", CAST(count(*) AS BIGINT) AS n_hits")}) seg
         |WHERE e - s >= 12
         |ORDER BY doc_id, s""".stripMargin
    },

    "ph04_bm25_topk" -> bm25Sql
  )
}
