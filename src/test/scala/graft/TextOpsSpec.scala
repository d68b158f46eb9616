package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.text.TextOps

class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (0L, "a b c d e"),
    (1L, "a b c d x"),
    (2L, "z z z z z q")
  ).toDF("doc_id", "text")

  test("shingles produce distinct full-width 3-grams") {
    val sh = TextOps.shingles(docs, 3)
    val got = sh.as[(Long, String)].collect().toSet
    assert(got((0L, "a b c")) && got((0L, "c d e")))
    assert(!got.exists(_._2.split(" ").length != 3))
    // doc 2: "z z z" appears 3 times but is distinct-ed
    assert(got.count(_._1 == 2L) === 2) // "z z z", "z z q"
  }

  test("dupSpanStats finds planted duplicated spans, coalesced into islands") {
    // docs 10/11 share tokens 2..11 (a 10-token run -> three overlapping
    // dup 8-grams each, coalescing to ONE island of length 10); doc 12
    // is unique throughout; doc 13 repeats an 8-gram WITHIN itself.
    val shared = (0 until 10).map(i => s"s$i").mkString(" ")
    val d = Seq(
      (10L, s"x0 x1 $shared x2 x3"),
      (11L, s"y0 y1 $shared y2 y3"),
      (12L, (0 until 14).map(i => s"u$i").mkString(" ")),
      (13L, {
        val g = (0 until 8).map(i => s"w$i").mkString(" ")
        s"$g q1 q2 $g"
      })
    ).toDF("doc_id", "text")
    val got = graft.text.Dedup.dupSpanStats(d, 8)
      .orderBy("doc_id")
      .as[(Long, Long, Long)].collect().toList
    // shared run at positions 2..12 (10 tokens): dup 8-grams start at
    // 2,3,4 -> island [2,12) = 10 toks. doc 13: grams at 0 and 10 ->
    // two islands of 8 toks each (positions [0,8) and [10,18)).
    assert(got === List((10L, 10L, 1L), (11L, 10L, 1L), (13L, 16L, 2L)))
    // and the removal output reconstructs the surviving text in order
    val kept = graft.text.Dedup.removeDupSpans(d, 8)
      .orderBy("doc_id")
      .as[(Long, Long, String)].collect().toList
    assert(kept === List(
      (10L, 4L, "x0 x1 x2 x3"),
      (11L, 4L, "y0 y1 y2 y3"),
      (12L, 14L, (0 until 14).map(i => s"u$i").mkString(" ")),
      (13L, 2L, "q1 q2")))
  }

  test("phraseHits position-join equals the lead-window reference (property)") {
    import graft.text.PhraseSearch
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(3)
    val vocab = Array("a", "b", "c", "d")
    val randDocs = (0L until 40L).map(i =>
      (i, Seq.fill(30)(vocab(rnd.nextInt(vocab.length))).mkString(" ")))
      .toDF("doc_id", "text")
    val toks = TextOps.tokens(randDocs)
    Seq(Seq("a"), Seq("a", "b"), Seq("c", "a", "c")).foreach { phrase =>
      // reference: the round-1 full-window n-gram form
      val w = Window.partitionBy($"doc_id").orderBy($"pos")
      val gram = concat_ws(" ",
        phrase.indices.map(i => lead($"tok", i).over(w)): _*)
      val expect = toks.withColumn("g", gram)
        .filter($"g" === phrase.mkString(" "))
        .select("doc_id", "pos").as[(Long, Int)].collect().toSet
      val got = PhraseSearch.phraseHits(toks, phrase)
        .as[(Long, Int)].collect().toSet
      assert(got === expect, s"phrase $phrase")
    }
  }

  test("minhash identical sets -> identical signatures; near sets agree mostly") {
    val sh = TextOps.shingles(docs, 3)
    val dict = TextOps.dict(sh, "sh", "sid")
    val ids = sh.join(dict, "sh").select("doc_id", "sid")
    val mh = TextOps.minhash(ids, 8)
    val sig = mh.as[(Long, Int, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toList).toMap
    // doc0 and doc1 share 2 of 4 shingles -> some but not all hashes equal
    val agree = sig(0L).zip(sig(1L)).count { case (a, b) => a == b }
    assert(agree > 0 && agree < 8)
    assert(sig(0L).zip(sig(2L)).count { case (a, b) => a == b } === 0)
  }

  test("minhashSigs/minhashBands bit-match the explode+groupBy aggregate forms") {
    // edge cases included: doc too short to shingle (one token), empty
    // string, duplicated shingles, multi-space tokens
    val edge = Seq((0L, "a b c d e"), (1L, "a b c d x"),
      (2L, "z z z z z q"), (3L, "solo"), (4L, ""), (5L, "a  b  c d e f"))
      .toDF("doc_id", "text")
    val P = 1000003L
    val ids = TextOps.shingleIds(edge, 3)
    val mhRows = TextOps.minhash(ids, 16, P)
      .as[(Long, Int, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toList).toMap
    val mhArr = edge.select($"doc_id", TextOps.minhashSigs($"text", 3, 16, P))
      .as[(Long, Seq[Option[Long]])].collect().toMap
    edge.select("doc_id").as[Long].collect().foreach { d =>
      mhRows.get(d) match {
        case Some(expect) => assert(mhArr(d).map(_.get) === expect, s"doc $d")
        case None => assert(mhArr(d).forall(_.isEmpty),
          s"doc $d shingles nothing; expected all-null sigs")
      }
    }
    val bandsOld = TextOps.lshBands(TextOps.minhash(ids, 16, P), 2, P)
      .as[(Long, Long, Long)].collect().toSet
    val bandsNew = TextOps.minhashBands(edge, 3, 16, P)
      .filter($"sig".isNotNull)
      .select($"doc_id", $"band".cast("long"), $"sig")
      .as[(Long, Long, Long)].collect().toSet
    assert(bandsNew === bandsOld)
  }

  test("simhashLimbs bit-match the explode+two-level-aggregate form") {
    val edge = Seq((0L, "a b c d e"), (1L, "a b c d x"),
      (2L, "z z z z z q"), (3L, "solo"), (4L, ""), (5L, "a  b  a b b"))
      .toDF("doc_id", "text")
    val cnts = TextOps.tokens(edge).groupBy($"doc_id", $"tok")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("tid", TextOps.fingerprint($"tok"))
      .select("doc_id", "tid", "cnt")
    val old = TextOps.simhashBands(cnts, 64, 16)
      .as[(Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toList).toMap
    val neu = edge.select($"doc_id", TextOps.simhashLimbs($"text", 64, 16))
      .as[(Long, Seq[Long])].collect().toMap
    neu.foreach { case (d, limbs) =>
      assert(limbs === old(d), s"doc $d")
    }
  }

  test("fingerprint is the polynomial rolling hash") {
    val fp = docs.filter($"doc_id" === 0)
      .select(TextOps.fingerprint($"text")).as[Long].head()
    val expect = "a b c d e".foldLeft(0L)((acc, c) => (acc * 31 + c.toInt) % 1000000007L)
    assert(fp === expect)
  }

  test("simhash of identical token multisets matches") {
    val cnts = TextOps.tokens(docs).groupBy($"doc_id", $"tok")
      .agg(count(lit(1)).as("cnt"))
    val dict = TextOps.dict(cnts, "tok", "tid")
    val withIds = cnts.join(dict, "tok").select("doc_id", "tid", "cnt")
    val sh = TextOps.simhash(withIds, 16).as[(Long, Long)].collect().toMap
    assert(sh.size === 3)
    assert(sh.values.forall(v => v >= 0 && v < (1 << 16)))
  }

  test("scrubPii redacts emails, phones, and IPs") {
    val rows = Seq(
      (1L, "mail jane.doe+x@sub.example.co.uk please"),
      (2L, "call 555-123-4567 or 555-000-1111 now"),
      (3L, "host 192.168.0.1 responded"),
      (4L, "nothing sensitive here"),
      (5L, "mixed bob@x.io at 10.0.0.2 dial 111-222-3333"))
      .toDF("id", "t")
    val out = rows.select($"id", TextOps.scrubPii($"t").as("s"))
      .as[(Long, String)].collect().toMap
    assert(out(1L) === "mail <EMAIL> please")
    assert(out(2L) === "call <PHONE> or <PHONE> now")
    assert(out(3L) === "host <IP> responded")
    assert(out(4L) === "nothing sensitive here")
    assert(out(5L) === "mixed <EMAIL> at <IP> dial <PHONE>")
  }

  test("bpeTokens splits contractions, digits, and punctuation runs") {
    val got = Seq("I can't wait... it's 2026, really!?")
      .toDF("text").select(TextOps.bpeTokens(col("text")).as("t"))
      .as[Seq[String]].head()
    assert(got === Seq("I", " can", "'t", " wait", "...", " it", "'s",
      " 2026", ",", " really", "!?"))
    // whitespace tokenization sees 6 "words"; the pre-tokenizer 11
    assert(got.size === 11)
  }

  test("quality columns and stopword ratio") {
    val q = docs.select($"doc_id" +:
      TextOps.qualityColumns($"text").map { case (n, c) => c.as(n) }: _*)
      .filter($"doc_id" === 2).head()
    assert(q.getAs[Int]("n_tok") === 6)
    val ratio = docs.filter($"doc_id" === 0)
      .select(TextOps.stopwordRatio($"text", Seq("a", "b"))).as[Double].head()
    assert(math.abs(ratio - 0.4) < 1e-9)
  }

  test("winnow: shared runs >= w+k-1 tokens share a fingerprint; selection is sparse") {
    // a 6-token shared run (= w+k-1 for k=3, w=4) yields w identical
    // consecutive gram hashes in both docs, so the window covering
    // exactly those w grams selects the same minimum on both sides —
    // the winnowing guarantee, independent of surrounding context
    val shared = (0 until 6).map(i => s"s$i").mkString(" ")
    val d = Seq(
      (0L, s"a0 a1 a2 $shared a3 a4"),
      (1L, s"b0 b1 $shared b2 b3 b4"),
      (2L, (0 until 20).map(i => s"u$i").mkString(" "))).toDF("doc_id", "text")
    val sel = d.select($"doc_id", TextOps.winnow($"text", 3, 4).as("fps"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(sel(0L).toSet.intersect(sel(1L).toSet).nonEmpty,
      "winnowing guarantee violated: shared 6-token run selected no common fp")
    assert(sel(2L).toSet.intersect(sel(0L).toSet).isEmpty,
      "disjoint docs share a fingerprint (hash collision in a 3-doc fixture?)")
    // doc 2 has 18 grams -> 15 windows; selections must be a strict
    // subsample (the ~2/(w+1) density claim, loosely pinned)
    assert(sel(2L).nonEmpty && sel(2L).size < 15,
      s"winnowed ${sel(2L).size} of 18 grams - selection is not sparse")
  }

  test("native winnow equals the HOF reference form on random docs") {
    val rnd = new scala.util.Random(11)
    val vocab = Array("a", "b", "c", "d", "e")
    // include short docs (< k tokens, < w grams) to hit the clamps
    val randDocs = (0L until 60L).map(i =>
      (i, Seq.fill(1 + rnd.nextInt(40))(
        vocab(rnd.nextInt(vocab.length))).mkString(" ")))
      .toDF("doc_id", "text")
    Seq((3, 4), (2, 5), (4, 1)).foreach { case (k, w) =>
      val diff = randDocs.select(
        TextOps.winnow($"text", k, w).as("a"),
        TextOpsSpec.winnowHof($"text", k, w).as("b"))
        .filter(not($"a" <=> $"b")).count()
      assert(diff === 0, s"native/HOF winnow divergence at k=$k w=$w")
    }
  }

  test("pairStats per-row hot-set prune equals the anti-join + window reference") {
    // r22: pairStatsImpl prunes hot sids per row (ArrayLongsNotInSorted
    // against the scalar-subquery hot array) and derives nsh as
    // size(kept) on the same row — pin exact equality against the r21
    // form (broadcast anti-join + count() over (partition by doc_id)),
    // on a corpus that exercises hot shingles (tiny vocab, low dfCap),
    // unshingleable docs (< 3 tokens incl. empty) and within-doc dups.
    // With this seed and a 4-token vocab, dfCap = 4 leaves 10 hot sids
    // (max df 7) and the reference has 112 pairs; of the 46 shingleable
    // docs, 3 are pruned to empty, 24 partly pruned and 19 untouched.
    // An 8-token vocab gives max df 3, i.e. no hot sid at all, and the
    // last assert below fires.
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(7)
    val vocab = Array("a", "b", "c", "d")
    val d = (0L until 60L).map(i =>
      (i, Seq.fill(rnd.nextInt(12))(
        vocab(rnd.nextInt(vocab.length))).mkString(" ")))
      .toDF("doc_id", "text")
    val dfCap = 4
    val (got, _) = TextOps.pairStatsImpl(d, 3, dfCap, persist = false)
    val ids = TextOps.shingleIds(d, 3)
    val hot = broadcast(ids.groupBy($"sid").agg(count(lit(1)).as("df"))
      .filter($"df" > dfCap).select("sid"))
    val sh = ids.join(hot, Seq("sid"), "left_anti")
      .withColumn("nsh", count(lit(1)).over(Window.partitionBy($"doc_id")))
    val ref = sh.select($"doc_id".as("d1"), $"sid", $"nsh".as("n1"))
      .join(sh.select($"doc_id".as("d2"), $"sid", $"nsh".as("n2")), Seq("sid"))
      .filter($"d1" < $"d2")
      .groupBy($"d1", $"d2").agg(count(lit(1)).as("inter"),
        min($"n1").as("n1"), min($"n2").as("n2"))
      .withColumn("jacc", $"inter".cast("double") /
        ($"n1" + $"n2" - $"inter").cast("double"))
    val cols = Seq("d1", "d2", "inter", "n1", "n2", "jacc")
    val a = got.select(cols.map(col): _*)
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSet
    val b = ref.select(cols.map(col): _*)
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSet
    assert(b.nonEmpty, "vacuous fixture: reference produced no pairs")
    assert(a === b)
    // and the fixture really prunes something (a hot sid exists)
    assert(hot.count() > 0, "vacuous fixture: no shingle exceeded dfCap")
  }

  test("containmentPairs flags an embedded doc the symmetric filter misses") {
    // short = a contiguous 10-token slice of long: all 8 of its
    // 3-shingles are inside long's 28, so containment is exactly 1.0
    // while jacc = 8/28 < 0.5 — the quote-embedding case t37 exists for
    val long = (0 until 30).map(i => s"w$i").mkString(" ")
    val short = (10 until 20).map(i => s"w$i").mkString(" ")
    val d = Seq((0L, long), (1L, short)).toDF("doc_id", "text")
    assert(TextOps.jaccardPairs(d, k = 3, dfCap = 50, tauJacc = 0.5).count() === 0)
    val got = TextOps.containmentPairs(d, k = 3, dfCap = 50, tauC = 0.8)
      .select("d1", "d2", "inter", "n1", "n2", "cmax")
      .as[(Long, Long, Long, Long, Long, Double)].collect().toList
    assert(got === List((0L, 1L, 8L, 28L, 8L, 1.0)))
  }

  test("bm25TopK exact micro-scores and ranking on a hand-checked fixture") {
    import graft.text.PhraseSearch
    val d = Seq(
      (0L, "q q q a b"),
      (1L, "q a b c d"),
      (2L, "a b c d e")).toDF("doc_id", "text")
    val got = PhraseSearch.bm25TopK(d, Seq("q"), k = 10)
      .as[(Long, Long)].collect().toList
    // N=3, L=15, df=2 -> idf = 3/5; doc0: tf=3 -> tfc = 3960/2520 = 11/7
    //   -> round(1e6 * (3/5) * (11/7)) = 942857; doc1: tf=1 -> tfc = 1
    //   -> 600000; doc2 has no query term and must be absent
    assert(got === List((0L, 942857L), (1L, 600000L)))
    // multi-term scores ADD per-term micro-integers: querying (q, e)
    // must leave q-only docs unchanged and rank doc2 by its e score
    val multi = PhraseSearch.bm25TopK(d, Seq("q", "e"), k = 10)
      .as[(Long, Long)].collect().toMap
    assert(multi(0L) === 942857L && multi(1L) === 600000L && multi.contains(2L))
  }

  test("textRank matches an in-JVM integer power-iteration reference") {
    val corpus = Seq("a b c a b", "b c d", "x y", "lonely")
    val d = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = TextOps.textRank(d, iters = 3).as[(String, Long)].collect().toMap

    // independent reference: same graph, same integer recurrence, built
    // with plain Scala collections (truncating / division == Spark div
    // == DuckDB // on the non-negative scores here)
    val toksL = corpus.map(_.split(" ").toSeq)
    val bigrams = toksL.flatMap(t => t.zip(t.tail)).filter(p => p._1 != p._2)
    val sym = bigrams ++ bigrams.map(_.swap)
    val w = sym.groupBy(identity).map { case (k, es) => (k, es.size.toLong) }
    val wdeg = w.groupBy(_._1._1).map { case (u, es) => (u, es.values.sum) }
    val nodes = toksL.flatten.distinct
    var pr = nodes.map(_ -> 1000000L).toMap
    for (_ <- 1 to 3) {
      pr = nodes.map { v =>
        val s = w.collect { case ((u, v2), wt) if v2 == v => pr(u) * wt / wdeg(u) }.sum
        v -> (150000L + 17L * s / 20L)
      }.toMap
    }
    assert(got === pr)
    // the isolated token never receives mass: damping floor only
    assert(got("lonely") === 150000L + 17L * 0L / 20L)
  }

  test("proximityHits banded join equals the naive theta join, each pair once") {
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(4242)
    // random token streams dense enough to produce boundary-straddling
    // pairs (the banding's exactly-once guarantee is what's under test)
    val docs = (0 until 30).map { d =>
      (d.toLong, (0 until 200).map(_ =>
        if (rnd.nextInt(10) == 0) "aa" else if (rnd.nextInt(10) == 0) "bb"
        else "x").mkString(" "))
    }.toDF("doc_id", "text")
    val toks = docs.select(col("doc_id"),
      posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
    val banded = graft.text.PhraseSearch.proximityHits(toks, "aa", "bb", 7)
      .select("doc_id", "p_a", "p_b").as[(Long, Int, Int)].collect().toList
    val pa = toks.filter($"tok" === "aa").select($"doc_id", $"pos".as("p_a"))
    val pb = toks.filter($"tok" === "bb").select($"doc_id".as("d2"), $"pos".as("p_b"))
    val naive = pa.join(pb, $"doc_id" === $"d2" && abs($"p_a" - $"p_b") <= 7)
      .select("doc_id", "p_a", "p_b").as[(Long, Int, Int)].collect().toList
    assert(banded.size === banded.distinct.size, "a pair collided twice")
    assert(banded.sorted === naive.sorted)
  }
}

object TextOpsSpec {
  /** Reference form of [[TextOps.winnow]]: interpreted lambda per gram
    * and per window — the cross-check oracle for the native expression. */
  def winnowHof(text: Column, k: Int, w: Int): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    val grams = Bridge.column(graft.plans.Shingles(Bridge.expression(text), k))
    val h = transform(grams, g => TextOps.fingerprint(g))
    val n = size(h)
    when(n > 0,
      array_distinct(transform(
        sequence(lit(1), greatest(n - (w - 1), lit(1))),
        j => array_min(slice(h, j, lit(w))))))
      .otherwise(array().cast("array<bigint>"))
  }
}
