package graft.text

import graft.index.VersionedIndex.publish
import graft.sources.FileRelations
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Caption/phrase search surface (SURVEY §3.3): n-gram phrase matching
  * over the token table and a boolean query mini-language
  * (`"a b" AND (c OR NOT d)`) compiled to a DataFrame plan — the
  * Spark-native replacement for the reference's Rust caption index +
  * query parser (app/esper/captions.py:99-140).
  *
  * Phrase matching pre-filters the token table to the query vocabulary
  * (a per-token equality predicate that pushes down to the scan) and
  * position-joins the filtered sets on (doc_id, pos+i) — each join side
  * holds only one term's postings, never the full corpus. Round 1
  * windowed the whole token table per term (a full partitionBy(doc_id)
  * sort of every token for a single-word query); this is the posting-
  * list form the reference's Rust caption index uses. A boolean query
  * is one pass over its postings: each leaf becomes a column of ONE
  * `groupBy(doc_id)` aggregate and AND/OR/NOT a predicate over those
  * columns (see [[search]]), the single posting-list pass the
  * reference's caption index makes.
  */
object PhraseSearch extends graft.index.VersionedIndex {

  /** Occurrences of an n-token phrase: (doc_id, pos) for each start.
    * Single-word phrases reduce to a pushed-down filter; n-grams
    * left-semi-join the i-th term's postings shifted by i. */
  def phraseHits(toks: DataFrame, phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty)
    val first = toks.filter(col("tok") === phrase.head)
      .select(col("doc_id"), col("pos"))
    phrase.zipWithIndex.drop(1).foldLeft(first) { case (acc, (w, i)) =>
      val nxt = toks.filter(col("tok") === w)
        .select(col("doc_id"), (col("pos") - i).as("pos"))
      acc.join(nxt, Seq("doc_id", "pos"), "left_semi")
    }
  }

  /** Query-language slot semantics: a trailing UNESCAPED `*` (on a
    * 2+ char word) makes the slot a PREFIX pattern; anything else
    * matches exactly. The star is query syntax, not corpus syntax —
    * and since a corpus token may itself END in a literal star, the
    * language provides an escape (ADVICE r15 #4): `foo\*` is an EXACT
    * match for the corpus token `foo*`. Only the trailing star is
    * wildcard syntax, so only the trailing star needs the escape
    * (mid-word stars are already literal). */
  private[graft] def slotPrefix(w: String): Option[String] =
    if (!w.endsWith("\\*") && w.endsWith("*") && w.length > 1)
      Some(w.dropRight(1))
    else None

  /** The literal token an exact slot matches (`\*` unescaped). */
  private[graft] def slotExact(w: String): String =
    if (w.endsWith("\\*")) w.dropRight(2) + "*" else w

  private def slotFilter(w: String): Column = slotPrefix(w) match {
    case Some(p) => col("tok").startsWith(p)
    case None    => col("tok") === slotExact(w)
  }

  /** [[phraseHits]] generalized to wildcard slots (`Seq("the",
    * "cust*")`): same left-semi position fold, each slot filtered by
    * [[slotFilter]]. A doc position holds exactly one token, so each
    * slot contributes at most one row per start even when a prefix
    * matches many vocabulary words — no de-dup needed. Exact-only
    * patterns take the equality path and behave as [[phraseHits]]. */
  def patternHits(toks: DataFrame, pattern: Seq[String]): DataFrame = {
    require(pattern.nonEmpty)
    pattern.foreach(w => require(w != "*",
      "a bare * slot would match every token"))
    val first = toks.filter(slotFilter(pattern.head))
      .select(col("doc_id"), col("pos"))
    pattern.zipWithIndex.drop(1).foldLeft(first) { case (acc, (w, i)) =>
      val nxt = toks.filter(slotFilter(w))
        .select(col("doc_id"), (col("pos") - i).as("pos"))
      acc.join(nxt, Seq("doc_id", "pos"), "left_semi")
    }
  }

  /** NEAR operator: (doc_id, p_a, p_b) occurrence pairs of `a` and
    * `b` within `k` token positions — the proximity query a caption /
    * document search layer adds on top of exact phrases. The position
    * space is banded into width-k buckets and the a-side posts to its
    * own ± 1 buckets, so every within-k pair collides on EXACTLY one
    * (doc, bucket) equi key (b's bucket is unique and only one of a's
    * three matches it) — a plain positions theta-join would shuffle
    * per-doc cross products instead. */
  def proximityHits(toks: DataFrame, a: String, b: String, k: Int): DataFrame =
    proximityPatternHits(toks, Seq(a), Seq(b), k)

  /** [[proximityHits]] generalized to PATTERN operands (each side a
    * word, wildcard, or multi-token phrase — positions are phrase
    * STARTS): the banding is unchanged, only the per-side occurrence
    * sets come from [[patternHits]] instead of a single-token filter.
    * This is the evaluator behind the query language's NEAR/k
    * construct ([[Near]]). */
  def proximityPatternHits(toks: DataFrame, pa: Seq[String],
                           pb: Seq[String], k: Int): DataFrame = {
    require(k >= 1)
    val ha = patternHits(toks, pa)
      .select(col("doc_id"), col("pos").as("p_a"),
        explode(array(expr(s"pos div $k - 1"), expr(s"pos div $k"),
          expr(s"pos div $k + 1"))).as("bk"))
    val hb = patternHits(toks, pb)
      .select(col("doc_id"), col("pos").as("p_b"), expr(s"pos div $k").as("bk"))
    ha.join(hb, Seq("doc_id", "bk"))
      .filter(abs(col("p_a") - col("p_b")) <= k)
      .select("doc_id", "p_a", "p_b")
  }

  /** BM25 ranked retrieval over the token table (Robertson k1=1.2,
    * b=0.75), the relevance-ranked counterpart of the boolean search —
    * the reference ranks caption hits by raw count
    * (app/esper/captions.py:126-140); this is the standard IR upgrade.
    *
    * Cross-engine exactness: idf uses the Robertson (N-df+0.5)/(df+0.5)
    * ratio WITHOUT the ln (the t32 integerization move — ln is the one
    * non-correctly-rounded op that differs between engines; the
    * rational form is a monotone function of it so rankings by a single
    * term agree, and the variant is documented in the score name). The
    * per-(doc,term) score is one deterministic IEEE expression tree,
    * micro-scaled to a BIGINT BEFORE the per-doc sum, so cross-engine
    * float summation order cannot reassociate anything. With k1=6/5,
    * b=3/4 and avgdl=L/N the tf part is exactly
    * 88·tf·L / (40·tf·L + 12·L + 36·dl·N).
    *
    * Scale: tf and dl are PER-ROW quantities over `text` (array
    * filter/size — no token-table explode, no shuffle); df per term
    * and the (N, L) totals are ONE scalar aggregate broadcast back, so
    * the whole score is map-side and the ordered LIMIT is a
    * TakeOrdered, never a global sort. The per-doc total adds the
    * per-term micro-integers in fixed term order — integer addition,
    * nothing to reassociate. Input: docs (doc_id, text). `terms` is a
    * set: a repeated term scores once, as in [[servedBm25TopK]]. */
  def bm25TopK(docs: DataFrame, terms: Seq[String], k: Int = 10): DataFrame = {
    require(terms.nonEmpty)
    val ts = terms.distinct
    def tfCol(t: String): Column =
      size(filter(split(col("text"), " "), x => x === t)).cast("long")
    bm25Rank(docs.select(col("doc_id") +:
      size(split(col("text"), " ")).cast("long").as("dl") +:
      ts.zipWithIndex.map { case (t, i) => tfCol(t).as(s"tf$i") }: _*),
      ts.size, k, None)
  }

  /** The per-(doc, term) BM25 micro-score: Robertson idf without the
    * ln times the k1=6/5, b=3/4 tf part, one IEEE expression tree
    * rounded to a BIGINT (see [[bm25TopK]]); 0 where the doc lacks the
    * term. */
  private def microScore(tf: Column, df: Column, dl: Column, n: Column,
                         l: Column): Column = {
    val idf = (lit(2) * (n - df) + lit(1)).cast("double") /
      (lit(2) * df + lit(1)).cast("double")
    val tfc = (lit(88.0) * tf * l) /
      (lit(40.0) * tf * l + lit(12.0) * l + lit(36.0) * dl * n)
    when(tf > 0, round(idf * tfc * lit(1000000)).cast("long")).otherwise(0L)
  }

  /** The corpus statistics of `perDoc` (doc_id, dl, tf0..tfN-1; one
    * row per document of the corpus): N, L and each df_i, as ONE
    * broadcast scalar aggregate over those rows. */
  private def corpusStats(perDoc: DataFrame, nTerms: Int): DataFrame = {
    val aggs = count(lit(1)).as("n") +: sum(col("dl")).as("l") +:
      (0 until nTerms).map(i => count(when(col(s"tf$i") > 0, 1)).as(s"df$i"))
    broadcast(perDoc.agg(aggs.head, aggs.tail: _*))
  }

  /** Top-k by BM25 over `perDoc` (see [[corpusStats]]). `allowed`
    * restricts the ranked candidates, never the statistics. */
  private def bm25Rank(perDoc: DataFrame, nTerms: Int, k: Int,
                       allowed: Option[DataFrame]): DataFrame = {
    val tf = (0 until nTerms).map(i => col(s"tf$i"))
    val candidates = perDoc.filter(tf.map(_ > 0).reduce(_ || _))
    allowed.fold(candidates)(a =>
        candidates.join(broadcast(a.select(col("doc_id"))), Seq("doc_id"), "left_semi"))
      .crossJoin(corpusStats(perDoc, nTerms))
      .select(col("doc_id"), tf.zipWithIndex.map { case (c, i) =>
        microScore(c, col(s"df$i"), col("dl"), col("n"), col("l"))
      }.reduce(_ + _).as("bm25_micro"))
      .orderBy(col("bm25_micro").desc, col("doc_id"))
      .limit(k)
  }

  // ---------------- boolean query language --------------------------
  sealed trait Q
  final case class Phrase(words: Seq[String]) extends Q
  final case class And(l: Q, r: Q) extends Q
  final case class Or(l: Q, r: Q) extends Q
  final case class Not(q: Q) extends Q
  /** INFLECTION GROUP `[WORD]` — the reference caption language's
    * bracketed-lemma construct (`'SEAN SPICER & [RESIGN]'`,
    * app/esper/queries/other_queries.py:251): matches any inflection
    * of the word's lemma family ([[Inflect.expand]] — `[scanning]`
    * matches `scan`, `scans`, `scanned`...). The family is a closed
    * exact-word set, so serving prunes to its hash buckets
    * statically, like any other exact vocabulary. */
  final case class Infl(word: String) extends Q
  /** PROXIMITY as a language construct (r15 VERDICT miss #1): anchor
    * occurrences of `l` that have SOME occurrence of `r` within `k`
    * token positions — the reference caption language's NEAR surface
    * (app/esper/captions.py:99-103). Operands are POSITION-BEARING
    * subtrees (r16 ADVICE #4 / VERDICT ask #8): words, wildcards,
    * quoted phrases, [groups], count leaves, OR-alternatives — and
    * NEAR itself, so `a NEAR/5 b NEAR/3 c` chains left like
    * [[Within]]'s fold (the surviving a-anchors are then checked
    * against c). A NOT has no positions to be near — parse error. */
  final case class Near(l: Q, r: Q, k: Int) extends Q
  /** COUNT-THRESHOLD factor: docs where the leaf occurs at least
    * `n` times (`merge{3}`, `[merging]{3}`) — the "mentioned
    * repeatedly, not in passing" relevance gate a caption search
    * offers. The occurrence set is the leaf's, restricted to
    * qualifying docs. */
  final case class MinCount(q: Q, n: Int) extends Q
  /** PROXIMITY WINDOW over a conjunction — the reference's literal
    * `:: k` spelling (`MOSUL & (BATTLE | SIEGE) :: 60`,
    * app/notebooks/stories.ipynb; `A & B :: k` generalizes NEAR/k to
    * n conjuncts with OR-alternatives): docs holding an occurrence of
    * the FIRST conjunct with an occurrence of EVERY other conjunct
    * within k positions of it (the anchor-window semantics — the
    * first conjunct is the story's key term, the rest its context).
    * Each part must be position-bearing: a word/phrase/wildcard, an
    * OR tree of those (positions = the union), or a count-thresholded
    * leaf (positions of the pattern in qualifying docs). */
  final case class Within(parts: Seq[Q], k: Int) extends Q

  /** Tiny recursive-descent parser:
    * expr := term ((OR | '|') term)* ;
    * term := prox ((AND | '&') prox)* ;
    * prox := factor (NEAR/k factor)* ;
    * factor := NOT factor | '(' expr ')' | leaf ;
    * leaf := ('"..."' | '[word]' | word+) ('{' n '}')?
    * `&`/`|` are the reference language's operator spellings; AND/OR/
    * NOT the long forms. ADJACENT BARE WORDS ARE ONE PHRASE (r16
    * VERDICT miss #1): the reference's own query strings spell
    * multi-word phrases inline with no quotes — `SEAN SPICER &
    * [RESIGN]` (other_queries.py:251), `(PARKLAND | STONEMAN DOUGLAS
    * | FLORIDA) & SHOOTING :: 60` (app/notebooks/stories.ipynb) — so
    * juxtaposition folds into a [[Phrase]] exactly like the quoted
    * form (quotes remain available, e.g. to phrase words that would
    * otherwise read as operators). `[word]` is the inflection group
    * ([[Infl]]). A trailing `{n}` on a leaf is the count threshold.
    * NEAR/k operands may be any position-bearing subtree and chain
    * left. A trailing `:: k` on the WHOLE query (the reference
    * notebooks' usage shape) turns its top-level conjunction into a
    * [[Within]] proximity window — every conjunct must be
    * position-bearing. */
  def parse(s: String): Q = {
    val p = new Parser(tokenize(s))
    val q = p.parseExpr()
    val out = p.parseWindowSuffix(q)
    require(p.ts.isEmpty,
      s"unparsed trailing tokens: ${p.ts.mkString(" ")}")
    out
  }

  /** Top-level AND chain, left to right. */
  private def conjunctsOf(q: Q): Seq[Q] = q match {
    case And(l, r) => conjunctsOf(l) ++ conjunctsOf(r)
    case x         => Seq(x)
  }

  /** Position-bearing = an occurrence set is well-defined. */
  private def positionBearing(q: Q): Boolean = q match {
    case Phrase(_)      => true
    case Infl(_)        => true
    case MinCount(x, _) => positionBearing(x)
    case Near(l, r, _)  => positionBearing(l) && positionBearing(r)
    case Or(l, r)       => positionBearing(l) && positionBearing(r)
    case _              => false
  }

  private def tokenize(s: String): List[String] = {
    // bare words must not swallow parens or count-braces (`dog)` and
    // `dog{3}` are two tokens each)
    val re = """"[^"]*"|\(|\)|\{\d+\}|[^\s(){}"]+""".r
    re.findAllIn(s).toList
  }

  private val NearTok = """(?i)NEAR/(\d+)""".r
  private val CountTok = """\{(\d+)\}""".r
  private val InflTok = """\[([^\[\]\s(){}"]+)\]""".r

  /** Token classes the bare-word juxtaposition fold must stop at —
    * everything with operator or structural meaning. A user phrasing
    * one of these AS a word quotes it (`"and"`). */
  private def isOperatorTok(t: String): Boolean =
    t.equalsIgnoreCase("AND") || t.equalsIgnoreCase("OR") ||
      t.equalsIgnoreCase("NOT") || t == "&" || t == "|" ||
      NearTok.pattern.matcher(t).matches() ||
      t == "::" || t.matches("::\\d+")

  private def isBareWord(t: String): Boolean =
    !isOperatorTok(t) && t != "(" && t != ")" &&
      !t.startsWith("\"") &&
      !CountTok.pattern.matcher(t).matches() &&
      !InflTok.pattern.matcher(t).matches()

  private class Parser(var ts: List[String]) {
    private def peek: Option[String] = ts.headOption
    private def next(): String = { val h = ts.head; ts = ts.tail; h }
    /** Consume a trailing `:: k` (two tokens — `::` then the number,
      * or one `::k` token) and wrap the top-level conjunction. */
    def parseWindowSuffix(q: Q): Q = peek match {
      case Some(t) if t == "::" || t.matches("::\\d+") =>
        val k =
          if (t == "::") { next(); next().toInt }
          else next().stripPrefix("::").toInt
        require(k >= 1, ":: 0 is not a proximity window")
        require(ts.isEmpty, ":: k must end the query")
        val parts = conjunctsOf(q)
        parts.foreach(p => require(positionBearing(p),
          ":: k conjuncts must be words, phrases, OR-alternatives or " +
            s"count thresholds — got $p"))
        if (parts.size == 1) q else Within(parts, k)
      case _ => q
    }
    def parseExpr(): Q = {
      var l = parseTerm()
      while (peek.exists(t => t.equalsIgnoreCase("OR") || t == "|")) {
        next(); l = Or(l, parseTerm())
      }
      l
    }
    private def parseTerm(): Q = {
      var l = parseProx()
      while (peek.exists(t => t.equalsIgnoreCase("AND") || t == "&")) {
        next(); l = And(l, parseProx())
      }
      l
    }
    private def parseProx(): Q = {
      var l = parseFactor()
      while (peek.exists(t => NearTok.pattern.matcher(t).matches())) {
        val k = NearTok.findFirstMatchIn(next()).get.group(1).toInt
        require(k >= 1, "NEAR/0 is not a proximity")
        val r = parseFactor()
        Seq(l, r).foreach(o => require(positionBearing(o),
          "NEAR/k operands must be position-bearing (words, phrases, " +
            s"[groups], OR-alternatives, counts, NEAR chains) — got $o"))
        l = Near(l, r, k)
      }
      l
    }
    private def parseFactor(): Q = peek match {
      case Some(t) if t.equalsIgnoreCase("NOT") => next(); Not(parseFactor())
      case Some("(") =>
        next(); val e = parseExpr()
        require(next() == ")", "expected )"); e
      case Some(t) if t.startsWith("\"") =>
        next()
        withCount(Phrase(
          t.stripPrefix("\"").stripSuffix("\"").split("\\s+").toSeq))
      case Some(t) if InflTok.pattern.matcher(t).matches() =>
        next()
        withCount(Infl(InflTok.findFirstMatchIn(t).get.group(1)))
      case Some(t) if CountTok.pattern.matcher(t).matches() =>
        throw new IllegalArgumentException(s"dangling count threshold $t")
      case Some(t) if isBareWord(t) =>
        // juxtaposition: adjacent bare words are ONE phrase, exactly
        // like the quoted form — `STONEMAN DOUGLAS` = `"STONEMAN
        // DOUGLAS"` (the reference queries' inline-phrase spelling)
        next()
        val ws = scala.collection.mutable.ListBuffer(t)
        while (peek.exists(isBareWord)) ws += next()
        withCount(Phrase(ws.toList))
      case Some(t) =>
        throw new IllegalArgumentException(s"unexpected token $t")
      case None => throw new IllegalArgumentException("empty query")
    }
    /** A `{n}` count threshold binds to the leaf just parsed. */
    private def withCount(leaf: Q): Q = peek match {
      case Some(t) if CountTok.pattern.matcher(t).matches() =>
        val n = CountTok.findFirstMatchIn(next()).get.group(1).toInt
        require(n >= 1, "count threshold must be >= 1")
        MinCount(leaf, n)
      case _ => leaf
    }
  }

  /** Occurrence set (doc_id, pos) of a position-bearing subquery.
    * [[Infl]]'s positions are any family member's (the family is a
    * closed exact-word set, one pushed-down IN filter); [[Near]]'s are
    * its ANCHOR (left) positions that survive the window check, which
    * is what makes NEAR chain left and nest inside [[Within]]. */
  private[graft] def posHits(q: Q, toks: DataFrame): DataFrame = q match {
    case Phrase(ws) => patternHits(toks, ws)
    case Infl(w) =>
      toks.filter(col("tok").isin(Inflect.expand(w): _*))
        .select(col("doc_id"), col("pos"))
    case Near(l, r, k) =>
      withinK(posHits(l, toks), posHits(r, toks), k)
    case Or(l, r) =>
      posHits(l, toks).unionByName(posHits(r, toks)).distinct()
    case MinCount(x, n) =>
      val hits = posHits(x, toks)
      val qualifying = hits.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("__c")).filter(col("__c") >= n)
        .select("doc_id")
      hits.join(qualifying, Seq("doc_id"), "left_semi")
    case other => throw new IllegalArgumentException(
      s"no occurrence set for $other")
  }

  /** Anchor positions of `a` that have SOME occurrence of `b` within
    * k — the same ±1 width-k bucket banding as [[proximityHits]]
    * (one equi key per within-k pair), deduped back to anchor rows. */
  private[graft] def withinK(a: DataFrame, b: DataFrame, k: Int): DataFrame = {
    val aa = a.select(col("doc_id"), col("pos"),
      explode(array(expr(s"pos div $k - 1"), expr(s"pos div $k"),
        expr(s"pos div $k + 1"))).as("bk"))
    val bb = b.select(col("doc_id"), col("pos").as("p_b"),
      expr(s"pos div $k").as("bk"))
    aa.join(bb, Seq("doc_id", "bk"))
      .filter(abs(col("pos") - col("p_b")) <= k)
      .select("doc_id", "pos").distinct()
  }

  /** The doc ids `q` matches, in ONE pass over `posts` (doc_id, pos,
    * tok): each leaf becomes a column of one `groupBy(doc_id)`
    * aggregate and the query a predicate over those columns.
    *  - A one-slot leaf (a word, a `cust*` prefix, an `[infl]` family)
    *    counts its matching rows; the leaf holds when the count is > 0,
    *    and `{n}` when it is >= n.
    *  - An n-slot phrase collects each slot's positions shifted back by
    *    the slot index; the `array_intersect` of those arrays is the
    *    phrase's start set (a position holds exactly one token, so set
    *    semantics are exact), non-empty for a hit, of size >= n for
    *    `{n}`.
    *  - NEAR, `:: k` and any other position-bearing subtree keep
    *    [[posHits]]/[[withinK]] over the same `posts` and join the
    *    aggregate as marker rows: one doc-set bit each.
    *  - AND, OR and NOT are `&&`, `||` and `!` over those columns.
    *
    * A doc with no row in `posts` has every leaf false, so `universe`
    * (every doc id) is read only when the query is true with every leaf
    * false (`NOT a`, `a OR NOT b`): it then enters the same aggregate as
    * marker rows and the answer is restricted to it. */
  private def evalOnePass(q: Q, posts: DataFrame,
                          universe: => DataFrame): DataFrame = {
    val names = scala.collection.mutable.Map[String, String]()
    val aggs = scala.collection.mutable.ArrayBuffer[Column]()
    val sets = scala.collection.mutable.ArrayBuffer[DataFrame]()
    // one aggregate column per distinct key, however often it is used
    def column(key: String, agg: => Column): Column =
      col(names.getOrElseUpdate(key, {
        val name = s"__a${aggs.size}"; aggs += agg.as(name); name
      }))
    def rows(key: String, f: Column): Column = column(key, count(when(f, 1)))
    def starts(ws: Seq[String]): Column = ws.zipWithIndex.map { case (w, i) =>
      column(s"pos:$i:$w", collect_list(when(slotFilter(w), col("pos") - i)))
    }.reduce(array_intersect(_, _))
    def docSet(ids: DataFrame): Column = {
      val i = sets.size
      sets += ids.select(col("doc_id"), lit(i).as("__set"))
      rows(s"set:$i", col("__set") === i) > 0
    }
    def leaf(x: Q): Column = x match {
      case Phrase(Seq(w))              => rows(s"slot:$w", slotFilter(w)) > 0
      case Phrase(ws)                  => size(starts(ws)) > 0
      case Infl(w)                     => rows(s"infl:$w", inflFilter(w)) > 0
      case MinCount(Phrase(Seq(w)), n) => rows(s"slot:$w", slotFilter(w)) >= n
      case MinCount(Phrase(ws), n)     => size(starts(ws)) >= n
      case MinCount(Infl(w), n)        => rows(s"infl:$w", inflFilter(w)) >= n
      case MinCount(y, n) =>
        docSet(posHits(y, posts).groupBy(col("doc_id"))
          .agg(count(lit(1)).as("__c")).filter(col("__c") >= n))
      case Within(parts, k) =>
        // anchor-window: first-conjunct occurrences with every other
        // conjunct within k
        docSet(parts.tail.foldLeft(posHits(parts.head, posts)) { (acc, p) =>
          withinK(acc, posHits(p, posts), k)
        }.select("doc_id").distinct())
      case other => docSet(posHits(other, posts).select("doc_id").distinct())
    }
    // (predicate, its value when every leaf is false)
    def compile(x: Q): (Column, Boolean) = x match {
      case And(l, r) =>
        val ((a, u), (b, v)) = (compile(l), compile(r)); (a && b, u && v)
      case Or(l, r) =>
        val ((a, u), (b, v)) = (compile(l), compile(r)); (a || b, u || v)
      case Not(y) => val (a, u) = compile(y); (!a, !u)
      case y      => (leaf(y), false)
    }
    val (pred, whenNoLeaf) = compile(q)
    val where = if (whenNoLeaf) pred && docSet(universe.select("doc_id")) else pred
    val tokens = posts.select("doc_id", "pos", "tok")
    val input = if (sets.isEmpty) tokens else {
      val blank = Seq(lit(null).cast(posts.schema("pos").dataType).as("pos"),
        lit(null).cast("string").as("tok"))
      sets.map(_.select(col("doc_id") +: blank :+ col("__set"): _*))
        .foldLeft(tokens.withColumn("__set", lit(null).cast("int")))(_.unionByName(_))
    }
    input.groupBy(col("doc_id")).agg(aggs.head, aggs.tail.toSeq: _*)
      .filter(where).select("doc_id")
  }

  private def inflFilter(w: String): Column = col("tok").isin(Inflect.expand(w): _*)

  /** The doc ids a boolean query matches over the token table `toks`
    * (doc_id, pos, tok); `universe` = every doc id, read only when the
    * query can match a doc holding none of its words (`NOT a`,
    * `a OR NOT b`). The table is first filtered to the query's
    * vocabulary, then [[evalOnePass]] answers in one aggregate — the
    * same evaluator [[servedSearch]] runs over the index. */
  def search(query: String, toks: DataFrame, universe: DataFrame): DataFrame = {
    val q = parse(query)
    val (exact, prefixes) = vocabClasses(vocabOf(q).distinct)
    val inVocab = (prefixes.map(p => col("tok").startsWith(p)) ++
      Option.when(exact.nonEmpty)(col("tok").isin(exact: _*))).reduce(_ || _)
    evalOnePass(q, toks.filter(inVocab), universe)
  }

  // ---------------- persistent inverted index (build/serve) ---------

  /** Build-side of the caption-index split: persist the token postings
    * PARTITIONED BY token-hash bucket so a served query reads only its
    * vocabulary's buckets — the Spark-native form of the reference's
    * persisted Rust caption index (app/esper/captions.py:13-30, which
    * loads a prebuilt on-disk index and never re-tokenizes the
    * corpus). The in-process ph01-ph05 path derives postings from the
    * documents table per query; correct, but at 100 TB that is a
    * corpus-wide tokenize per query. This is the production layout:
    * tokenize ONCE in a batch build, serve from pruned bucket dirs.
    *
    * Layout: segment dirs `dir/postings/seg-V/bucket=B/...` (bucket =
    * RollingHash(tok) mod nBuckets — the driver can recompute it for
    * any query word, so pruning is STATIC partition elimination, no
    * runtime subquery), `dir/doclen/seg-V` (doc_id, dl — the
    * doc-level metadata BM25 needs and the universe NOT needs, so the
    * whole §3.3 boolean/ranked surface serves without touching
    * `documents`), and `dir/manifest/v*.manifest` naming the live
    * segments and the bucket modulus ([[graft.index.Manifest]];
    * maintenance follows [[graft.index.VersionedIndex]]). Rows within
    * each postings file are sorted by (tok, doc_id, pos): parquet
    * row-group min/max stats on `tok` skip non-matching row groups
    * inside a bucket, the second pruning level. */
  private val POSTINGS = "postings"
  private val DOCLEN = "doclen"
  private val LEXICON = "lexicon"
  private type SparkSession = org.apache.spark.sql.SparkSession
  private val Manifest = graft.index.Manifest

  // the plane's part of the versioned-row model (graft.index.VersionedIndex)
  protected val idCol = "doc_id"
  protected val components = Seq(POSTINGS, DOCLEN, LEXICON)
  protected val versioned = Seq(POSTINGS, DOCLEN)
  protected val idSource = DOCLEN

  protected def rowsOf(spark: SparkSession, dir: String,
                       m: graft.index.Manifest, c: String): DataFrame =
    if (c == POSTINGS) postingsOf(spark, dir, m) else doclenOf(spark, dir, m)

  /** Postings: hash-bucket partitioned, each file sorted by (tok,
    * doc_id, pos). Doclen (rewrites and merges): range-partitioned and
    * sorted by doc_id — one row per document is corpus-sized at 100 TB,
    * so bounded file counts with doc_id min/max stats per file, not
    * coalesce(1). */
  protected def writeLayout(c: String, rows: DataFrame, path: String): Unit =
    if (c == POSTINGS)
      rows.repartition(col("bucket")).sortWithinPartitions("tok", "doc_id", "pos")
        .write.mode("overwrite").partitionBy("bucket").parquet(path)
    else
      rows.repartitionByRange(col("doc_id")).sortWithinPartitions("doc_id")
        .write.mode("overwrite").parquet(path)

  /** After a rewrite or merge the lexicon converges to the kept
    * vocabulary (stale upsert tokens and reclaimed docs' exclusive
    * tokens drop out): ONE distinct over the just-written postings
    * segment, read through the resolver so the first served read finds
    * it resolved. Empty postings publish an empty lexicon. */
  protected def afterRewrite(spark: SparkSession, dir: String,
                             next: graft.index.Manifest): graft.index.Manifest =
    next.segs(POSTINGS) match {
      case Vector(p) =>
        val lSeg = next.segFor(LEXICON)
        FileRelations.read(spark, s"$dir/$p").select(col("tok"), col("bucket"))
          .distinct()
          .repartitionByRange(col("tok")).sortWithinPartitions("tok")
          .write.mode("overwrite").parquet(s"$dir/$lSeg")
        next.withSegsReplaced(LEXICON, Vector(lSeg))
      case _ => next.withSegsReplaced(LEXICON, Vector.empty)
    }

  private def postingsRows(toks: DataFrame, seq: Long,
                           nBuckets: Int): DataFrame = {
    val bucket = pmod(graft.text.TextOps.fingerprint(col("tok")),
      lit(nBuckets.toLong))
    toks.select(col("doc_id"), col("pos"), col("tok"))
      .withColumn("seq", lit(seq))
      .withColumn("bucket", bucket)
  }

  private def doclenSegDf(toks: DataFrame, seq: Long): DataFrame =
    toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
      .withColumn("seq", lit(seq))

  /** LEXICON segment: the distinct vocabulary with each token's bucket,
    * RANGE-partitioned and sorted by `tok` — so a prefix query's
    * vocabulary expansion is a contiguous range scan over a
    * vocab-sized sidecar (parquet min/max file + row-group stats on
    * `tok` prune it), the sorted-lexicon idea behind the reference's
    * caption index (app/esper/captions.py:13-30). INVARIANT: the live
    * lexicon is a SUPERSET of the live postings' vocabulary (appends
    * add their batch's tokens; rewrites rebuild it from the rows they
    * keep; stale upsert vocabulary may linger until a rewrite) — a
    * superset is harmless because the prefix serve semi-joins it into
    * the postings, where dead tokens match nothing. `bucket` is
    * stored as INT to match the partition-column type the postings
    * scan infers, so the serve-side (bucket, tok) join needs no cast
    * between the DPP key and the partition column. */
  private def lexiconSegDf(vocabSrc: DataFrame, nBuckets: Int): DataFrame =
    vocabSrc.select(col("tok")).distinct()
      .withColumn("bucket",
        pmod(graft.text.TextOps.fingerprint(col("tok")),
          lit(nBuckets.toLong)).cast("int"))
      .repartitionByRange(col("tok"))
      .sortWithinPartitions("tok")

  /** Write one batch of `toks` stamped `seq` into `next`'s postings,
    * doclen and lexicon segments (build, append and upsert). */
  private def stageBatch(toks: DataFrame, dir: String)(
      next: graft.index.Manifest, seq: Long): Seq[String] = {
    val nBuckets = next.scalar("n_buckets").toInt
    writeLayout(POSTINGS, postingsRows(toks, seq, nBuckets),
      s"$dir/${next.segFor(POSTINGS)}")
    doclenSegDf(toks, seq)
      .write.mode("overwrite").parquet(s"$dir/${next.segFor(DOCLEN)}")
    lexiconSegDf(toks, nBuckets)
      .write.mode("overwrite").parquet(s"$dir/${next.segFor(LEXICON)}")
    Seq(POSTINGS, DOCLEN, LEXICON)
  }

  /** Build a new generation from `toks` (seq 0, counter 1). An empty
    * frame builds an index with empty components, which an append
    * revives. */
  def writeIndex(toks: DataFrame, dir: String, nBuckets: Int = 64): Unit = {
    require(nBuckets >= 1)
    val spark = toks.sparkSession
    Manifest.withLease(spark, dir) {
      val next = generation(spark, dir, 1L, Map("n_buckets" -> nBuckets.toString))
      publish(spark, dir, withStaged(spark, dir, next, stageBatch(toks, dir)(next, 0L)))
    }
  }

  /** Create an EMPTY index: commit a manifest carrying the bucket
    * modulus and no segments, so a purely incremental ingest (st16:
    * Structured Streaming micro-batches, each calling
    * [[appendIndex]]) can build the whole index without a batch
    * bootstrap. Postings/doclen segments appear with the first
    * append. */
  def initIndex(spark: SparkSession, dir: String, nBuckets: Int = 64): Unit = {
    require(nBuckets >= 1)
    Manifest.withLease(spark, dir) {
      publish(spark, dir,
        generation(spark, dir, 0L, Map("n_buckets" -> nBuckets.toString)))
    }
  }

  // Rows are seq-stamped and deleted by tombstone: see
  // graft.index.VersionedIndex for the versioning, the as-of reads and
  // the rewrites (compact, rollback, vacuum) this plane inherits.

  private def postingsOf(spark: SparkSession, dir: String,
                         m: graft.index.Manifest): DataFrame =
    Manifest.readComponent(spark, dir, m, POSTINGS)
      .getOrElse(throw new IllegalStateException(
        s"index at $dir has no postings segments (empty init, nothing appended)"))

  private def doclenOf(spark: SparkSession, dir: String,
                       m: graft.index.Manifest): DataFrame =
    Manifest.readComponent(spark, dir, m, DOCLEN)
      .getOrElse(throw new IllegalStateException(
        s"index at $dir has no doclen segments (empty init, nothing appended)"))

  /** Incremental maintenance (the daily-crawl shape): append a NEW
    * batch's postings/doc-lengths to an existing [[writeIndex]] layout
    * without rebuilding — the Spark-native analogue of the reference's
    * job-ledger skip-processed pattern (scannerutil.py:136-146, which
    * re-ingests only unprocessed videos). The batch is bucketed with
    * the STORED modulus, so serve-side pruning is unchanged; the new
    * segment is itself (tok, doc_id, pos)-sorted, so row-group stats
    * prune within it exactly as they do in the base build. The
    * segment becomes visible only at the manifest commit — a reader
    * concurrent with the append sees the old snapshot or the new one,
    * never a torn mix.
    *
    * CONTRACT: batch doc_ids must be disjoint from already-indexed
    * ones (append batches are new documents, not updates) — ph10's
    * oracle proves full-rebuild ≡ build-half + append-half under it. */
  def appendIndex(newToks: DataFrame, dir: String): Unit =
    logEvents(newToks.sparkSession, dir, None, Some(stageBatch(newToks, dir)))

  /** UPSERT (the re-crawl shape: a batch of documents whose content
    * CHANGED since they were indexed, plus possibly brand-new ones):
    * one commit tombstones the batch's doc ids and re-adds their token
    * rows (the versioning is [[graft.index.VersionedIndex]]'s), so no
    * reader sees the delete without the replacement. ph17/ph18's
    * oracles prove a stale-then-upserted index indistinguishable from
    * one built on the corrected corpus — positions, BM25 stats and
    * all. */
  def upsertIndex(newToks: DataFrame, dir: String): Unit =
    logEvents(newToks.sparkSession, dir, Some(newToks),
      Some(stageBatch(newToks, dir)))

  /** Raw postings across all live segments — the integrity-audit /
    * introspection read (ph13), NOT a serving path (no tombstone or
    * as-of resolution; use [[servedPostings]] for answers). */
  def rawPostings(spark: SparkSession, dir: String): DataFrame =
    postingsOf(spark, dir, Manifest.load(spark, dir))

  /** Raw doclen sidecar across all live segments (see [[rawPostings]]). */
  def rawDoclen(spark: SparkSession, dir: String): DataFrame =
    doclenOf(spark, dir, Manifest.load(spark, dir))

  /** Driver-side mirror of the build's bucket assignment (same
    * RollingHash the [[writeIndex]] expression uses — HashExprSpec
    * pins the expression to this scalar kernel). */
  private def bucketOf(w: String, nBuckets: Int): Long =
    Math.floorMod(
      graft.plans.RollingHash.hash(
        org.apache.spark.unsafe.types.UTF8String.fromString(w)),
      nBuckets.toLong)

  /** Postings restricted to `vocab`, reading ONLY the vocabulary's
    * bucket directories: the bucket set is computed on the driver from
    * the stored modulus, so the `bucket IN (...)` predicate is a plan-
    * time partition filter (PartitionFilters in the scan — asserted by
    * PhraseIndexSpec) and the `tok IN (...)` residual pushes down to
    * parquet row-group stats. At 100 TB a 3-word phrase touches
    * ~3/nBuckets of the index, not the corpus. */
  def servedPostings(spark: SparkSession, dir: String, vocab: Seq[String],
                     asOf: Option[Long] = None): DataFrame = {
    require(vocab.nonEmpty)
    val m = Manifest.load(spark, dir)
    servedPostingsWith(spark, dir, m, vocab, asOf)
  }

  private def servedPostingsWith(spark: SparkSession, dir: String,
                                 m: graft.index.Manifest,
                                 vocab: Seq[String],
                                 asOf: Option[Long]): DataFrame = {
    val nBuckets = m.scalar("n_buckets").toInt
    val bks = vocab.map(bucketOf(_, nBuckets)).distinct
    liveOnly(
      postingsOf(spark, dir, m)
        .filter(col("bucket").isin(bks: _*) && col("tok").isin(vocab: _*)),
      spark, dir, m, asOf)
      .select("doc_id", "pos", "tok")
  }

  /** SNAPSHOT DIFF: which documents changed between two index
    * snapshots, classified added/removed/changed — the introspection
    * a reproducibility audit runs ("what differs between the corpus
    * views of run X and run Y") without storing either corpus. Each
    * snapshot's per-doc content signature is an order/partition-free
    * integer aggregate over its postings: sum over tokens of
    * (fingerprint(tok) × w(pos)) mod P, finally mod P again, with
    * P = 1e9+7 and w(pos) an LCG mix of the position in [1, 2^31].
    * Position-weighting makes reorderings change the signature; the
    * LCG mix (not the raw pos+1 weight) breaks STRUCTURED
    * cancellations — swapped tokens or sign-patterned edits whose
    * linear weights would cancel; the per-term mod keeps every term
    * below 2^30, so the int64 per-doc sum is exact to ~8×10^9 tokens
    * per doc (the r14 unreduced form wrapped at ~1.3×10^5) and the
    * final mod makes the signature well-defined at ANY length.
    * Residual accidental collisions are ~1/P per doc pair — fine for
    * an audit, noted here by design. Two as-of scans and one
    * full-outer join on a doc-level frame; ph33's oracle replays both
    * signatures from the corpus texts. */
  def snapshotDiff(spark: SparkSession, dir: String,
                   fromSeq: Long, toSeq: Long): DataFrame = {
    val m = Manifest.load(spark, dir)
    val P = 1000000007L
    val w = pmod((col("pos").cast("long") + lit(1L)) * lit(1103515245L) +
      lit(12345L), lit(2147483648L)) + lit(1L)
    def sig(asOf: Long) =
      liveOnly(postingsOf(spark, dir, m), spark, dir, m, Some(asOf))
        .groupBy(col("doc_id"))
        .agg(pmod(sum(pmod(
          graft.text.TextOps.fingerprint(col("tok")) * w, lit(P))), lit(P))
          .as("sig"))
    sig(fromSeq).select(col("doc_id"), col("sig").as("__from"))
      .join(sig(toSeq).select(col("doc_id"), col("sig").as("__to")),
        Seq("doc_id"), "full_outer")
      .withColumn("change",
        when(col("__from").isNull, "added")
          .when(col("__to").isNull, "removed")
          .when(col("__from") =!= col("__to"), "changed")
          .otherwise("unchanged"))
      .filter(col("change") =!= "unchanged")
      .select(col("doc_id"), col("change"))
  }

  /** PREFIX (wildcard) search over a [[writeIndex]] layout: doc ids
    * holding any token that starts with `prefix`, plus the matched
    * vocabulary and its frequency — `cust*`-style expansion. A prefix
    * cannot route STATICALLY to one bucket (the bucket is a hash of
    * the FULL token), so the expansion goes through the LEXICON
    * sidecar: a range scan of the tok-sorted vocabulary table (file +
    * row-group min/max stats prune it to the prefix range) yields the
    * matched (bucket, tok) dimension, and a broadcast semi-join fans
    * it into the postings — dynamic partition pruning then drops
    * every bucket directory holding none of the matched tokens, the
    * same DPP shape the IVF plane's probed-cell scan uses. The pushed
    * StringStartsWith residual keeps the second, row-group-level
    * pruning inside the surviving buckets (the tok-sort invariant
    * every rewrite maintains). I/O therefore tracks the prefix
    * range's vocabulary + posting volume, not the index size — the
    * r14 layout read all 64 bucket dirs (4.0x at 100x corpus,
    * STRESS10X); this is the sorted-lexicon fix
    * (app/esper/captions.py:13-30). */
  def servedPrefixDocs(spark: SparkSession, dir: String, prefix: String,
                       asOf: Option[Long] = None): DataFrame = {
    require(prefix.nonEmpty, "empty prefix would scan the whole index")
    val m = Manifest.load(spark, dir)
    val posts = postingsOf(spark, dir, m).filter(col("tok").startsWith(prefix))
    val pruned = Manifest.readComponent(spark, dir, m, LEXICON) match {
      case Some(lex) =>
        val matched = lex.filter(col("tok").startsWith(prefix))
          .select(col("bucket"), col("tok")).distinct()
        posts.join(broadcast(matched), Seq("bucket", "tok"), "left_semi")
      case None => posts // pre-lexicon index (empty init): full fallback
    }
    liveOnly(pruned, spark, dir, m, asOf)
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf"))
  }

  /** [[phraseHits]] over a [[writeIndex]] layout: identical output
    * (same position-join plan), but the scan side is the pruned
    * postings instead of a full tokenize. `asOf = Some(S)` answers
    * from snapshot S instead of the latest state (see
    * [[currentSeq]]). */
  def servedPhraseHits(spark: SparkSession, dir: String, phrase: Seq[String],
                       asOf: Option[Long] = None): DataFrame =
    phraseHits(servedPostings(spark, dir, phrase.distinct, asOf), phrase)

  /** WILDCARD PHRASE over a [[writeIndex]] layout: phrase matching
    * where any slot may be a prefix pattern (`Seq("the", "cust*")`
    * matches "the customer", "the custom", ...) — the wildcard form
    * the reference's sorted caption lexicon exists to serve
    * (app/esper/captions.py:13-30). Exact slots read their statically
    * pruned vocabulary buckets ([[servedPostings]]'s path); starred
    * slots share ONE postings scan pruned the prefix way (lexicon
    * range scan → broadcast semi-join → DPP bucket pruning + pushed
    * StartsWith, [[servedPrefixDocs]]'s three layers). Slot i's hits
    * shift to (doc_id, pos − i) and the fold is the same left-semi
    * position-join as [[phraseHits]] — a doc position holds exactly
    * one token, so each slot contributes at most one row per start
    * and no de-dup is needed even when a slot's prefix matches many
    * vocabulary words. */
  def servedWildcardPhraseHits(spark: SparkSession, dir: String,
                               pattern: Seq[String],
                               asOf: Option[Long] = None): DataFrame = {
    val m = Manifest.load(spark, dir)
    patternHits(prunedPatternPostings(spark, dir, m, pattern, asOf), pattern)
  }

  /** A wildcard-capable word set by vocabulary KIND: the exact tokens
    * and the prefixes its slots match (classification mirrors
    * slotFilter: unescaped trailing star = prefix; `\*` = exact match
    * on the literal star-ended token). Exact words a prefix already
    * covers are dropped, so no token is matched by both kinds. */
  private def vocabClasses(words: Seq[String]): (Seq[String], Seq[String]) = {
    require(words.nonEmpty)
    words.foreach(w => require(w != "*",
      "a bare * slot would scan the whole index"))
    val prefixes = words.flatMap(slotPrefix).distinct
    val exactVocab = words.filter(slotPrefix(_).isEmpty).map(slotExact)
      .distinct
      .filterNot(w => prefixes.exists(w.startsWith))
    (exactVocab, prefixes)
  }

  /** One postings scan per vocabulary kind ([[vocabClasses]]): exact
    * words read their statically pruned buckets, prefixes share one
    * lexicon-routed scan; no physical row enters the union twice. */
  private def prunedPatternPostings(spark: SparkSession, dir: String,
                                    m: graft.index.Manifest,
                                    words: Seq[String],
                                    asOf: Option[Long]): DataFrame = {
    val (exactVocab, prefixes) = vocabClasses(words)
    val scans = Seq(
      if (exactVocab.nonEmpty)
        Some(servedPostingsWith(spark, dir, m, exactVocab, asOf))
      else None,
      if (prefixes.nonEmpty) {
        val pred = prefixes.map(p => col("tok").startsWith(p)).reduce(_ || _)
        val posts = postingsOf(spark, dir, m).filter(pred)
        val pruned = Manifest.readComponent(spark, dir, m, LEXICON) match {
          case Some(lex) =>
            val matched = lex.filter(pred)
              .select(col("bucket"), col("tok")).distinct()
            posts.join(broadcast(matched), Seq("bucket", "tok"), "left_semi")
          case None => posts
        }
        Some(liveOnly(pruned, spark, dir, m, asOf)
          .select("doc_id", "pos", "tok"))
      } else None).flatten
    scans.reduce(_.unionByName(_))
  }

  /** [[proximityHits]] over a [[writeIndex]] layout. */
  def servedProximityHits(spark: SparkSession, dir: String,
                          a: String, b: String, k: Int,
                          asOf: Option[Long] = None): DataFrame =
    proximityHits(servedPostings(spark, dir, Seq(a, b).distinct, asOf), a, b, k)

  /** MERGE independently built shard indexes into one serving layout —
    * the distributed 100 TB build shape: N builders each tokenize and
    * index a corpus partition in parallel (no coordination beyond a
    * shared bucket modulus), then one merge job folds the shards into
    * a single index, exactly Lucene's segment-merge step. The merge
    * never re-tokenizes: it is a union + shuffle-by-bucket + sort over
    * the shards' postings (and a range-partition over their doclens).
    * Each shard's tombstones are resolved DURING the merge (its
    * deleted rows simply don't survive into the output), so the
    * merged index starts clean: seq re-stamped to 0, counter 1, no
    * tombstones — indistinguishable from a fresh build on the union
    * of the shards' live corpora (ph21's oracle).
    *
    * CONTRACT: shards share the bucket modulus (required here) and
    * their live doc sets are disjoint (same rule as [[appendIndex]]). */
  def mergeIndexes(spark: SparkSession, shards: Seq[String],
                   out: String): Unit = {
    require(shards.nonEmpty)
    val sms = shards.map(d => (d, Manifest.load(spark, d)))
    val moduli = sms.map(_._2.scalar("n_buckets").toInt)
    require(moduli.distinct.size == 1,
      s"shards disagree on the bucket modulus: $moduli")
    mergeLive(spark, sms, out, Map("n_buckets" -> moduli.head.toString))(_ => Nil)
  }

  /** All words a boolean query touches (its served vocabulary). An
    * [[Infl]] contributes its whole candidate family — every member is
    * an exact token, so the served path prunes to the family's hash
    * buckets statically (absent members match nothing). */
  private def vocabOf(q: Q): Seq[String] = q match {
    case Phrase(ws)       => ws
    case Infl(w)          => Inflect.expand(w)
    case Near(a, b, _)    => vocabOf(a) ++ vocabOf(b)
    case MinCount(x, _)   => vocabOf(x)
    case Within(parts, _) => parts.flatMap(vocabOf)
    case And(l, r)        => vocabOf(l) ++ vocabOf(r)
    case Or(l, r)         => vocabOf(l) ++ vocabOf(r)
    case Not(x)           => vocabOf(x)
  }

  /** [[search]] over a [[writeIndex]] layout: the same one-pass
    * evaluator ([[evalOnePass]]) over ONE read of the pruned,
    * tombstone-filtered postings (exact words from their static
    * buckets, `cust*` terms routed through the lexicon) — no corpus
    * tokenize, no `documents` scan, no per-leaf re-read. The live
    * doc-length sidecar is the universe, read only when the query can
    * match a doc holding none of its words (`"a b" AND (c OR NOT d)`
    * reads none). A query over V distinct
    * words reads ≤ V of nBuckets index partitions. One manifest
    * resolve per query: every read serves the SAME snapshot even if
    * maintenance commits mid-query. */
  def servedSearch(spark: SparkSession, dir: String, query: String,
                   asOf: Option[Long] = None): DataFrame = {
    val q = parse(query)
    val m = Manifest.load(spark, dir)
    // the universe must shrink with deletes too, or NOT-only queries
    // would resurrect tombstoned docs
    evalOnePass(q, prunedPatternPostings(spark, dir, m, vocabOf(q).distinct, asOf),
      liveOnly(doclenOf(spark, dir, m), spark, dir, m, asOf).select("doc_id"))
  }

  /** [[bm25TopK]] over a [[writeIndex]] layout, arithmetic-identical
    * (same per-(doc,term) integer micro-score, [[microScore]]) but with
    * every input served from the index, in ONE `groupBy(doc_id)`
    * aggregate: the pruned term postings (~|terms|/nBuckets of the
    * index, read once) give tf_i per doc, and the live doclen rows,
    * unioned into the same aggregate, give dl. N, L and every df_i are
    * then one broadcast scalar aggregate over that aggregate's output
    * (the shuffle is reused, so nothing re-reads the postings) and the
    * ordered LIMIT stays a TakeOrdered. `terms` is a set: a repeated
    * term scores once.
    *
    * Deletes shift the GLOBAL stats too: N/L/avgdl come from the live
    * doclen rows, df from the live postings — exactly what a rebuild on
    * the remaining corpus would compute (ph15's oracle); an as-of read
    * scores with the SNAPSHOT's stats (ph24's oracle).
    *
    * `allowed` (optional) = FILTERED ranking: an allow-list dimension
    * of doc_ids (tenant / collection / license scoping) semi-joined
    * into the CANDIDATE rows before the top-k, so all k slots fill
    * with matching docs — while the corpus statistics (N, L, df)
    * deliberately stay GLOBAL, the way a search engine scopes results
    * without re-weighting terms per filter (a per-filter df would
    * re-rank identically-matching docs differently per tenant).
    * ph30's oracle pins both halves of that contract. */
  def servedBm25TopK(spark: SparkSession, dir: String, terms: Seq[String],
                     k: Int = 10, asOf: Option[Long] = None,
                     allowed: Option[DataFrame] = None): DataFrame = {
    require(terms.nonEmpty)
    val ts = terms.distinct
    bm25Rank(servedPerDoc(spark, dir, Manifest.load(spark, dir), ts, asOf),
      ts.size, k, allowed)
  }

  /** One row per live document (doc_id, dl, tf_i per term of `ts`) from
    * ONE `groupBy(doc_id)` aggregate: the pruned term postings and the
    * live doclen rows enter it as one union. */
  private def servedPerDoc(spark: SparkSession, dir: String,
                           m: graft.index.Manifest, ts: Seq[String],
                           asOf: Option[Long]): DataFrame = {
    val posts = servedPostingsWith(spark, dir, m, ts, asOf)
      .select(col("doc_id"), col("tok"), lit(null).cast("long").as("dl"))
    val dl = liveOnly(doclenOf(spark, dir, m), spark, dir, m, asOf)
      .select(col("doc_id"), lit(null).cast("string").as("tok"), col("dl"))
    posts.unionByName(dl).groupBy(col("doc_id"))
      .agg(max(col("dl")).as("dl"), ts.zipWithIndex.map { case (t, i) =>
        count(when(col("tok") === t, 1)).as(s"tf$i") }: _*)
  }

  /** Doc ids the index SERVES at HEAD (tombstones applied) — the
    * liveness probe behind the cross-plane audit (the IVF plane's
    * [[graft.similarity.IntKMeans.liveIds]] twin). One
    * dimension-sized doclen sidecar read; empty frame for an empty
    * index. */
  def liveDocIds(spark: SparkSession, dir: String): DataFrame =
    liveIdsOf(spark, dir)

  /** BATCH BM25: a TABLE of term-set queries ranked in ONE pass over
    * the index — [[servedBm25TopK]]'s scoring verbatim (the same
    * per-doc aggregate over the union of all queries' vocabularies,
    * the same scalar aggregate for N, L and every df, the same integer
    * micro-scores). Each candidate doc's (tok, tf, df) triples are
    * unrolled to rows and a broadcast (query_id, tok) dimension fans
    * them out to their queries; df stays a per-TOKEN property, so one
    * statistics row serves every query. The per-query top-k is a rank
    * window over the scored (query, doc) pairs — the one shape where a
    * window beats N TakeOrdereds, because the N=1 ordered-limit trick
    * can't share the scan. ph34's oracle replays every step. */
  def servedBatchBm25TopK(spark: SparkSession, dir: String,
                          termSets: Seq[(Long, Seq[String])], k: Int = 10,
                          asOf: Option[Long] = None): DataFrame = {
    require(termSets.nonEmpty && termSets.forall(_._2.nonEmpty))
    import spark.implicits._
    val terms = termSets
      .flatMap { case (q, ws) => ws.distinct.map(w => (q, w)) }
      .toDF("query_id", "tok")
    val vocab = termSets.flatMap(_._2).distinct
    val perDoc = servedPerDoc(spark, dir, Manifest.load(spark, dir), vocab, asOf)
    val occurrences = inline(array(vocab.zipWithIndex.map { case (t, i) =>
      struct(lit(t).as("tok"), col(s"tf$i").as("tf"), col(s"df$i").as("df"))
    }: _*))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("bm25_micro").desc, col("doc_id"))
    perDoc.filter(vocab.indices.map(i => col(s"tf$i") > 0).reduce(_ || _))
      .crossJoin(corpusStats(perDoc, vocab.size))
      .select(col("doc_id"), col("dl"), col("n"), col("l"), occurrences)
      .filter(col("tf") > 0)
      .join(broadcast(terms), "tok")
      .select(col("query_id"), col("doc_id"),
        microScore(col("tf"), col("df"), col("dl"), col("n"), col("l")).as("sc"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("sc")).as("bm25_micro"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id"), col("rank"), col("bm25_micro"))
  }
}
