package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.text.PhraseSearch._

/** Reference form of the boolean caption query evaluator: one
  * DataFrame per AST node, phrases as left-semi position joins,
  * AND/OR/NOT as semi joins, unions and anti joins against the
  * universe. It re-reads the postings for every leaf and every phrase
  * slot, so it is no serving path; it is the independent form the
  * one-pass evaluator behind `PhraseSearch.search` and
  * `PhraseSearch.servedSearch` is checked against. NEAR and `:: k`
  * share `posHits`/`withinK` with that evaluator. */
object PhraseRef {

  /** The doc-id set `q` matches; `universe` = all doc ids. */
  def eval(q: Q, toks: DataFrame, universe: DataFrame): DataFrame = q match {
    case Phrase(ws) => patternHits(toks, ws).select("doc_id").distinct()
    case i @ Infl(_) => posHits(i, toks).select("doc_id").distinct()
    case nr @ Near(_, _, _) => posHits(nr, toks).select("doc_id").distinct()
    case Within(parts, k) =>
      parts.tail.foldLeft(posHits(parts.head, toks)) { (acc, p) =>
        withinK(acc, posHits(p, toks), k)
      }.select("doc_id").distinct()
    case MinCount(x, n) =>
      posHits(x, toks).groupBy(col("doc_id"))
        .agg(count(lit(1)).as("__c")).filter(col("__c") >= n)
        .select("doc_id")
    case And(l, r) =>
      eval(l, toks, universe).join(eval(r, toks, universe), Seq("doc_id"), "left_semi")
    case Or(l, r) =>
      eval(l, toks, universe).union(eval(r, toks, universe)).distinct()
    case Not(x) =>
      universe.join(eval(x, toks, universe), Seq("doc_id"), "left_anti")
  }

  def search(query: String, toks: DataFrame, universe: DataFrame): DataFrame =
    eval(parse(query), toks, universe)
}
