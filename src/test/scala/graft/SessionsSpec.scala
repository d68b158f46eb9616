package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import graft.plans.AutoBandOverlapJoin
import graft.queries.Q

/** The one session factory and the one per-session install path
  * (`Q.tune`), plus the hand-kept query-name lists the mains read. */
class SessionsSpec extends SparkSpec {

  test("Q.tune installs the eight SQL functions and the AutoBand rule once") {
    // a fresh session state over the factory-built context: nothing
    // installed yet, so whatever resolves afterwards came from tune
    val s = spark.newSession()
    assert(!s.experimental.extraOptimizations.contains(AutoBandOverlapJoin))
    assert(!s.catalog.functionExists("overlap_seconds"))
    (1 to 3).foreach(_ => Q.tune(s))
    assert(s.experimental.extraOptimizations.count(_ == AutoBandOverlapJoin) === 1)
    // 65CC81 is UTF-8 for e + U+0301, which NFC composes to U+00E9
    val row = s.sql("""SELECT
        overlap_seconds(0L, 10L, 5L, 20L),
        vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)),
        vec_norm2(array(3.0D, 4.0D)),
        vec_cosine(array(2.0D, 0.0D), array(5.0D, 0.0D)),
        rolling_hash('ab'),
        token_edit_distance(array('a', 'b'), array('a', 'c')),
        nfc_normalize(decode(unhex('65CC81'), 'UTF-8')),
        max_multiplicity(array('a', 'b', 'a'))""").head()
    assert(row.toSeq === Seq(5L, 11.0, 5.0, 1.0, 97L * 31 + 98, 1L, "\u00e9", 2L))
  }

  test("src/main builds a SparkSession only in the Sessions factory") {
    val sessionChain = """SparkSession\s*\.\s*builder""".r
    val main = Paths.get("src/main")
    val walk = Files.walk(main)
    val hits = try walk.iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filter(p => sessionChain.findFirstIn(Files.readString(p)).nonEmpty)
      .map(p => main.relativize(p).toString).toList
    finally walk.close()
    assert(hits === List("scala/graft/Sessions.scala"))
  }

  test("Bench warm-ups and the Q layout lists name existing queries") {
    val names = SparkEntry.queries.keySet
    Seq("Bench.warmups" -> Bench.warmups,
      "Q.layoutIdxBacked" -> Q.layoutIdxBacked.toSeq,
      "Q.layoutInProcessPh" -> Q.layoutInProcessPh.toSeq).foreach {
      case (list, ns) =>
        val unknown = ns.filterNot(names)
        assert(unknown.isEmpty, s"$list names no query: ${unknown.mkString(", ")}")
    }
  }
}
