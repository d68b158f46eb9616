package graft

import graft.index.Manifest
import graft.similarity.IntKMeans
import graft.text.PhraseSearch
import org.apache.spark.sql.{DataFrame, Row}

/** The versioned-row lifecycle (graft.index.VersionedIndex) on BOTH
  * index planes, one table of cases run against each: the empty-output
  * paths must publish empty components (reads fail loudly, an append
  * revives the index) and an empty delete batch must not count as a
  * tombstone (a later compaction keeps every snapshot readable). */
class LifecycleSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString

  /** What a case needs from a plane: ops keyed by row ids, one served
    * read, and the loud message of a read on an empty index. */
  private abstract class Plane(val name: String, val primary: String,
                               val emptyRead: String) {
    def build(ids: Seq[Long], dir: String): Unit
    /** An index with no rows that appends can fill. */
    def start(dir: String): Unit
    def append(ids: Seq[Long], dir: String): Unit
    def delete(ids: Seq[Long], dir: String): Unit
    def merge(shards: Seq[String], out: String): Unit
    def compact(dir: String): Unit
    def read(dir: String, asOf: Option[Long] = None): Set[Row]
    /** The read an index holding exactly `ids`, appended to an empty
      * start, gives. */
    def reference(ids: Seq[Long]): Set[Row] = {
      val d = freshDir(s"${name}_ref_")
      start(d); append(ids, d); read(d)
    }
  }

  private val phrase = new Plane("phrase", "postings", "no postings segments") {
    private def toks(ids: Seq[Long]): DataFrame =
      ids.flatMap(id => Seq("the", "quick", "brown", s"w${id % 3}")
          .zipWithIndex.map { case (w, p) => (id, p, w) })
        .toDF("doc_id", "pos", "tok")
    def build(ids: Seq[Long], dir: String): Unit =
      PhraseSearch.writeIndex(toks(ids), dir, nBuckets = 8)
    def start(dir: String): Unit = PhraseSearch.initIndex(spark, dir, nBuckets = 8)
    def append(ids: Seq[Long], dir: String): Unit = PhraseSearch.appendIndex(toks(ids), dir)
    def delete(ids: Seq[Long], dir: String): Unit =
      PhraseSearch.deleteFromIndex(ids.toDF("doc_id"), dir)
    def merge(shards: Seq[String], out: String): Unit =
      PhraseSearch.mergeIndexes(spark, shards, out)
    def compact(dir: String): Unit = PhraseSearch.compactIndex(spark, dir)
    def read(dir: String, asOf: Option[Long]): Set[Row] =
      PhraseSearch.servedPhraseHits(spark, dir, Seq("quick", "brown"), asOf)
        .collect().toSet
  }

  private val ivf = new Plane("ivf", "vectors", "no vector segments") {
    private def embs(ids: Seq[Long]): DataFrame = ids.map { id =>
        (id, Array.tabulate(8)(d => ((id * 7 + d * 13) % 7 - 3).toFloat), 0)
      }.toDF("vec_id", "embedding", "label")
    /** The coarse quantizer every empty start shares. */
    private lazy val quantizer = {
      val d = freshDir("ivf_quantizer_")
      IntKMeans.writeIndex(embs(1L to 20L), d, nlist = 2)
      d
    }
    def build(ids: Seq[Long], dir: String): Unit =
      IntKMeans.writeIndex(embs(ids), dir, nlist = 2)
    def start(dir: String): Unit = IntKMeans.initShard(spark, quantizer, dir)
    def append(ids: Seq[Long], dir: String): Unit = IntKMeans.appendIndex(embs(ids), dir)
    def delete(ids: Seq[Long], dir: String): Unit =
      IntKMeans.deleteFromIndex(ids.toDF("vec_id"), dir)
    def merge(shards: Seq[String], out: String): Unit =
      IntKMeans.mergeIndexes(spark, shards, out)
    def compact(dir: String): Unit = IntKMeans.compactIndex(spark, dir)
    def read(dir: String, asOf: Option[Long]): Set[Row] =
      IntKMeans.servedTopK(spark, dir, embs(Seq(1L, 25L)), k = 3, nprobe = 2,
        asOf = asOf).collect().toSet
  }

  /** The empty-index read fails on readComponent's loud path. */
  private def assertEmptyRead(p: Plane, dir: String): Unit = {
    val e = intercept[IllegalStateException](p.read(dir))
    assert(e.getMessage.contains(p.emptyRead), s"wrong failure mode: ${e.getMessage}")
  }

  for (p <- Seq(phrase, ivf)) {
    test(s"${p.name}: merging an all-deleted shard publishes empty components; an append revives it") {
      val shard = freshDir(s"${p.name}_dead_shard_")
      p.start(shard)
      p.append(Seq(21L, 22L), shard)
      p.delete(Seq(21L, 22L), shard)
      val out = freshDir(s"${p.name}_merged_")
      p.merge(Seq(shard), out)
      assert(Manifest.load(spark, out).segs(p.primary).isEmpty,
        "an empty merge published a segment")
      assertEmptyRead(p, out)
      p.append(30L to 35L, out)
      val revived = p.read(out)
      assert(revived.nonEmpty && revived === p.reference(30L to 35L),
        "append after an empty merge did not revive the index")
    }

    test(s"${p.name}: an empty delete is no tombstone; compaction keeps the earlier snapshot") {
      val dir = freshDir(s"${p.name}_empty_delete_")
      p.build(1L to 20L, dir)
      val snapshot = p.read(dir)
      assert(snapshot.nonEmpty)
      p.delete(Nil, dir)
      val m = Manifest.load(spark, dir)
      assert(m.nextSeq === 2L, "an empty delete is still an event")
      assert(m.segs("tombstones").isEmpty, "an empty delete published a tombstone segment")
      p.compact(dir)
      assert(Manifest.load(spark, dir).retention.isEmpty,
        "a compaction that reclaimed nothing advanced the watermark")
      assert(p.read(dir, asOf = Some(1L)) === snapshot)
    }
  }

  test("phrase: building from an empty frame publishes empty components; an append revives it") {
    val dir = freshDir("phrase_empty_build_")
    phrase.build(Nil, dir)
    val m = Manifest.load(spark, dir)
    for (c <- Seq("postings", "doclen", "lexicon", "tombstones"))
      assert(m.segs(c).isEmpty, s"empty build published a $c segment")
    assertEmptyRead(phrase, dir)
    phrase.append(Seq(1L, 2L, 3L), dir)
    val revived = phrase.read(dir)
    assert(revived.nonEmpty && revived === phrase.reference(Seq(1L, 2L, 3L)))
  }

  test("ivf: building from an empty corpus is refused before anything is committed") {
    val dir = freshDir("ivf_empty_build_")
    val e = intercept[IllegalArgumentException](ivf.build(Nil, dir))
    assert(e.getMessage.contains("empty corpus"), s"wrong failure mode: ${e.getMessage}")
    assert(Manifest.latest(spark, dir).isEmpty, "a refused build committed a manifest")
  }
}
