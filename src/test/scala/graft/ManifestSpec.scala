package graft

import graft.index.Manifest
import graft.sources.FileRelations
import graft.text.PhraseSearch
import org.apache.spark.sql.functions._

/** The transactional spine of both index planes: a maintenance op
  * stages however many segment directories it likes, but NOTHING is
  * live until the single manifest rename commits — so a crash at any
  * earlier point leaves the previous snapshot fully intact (data,
  * tombstones, counter, watermark), and a reader never sees a
  * half-swapped layout. Plus the writer lease that turns the
  * single-writer contract from a doc comment into a loud failure. */
class ManifestSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox"),
    (2L, "the quick brown cat"),
    (3L, "a slow green turtle"),
    (4L, "quick brown quick brown")
  ).toDF("doc_id", "text")

  private lazy val toks = docs.select(col("doc_id"),
    posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))

  /** 20 8-d vectors for the IVF plane. */
  private lazy val embs = (1L to 20L).map { id =>
    (id, Array.tabulate(8)(d => ((id * 7 + d * 13) % 7 - 3).toFloat), 0)
  }.toDF("vec_id", "embedding", "label")

  private def freshDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString

  test("serialize/deserialize round-trips every field") {
    val m = Manifest(version = 7L, nextSeq = 42L, retention = Some(5L),
      scalars = Map("n_buckets" -> "64", "ma" -> "203.0"),
      segments = Map(
        "postings" -> Vector("postings/seg-1", "postings/seg-3"),
        "doclen" -> Vector("doclen/seg-1"),
        "tombstones" -> Vector.empty))
    assert(Manifest.deserialize(Manifest.serialize(m)) === m)
    val noRet = m.copy(retention = None)
    assert(Manifest.deserialize(Manifest.serialize(noRet)) === noRet)
  }

  test("readers resolve the highest committed version; tmp files are invisible") {
    val dir = freshDir("mf_ver_")
    PhraseSearch.writeIndex(toks, dir, nBuckets = 8)
    val v1 = Manifest.load(spark, dir)
    PhraseSearch.appendIndex(
      Seq((9L, 0, "zebra")).toDF("doc_id", "pos", "tok"), dir)
    val v2 = Manifest.load(spark, dir)
    assert(v2.version === v1.version + 1 && v2.nextSeq === v1.nextSeq + 1)
    // a half-written manifest (writer died mid-serialize) never resolves
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/manifest/v999.manifest.tmp"),
      "version=999\n".getBytes)
    assert(Manifest.load(spark, dir) === v2)
  }

  test("commit refuses a version that already exists (optimistic check)") {
    val dir = freshDir("mf_dup_")
    PhraseSearch.writeIndex(toks, dir, nBuckets = 8)
    val m = Manifest.load(spark, dir)
    intercept[IllegalArgumentException] {
      Manifest.commit(spark, dir, m) // same version again
    }
    assert(Manifest.load(spark, dir) === m, "failed commit must change nothing")
  }

  test("crash injection: a compaction killed before its commit changes nothing observable") {
    val dir = freshDir("mf_crash_")
    PhraseSearch.writeIndex(toks.filter(col("doc_id") % 2 === 0), dir, 8)
    PhraseSearch.appendIndex(toks.filter(col("doc_id") % 2 === 1), dir)
    PhraseSearch.deleteFromIndex(Seq(4L).toDF("doc_id"), dir)
    val m = Manifest.load(spark, dir)
    val headBefore = PhraseSearch
      .servedPhraseHits(spark, dir, Seq("quick", "brown")).collect().toSet
    val asOf1 = PhraseSearch.servedPhraseHits(spark, dir, Seq("quick"),
      asOf = Some(1L)).collect().toSet
    // replay compactIndex's segment writes EXACTLY, then "crash" —
    // no manifest commit. The staged consolidated segment sits on
    // disk next to the live ones.
    PhraseSearch.rawPostings(spark, dir)
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$dir/${m.nextSeg("postings")}")
    PhraseSearch.rawDoclen(spark, dir)
      .write.mode("overwrite").parquet(s"$dir/${m.nextSeg("doclen")}")
    // every read — HEAD, history, counter, pending deletes — still
    // serves the OLD snapshot
    assert(Manifest.load(spark, dir) === m)
    assert(PhraseSearch.servedPhraseHits(spark, dir, Seq("quick", "brown"))
      .collect().toSet === headBefore)
    assert(PhraseSearch.servedPhraseHits(spark, dir, Seq("quick"),
      asOf = Some(1L)).collect().toSet === asOf1)
    assert(!PhraseSearch.pendingDeletes(spark, dir).isEmpty,
      "the crashed compaction must not have cleared the tombstones")
    // recovery is just running the op again: its gc sweeps the
    // orphaned staged segments, and the commit lands atomically
    PhraseSearch.compactIndex(spark, dir)
    assert(PhraseSearch.servedPhraseHits(spark, dir, Seq("quick", "brown"))
      .collect().toSet === headBefore)
    assert(PhraseSearch.pendingDeletes(spark, dir).isEmpty)
    val live = Manifest.load(spark, dir).segs("postings").toSet
    val fs = new org.apache.hadoop.fs.Path(s"$dir/postings")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val onDisk = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/postings"))
      .map(st => s"postings/${st.getPath.getName}").toSet
    assert(onDisk === live,
      s"gc left orphaned segments: ${onDisk.diff(live)}")
  }

  test("crash injection (IVF plane): a refresh killed before its commit changes nothing") {
    import graft.similarity.IntKMeans
    val dir = freshDir("mf_ivfcrash_")
    IntKMeans.writeIndex(embs, dir, nlist = 2)
    IntKMeans.deleteFromIndex(Seq(3L).toDF("vec_id"), dir)
    val m = Manifest.load(spark, dir)
    val qs = embs.filter(col("vec_id") === 1)
    val before = IntKMeans.servedTopK(spark, dir, qs, k = 10, nprobe = 2)
      .orderBy("q_id", "rank").collect().toSeq
    // a refresh stages new vectors + new centroids, then dies before
    // its commit: the r14 layout had a real crash window here (old
    // tombstones applying to new seq-0 rows); under the manifest the
    // staged generation is simply invisible
    IntKMeans.rawVectors(spark, dir).limit(1)
      .write.mode("overwrite").parquet(s"$dir/${m.nextSeg("vectors")}")
    spark.range(1).select(lit(0L).as("cell"), lit(Array(0.0d)).as("c"))
      .write.mode("overwrite").parquet(s"$dir/${m.nextSeg("centroids")}")
    assert(Manifest.load(spark, dir) === m)
    assert(IntKMeans.servedTopK(spark, dir, qs, k = 10, nprobe = 2)
      .orderBy("q_id", "rank").collect().toSeq === before,
      "uncommitted staged generation must be invisible to serves")
    assert(!IntKMeans.pendingDeletes(spark, dir).isEmpty,
      "the crashed refresh must not have cleared the tombstones")
    // the re-run commits atomically; its gc sweeps the orphans
    IntKMeans.refreshIndex(spark, dir, nlist = 2)
    assert(IntKMeans.currentSeq(spark, dir) === 1L)
    assert(IntKMeans.rawVectors(spark, dir)
      .filter(col("vec_id") === 3L).count() === 0L,
      "refresh must resolve the tombstone into the rewrite")
  }

  test("writer lease: a second concurrent writer fails loudly; breakLease recovers") {
    val dir = freshDir("mf_lease_")
    PhraseSearch.writeIndex(toks, dir, nBuckets = 8)
    val before = Manifest.load(spark, dir)
    // a writer crashed holding the lease: maintenance must refuse
    // instead of silently interleaving with the (presumed-alive) op
    Manifest.withLease(spark, dir) {
      val e = intercept[IllegalStateException] {
        PhraseSearch.deleteFromIndex(Seq(1L).toDF("doc_id"), dir)
      }
      assert(e.getMessage.contains("lease"), s"wrong failure: ${e.getMessage}")
    }
    // withLease released it on exit — maintenance proceeds
    PhraseSearch.deleteFromIndex(Seq(1L).toDF("doc_id"), dir)
    assert(Manifest.load(spark, dir).version === before.version + 1)
    // a crashed writer's stale lease is broken explicitly, never raced
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/manifest/LEASE"), Array.empty[Byte])
    intercept[IllegalStateException] {
      PhraseSearch.deleteFromIndex(Seq(2L).toDF("doc_id"), dir)
    }
    Manifest.breakLease(spark, dir)
    PhraseSearch.deleteFromIndex(Seq(2L).toDF("doc_id"), dir)
    assert(PhraseSearch.pendingDeletes(spark, dir).count() === 2L)
  }

  test("the lease is released when the op body throws") {
    val dir = freshDir("mf_lease2_")
    PhraseSearch.writeIndex(toks, dir, nBuckets = 8)
    intercept[IllegalArgumentException] {
      PhraseSearch.vacuumIndex(spark, dir, 99L) // outside [1, cur]
    }
    // the failed op must not leave the index locked
    PhraseSearch.deleteFromIndex(Seq(1L).toDF("doc_id"), dir)
    assert(PhraseSearch.pendingDeletes(spark, dir).count() === 1L)
  }

  test("gcRetainVersions keeps a reader-grace window of prior snapshots") {
    val dir = freshDir("mf_grace_")
    spark.conf.set("spark.graft.index.gcRetainVersions", "1")
    try {
      PhraseSearch.writeIndex(toks.filter(col("doc_id") % 2 === 0), dir, 8)
      PhraseSearch.appendIndex(toks.filter(col("doc_id") % 2 === 1), dir)
      val pinned = Manifest.load(spark, dir) // a reader starts here (v2)
      PhraseSearch.compactIndex(spark, dir)  // commits v3, drops v2's segs
      // within the grace window: the pinned snapshot's manifest AND
      // every segment it references are still on disk
      assert(Manifest.loadVersion(spark, dir, pinned.version) === pinned)
      pinned.segments.values.flatten.foreach { seg =>
        assert(spark.read.parquet(s"$dir/$seg").count() > 0L,
          s"grace window violated: $seg reclaimed under a live reader")
      }
      // new readers resolve the compacted head as usual
      assert(Manifest.load(spark, dir).segs("postings").size === 1)
      // the NEXT commit expires the pinned version (one-version grace)
      PhraseSearch.deleteFromIndex(Seq(1L).toDF("doc_id"), dir)
      intercept[IllegalArgumentException] {
        Manifest.loadVersion(spark, dir, pinned.version)
      }
    } finally spark.conf.unset("spark.graft.index.gcRetainVersions")
  }

  test("autoCompact triggers on segment count, on both planes") {
    val dir = freshDir("mf_auto_")
    PhraseSearch.writeIndex(toks.filter(col("doc_id") === 1L), dir, 8)
    (2L to 4L).foreach(i =>
      PhraseSearch.appendIndex(toks.filter(col("doc_id") === i), dir))
    // 4 segments, threshold 4: below/at threshold is a no-op
    assert(!PhraseSearch.autoCompact(spark, dir, maxSegments = 4))
    assert(Manifest.load(spark, dir).segs("postings").size === 4)
    // one more append crosses it
    val extra = toks.filter(col("doc_id") === 1L).withColumn("doc_id", lit(9L))
    PhraseSearch.appendIndex(extra, dir)
    assert(PhraseSearch.autoCompact(spark, dir, maxSegments = 4))
    assert(Manifest.load(spark, dir).segs("postings").size === 1)
    assert(PhraseSearch.servedPhraseHits(spark, dir, Seq("quick", "brown"))
      .collect().toSet ===
      PhraseSearch.phraseHits(toks.unionByName(extra), Seq("quick", "brown"))
        .collect().toSet)
    // IVF mirror
    import graft.similarity.IntKMeans
    val vd = freshDir("mf_auto_v_")
    IntKMeans.writeIndex(embs.filter($"vec_id" <= 10), vd, nlist = 2)
    IntKMeans.appendIndex(embs.filter($"vec_id" > 10), vd)
    assert(!IntKMeans.autoCompact(spark, vd, maxSegments = 2))
    IntKMeans.appendIndex(
      embs.filter($"vec_id" === 1L).withColumn("vec_id", lit(21L)), vd)
    assert(IntKMeans.autoCompact(spark, vd, maxSegments = 2))
    assert(Manifest.load(spark, vd).segs("vectors").size === 1)
  }

  test("gc keeps only the latest manifest and its referenced segments") {
    val dir = freshDir("mf_gc_")
    PhraseSearch.writeIndex(toks.filter(col("doc_id") % 2 === 0), dir, 8)
    PhraseSearch.appendIndex(toks.filter(col("doc_id") % 2 === 1), dir)
    PhraseSearch.compactIndex(spark, dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val manifests = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$dir/manifest"))
      .map(_.getPath.getName).filter(_.endsWith(".manifest"))
    assert(manifests.length === 1,
      s"old manifest versions not gc'd: ${manifests.toSeq}")
    val m = Manifest.load(spark, dir)
    Seq("postings", "doclen").foreach { comp =>
      val segs = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/$comp"))
        .map(st => s"$comp/${st.getPath.getName}").toSet
      assert(segs === m.segs(comp).toSet,
        s"$comp holds segments the manifest does not reference: $segs")
    }
  }

  // ---------------- segment resolver --------------------------------

  private val boolQuery = "\"quick brown\" AND NOT cat"

  /** The four served read kinds the index planes answer, as frames. */
  private def servedReads(s: org.apache.spark.sql.SparkSession, pdir: String,
                          vdir: String): Seq[org.apache.spark.sql.DataFrame] = Seq(
    PhraseSearch.servedPhraseHits(s, pdir, Seq("quick", "brown")),
    PhraseSearch.servedSearch(s, pdir, boolQuery),
    PhraseSearch.servedBm25TopK(s, pdir, Seq("quick", "brown", "turtle"), k = 3),
    graft.similarity.IntKMeans.servedTopK(s, vdir,
      embs.filter(col("vec_id") === 1L).select("vec_id", "embedding"), k = 5, nprobe = 2))

  private def answers(reads: Seq[org.apache.spark.sql.DataFrame]): Seq[Set[String]] =
    reads.map(_.collect().map(_.toString).toSet)

  test("resolver: building the same served reads again on one snapshot starts no Spark job") {
    import graft.similarity.IntKMeans
    val pdir = freshDir("mf_res_jobs_")
    val vdir = freshDir("mf_res_jobs_v_")
    PhraseSearch.writeIndex(toks.filter(col("doc_id") =!= 4L), pdir, nBuckets = 8)
    PhraseSearch.appendIndex(toks.filter(col("doc_id") === 4L), pdir)
    PhraseSearch.deleteFromIndex(Seq(2L).toDF("doc_id"), pdir)
    IntKMeans.writeIndex(embs.filter(col("vec_id") <= 15L), vdir, nlist = 2)
    IntKMeans.deleteFromIndex(Seq(3L).toDF("vec_id"), vdir)
    // the first build resolves every live segment (schema inference is
    // a job each), which proves the counter sees construction jobs
    val cold = jobsStartedBy(servedReads(spark, pdir, vdir))
    assert(cold > 0, "the first build should resolve segments with Spark jobs")
    Seq("phrase", "boolean with NOT", "BM25", "kNN").zipWithIndex.foreach { case (kind, i) =>
      val warm = jobsStartedBy(servedReads(spark, pdir, vdir)(i))
      assert(warm === 0, s"rebuilding the served $kind read started $warm Spark jobs")
    }
  }

  test("resolver: served answers equal a fresh read through every maintenance op") {
    import graft.similarity.IntKMeans
    val pdir = freshDir("mf_res_life_")
    val vdir = freshDir("mf_res_life_v_")
    // a new session shares nothing with the resolver's entries for
    // `spark`, so its reads resolve every segment with spark.read.parquet
    def check(step: String): Unit = {
      val got = answers(servedReads(spark, pdir, vdir))
      val fresh = answers(servedReads(spark.newSession(), pdir, vdir))
      assert(got === fresh, s"after $step")
      assert(got.head.nonEmpty, s"vacuous phrase read after $step")
    }
    PhraseSearch.writeIndex(toks.filter(col("doc_id") % 2 === 0), pdir, nBuckets = 8)
    IntKMeans.writeIndex(embs.filter(col("vec_id") <= 10L), vdir, nlist = 2)
    check("build")
    PhraseSearch.appendIndex(toks.filter(col("doc_id") % 2 === 1), pdir)
    IntKMeans.appendIndex(embs.filter(col("vec_id") > 10L), vdir)
    check("append")
    PhraseSearch.deleteFromIndex(Seq(2L).toDF("doc_id"), pdir)
    IntKMeans.deleteFromIndex(Seq(1L, 2L).toDF("vec_id"), vdir)
    check("delete")
    PhraseSearch.rollbackIndex(spark, pdir, 2L)
    IntKMeans.rollbackIndex(spark, vdir, 2L)
    check("rollback")
    PhraseSearch.deleteFromIndex(Seq(1L).toDF("doc_id"), pdir)
    IntKMeans.deleteFromIndex(Seq(4L).toDF("vec_id"), vdir)
    PhraseSearch.vacuumIndex(spark, pdir, 3L)
    IntKMeans.vacuumIndex(spark, vdir, 3L)
    check("vacuum")
    PhraseSearch.compactIndex(spark, pdir)
    IntKMeans.compactIndex(spark, vdir)
    check("compact")
    // the phrase answers are also the corpus truth: the rollback undid
    // doc 2's delete, the vacuum reclaimed doc 1
    val live = toks.filter(col("doc_id") =!= 1L)
    assert(PhraseSearch.servedPhraseHits(spark, pdir, Seq("quick", "brown"))
      .collect().toSet ===
      PhraseSearch.phraseHits(live, Seq("quick", "brown")).collect().toSet)
  }

  test("resolver: an index deleted and rebuilt under the same path serves the new content") {
    val dir = freshDir("mf_res_rebuild_")
    PhraseSearch.writeIndex(toks, dir, nBuckets = 8)
    assert(PhraseSearch.servedPhraseHits(spark, dir, Seq("quick", "brown"))
      .collect().nonEmpty)
    val seg = s"$dir/${Manifest.load(spark, dir).segs("postings").head}"
    assert(FileRelations.isResolved(spark, seg))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    val other = Seq((7L, "quick brown owl"), (8L, "brown quick owl"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
    PhraseSearch.writeIndex(other, dir, nBuckets = 8)
    // same manifest version, so the same segment path as before
    assert(s"$dir/${Manifest.load(spark, dir).segs("postings").head}" === seg)
    assert(PhraseSearch.servedPhraseHits(spark, dir, Seq("quick", "brown"))
      .collect().toSet ===
      PhraseSearch.phraseHits(other, Seq("quick", "brown")).collect().toSet)
    assert(PhraseSearch.servedSearch(spark, dir, "owl").collect().map(_.getLong(0)).toSet ===
      Set(7L, 8L))
  }

  test("resolver: gc drops the entries of the segments a compaction deleted") {
    val dir = freshDir("mf_res_gc_")
    PhraseSearch.writeIndex(toks.filter(col("doc_id") % 2 === 0), dir, nBuckets = 8)
    PhraseSearch.appendIndex(toks.filter(col("doc_id") % 2 === 1), dir)
    PhraseSearch.deleteFromIndex(Seq(4L).toDF("doc_id"), dir)
    PhraseSearch.servedBm25TopK(spark, dir, Seq("quick", "turtle"), k = 3).collect()
    val before = Manifest.load(spark, dir)
    val old = Seq("postings", "doclen", "tombstones").flatMap(before.segs)
      .map(r => s"$dir/$r")
    assert(old.size === 5)
    old.foreach(p => assert(FileRelations.isResolved(spark, p), s"$p was never resolved"))
    PhraseSearch.compactIndex(spark, dir)
    old.foreach(p => assert(!FileRelations.isResolved(spark, p), s"gc left an entry for $p"))
    // a reader still holding the reclaimed snapshot fails as an
    // unresolved read of a missing dir does
    val e = intercept[org.apache.spark.sql.AnalysisException](
      Manifest.readComponent(spark, dir, before, "postings"))
    assert(e.getCondition === "PATH_NOT_FOUND", e.getMessage)
    // the lexicon rebuild read the new postings segment through the
    // resolver, so the first served read after the compaction finds it
    val after = Manifest.load(spark, dir)
    assert(FileRelations.isResolved(spark, s"$dir/${after.segs("postings").head}"))
  }
}
