package graft.index

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The versioned-row model both index planes share (the phrase index
  * in [[graft.text.PhraseSearch]], the IVF index in
  * [[graft.similarity.IntKMeans]]), written once on top of the
  * [[Manifest]] commit spine.
  *
  * SEQUENCE NUMBERS. Every batch of rows carries the seq it was
  * written under (base build = 0, each later batch = the then-current
  * counter `nextSeq`, which lives in the manifest). A tombstone is
  * (id, upto = the counter when it was written): it kills only rows of
  * that id with seq < upto, so an upsert's replacement rows (written AT
  * upto + 1) survive their own tombstone and a delete never affects
  * later appends. This is the Lucene/LSM delete model: nothing is
  * rewritten, visibility is resolved at read time ([[liveOnly]]: one
  * broadcast anti-join on the dimension-sized tombstone set), and a
  * rewrite makes it physical. Every append, delete and upsert event
  * advances the counter, so snapshot S — the state after events
  * 0..S−1 — is well-defined: an `asOf = Some(S)` read cuts rows to
  * seq < S and tombstones to upto < S, two pushed-down predicates and
  * no second layout. [[currentSeq]] names the latest snapshot; any
  * value recorded earlier names the exact historical state (the
  * "rebuild the corpus view that produced run X" hook).
  *
  * RETENTION. A rewrite that drops rows older snapshots still need
  * ([[compactIndex]], [[vacuumIndex]]) advances the retention
  * watermark IN THE SAME manifest commit that swaps its segments in, so
  * no crash ordering can serve a historical snapshot minus its
  * reclaimed rows. The watermark is monotonic; as-of reads and
  * rollbacks below it are refused loudly, never mis-served.
  *
  * REWRITES. Compaction, rollback and vacuum are one operation: write
  * every seq-stamped component through a row filter into a fresh
  * segment (the plane's canonical layout), keep the tombstones the
  * filter did not apply, set counter and watermark, and publish it all
  * in ONE commit. A component the filter empties publishes EMPTY —
  * never a schemaless `_SUCCESS`-only segment — so reads fail on
  * [[Manifest.readComponent]]'s loud empty-index path and the next
  * append revives the index. Emptiness is decided from rows (parquet
  * footers, read on the driver), not files: an empty unpartitioned
  * write still leaves a schema-only part file.
  *
  * A plane supplies its id column, its components, the read and
  * canonical layout of each seq-stamped component, and one hook run
  * after a rewrite or merge. The single-writer contract is enforced by
  * the manifest's writer lease. */
trait VersionedIndex {
  import VersionedIndex._

  protected val TOMBSTONES = "tombstones"

  /** The row id tombstones name (`doc_id`, `vec_id`). */
  protected def idCol: String
  /** Every component a new generation lists, tombstones aside. */
  protected def components: Seq[String]
  /** The seq-stamped components, in write order. The first one's
    * segment count is what [[autoCompact]] bounds. */
  protected def versioned: Seq[String]
  /** The seq-stamped component the live-id probe scans. */
  protected def idSource: String
  /** A seq-stamped component's rows at `m`; fails loudly when empty. */
  protected def rowsOf(spark: SparkSession, dir: String, m: Manifest,
                       component: String): DataFrame
  /** Write a seq-stamped component's rows in its canonical layout. */
  protected def writeLayout(component: String, rows: DataFrame,
                            path: String): Unit
  /** Run after a rewrite or merge staged its seq-stamped segments into
    * `next`; returns the manifest to publish. */
  protected def afterRewrite(spark: SparkSession, dir: String,
                             next: Manifest): Manifest

  private def tombstonesOf(spark: SparkSession, dir: String,
                             m: Manifest): Option[DataFrame] =
    Manifest.readComponent(spark, dir, m, TOMBSTONES)

  /** Rows of `df` (carrying the id column and `seq`) that no tombstone
    * in `tombs` kills. */
  private def antiJoin(df: DataFrame, tombs: DataFrame): DataFrame = {
    val alias = "__t_" + idCol.stripSuffix("_id")
    val ts = broadcast(tombs.select(col(idCol).as(alias),
      col("upto").as("__t_upto")))
    df.join(ts, df(idCol) === col(alias) && df("seq") < col("__t_upto"),
      "left_anti")
  }

  /** The rows of `df` visible at HEAD, or at snapshot `asOf`: rows
    * written before it, minus those a tombstone existing at it kills.
    * Snapshots older than the retention watermark are refused. */
  protected def liveOnly(df: DataFrame, spark: SparkSession, dir: String,
                         m: Manifest, asOf: Option[Long] = None): DataFrame = {
    asOf.foreach { s =>
      m.retention.foreach(r => require(s >= r,
        s"snapshot $s predates the retention watermark $r (vacuumed away)"))
    }
    val cut = asOf.map(s => df.filter(col("seq") < s)).getOrElse(df)
    tombstonesOf(spark, dir, m) match {
      case Some(t) =>
        antiJoin(cut, asOf.map(s => t.filter(col("upto") < s)).getOrElse(t))
      case None => cut
    }
  }

  /** The header of a NEW generation at `dir`: the next version, counter
    * `nextSeq`, no watermark, every component empty. A fresh build over
    * a used dir thereby drops the old generation's tombstones and
    * watermark on commit (and gc removes their files). */
  protected def generation(spark: SparkSession, dir: String, nextSeq: Long,
                           scalars: Map[String, String]): Manifest =
    Manifest(
      version = Manifest.latest(spark, dir).map(_.version).getOrElse(0L) + 1,
      nextSeq = nextSeq, retention = None, scalars = scalars,
      segments = (components :+ TOMBSTONES).map(_ -> Vector.empty[String]).toMap)

  /** `next` plus its own segment of each staged component that holds
    * rows. */
  protected def withStaged(spark: SparkSession, dir: String, next: Manifest,
                           staged: Seq[String]): Manifest =
    staged.foldLeft(next) { (m, c) =>
      val seg = next.segFor(c)
      if (hasRows(spark, s"$dir/$seg")) m.withSegAdded(c, seg) else m
    }

  /** Log one maintenance event at `dir` under its lease: tombstones for
    * `kill`'s ids at upto = S (one event), then the rows `stage` writes
    * into the next manifest's segments, stamped with the following seq
    * (one event; `stage` returns the components it wrote). */
  protected def logEvents(spark: SparkSession, dir: String,
                          kill: Option[DataFrame],
                          stage: Option[(Manifest, Long) => Seq[String]]): Unit =
    Manifest.withLease(spark, dir) {
      val m = Manifest.load(spark, dir)
      val next = m.copy(version = m.version + 1,
        nextSeq = m.nextSeq + kill.size + stage.size)
      kill.foreach(ids => ids.select(col(idCol)).distinct()
        .withColumn("upto", lit(m.nextSeq))
        // dimension-sized (takedowns, purge lists): one file per batch
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/${next.segFor(TOMBSTONES)}"))
      val staged = kill.map(_ => TOMBSTONES).toSeq ++
        stage.toSeq.flatMap(_(next, m.nextSeq + kill.size))
      publish(spark, dir, withStaged(spark, dir, next, staged))
    }

  /** Logical deletion: tombstone the ids in `ids` (one column, the
    * plane's id column). One small write however large the index is;
    * serve paths stop returning the rows at once and a rewrite reclaims
    * them. Re-deleting an id, or deleting an id the index never held,
    * is a no-op at serve time; an empty batch still advances the
    * counter but publishes no tombstone segment. */
  def deleteFromIndex(ids: DataFrame, dir: String): Unit =
    logEvents(ids.sparkSession, dir, Some(ids), None)

  /** The index's current sequence number: the snapshot id the `asOf`
    * serve parameters, rollbacks and vacuums accept. */
  def currentSeq(spark: SparkSession, dir: String): Long =
    Manifest.load(spark, dir).nextSeq

  /** PENDING-RECLAIM backlog: tombstoned ids not yet physically
    * reclaimed, with the event (`upto`) each landed at — what a
    * compaction/vacuum schedule watches, and one input of the
    * cross-plane audit ([[CrossPlane.pendingMismatch]]). Empty frame if
    * no deletes are outstanding. */
  def pendingDeletes(spark: SparkSession, dir: String): DataFrame =
    tombstonesOf(spark, dir, Manifest.load(spark, dir))
      .map(_.select(col(idCol), col("upto")).distinct())
      .getOrElse {
        import spark.implicits._
        Seq.empty[(Long, Long)].toDF(idCol, "upto")
      }

  /** Ids the index serves at HEAD: a column-pruned (id, seq) scan of
    * [[idSource]] minus tombstones; empty for an empty index. */
  protected def liveIdsOf(spark: SparkSession, dir: String): DataFrame = {
    val m = Manifest.load(spark, dir)
    Manifest.readComponent(spark, dir, m, idSource) match {
      case Some(d) =>
        liveOnly(d.select(col(idCol), col("seq")), spark, dir, m)
          .select(idCol).distinct()
      case None =>
        import spark.implicits._
        Seq.empty[Long].toDF(idCol)
    }
  }

  /** Auto-compaction policy: compact iff the manifest lists more than
    * `maxSegments` segments of the first seq-stamped component. Each
    * append/upsert adds one and every serve unions the live ones, so
    * segment count is the serve-side cost driver
    * ([[Manifest.describe]] exposes it). Returns whether it compacted;
    * called after each batch it amortizes one rewrite per
    * `maxSegments` appends, the classic LSM trigger. */
  def autoCompact(spark: SparkSession, dir: String,
                  maxSegments: Int = 8): Boolean = {
    require(maxSegments >= 1)
    val n = Manifest.load(spark, dir).segs(versioned.head).size
    if (n > maxSegments) { compactIndex(spark, dir); true } else false
  }

  /** COMPACTION: rewrite every seq-stamped component to ONE segment in
    * its canonical layout, restoring build-fresh file counts and sort
    * order without re-deriving anything, and reclaim tombstoned rows.
    * `seq` survives the rewrite (later deletes and upserts still need
    * every row versioned). If tombstones were applied, snapshots older
    * than HEAD lost rows, so the watermark advances to the current seq
    * in the same commit (compact ≡ [[vacuumIndex]] at HEAD). */
  def compactIndex(spark: SparkSession, dir: String): Unit =
    Manifest.withLease(spark, dir) {
      val m = Manifest.load(spark, dir)
      rewrite(spark, dir, m,
        m.copy(version = m.version + 1,
          retention = if (m.segs(TOMBSTONES).nonEmpty) Some(m.nextSeq)
                      else m.retention),
        liveOnly(_, spark, dir, m), keptTombstones = None)
    }

  /** ROLLBACK: restore HEAD to snapshot `toSeq`, the undo for a bad
    * maintenance batch. Every batch is a seq-stamped event, so this
    * TRUNCATES the event log: rows written and tombstones recorded at
    * events >= toSeq are dropped physically and the counter resets to
    * toSeq. Afterwards HEAD serves what `asOf = Some(toSeq)` served,
    * older snapshots are untouched, and the next batch reuses the
    * vacated seq slot — which is why the dead rows must go physically,
    * not logically. Rolling back to the current seq is a no-op. */
  def rollbackIndex(spark: SparkSession, dir: String, toSeq: Long): Unit =
    Manifest.withLease(spark, dir) {
      val m = Manifest.load(spark, dir)
      requireRetained(m, toSeq, "rollback target")
      if (toSeq < m.nextSeq)
        rewrite(spark, dir, m, m.copy(version = m.version + 1, nextSeq = toSeq),
          _.filter(col("seq") < toSeq),
          keptTombstones = tombstonesOf(spark, dir, m).map(_.filter(col("upto") < toSeq)))
    }

  /** VACUUM: bound time travel at `retainAsOf` and reclaim what no
    * retained snapshot can see — the policy between deletes (keep all
    * history) and compaction (keep none). A row written at s and killed
    * at u is visible exactly in snapshots (s, u]; once u < retainAsOf
    * none retained can see it, so the rewrite drops the rows those
    * FULLY-AGED tombstones kill and the tombstones with them, keeping
    * the younger ones. HEAD and every as-of >= retainAsOf serve
    * identically. The watermark moves forward only. */
  def vacuumIndex(spark: SparkSession, dir: String, retainAsOf: Long): Unit =
    Manifest.withLease(spark, dir) {
      val m = Manifest.load(spark, dir)
      requireRetained(m, retainAsOf, "retention watermark")
      val next = m.copy(version = m.version + 1, retention = Some(retainAsOf))
      tombstonesOf(spark, dir, m).map(t => (t, t.filter(col("upto") < retainAsOf)))
        .filter { case (_, aged) => !aged.isEmpty } match {
        case Some((t, aged)) =>
          rewrite(spark, dir, m, next, antiJoin(_, aged),
            keptTombstones = Some(t.filter(col("upto") >= retainAsOf)))
        case None => publish(spark, dir, next)
      }
    }

  /** `s` is a snapshot a rollback or vacuum may move to. */
  private def requireRetained(m: Manifest, s: Long, what: String): Unit = {
    require(s >= 1 && s <= m.nextSeq, s"$what $s outside [1, ${m.nextSeq}]")
    m.retention.foreach(r => require(s >= r,
      s"$what $s predates the retention watermark $r (rows behind it are reclaimed)"))
  }

  /** Write every seq-stamped component of `m` through `keep` into
    * `next`'s segments, plus `keptTombstones` as its tombstone
    * segment, and publish `next` with exactly the staged segments that
    * hold rows. */
  private def rewrite(spark: SparkSession, dir: String, m: Manifest,
                      next: Manifest, keep: DataFrame => DataFrame,
                      keptTombstones: Option[DataFrame]): Unit = {
    versioned.foreach(c =>
      writeLayout(c, keep(rowsOf(spark, dir, m, c)), s"$dir/${next.segFor(c)}"))
    keptTombstones.foreach(_.coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/${next.segFor(TOMBSTONES)}"))
    val cleared = (versioned :+ TOMBSTONES)
      .foldLeft(next)(_.withSegsReplaced(_, Vector.empty))
    publish(spark, dir, afterRewrite(spark, dir,
      withStaged(spark, dir, cleared, versioned ++ keptTombstones.map(_ => TOMBSTONES))))
  }

  /** MERGE shards into a new generation at `out`: each seq-stamped
    * component is the union of the shards' LIVE rows (their tombstones
    * resolved on the way), re-stamped seq 0, in the canonical layout;
    * counter 1, no tombstones — indistinguishable from a fresh build on
    * the union of the shards' live corpora. `stageRest` writes the
    * plane's other components and names them. */
  protected def mergeLive(spark: SparkSession, shards: Seq[(String, Manifest)],
                          out: String, scalars: Map[String, String])
                         (stageRest: Manifest => Seq[String]): Unit =
    Manifest.withLease(spark, out) {
      val next = generation(spark, out, 1L, scalars)
      versioned.foreach { c =>
        writeLayout(c,
          shards.map { case (d, sm) => liveOnly(rowsOf(spark, d, sm, c), spark, d, sm) }
            .reduce(_.unionByName(_))
            .withColumn("seq", lit(0L)),
          s"$out/${next.segFor(c)}")
      }
      val rest = stageRest(next)
      publish(spark, out,
        afterRewrite(spark, out, withStaged(spark, out, next, versioned ++ rest)))
    }
}

object VersionedIndex {

  /** Commit `m` as the index's new snapshot, then gc what no retained
    * snapshot references. */
  private[graft] def publish(spark: SparkSession, dir: String, m: Manifest): Unit = {
    Manifest.commit(spark, dir, m)
    Manifest.gc(spark, dir, m)
  }

  /** True iff the segment dir at `path` holds at least one row, read
    * from parquet footers on the driver (no Spark job). Stops at the
    * first file with rows. */
  private[index] def hasRows(spark: SparkSession, path: String): Boolean = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    def visible(st: FileStatus): Boolean = {
      val n = st.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
    def rows(st: FileStatus): Boolean =
      if (st.isDirectory) fs.listStatus(st.getPath).iterator.filter(visible).exists(rows)
      else {
        val r = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
        try r.getRecordCount > 0 finally r.close()
      }
    fs.exists(p) && rows(fs.getFileStatus(p))
  }
}
