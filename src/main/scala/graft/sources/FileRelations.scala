package graft.sources

import java.io.FileNotFoundException
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.sources.BaseRelation

/** The one resolver for parquet read by path: base tables
  * ([[Tables.load]]) and committed index segments
  * ([[graft.index.Manifest.readComponent]]). Esper loads its data once
  * and queries it many times (app/esper/captions.py:13-30); here each
  * path is resolved once per `SparkSession` and later reads are built
  * from the kept relation.
  *
  * Only metadata is cached: the file listing, partition spec and
  * schema of the relation, never data. A miss costs one
  * `spark.read.parquet`, which infers the schema (a Spark job) and, on
  * a dir with more than 32 partition subdirs, lists it (another job).
  * A hit costs one `getFileStatus` and starts no job. */
object FileRelations {

  /** A path resolved by `spark`: its modification time and length when
    * it was resolved, and its parquet relation. */
  private final case class Resolved(spark: SparkSession, mtime: Long,
                                    length: Long, rel: BaseRelation)

  /** Resolved paths by qualified path. [[graft.index.Manifest.gc]]
    * drops the entries of the segment dirs it deletes. */
  private val resolved = new ConcurrentHashMap[String, Resolved]()

  /** The parquet file or dir at `path` as a frame, resolved once per
    * session. Every call gets a fresh relation node (fresh attribute
    * ids), so one plan may read the same path twice.
    *
    * An entry is valid for the session that resolved it while the
    * path's modification time and length are unchanged: a table file
    * rewritten in place, or a segment dir wiped and rebuilt under the
    * same name, is resolved again. The schema is the one found at
    * resolve time. A missing path fails as `spark.read.parquet` does. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val status =
      try Some(fs.getFileStatus(p))
      catch { case _: FileNotFoundException => None }
    status match {
      case None => spark.read.parquet(path)
      case Some(st) =>
        val key = fs.makeQualified(p).toString
        val rel = Option(resolved.get(key))
          .filter(r => (r.spark eq spark) && r.mtime == st.getModificationTime &&
            r.length == st.getLen)
          .map(_.rel)
          .getOrElse {
            val r = spark.read.parquet(path).queryExecution.analyzed match {
              case lr: LogicalRelation => lr.relation
              case other => throw new IllegalStateException(
                s"$path resolved to ${other.nodeName}, not a file relation")
            }
            resolved.put(key, Resolved(spark, st.getModificationTime, st.getLen, r))
            r
          }
        spark.baseRelationToDataFrame(rel)
    }
  }

  /** Forget the entry for `path` (a dir being deleted). */
  private[graft] def evict(spark: SparkSession, path: Path): Unit =
    resolved.remove(qualified(spark, path))

  /** Whether the resolver holds an entry for `path`. */
  private[graft] def isResolved(spark: SparkSession, path: String): Boolean =
    resolved.containsKey(qualified(spark, new Path(path)))

  private def qualified(spark: SparkSession, p: Path): String =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(p).toString
}
