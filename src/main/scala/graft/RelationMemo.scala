package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-session memo of resolved RELATIONS (logical plans), keyed by
  * (path, tag) and invalidated on the path's observed
  * (bytes, fileCount, mtime) stat. The one relation cache of the program:
  * [[Tables.load]], [[Tables.loadRaw]] and
  * [[graft.nshm.ParquetNshmStore]] all resolve through it.
  *
  * This is the catalog role: `spark.read.parquet` costs ~60-75 ms per
  * call (footer probe + relation/file-index construction), and a
  * 211-query bench pass re-pays it a few hundred times for the same
  * ten immutable files — ~10% of the whole suite's wall time spent
  * re-deriving identical metadata (r19 measurement). A cluster
  * deployment reads these tables through a metastore that owns
  * exactly this metadata; the memo gives the directory-contract the
  * same property. It caches NO DATA and NO RESULTS — every query still
  * scans the parquet at execution — and the stat-based invalidation
  * keeps a table rewritten by another session or process visible, so
  * behavior only differs from a bare re-read if a producer rewrites a
  * table in-place with identical total bytes AND file count AND mtime.
  * A writer in the same session calls [[forget]] after its write, which
  * closes that gap for its own writes.
  *
  * A memoized relation holds its session, so entries cannot go with a
  * weakly-held session key; instead every lookup evicts the entries of
  * sessions whose SparkContext has stopped.
  */
object RelationMemo {
  private type Stat = (Long, Long, Long)
  private val bySession = scala.collection.mutable.Map.empty[
    SparkSession, scala.collection.concurrent.TrieMap[(String, String), (Stat, DataFrame)]]

  private def perSession(spark: SparkSession) = bySession.synchronized {
    bySession.filterInPlace((s, _) => !s.sparkContext.isStopped)
    bySession.getOrElseUpdate(spark, scala.collection.concurrent.TrieMap.empty)
  }

  /** Invalidation stat for a table path. A table may be a single file
    * OR a directory of part files; a directory's own getLen is its
    * constant inode size and its mtime granularity can swallow an
    * in-place rewrite, so directories key on getContentSummary (total
    * leaf bytes + file count — a rewrite that changes neither is
    * already byte-identical in layout) plus the directory mtime.
    */
  private def stat(spark: SparkSession, path: String): Option[Stat] =
    try {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val st = fs.getFileStatus(p)
      if (st.isDirectory) {
        val cs = fs.getContentSummary(p)
        Some((cs.getLength, cs.getFileCount, st.getModificationTime))
      } else Some((st.getLen, 1L, st.getModificationTime))
    } catch { case _: Throwable => None }

  /** The relation `read` resolves for `path`, memoized per session while
    * the path's stat holds. `tag` keeps apart readers that resolve the
    * same path differently. An unstattable path (missing, odd scheme) is
    * never memoized, so the read reports it.
    */
  def apply(spark: SparkSession, path: String, tag: String)(read: => DataFrame): DataFrame =
    stat(spark, path) match {
      case None => read
      case Some(s) =>
        val memo = perSession(spark)
        memo.get((path, tag)) match {
          case Some((s0, df)) if s0 == s => df
          case _ =>
            val df = read
            memo.put((path, tag), (s, df))
            df
        }
    }

  /** Drops `spark`'s memoized relations of `path`, under every tag. */
  def forget(spark: SparkSession, path: String): Unit = {
    val memo = perSession(spark)
    memo.keys.filter(_._1 == path).foreach(memo.remove)
  }
}
