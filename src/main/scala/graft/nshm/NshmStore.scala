package graft.nshm

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

/** Storage abstraction ≙ the reference's single SQLite file
  * (`/root/reference/nshmdb/nshmdb.py:104-123`). Two implementations:
  * in-memory DataFrames (tests / scratch) and a parquet directory per
  * table (the scale path — on a cluster these would be catalog tables,
  * `rupture`/`fault` partitioned by `fault_system`).
  */
trait NshmStore {
  def spark: SparkSession
  def table(name: String): DataFrame
  /** Append rows (any column order; cast to the table schema). */
  def append(name: String, rows: DataFrame): Unit

  /** MERGE-style upsert on a natural key (the Delta `MERGE WHEN MATCHED
    * THEN UPDATE WHEN NOT MATCHED THEN INSERT` alternative SURVEY §2.1
    * names for S9; the default insert path stays left-anti + append):
    * key-matched existing rows are replaced by the incoming version,
    * unmatched existing rows are kept, unmatched incoming rows are
    * inserted — so re-running the same batch is idempotent. Incoming
    * batches are expected key-unique, as Delta MERGE requires (duplicate
    * keys collapse to one arbitrary row rather than erroring). The merged
    * frame is materialized (serialized pin, [[graft.operators.Checkpoints.pinSer]]
    * — the merged table is TABLE-width, the one frame class whose
    * deserialized read-back re-inflates) before the swap so the
    * replace never overwrites storage it is still lazily reading; on a
    * real cluster this operation is where a transactional table format
    * (Delta/Iceberg) takes over — the plan shape (anti-join + union) is
    * identical there.
    */
  def merge(name: String, rows: DataFrame, keyCols: Seq[String]): Unit = {
    val incoming = conform(name, rows).dropDuplicates(keyCols)
    val kept = table(name).join(incoming.select(keyCols.map(col): _*), keyCols, "left_anti")
    replace(name, graft.operators.Checkpoints.pinSer(kept.unionByName(incoming)))
  }

  /** Swap a table's full contents (only reachable via [[merge]], which
    * materializes `df` first).
    */
  protected def replace(name: String, df: DataFrame): Unit

  protected def conform(name: String, rows: DataFrame): DataFrame = {
    val schema = Schemas.all(name)
    rows.select(schema.fields.map(f => col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)
  }
}

final class InMemoryNshmStore(val spark: SparkSession) extends NshmStore {
  private val tables = scala.collection.mutable.Map[String, DataFrame](
    Schemas.all.keys.map(n => n -> Schemas.empty(spark, n)).toSeq: _*)
  def table(name: String): DataFrame = tables(name)
  def append(name: String, rows: DataFrame): Unit =
    tables(name) = tables(name).unionByName(conform(name, rows))
  protected def replace(name: String, df: DataFrame): Unit = tables(name) = df
}

/** One parquet directory per table under `dir` (create-if-not-exists ≙
  * `executescript(schema.sql)`, nshmdb.py:104-117).
  *
  * Read contract (≙ a SQLite connection that reads its schema once and
  * then re-checks a schema cookie per statement):
  *  - every table is read with its declared schema ([[Schemas.all]]), so
  *    resolving one submits no footer-inference job;
  *  - the resolved relation is memoized per session
  *    ([[graft.RelationMemo]]): a `table` call lists no directory and
  *    submits no Spark job while the table is unchanged;
  *  - the relation is re-resolved when the table directory's stat
  *    changes (a write by another store, session or process) and after
  *    every write this store makes itself, whatever the stat shows.
  *
  * The memo caches relations, no data: every read scans the files. Rows
  * are cached one level up: [[NshmDb]] keeps the rows of `parent_fault`,
  * `fault` and `fault_plane` for the relation it last saw of each, and
  * reads them again when `table` returns a new relation, so a write
  * that re-resolves the relation also refreshes those rows.
  */
final class ParquetNshmStore(val spark: SparkSession, dir: String) extends NshmStore {
  private def path(name: String) = s"$dir/$name"
  def create(): Unit = Schemas.all.keys.foreach { n =>
    if (!new java.io.File(path(n)).exists())
      Schemas.empty(spark, n).write.mode(SaveMode.Overwrite).parquet(path(n))
  }
  def table(name: String): DataFrame =
    graft.RelationMemo(spark, path(name), "nshm")(spark.read.schema(Schemas.all(name)).parquet(path(name)))
  def append(name: String, rows: DataFrame): Unit =
    try conform(name, rows).write.mode(SaveMode.Append).parquet(path(name))
    finally graft.RelationMemo.forget(spark, path(name))
  // safe to overwrite in place: merge() hands over a materialized frame
  protected def replace(name: String, df: DataFrame): Unit =
    try df.write.mode(SaveMode.Overwrite).parquet(path(name))
    finally graft.RelationMemo.forget(spark, path(name))
}
