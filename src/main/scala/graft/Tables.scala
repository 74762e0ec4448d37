package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated parquet testdata tables
  * (see /root/repo/TESTDATA.md). One parquet file per table.
  *
  * At cluster scale these would be partitioned/bucketed catalog tables;
  * here the contract is a directory of parquet files, so loading stays a
  * plain `spark.read.parquet` and every downstream query relies on
  * Catalyst pushdown (filters + column pruning reach the scan).
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Load and hash-repartition on `keyCol` to the session default
    * parallelism. Use before per-row-heavy pipelines (shingling, hashing,
    * vector math): the testdata parquet is a single row-group per table,
    * so a bare scan is ONE partition and compute-bound stages would
    * otherwise serialize on 1 core regardless of cluster size. At 100 TB
    * the same principle holds — compute parallelism must come from an
    * explicit distribution key, not the accident of file layout.
    */
  def loadDistributed(spark: SparkSession, dir: String, name: String, keyCol: String): DataFrame = {
    val df = load(spark, dir, name)
    df.repartition(spark.sparkContext.defaultParallelism,
      org.apache.spark.sql.functions.col(keyCol))
  }

  /** Loaded relation for `name`, memoized per session by
    * [[RelationMemo]] (the catalog role: one footer probe and file index
    * per table, not one per query).
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    RelationMemo(spark, s"$dir/$name.parquet", "load") {
      if (name == "events") loadEvents(spark, dir)
      else spark.read.parquet(s"$dir/$name.parquet")
    }

  /** RAW relation for `name` — no events-ts normalization — through the
    * same per-session memo (streaming sources probe the raw footer
    * schema per drain; without the memo each probe re-pays the ~60 ms
    * relation construction). Distinct memo tag from [[load]]'s.
    */
  def loadRaw(spark: SparkSession, dir: String, name: String): DataFrame =
    RelationMemo(spark, s"$dir/$name.parquet", "raw")(spark.read.parquet(s"$dir/$name.parquet"))

  /** Normalize an event-time column to session-zoned TimestampType,
    * branching on the dtype the parquet footer actually declared — the
    * schema is a property of the DATA, not a constant of the engine
    * (upstream producers change timestamp encodings; a 100 TB pipeline
    * must probe the contract, not assume it):
    *
    *  - `LongType`: legacy INT64 TIMESTAMP(NANOS) read under
    *    `spark.sql.legacy.parquet.nanosAsLong=true` (Spark rejects nanos
    *    outright otherwise, PARQUET_TYPE_ILLEGAL). Integer `div` — nanos
    *    through double would lose precision at 1.7e18 ns (> 2^53).
    *  - `TimestampNTZType`: TIMESTAMP(MICROS/MILLIS, isAdjustedToUTC=false).
    *    Cast to TimestampType interprets the wall clock in the session
    *    zone; every entry point pins `spark.sql.session.timeZone=UTC`,
    *    so the cast is value-preserving and matches the DuckDB oracle's
    *    naive-timestamp reading.
    *  - `TimestampType`: already instant-typed — use as-is.
    *
    * Anything else is a contract violation worth one loud error instead
    * of dozens of downstream crashes.
    */
  def normalizeEventTs(dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    import org.apache.spark.sql.functions.{col, expr}
    dt match {
      case LongType         => expr("timestamp_micros(ts div 1000)")
      case TimestampNTZType => col("ts").cast(TimestampType)
      case TimestampType    => col("ts")
      case other => throw new IllegalStateException(
        s"events.ts has unsupported dtype $other; expected INT64 nanos (legacy), TIMESTAMP_NTZ, or TIMESTAMP")
    }
  }

  /** Schema-adaptive events loader: probe the loaded dtype of `ts` and
    * normalize via [[normalizeEventTs]].
    */
  private def loadEvents(spark: SparkSession, dir: String): DataFrame = {
    val raw = spark.read.parquet(s"$dir/events.parquet")
    raw.withColumn("ts", normalizeEventTs(raw.schema("ts").dataType))
  }

  /** Register every table as a temp view named after itself. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    all.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))

  /** Startup schema-contract check: probe every table's LOADED schema
    * (post-normalization, i.e. what queries actually see) against the
    * column contract and fail with ONE error naming every mismatched
    * table.column and its offending dtype — instead of dozens of
    * scattered downstream crashes (or, worse, silently wrong answers)
    * the next time a producer changes an encoding. Footer-only reads:
    * no data is scanned, so this is cheap enough for every entry point.
    *
    * Type predicates are deliberately permissive (any integral width,
    * any timestamp flavor): the contract is what queries REQUIRE, not
    * one blessed physical layout.
    */
  def validate(spark: SparkSession, dir: String, tables: Seq[String] = all): Unit = {
    import org.apache.spark.sql.types._
    val integral: DataType => Boolean = {
      case _: IntegerType | _: LongType | _: ShortType | _: ByteType => true; case _ => false
    }
    val fractional: DataType => Boolean = {
      case _: DoubleType | _: FloatType | _: DecimalType => true; case _ => false
    }
    val string: DataType => Boolean = { case _: StringType => true; case _ => false }
    val timeish: DataType => Boolean = {
      case _: TimestampType | _: TimestampNTZType | _: DateType => true; case _ => false
    }
    val floatVec: DataType => Boolean = {
      case ArrayType(FloatType | DoubleType, _) => true; case _ => false
    }
    val contract: Map[String, Seq[(String, DataType => Boolean, String)]] = Map(
      "region"   -> Seq(("r_regionkey", integral, "integral"), ("r_name", string, "string")),
      "nation"   -> Seq(("n_nationkey", integral, "integral"), ("n_name", string, "string"),
                        ("n_regionkey", integral, "integral")),
      "customer" -> Seq(("c_custkey", integral, "integral"), ("c_name", string, "string"),
                        ("c_nationkey", integral, "integral"), ("c_acctbal", fractional, "fractional"),
                        ("c_mktsegment", string, "string")),
      "supplier" -> Seq(("s_suppkey", integral, "integral"), ("s_name", string, "string"),
                        ("s_nationkey", integral, "integral"), ("s_acctbal", fractional, "fractional")),
      "part"     -> Seq(("p_partkey", integral, "integral"), ("p_name", string, "string"),
                        ("p_brand", string, "string"), ("p_type", string, "string"),
                        ("p_size", integral, "integral"), ("p_retailprice", fractional, "fractional")),
      "orders"   -> Seq(("o_orderkey", integral, "integral"), ("o_custkey", integral, "integral"),
                        ("o_orderstatus", string, "string"), ("o_totalprice", fractional, "fractional"),
                        ("o_orderdate", timeish, "date/timestamp"), ("o_orderpriority", string, "string")),
      "lineitem" -> Seq(("l_orderkey", integral, "integral"), ("l_partkey", integral, "integral"),
                        ("l_suppkey", integral, "integral"), ("l_linenumber", integral, "integral"),
                        ("l_quantity", fractional, "fractional"), ("l_extendedprice", fractional, "fractional"),
                        ("l_discount", fractional, "fractional"), ("l_tax", fractional, "fractional"),
                        ("l_returnflag", string, "string"), ("l_linestatus", string, "string"),
                        ("l_shipdate", timeish, "date/timestamp")),
      "events"   -> Seq(("event_id", integral, "integral"), ("ts", timeish, "date/timestamp"),
                        ("user_id", integral, "integral"), ("event_type", string, "string"),
                        ("value", fractional, "fractional"), ("props", string, "string")),
      "documents" -> Seq(("doc_id", integral, "integral"), ("text", string, "string"),
                        ("lang", string, "string"), ("source", string, "string"),
                        ("n_chars", integral, "integral")),
      "embeddings" -> Seq(("vec_id", integral, "integral"), ("embedding", floatVec, "array<float>"),
                        ("label", integral, "integral")))
    // Existence is probed through the Hadoop FileSystem resolved from the
    // path (not java.io.File), so validate() reports the same way for
    // local, hdfs:// and s3a:// dirs; load() failures still surface as a
    // per-table error either way.
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val errs = tables.flatMap { t =>
      val p = new org.apache.hadoop.fs.Path(s"$dir/$t.parquet")
      val exists =
        try p.getFileSystem(hadoopConf).exists(p)
        catch { case _: Throwable => true } // unknown scheme: let load() report
      if (!exists)
        Seq(s"$t: missing file $dir/$t.parquet")
      else {
        val loaded =
          try Right(load(spark, dir, t).schema)
          catch { case e: Throwable => Left(s"$t: failed to load — ${e.getMessage}") }
        loaded match {
          case Left(err) => Seq(err)
          case Right(schema) =>
            contract.getOrElse(t, Nil).flatMap { case (c, ok, kind) =>
              schema.find(_.name == c) match {
                case None => Some(s"$t.$c: column missing (have: ${schema.fieldNames.mkString(", ")})")
                case Some(f) if !ok(f.dataType) => Some(s"$t.$c: is ${f.dataType.sql}, need $kind")
                case _ => None
              }
            }
        }
      }
    }
    if (errs.nonEmpty) throw new IllegalStateException(
      s"testdata schema contract violated (${errs.size} problem(s)) under $dir:\n  " +
        errs.mkString("\n  "))
  }
}
