package graft.nshm

import graft.dsl.{BoolSetCompiler, Parser}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

/** Spark-native equivalent of the reference `NSHMDB` facade
  * (`/root/reference/nshmdb/nshmdb.py:82-683`): one engine (no
  * sqlite-for-writes / duckdb-for-analytics split), queries are Catalyst
  * plans, the DSL compiles to `Column`s (no SQL strings), and the
  * reference's per-result N+1 hydration loop (nshmdb.py:664-683) is one
  * batched scan of the `rupture_faults` bridge.
  *
  * Scale notes: the search ([[queryRuptures]]) is one plan: `fault` and
  * `parent_fault` are broadcast, the `rupture_faults` bridge is the fact
  * side, top-k plans as TakeOrderedAndProject. The point lookups and the
  * hydration are not joins. Each runs at most one filtered scan of each
  * fact table it reads (`rupture`, `rupture_faults`,
  * `magnitude_frequency_distribution`) and assembles its answer on the
  * driver from a snapshot of the three fault dimension tables
  * (`parent_fault`, `fault`, `fault_plane`), so a warm `getFault` or
  * `getFaultInfo` submits no Spark job. As join plans, the lookups ran 2
  * to 12 jobs a warm call (broadcasts and shuffles for a few rows); the
  * reference answers them with a few SQLite B-tree probes
  * (nshmdb.py:368-594). The snapshot is rebuilt when the store returns a
  * new relation for one of the three tables, which the in-memory and
  * parquet stores do after each write to it, so it never serves rows
  * older than the store's (a store that resolves a new relation on every
  * call, as [[CatalogNshmStore]] does, rebuilds it on every lookup).
  * It holds every dimension row on the driver: the dimensions are the
  * small side (the benchmark release has 348 faults and 435 planes next
  * to 14,000 bridge rows), and their size grows with the fault model,
  * not with the ruptures. Behavioral divergences from the
  * reference (each deliberate, see Scaladoc on the method):
  * zero-valued bounds are honored (reference drops them via Python
  * truthiness, query.py:298-311); NOT over compound DSL expressions works
  * (reference crashes, query.py:267-270); surrogate-id allocation orders
  * by natural key rather than insertion order.
  */
final class NshmDb(val store: NshmStore) {
  val spark: SparkSession = store.spark

  private def parentFault = store.table("parent_fault")
  private def fault = store.table("fault")
  private def faultPlane = store.table("fault_plane")
  private def rupture = store.table("rupture")
  private def ruptureFaults = store.table("rupture_faults")
  private def mfd = store.table("magnitude_frequency_distribution")

  /** Register the six tables as temp views so callers can `spark.sql`
    * over them (≙ the reference's SQL-over-one-file surface, S2 — minus
    * the dual-engine split).
    */
  def registerViews(prefix: String = ""): Unit =
    Schemas.all.keys.foreach(n => store.table(n).createOrReplaceTempView(prefix + n))

  // ---------------------------------------------------------------- query

  /** The analytical search (≙ NSHMDB.query → query.to_sql,
    * nshmdb.py:623-663 / query.py:295-338) as a DataFrame plan:
    * J7 join → per-rupture flag aggregation (A5) → HAVING (A6/A7) →
    * top-k by rate DESC NULLS LAST (O1). Returns the reference's 7
    * columns: rupture_id, nshm_id, fault_system, magnitude, area, len,
    * rate.
    */
  /** @param ignoreZeroBounds opt-in bug-compat with the reference, which
    *   drops a bound of exactly 0.0 via Python truthiness
    *   (query.py:298-311). Default false: a zero bound is a real bound.
    */
  def queryRuptures(
      queryStr: String,
      magnitudeBounds: (Option[Double], Option[Double]) = (None, None),
      rateBounds: (Option[Double], Option[Double]) = (None, None),
      limit: Int = 100,
      faultCountLimit: Option[Int] = None,
      ignoreZeroBounds: Boolean = false): DataFrame = {
    def eff(b: (Option[Double], Option[Double])) =
      if (!ignoreZeroBounds) b
      else (b._1.filter(_ != 0.0), b._2.filter(_ != 0.0))
    val (magnitudeBoundsEff, rateBoundsEff) = (eff(magnitudeBounds), eff(rateBounds))
    val tree = Parser.parse(queryStr)
    val compiled = BoolSetCompiler.compile(tree, col("name"))
    val r = rupture
    var base = r
      .join(ruptureFaults.as("rf"), r("rupture_id") === col("rf.rupture_id"))
      .join(broadcast(fault).as("f"), col("rf.fault_id") === col("f.fault_id"))
      .join(
        broadcast(parentFault).as("pf"),
        col("f.parent_id") === col("pf.parent_id"))
      .filter(r("rate").isNotNull)
    magnitudeBoundsEff._1.foreach(lo => base = base.filter(r("magnitude") >= lo))
    magnitudeBoundsEff._2.foreach(hi => base = base.filter(r("magnitude") <= hi))
    rateBoundsEff._1.foreach(lo => base = base.filter(r("rate") >= lo))
    rateBoundsEff._2.foreach(hi => base = base.filter(r("rate") <= hi))

    val aggCols = Seq(
      max(r("nshm_id")).as("nshm_id"),
      max(r("fault_system")).as("fault_system"),
      max(r("magnitude")).as("magnitude"),
      max(r("area")).as("area"),
      max(r("len")).as("len"),
      max(r("rate")).as("rate"),
      countDistinct(col("pf.parent_id")).as("__n_faults")) ++ compiled.flagCols
    val having = faultCountLimit
      .map(n => col("__n_faults") <= n && compiled.predicate)
      .getOrElse(compiled.predicate)

    base
      .groupBy(r("rupture_id"))
      .agg(aggCols.head, aggCols.tail: _*)
      .filter(having)
      .select("rupture_id", "nshm_id", "fault_system", "magnitude", "area", "len", "rate")
      .orderBy(col("rate").desc_nulls_last)
      .limit(limit)
  }

  /** ≙ NSHMDB.query (nshmdb.py:623-683): run the search, then hydrate ALL
    * result ruptures' fault geometry in one batch ([[getRupturesFaults]];
    * the reference re-queries per row). Keyed by NSHM rupture id as in
    * the reference.
    */
  def query(
      queryStr: String,
      magnitudeBounds: (Option[Double], Option[Double]) = (None, None),
      rateBounds: (Option[Double], Option[Double]) = (None, None),
      limit: Int = 100,
      faultCountLimit: Option[Int] = None): Map[Long, Rupture] = {
    val rows = queryRuptures(queryStr, magnitudeBounds, rateBounds, limit, faultCountLimit).collect()
    val faultsById = getRupturesFaults(rows.map(_.getLong(0)).toSeq)
    rows.map { row =>
      val internalId = row.getLong(0)
      row.getLong(1) -> Rupture(
        faultSystem = row.getInt(2),
        ruptureNshmId = row.getLong(1),
        magnitude = if (row.isNullAt(3)) None else Some(row.getDouble(3)),
        area = if (row.isNullAt(4)) None else Some(row.getDouble(4)),
        length = if (row.isNullAt(5)) None else Some(row.getDouble(5)),
        rate = if (row.isNullAt(6)) None else Some(row.getDouble(6)),
        faults = faultsById.getOrElse(internalId, Map.empty))
    }.toMap
  }

  // ----------------------------------------------------------- accessors

  /** ≙ get_rupture (nshmdb.py:470-500). */
  def getRupture(faultSystem: Int, ruptureNshmId: Long): Rupture = {
    val row = rupture
      .filter(col("nshm_id") === ruptureNshmId && col("fault_system") === faultSystem)
      .select("rupture_id", "magnitude", "area", "len", "rate")
      .collect()
      .headOption
      .getOrElse(throw new NoSuchElementException(
        s"No rupture with nshm_id = $ruptureNshmId in fault system = $faultSystem"))
    Rupture(
      faultSystem = faultSystem,
      ruptureNshmId = ruptureNshmId,
      magnitude = if (row.isNullAt(1)) None else Some(row.getDouble(1)),
      area = if (row.isNullAt(2)) None else Some(row.getDouble(2)),
      length = if (row.isNullAt(3)) None else Some(row.getDouble(3)),
      rate = if (row.isNullAt(4)) None else Some(row.getDouble(4)),
      faults = getRuptureFaults(row.getLong(0)))
  }

  /** ≙ get_rupture_faults (nshmdb.py:502-565) — takes the INTERNAL
    * rupture id (the reference's parameter name says nshm but call sites
    * pass internal; kept honest here).
    */
  def getRuptureFaults(ruptureId: Long): Map[String, Fault] =
    getRupturesFaults(Seq(ruptureId)).getOrElse(ruptureId, Map.empty)

  /** Batched hydration for many ruptures at once: one filtered scan of
    * the `rupture_faults` bridge, then per-fault plane assembly (A9) from
    * the dimension snapshot. Plane order is made deterministic by sorting
    * on (parent_id, plane_id) ≙ the reference's ORDER BY f.parent_id +
    * SQLite rowid order (nshmdb.py:525).
    */
  def getRupturesFaults(ruptureIds: Seq[Long]): Map[Long, Map[String, Fault]] = {
    val d = dims
    val placed = for {
      (ruptureId, faultId) <- links(ruptureIds)
      (f, parentName) <- d.named(faultId).toSeq
      p <- d.planes.getOrElse(faultId, Nil)
    } yield {
      // HACK preserved from the reference (nshmdb.py:556-563): geometries
      // are only connected in the crustal setting, so subduction faults
      // are split per section.
      val faultName =
        if (f.getInt(1) == FaultSystem.Crustal) parentName
        else s"$parentName: Section $faultId"
      (ruptureId, f.getLong(5), p.getLong(0), faultName, p)
    }
    placed.sortBy(r => (r._1, r._2, r._3)).groupMap(_._1)(r => r._4 -> plane(r._5)).view.mapValues {
      named => named.groupMap(_._1)(_._2).view.mapValues(ps => Fault(ps.toVector)).toMap
    }.toMap
  }

  /** ≙ get_fault (nshmdb.py:368-415). Corners in WGS (storage space);
    * apply `.toNztm` per plane for the projected view.
    */
  def getFault(faultSystem: Int, faultNshmId: Long): Fault = {
    val d = dims
    Fault(d.faultIds.getOrElse((faultSystem, faultNshmId), Nil)
      .flatMap(d.planes.getOrElse(_, Nil))
      .sortBy(_.getLong(0))
      .map(plane)
      .toVector)
  }

  /** ≙ get_fault_info (nshmdb.py:417-450); throws on a miss like the
    * reference's ValueError.
    */
  def getFaultInfo(faultSystem: Int, faultNshmId: Long): FaultInfo = {
    val d = dims
    d.faultIds.getOrElse((faultSystem, faultNshmId), Nil).iterator
      .flatMap(d.named)
      .map { case (f, name) => faultInfo(f, name) }
      .nextOption()
      .getOrElse(throw new IllegalArgumentException(
        s"Could not find fault with id = $faultNshmId in fault system = $faultSystem"))
  }

  /** ≙ get_rupture_fault_info (nshmdb.py:567-594). Quirk preserved and
    * documented: filters only on the rupture NSHM id, NOT fault_system
    * (nshmdb.py:589) — ambiguous when the same nshm_id exists in several
    * systems.
    */
  def getRuptureFaultInfo(ruptureNshmId: Long): Map[String, FaultInfo] = {
    val d = dims
    links(ruptureIdsWhere(col("nshm_id") === ruptureNshmId))
      .flatMap { case (_, faultId) => d.named(faultId) }
      .map { case (f, name) => name -> faultInfo(f, name) }
      .toMap
  }

  /** ≙ get_fault_names (nshmdb.py:596-608). */
  def getFaultNames: Set[String] = dims.names.values.toSet

  /** ≙ get_fault_ids (nshmdb.py:610-621) — NSHM ids, not surrogates. */
  def getFaultIds: Set[Long] = dims.faults.values.map(_.getLong(2)).toSet

  /** ≙ most_likely_fault (nshmdb.py:165-248): pseudo-activity rate per
    * parent fault. F1 magnitude rounding is ceiling-with-clamp (the
    * smallest stored magnitude ≥ target, clamped to the max stored —
    * searchsorted semantics, nshmdb.py:215-221) over the magnitudes of
    * the rupture's MFD rows. The reference's dynamic OR-of-pairs predicate
    * (J11) becomes a lookup on (name, snapped magnitude); each distinct
    * (name, target) pair counts once, so two targets of one parent that
    * snap to the same magnitude count its rate twice. Input is an ordered
    * Seq ≙ the reference's insertion-ordered dict.
    *
    * Three filtered scans (rupture, bridge, MFD rows of its faults), then
    * the snap and the sums on the driver. This was once one plan with
    * one action, the snap expressed relationally; but that one action
    * ran 12 Spark jobs a warm call (broadcasts and shuffles over a few
    * dozen rows), where the scans run 3.
    */
  def mostLikelyFault(
      faultSystem: Int,
      ruptureNshmId: Long,
      parentFaultMagnitudes: Seq[(String, Double)]): Map[String, Double] = {
    val d = dims
    val faultIds = links(ruptureIdsWhere(
      col("nshm_id") === ruptureNshmId && col("fault_system") === faultSystem)).map(_._2)
    val bins =
      if (faultIds.isEmpty) Map.empty[Long, Seq[(Double, Option[Double])]]
      else mfd
        .filter(col("fault_id").isin(faultIds.distinct: _*) && col("magnitude").isNotNull)
        .select("fault_id", "magnitude", "rate")
        .collect().toSeq
        .groupMap(_.getLong(0))(r => (r.getDouble(1), if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    // one row per rupture link and MFD row of its fault ≙ the reference's join
    val rows = for {
      faultId <- faultIds
      (_, name) <- d.named(faultId).toSeq
      (magnitude, rate) <- bins.getOrElse(faultId, Nil)
    } yield (name, magnitude, rate)
    if (rows.isEmpty) return Map.empty
    val magnitudes = rows.map(_._2).distinct.sorted.toArray
    val rateAt = rows.collect { case (name, m, Some(rate)) => (name, m) -> rate }
      .groupMapReduce(_._1)(_._2)(_ + _)
    parentFaultMagnitudes.distinct
      .flatMap { case (name, target) =>
        rateAt.get((name, NshmDb.ceilingWithClamp(magnitudes, target))).map(name -> _)
      }
      .groupMapReduce(_._1)(_._2)(_ + _)
  }

  /** Surrogate ids of the ruptures `cond` selects: one filtered scan of
    * `rupture`.
    */
  private def ruptureIdsWhere(cond: Column): Seq[Long] =
    rupture.filter(cond).select("rupture_id").collect().map(_.getLong(0)).toSeq

  /** The (rupture_id, fault_id) links of `ruptureIds`, one per bridge
    * row: one filtered scan of `rupture_faults`, none for no ids.
    */
  private def links(ruptureIds: Seq[Long]): Seq[(Long, Long)] =
    if (ruptureIds.isEmpty) Nil
    else ruptureFaults
      .filter(col("rupture_id").isin(ruptureIds: _*) && col("fault_id").isNotNull)
      .select("rupture_id", "fault_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSeq

  @volatile private var snapshot: Option[NshmDb.Dims] = None

  /** The dimension snapshot of the relations the store returns now:
    * rebuilt (three collects) when any of them is a new relation.
    */
  private def dims: NshmDb.Dims = {
    val (pf, f, fp) = (parentFault, fault, faultPlane)
    snapshot.filter(_.isOf(pf, f, fp)).getOrElse {
      val fresh = new NshmDb.Dims(pf, f, fp)
      snapshot = Some(fresh)
      fresh
    }
  }

  private def faultInfo(f: Row, name: String): FaultInfo =
    FaultInfo(
      faultSystem = f.getInt(1),
      faultNshmId = f.getLong(2),
      name = name,
      rake = f.getDouble(3),
      tectType = if (f.isNullAt(4)) None else Some(f.getInt(4)))

  private def plane(p: Row): Plane =
    Plane.fromFlat(
      p.getDouble(1), p.getDouble(2), p.getDouble(3), p.getDouble(4),
      p.getDouble(5), p.getDouble(6), p.getDouble(7), p.getDouble(8),
      p.getDouble(9), p.getDouble(10))

  // ------------------------------------------------------------- inserts

  /** Scale-safe dense surrogate-id allocation (≙ the reference's max+1
    * scheme, nshmdb.py:270-272, keyed by natural order rather than
    * insertion order): range-partition on the natural key so global order
    * holds across partitions, sort within each, then per-partition counts
    * → cumulative offsets → local rank (`zipWithIndex`, the shape SURVEY
    * §7.D prescribes). Replaces `row_number().over(Window.orderBy(...))`,
    * which serialized every insert batch through a single reducer.
    */
  private def appendWithDenseId(
      table: String,
      df: DataFrame,
      idCol: String,
      start: Long,
      orderCols: Seq[String]): Unit = {
    val ordered = df
      .repartitionByRange(orderCols.map(col): _*)
      .sortWithinPartitions(orderCols.map(col): _*)
    // zipWithIndex runs a per-partition count job before the data job, so
    // without a persist the whole upstream plan (anti-join / nshm-id
    // translation joins) would be computed twice per insert batch.
    val orderedRdd = ordered.rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val schema = ordered.schema.add(idCol, LongType, nullable = false)
      val rows = orderedRdd.zipWithIndex().map { case (r, i) => Row.fromSeq(r.toSeq :+ (start + i)) }
      store.append(table, spark.createDataFrame(rows, schema))
    } finally orderedRdd.unpersist(blocking = false)
  }

  /** ≙ insert_many_faults (nshmdb.py:250-311): upsert parent faults on
    * their natural key (left-anti join + append, ≙ INSERT OR IGNORE),
    * allocate surrogate fault ids from max+1 (0-based on an empty table —
    * quirk parity with nshmdb.py:270-272), flatten plane corners (F8).
    */
  def insertManyFaults(faults: Seq[FaultInfo]): Unit = {
    import spark.implicits._
    val names = faults.map(_.name).distinct.toDF("name")
    val newNames = names.join(parentFault, Seq("name"), "left_anti")
    val startParent = maxId("parent_fault", "parent_id").map(_ + 1).getOrElse(1L)
    appendWithDenseId("parent_fault", newNames, "parent_id", startParent, Seq("name"))

    val startFault = maxId("fault", "fault_id").map(_ + 1).getOrElse(0L)
    val faultRows = faults.zipWithIndex.map { case (f, i) =>
      (startFault + i, f.faultSystem, f.faultNshmId, f.rake, f.tectType, f.name)
    }.toDF("fault_id", "fault_system", "nshm_id", "rake", "tect_type", "name")
    store.append(
      "fault",
      faultRows
        .join(broadcast(parentFault), Seq("name"))
        .select("fault_id", "fault_system", "nshm_id", "rake", "tect_type", "parent_id"))

    val planeTuples = faults.zipWithIndex.flatMap { case (f, i) =>
      f.fault.toSeq.flatMap(_.planes).map { p =>
        val c = p.corners
        (c(0)(0), c(0)(1), c(1)(0), c(1)(1), c(2)(0), c(2)(1), c(3)(0), c(3)(1),
          p.topDepth, p.bottomDepth, startFault + i)
      }
    }
    if (planeTuples.nonEmpty) {
      val startPlane = maxId("fault_plane", "plane_id").map(_ + 1).getOrElse(1L)
      val planes = planeTuples.zipWithIndex.map { case (t, j) => (startPlane + j, t) }
        .map { case (id, t) => (id, t._1, t._2, t._3, t._4, t._5, t._6, t._7, t._8, t._9, t._10, t._11) }
        .toDF(
          "plane_id", "top_left_lat", "top_left_lon", "top_right_lat", "top_right_lon",
          "bottom_right_lat", "bottom_right_lon", "bottom_left_lat", "bottom_left_lon",
          "top_depth", "bottom_depth", "fault_id")
      store.append("fault_plane", planes)
    }
  }

  /** ≙ insert_many_ruptures (nshmdb.py:336-366). `ruptures` carries
    * (nshm_id, magnitude, area, len, rate, fault_system); `ruptureFaultsDf`
    * carries NSHM ids (rupture_id, fault_id, fault_system) and is
    * translated to surrogates via left joins (J8/J9).
    */
  def insertManyRuptures(ruptures: DataFrame, ruptureFaultsDf: DataFrame): Unit = {
    val startRupture = maxId("rupture", "rupture_id").map(_ + 1).getOrElse(1L)
    appendWithDenseId(
      "rupture", ruptures, "rupture_id", startRupture, Seq("fault_system", "nshm_id"))

    val renamed = ruptureFaultsDf
      .withColumnRenamed("rupture_id", "rupture_nshm_id")
      .withColumnRenamed("fault_id", "fault_nshm_id")
    val translated = nshmIdToRuptureId(nshmIdToFaultId(renamed))
    val startRf = maxId("rupture_faults", "rupture_fault_id").map(_ + 1).getOrElse(1L)
    appendWithDenseId(
      "rupture_faults",
      translated.select("rupture_id", "fault_id"),
      "rupture_fault_id", startRf, Seq("rupture_id", "fault_id"))
  }

  /** ≙ insert_magnitude_frequency_distribution (nshmdb.py:452-468).
    * `mfds` carries (nshm_id, fault_system, magnitude, rate).
    */
  def insertMfds(mfds: DataFrame): Unit = {
    val translated = nshmIdToFaultId(mfds.withColumnRenamed("nshm_id", "fault_nshm_id"))
    val start = maxId("magnitude_frequency_distribution", "entry_id").map(_ + 1).getOrElse(1L)
    appendWithDenseId(
      "magnitude_frequency_distribution",
      translated.select("fault_id", "magnitude", "rate"),
      "entry_id", start, Seq("fault_id", "magnitude"))
  }

  /** ≙ _nshm_id_to_fault_id (nshmdb.py:313-322): left join on the
    * composite natural key, dimension side broadcast.
    */
  def nshmIdToFaultId(df: DataFrame): DataFrame =
    df.join(
      broadcast(fault.select(
        col("fault_system"), col("nshm_id").as("fault_nshm_id"), col("fault_id"))),
      Seq("fault_system", "fault_nshm_id"),
      "left")

  /** ≙ _nshm_id_to_rupture_id (nshmdb.py:324-334). */
  def nshmIdToRuptureId(df: DataFrame): DataFrame =
    df.join(
      broadcast(rupture.select(
        col("fault_system"), col("nshm_id").as("rupture_nshm_id"), col("rupture_id"))),
      Seq("fault_system", "rupture_nshm_id"),
      "left")

  private def maxId(table: String, idCol: String): Option[Long] = {
    val row = store.table(table).agg(max(col(idCol))).collect()(0)
    if (row.isNullAt(0)) None else Some(row.getLong(0))
  }
}

object NshmDb {

  /** F1 rounding (nshmdb.py:215-221): the smallest stored value ≥ target,
    * clamped to the maximum — searchsorted semantics, NOT
    * nearest-neighbor. `sorted` must be ascending and non-empty.
    */
  def ceilingWithClamp(sorted: Array[Double], target: Double): Double = {
    val i = java.util.Arrays.binarySearch(sorted, target)
    val idx = if (i >= 0) i else -(i + 1) // first index with sorted(idx) >= target
    sorted(math.min(idx, sorted.length - 1))
  }

  /** Driver-side rows of `parent_fault`, `fault` and `fault_plane` for
    * one version of each: the relations the store returned, kept to tell
    * when the store returns new ones. Rows are selected in declared
    * column order ([[Schemas]]) and read only by the lookup that needs
    * them, so a bad value fails that lookup, not the snapshot.
    */
  private final class Dims(pf: DataFrame, f: DataFrame, fp: DataFrame) {
    def isOf(pf2: DataFrame, f2: DataFrame, fp2: DataFrame): Boolean =
      (pf eq pf2) && (f eq f2) && (fp eq fp2)

    // a store may keep another column order (partition columns last)
    private def rows(df: DataFrame, schema: StructType): Seq[Row] =
      df.select(schema.fieldNames.toSeq.map(col): _*).collect().toSeq

    /** parent_id → name. */
    val names: Map[Long, String] = rows(pf, Schemas.parentFault).map(r => r.getLong(0) -> r.getString(1)).toMap
    /** fault_id → fault row. */
    val faults: Map[Long, Row] = rows(f, Schemas.fault).map(r => r.getLong(0) -> r).toMap
    /** (fault_system, nshm_id) → fault ids, ascending. */
    val faultIds: Map[(Int, Long), Seq[Long]] = faults.values.toSeq
      .filter(r => !r.isNullAt(1) && !r.isNullAt(2))
      .groupMap(r => (r.getInt(1), r.getLong(2)))(_.getLong(0))
      .view.mapValues(_.sorted).toMap
    /** fault_id → plane rows, by plane_id. */
    val planes: Map[Long, Seq[Row]] = rows(fp, Schemas.faultPlane)
      .filter(!_.isNullAt(11))
      .groupBy(_.getLong(11))
      .view.mapValues(_.sortBy(_.getLong(0))).toMap

    /** The fault row and its parent's name, if both exist ≙ the inner
      * join of `fault` and `parent_fault`.
      */
    def named(faultId: Long): Option[(Row, String)] =
      for {
        f <- faults.get(faultId) if !f.isNullAt(5)
        name <- names.get(f.getLong(5))
      } yield (f, name)
  }

  def inMemory(spark: SparkSession): NshmDb = new NshmDb(new InMemoryNshmStore(spark))
  def open(spark: SparkSession, dir: String): NshmDb = {
    val store = new ParquetNshmStore(spark, dir)
    store.create()
    new NshmDb(store)
  }
}
