package perfbench

import graft.dsl.{BoolSetCompiler, Parser}
import graft.nshm._
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.perfbenchshim.Drain
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions.col
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One measured call. `family` is search or lookup, `kind` the method,
  * `cls` the call class the mix is weighted by (a search template or a
  * lookup kind). `ms` is +Inf when the call threw or returned a wrong
  * result, so a failure can never make a latency look faster.
  */
final case class OpRec(
    id: Int, family: String, kind: String, cls: String, ms: Double, error: Option[String], traced: Boolean,
    startMs: Long, endMs: Long, rowsReturned: Long, compiles: Long, compileNs: Long, gcMs: Long)

/** One ingest build, from manifest to landed tables. */
final case class BuildRec(wallS: Double, resolveMs: Double, loadMs: Double, rows: Long, dbBytes: Long, files: Long)

/** Runs one workload and prints its metrics as the last stdout line.
  *
  * Every run generates a release from its seed, builds it with the
  * program's own ingest path (the run's ingest measurement), sets up five
  * times, then measures the workload's calls in a closed loop with one
  * client. perfbench/README.md describes the workloads and metrics.
  */
object Main {

  /** Ops a traced run makes of the family its workload does not measure,
    * so every per-layer metric exists on every workload.
    */
  val tracedQuota: Map[String, Int] = Map("search" -> 8, "lookup" -> 20)
  /** Fewest calls a run measures, however slow they are: one period of
    * the workload's stream, so every call class is in the mix.
    */
  val minOps: Map[String, Int] = Map("search" -> Streams.searchPeriod, "lookup" -> Streams.lookupPattern.size)
  val workloads: Set[String] = Set("search", "lookup")
  val setupReps = 5

  def main(args: Array[String]): Unit = {
    val kv = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val work = Paths.get(kv("work"))
    val cores = kv("cores").toInt
    if (kv.get("selfcheck").contains("1")) sys.exit(SelfCheck.run(work, cores))
    val workload = kv("workload")
    require(workloads(workload), s"unknown workload $workload")
    val run = new Run(workload, kv("seed").toLong, kv("seconds").toInt, kv("trace") == "1", work, cores)
    try run.go() finally run.stop()
  }

  def session(work: Path, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Median; of an even count, the mean of the two middle values, so a
    * failed call (+Inf) or a slow one in a class of two still shows.
    */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val v = xs.sorted
      (v((v.size - 1) / 2) + v(v.size / 2)) / 2
    }

  def dirStats(dir: Path): (Long, Long) = {
    val files = Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_)).toVector
    (files.map(Files.size).sum, files.count(_.getFileName.toString.endsWith(".parquet")).toLong)
  }

  def json(v: Any): String = v match {
    case m: Map[_, _] => m.toSeq.sortBy(_._1.toString).map { case (k, x) => s"${json(k.toString)}:${json(x)}" }.mkString("{", ",", "}")
    case s: Seq[_] => s.map(json).mkString("[", ",", "]")
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double if d.isNaN => "null"
    case d: Double if d.isInfinite => if (d > 0) "Infinity" else "-Infinity"
    case b: Boolean => b.toString
    case n: Number => n.toString
    case None => "null"
    case Some(x) => json(x)
  }
}

final class Run(
    workload: String, seed: Long, seconds: Int, trace: Boolean, work: Path, cores: Int,
    shape: Shape = Shape()) {
  import Main._

  private val genStart = System.nanoTime()
  private val rel = Release.generate(seed, shape)
  private val (manifest, userBytes) = Release.write(rel, work.resolve("release"))
  private val genS = (System.nanoTime() - genStart) / 1e9
  private val oracle = new Oracle(rel)
  private val streams = new Streams(rel, oracle, seed)
  private val tracer = new Tracer(trace)
  private val probe = new SparkProbe
  private var spark: SparkSession = Main.session(work, cores)
  private var db: NshmDb = _
  private var tracedDb: NshmDb = _
  private val ops = mutable.ArrayBuffer.empty[OpRec]
  private var warmOps, warmFailed = 0
  private var nextOp = 0

  def stop(): Unit = if (spark != null) spark.stop()

  /** Resolves and merges the branches, then loads them into a fresh store
    * at `dir`. Returns (wall s, resolve+merge ms, load ms).
    */
  private def build(dir: Path, traced: Boolean): (Double, Double, Double) = {
    def span[T](name: String)(body: => T): T = if (traced) tracer.span(name)(body) else body
    val t0 = System.nanoTime()
    val systems = span("ingest.resolve_merge") {
      SolutionProvider.downloadCompositeSolution(
        spark, new ManifestSolutionProvider(manifest.toString), SemVer(1, 0, 0))
    }
    val t1 = System.nanoTime()
    span("ingest.load") {
      val target =
        if (!traced) NshmDb.open(spark, dir.toString)
        else {
          val store = new ParquetNshmStore(spark, dir.toString)
          store.create()
          new NshmDb(new TracedStore(store, tracer))
        }
      Ingest.loadComposite(target, systems)
    }
    val t2 = System.nanoTime()
    ((t2 - t0) / 1e9, (t1 - t0) / 1e6, (t2 - t1) / 1e6)
  }

  /** Checks a built store against the release: rows per table and the
    * merged rupture rates.
    */
  private def verifyBuild(dir: Path, timing: (Double, Double, Double)): Either[String, BuildRec] = {
    val counts = Schemas.all.keys.map(n => n -> spark.read.parquet(s"$dir/$n").count()).toMap
    val rateSum = spark.read.parquet(s"$dir/rupture").agg(org.apache.spark.sql.functions.sum("rate")).head.getDouble(0)
    val wantSum = rel.allRuptures.map(rel.mergedRate).sum
    val (bytes, files) = dirStats(dir)
    if (counts != rel.expectedRows) Left(s"build row counts $counts, want ${rel.expectedRows}")
    else if (math.abs(rateSum - wantSum) > 1e-9 * wantSum) Left(s"merged rate sum $rateSum, want $wantSum")
    else Right(BuildRec(timing._1, timing._2, timing._3, counts.values.sum, bytes, files))
  }

  private def rowsOf(r: Rupture): Long = 1L + r.faults.values.map(_.planes.size.toLong).sum

  /** Calls one lookup; returns the result and the rows it holds. */
  private def lookup(d: NshmDb, q: LookupQ): (Any, Long) = q match {
    case GetRupture(s, i) => val r = d.getRupture(s, i.toLong); (r, rowsOf(r))
    case GetFault(s, i) => val f = d.getFault(s, i.toLong); (f, f.planes.size.toLong)
    case GetFaultInfo(s, i) => (d.getFaultInfo(s, i.toLong), 1L)
    case GetRuptureFaultInfo(i) => val m = d.getRuptureFaultInfo(i.toLong); (m, m.size.toLong)
    case MostLikelyFault(s, i, t) => val m = d.mostLikelyFault(s, i.toLong, t); (m, m.size.toLong)
  }

  private def search(d: NshmDb, q: SearchQ): Map[Long, Rupture] =
    d.query(q.text, q.magnitudeBounds, q.rateBounds, q.k, q.faultCountLimit)

  /** One op: timed call, then an untimed check against the oracle. */
  private def op(family: String, kind: String, cls: String, traced: Boolean)(call: => (Any, Long))(check: Any => Option[String]): Unit = {
    nextOp += 1
    val id = nextOp
    val sc = spark.sparkContext
    if (traced) { tracer.op = id; sc.setJobGroup(s"op$id", kind, interruptOnCancel = false) }
    val (cc0, cn0, gc0) = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime, Host.gcMs)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val outcome =
      try Right(if (traced) tracer.span(s"op.$kind")(call) else call)
      catch {
        case e: Exception =>
          System.err.println(s"[perfbench] $kind threw: $e")
          Left(e.getClass.getSimpleName)
      }
    val ms = (System.nanoTime() - t0) / 1e6
    val endMs = System.currentTimeMillis()
    val (cc1, cn1, gc1) = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime, Host.gcMs)
    if (traced) { sc.clearJobGroup(); tracer.op = 0 }
    val error = outcome match {
      case Left(errorClass) => Some(errorClass)
      case Right((result, _)) =>
        try check(result).map { msg => System.err.println(s"[perfbench] wrong result: $msg"); "WrongResult" }
        catch { case e: Exception => Some("CheckFailed:" + e.getClass.getSimpleName) }
    }
    val rows = outcome.map(_._2).getOrElse(0L)
    ops += OpRec(id, family, kind, cls, if (error.isEmpty) ms else Double.PositiveInfinity, error, traced,
      startMs, endMs, rows, cc1 - cc0, cn1 - cn0, gc1 - gc0)
  }

  /** Draws the family's next call; the function returned makes that call,
    * traced or not.
    * A traced search is the same `NshmDb.query` call on the traced store;
    * the DSL is parsed and compiled again before it, outside the op, to
    * time that layer alone.
    */
  private def draw(family: String): Boolean => Unit = family match {
    case "search" =>
      val q = streams.nextSearch()
      traced => {
        if (traced) tracer.span("dsl.parse_compile")(BoolSetCompiler.compile(Parser.parse(q.text), col("name")))
        op("search", "search", s"k${q.k}", traced) {
          val r = if (traced) tracer.span("nshmdb.query")(search(tracedDb, q)) else search(db, q)
          (r, r.values.map(rowsOf).sum)
        }(r => oracle.checkSearch(q, r.asInstanceOf[Map[Long, Rupture]]))
      }
    case "lookup" =>
      val q = streams.nextLookup()
      traced => op("lookup", q.kind, q.kind, traced) {
        if (traced) tracer.span(s"nshmdb.${q.kind}")(lookup(tracedDb, q)) else lookup(db, q)
      }(r => oracle.checkLookup(q, r))
  }

  /** A fault-info lookup and one call of the workload's own kind. */
  private def warmUp(d: NshmDb): Unit = {
    val checks = streams.warmUps(workload).map {
      case q: LookupQ => oracle.checkLookup(q, lookup(d, q)._1)
      case q: SearchQ => oracle.checkSearch(q, search(d, q))
    }
    warmOps += checks.size
    warmFailed += checks.count(_.isDefined)
    checks.flatten.foreach(m => System.err.println(s"[perfbench] wrong warm-up result: $m"))
  }

  def go(): Unit = {
    val steal0 = Host.stealJiffies()
    // the store the run reads is built by the program's own ingest path;
    // this build is the run's ingest measurement
    val readDir = work.resolve("db-read")
    val ingest = verifyBuild(readDir, build(readDir, traced = trace)).fold(m => throw new WrongResult(m), identity)
    val setupS = (1 to setupReps).map { _ =>
      spark.stop()
      val t0 = System.nanoTime()
      spark = Main.session(work, cores)
      db = NshmDb.open(spark, readDir.toString)
      warmUp(db)
      (System.nanoTime() - t0) / 1e9
    }
    if (trace) {
      spark.sparkContext.addSparkListener(probe)
      spark.listenerManager.register(probe)
      tracedDb = new NshmDb(new TracedStore(new ParquetNshmStore(spark, readDir.toString), tracer))
    }

    // closed loop, one client: the workload's own calls until the measured
    // seconds are used up; a traced run makes each drawn call twice, traced
    // and untraced, alternating which goes first, so the tracing overhead
    // is measured within the run on the same calls
    val t0 = System.nanoTime()
    var n = 0
    while (n < minOps(workload) || System.nanoTime() - t0 < seconds * 1e9) {
      val call = draw(workload)
      if (!trace) call(false)
      else { call(n % 2 == 0); call(n % 2 == 1) }
      n += 1
    }
    val measuredS = (System.nanoTime() - t0) / 1e9
    if (trace) {
      val other = if (workload == "search") "lookup" else "search"
      (0 until tracedQuota(other)).foreach(_ => draw(other)(true))
    }
    val steal1 = Host.stealJiffies()

    val failed = ops.count(_.error.nonEmpty) + warmFailed
    val attempted = ops.size + warmOps + 1
    val errors = ops.flatMap(_.error).groupBy(identity).view.mapValues(_.size).toMap
    val measured = ops.filter(o => o.family == workload && !o.traced).toSeq
    val metrics: Map[String, (Double, String)] =
      if (!trace) Map(
        "setup_s" -> (median(setupS), "s"),
        "latency_median_ms" -> (mixMedian(measured), "ms"),
        "ingest_rows_per_s" -> (ingest.rows / ingest.wallS, "1/s"),
        "db_bytes_per_input_byte" -> (ingest.dbBytes.toDouble / userBytes, "ratio"),
        "ops_ok_frac" -> ((attempted - failed).toDouble / attempted, "ratio"),
        "peak_rss_mb" -> (Host.peakRssMb, "MB"))
      else perLayer(failed, attempted, ingest)

    val record = Map(
      "workload" -> workload, "seed" -> seed, "trace" -> trace, "cores" -> cores,
      "seconds_measured" -> measuredS, "generate_s" -> genS, "build_s" -> ingest.wallS,
      "setup_reps_s" -> setupS, "samples" -> measured.size,
      "median_ms_by_class" -> measured.groupBy(_.cls).view.mapValues(cs => median(cs.map(_.ms))).toMap,
      "ops_by_kind" -> ops.groupBy(_.kind).view.mapValues(_.size).toMap,
      "error_classes" -> errors,
      "repeat_share" -> (if (workload == "search") repeatShare(streams.searchKeys.toSeq)
        else repeatShare(streams.lookupKeys.toSeq)),
      "steal_s" -> Host.stealSeconds(steal0, steal1),
      "spark_conf" -> spark.conf.getAll.filter { case (k, _) =>
        k.startsWith("spark.sql.") || k == "spark.master" || k.startsWith("spark.local") }.toMap,
      "shape" -> shape.toString,
      "expected_rows" -> rel.expectedRows,
      "user_bytes" -> userBytes)
    println(json(Map("run_record" -> record)))
    if (trace) writeTrace()
    val result = Map(
      "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) })
    println(json(result))
  }

  /** Self-check: every template search and a spread of lookups on this
    * run's release must agree with the oracle, and the oracle must reject
    * a result with one rupture missing. Returns the number of failures.
    */
  def agreement(): Int = {
    val readDir = work.resolve("db-read")
    verifyBuild(readDir, build(readDir, traced = false)).left.foreach(m => throw new WrongResult(m))
    db = NshmDb.open(spark, readDir.toString)
    streams.templates.foreach { q =>
      op("search", "search", "selfcheck", traced = false)((search(db, q), 0L))(r => oracle.checkSearch(q, r.asInstanceOf[Map[Long, Rupture]]))
    }
    (1 to 60).foreach(_ => draw("lookup")(false))
    val q = streams.templates.find(t => oracle.search(t).nonEmpty).get
    val got = search(db, q)
    val rejects = oracle.checkSearch(q, got - got.keys.head).isDefined
    ops.count(_.error.nonEmpty) + (if (rejects) 0 else 1)
  }

  /** Per call class, the median latency, weighted by the class's share of
    * the workload's mix: the pooled median of a mix of kinds jumps between
    * kinds as the sample shifts.
    */
  private def mixMedian(calls: Seq[OpRec]): Double = {
    val byCls = calls.groupBy(_.cls)
    Streams.mix(workload).map { case (c, w) => w * byCls.get(c).fold(Double.NaN)(cs => median(cs.map(_.ms))) }.sum
  }

  /** Share of calls whose exact arguments were already used in the run. */
  private def repeatShare(keys: Seq[Any]): Double =
    if (keys.isEmpty) 0.0 else 1.0 - keys.distinct.size.toDouble / keys.size

  /** Per-layer figures of a traced run. "Per op" is per traced call of the
    * workload's own kind; the build is the one that made the read store.
    */
  private def perLayer(failed: Int, attempted: Int, ingest: BuildRec): Map[String, (Double, String)] = {
    Drain(spark.sparkContext)
    probe.settle(ops.filter(_.traced).map(o => s"op${o.id}" -> (o.startMs, o.endMs)).toMap)
    val traced = ops.filter(o => o.traced && o.error.isEmpty).toSeq
    val own = traced.filter(_.family == workload)
    val ownIds = own.map(_.id).toSet
    val accs = own.map(o => probe.byOp.getOrElse(s"op${o.id}", new probe.Acc))
    def perOp(f: probe.Acc => Double): Double = accs.map(f).sum / math.max(1, accs.size)
    def perOwn(f: OpRec => Double): Double = own.map(f).sum / math.max(1, own.size)
    def spans(name: String, in: Int => Boolean = _ => true) = tracer.spans.filter(s => s.name == name && in(s.op)).toSeq
    val lookups = traced.filter(_.family == "lookup")
    val lookupRead = lookups.map(o => probe.byOp.get(s"op${o.id}").fold(0L)(_.recordsRead)).sum
    def kindP50(k: String) = median(traced.filter(_.kind == k).map(_.ms))
    // the measured loop made each of its calls twice in a row, once traced
    val pairs = ops.filter(_.family == workload).toSeq.grouped(2).collect {
      case Seq(a, b) if a.traced != b.traced && a.error.isEmpty && b.error.isEmpty =>
        if (a.traced) a.ms / b.ms else b.ms / a.ms
    }.toSeq
    // a search's last action is its hydration collect; the actions before
    // it are the top-k search
    val split = traced.filter(_.family == "search").flatMap(o => probe.byOp.get(s"op${o.id}")).map { a =>
      val ms = a.actionMs.sortBy(_._1).map(_._2)
      if (ms.size < 2) (ms.sum, 0.0) else (ms.init.sum, ms.last)
    }
    Map(
      "dsl.parse_compile_us" -> (median(spans("dsl.parse_compile").map(_.ms * 1000)), "us"),
      "store.table_calls_per_op" -> (spans("store.table", ownIds).size.toDouble / math.max(1, own.size), "count"),
      "store.table_ms_per_op" -> (spans("store.table", ownIds).map(_.ms).sum / math.max(1, own.size), "ms"),
      "store.append_calls_per_build" -> (spans("store.append", _ == 0).size.toDouble, "count"),
      "store.append_ms_per_build" -> (spans("store.append", _ == 0).map(_.ms).sum, "ms"),
      "store.files_per_db" -> (ingest.files.toDouble, "count"),
      "nshmdb.actions_per_op" -> (perOp(_.actions.toDouble), "count"),
      "nshmdb.analysis_ms_per_op" -> (perOp(_.phaseMs("analysis").toDouble), "ms"),
      "nshmdb.optimization_ms_per_op" -> (perOp(_.phaseMs("optimization").toDouble), "ms"),
      "nshmdb.planning_ms_per_op" -> (perOp(_.phaseMs("planning").toDouble), "ms"),
      "nshmdb.execution_ms_per_op" -> (perOp(_.actionNs / 1e6), "ms"),
      "nshmdb.search_ms" -> (median(split.map(_._1)), "ms"),
      "nshmdb.hydrate_ms" -> (median(split.map(_._2)), "ms"),
      "nshmdb.rows_read_per_row_returned" -> (lookupRead.toDouble / math.max(1L, lookups.map(_.rowsReturned).sum), "ratio"),
      "nshmdb.get_rupture_p50_ms" -> (kindP50("get_rupture"), "ms"),
      "nshmdb.get_fault_p50_ms" -> (kindP50("get_fault"), "ms"),
      "nshmdb.get_fault_info_p50_ms" -> (kindP50("get_fault_info"), "ms"),
      "nshmdb.get_rupture_fault_info_p50_ms" -> (kindP50("get_rupture_fault_info"), "ms"),
      "nshmdb.most_likely_fault_p50_ms" -> (kindP50("most_likely_fault"), "ms"),
      "ingest.resolve_merge_ms_per_build" -> (ingest.resolveMs, "ms"),
      "ingest.load_ms_per_build" -> (ingest.loadMs, "ms"),
      "ingest.input_bytes_per_build" -> (userBytes.toDouble, "bytes"),
      "ingest.rows_landed_per_build" -> (ingest.rows.toDouble, "count"),
      "spark.jobs_per_op" -> (perOp(_.jobs.toDouble), "count"),
      "spark.stages_per_op" -> (perOp(_.stages.toDouble), "count"),
      "spark.tasks_per_op" -> (perOp(_.tasks.toDouble), "count"),
      "spark.outside_jobs_ms_per_op" -> (own.zip(accs).map { case (o, a) =>
        Intervals.outsideMs(o.startMs, o.endMs, a.jobSpans.toSeq) }.sum / math.max(1, own.size), "ms"),
      "spark.task_cpu_ms_per_op" -> (perOp(_.cpuNs / 1e6), "ms"),
      "spark.task_run_ms_per_op" -> (perOp(_.runMs.toDouble), "ms"),
      "spark.busy_frac" -> (accs.map(_.runMs).sum / (own.map(o => (o.endMs - o.startMs).toDouble).sum * cores), "ratio"),
      "spark.input_bytes_per_op" -> (perOp(_.inputBytes.toDouble), "bytes"),
      "spark.shuffle_bytes_per_op" -> (perOp(_.shuffleBytes.toDouble), "bytes"),
      "spark.spill_bytes_per_op" -> (perOp(_.spillBytes.toDouble), "bytes"),
      "spark.gc_ms_per_op" -> (perOwn(_.gcMs.toDouble), "ms"),
      "codegen.compiles_per_op" -> (perOwn(_.compiles.toDouble), "count"),
      "codegen.compile_ms_per_op" -> (perOwn(_.compileNs / 1e6), "ms"),
      "trace.overhead_frac" -> (median(pairs) - 1, "ratio"),
      "ops_failed_frac" -> (failed.toDouble / attempted, "ratio"))
  }

  private def writeTrace(): Unit = {
    val dir = work.getParent.resolve("traces")
    Files.createDirectories(dir)
    val spans = tracer.spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs)).toSeq
    Files.writeString(dir.resolve(s"$workload-seed$seed.json"),
      json(Map("spans" -> spans, "self_ms" -> tracer.selfMs)) + "\n")
  }
}

/** Same seed, same bytes; another seed, other bytes; and oracle agreement
  * with the program on a tiny release.
  */
object SelfCheck {
  def run(work: Path, cores: Int): Int = {
    def files(seed: Long, dir: String): Map[String, Seq[Byte]] = {
      val d = work.resolve(dir)
      Release.write(Release.generate(seed, Shape.tiny), d)
      Files.list(d).iterator().asScala.map { f =>
        f.getFileName.toString -> new String(Files.readAllBytes(f), "ISO-8859-1").replace(d.toString, "<dir>").toSeq.map(_.toByte)
      }.toMap
    }
    val a = files(7, "a")
    val identical = a == files(7, "b")
    val differs = a != files(8, "c")
    val run = new Run("search", 7, 0, false, work.resolve("run"), cores, Shape.tiny)
    val failures = try run.agreement() finally run.stop()
    println(Main.json(Map("same_seed_identical" -> identical, "other_seed_differs" -> differs,
      "oracle_failures" -> failures, "files" -> a.size)))
    if (identical && differs && failures == 0) 0 else 1
  }
}

final class WrongResult(msg: String) extends Exception(msg)
