package perfbench

import graft.nshm.NshmStore
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** A timed interval around one call the benchmark makes into a layer.
  * `parent` is the enclosing span (0 for none); `op` the op it belongs to.
  */
final case class Span(id: Int, parent: Int, op: Int, name: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder; when disabled, `span` only runs its body. */
final class Tracer(val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var nextId = 1
  var op = 0

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(0)
      open = id :: open
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, op, name, t0, System.nanoTime())
        open = open.tail
      }
    }

  /** Per span name: total duration minus the part its child spans cover. */
  def selfMs: Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.name).view.mapValues(_.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)).toSeq
      (s.endNs - s.startNs - Intervals.covered(kids)) / 1e6
    }.sum).toMap
  }
}

/** Delegating store: every `table` and `append` call becomes a span. */
final class TracedStore(inner: NshmStore, tracer: Tracer) extends NshmStore {
  def spark: SparkSession = inner.spark
  def table(name: String): DataFrame = tracer.span("store.table")(inner.table(name))
  def append(name: String, rows: DataFrame): Unit = tracer.span("store.append")(inner.append(name, rows))
  override def merge(name: String, rows: DataFrame, keyCols: Seq[String]): Unit =
    tracer.span("store.merge")(inner.merge(name, rows, keyCols))
  // merge is delegated whole, so the inner store does its own replace
  protected def replace(name: String, df: DataFrame): Unit =
    throw new UnsupportedOperationException("replace is reached only through merge")
}

/** Spark work per op, attributed through the job group each op sets.
  * Read only after [[org.apache.spark.perfbenchshim.Drain]].
  */
final class SparkProbe extends SparkListener with QueryExecutionListener {
  final class Acc {
    var jobs, stages, tasks, cpuNs, runMs, inputBytes, recordsRead, shuffleBytes, spillBytes = 0L
    val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
    var actions = 0
    val phaseMs = mutable.Map.empty[String, Long].withDefaultValue(0L)
    var actionNs = 0L
    /** Each action's first phase start (ms) and its phases plus execution (ms). */
    val actionMs = mutable.ArrayBuffer.empty[(Long, Double)]
  }
  val byOp = mutable.Map.empty[String, Acc]
  private val stageOp = mutable.Map.empty[Int, String]
  private val jobOp = mutable.Map.empty[Int, (String, Long)]
  private val actions = mutable.ArrayBuffer.empty[(Long, Map[String, Long], Long)]
  private def acc(op: String) = byOp.getOrElseUpdate(op, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach { op =>
      acc(op).jobs += 1
      e.stageInfos.foreach(s => stageOp(s.stageId) = op)
      jobOp(e.jobId) = (op, e.time)
    }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOp.remove(e.jobId).foreach { case (op, t0) => acc(op).jobSpans += ((t0, e.time)) }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageOp.get(e.stageInfo.stageId).foreach(op => acc(op).stages += 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOp.get(e.stageId).foreach { op =>
      val a = acc(op)
      a.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        a.cpuNs += m.executorCpuTime
        a.runMs += m.executorRunTime
        a.inputBytes += m.inputMetrics.bytesRead
        a.recordsRead += m.inputMetrics.recordsRead
        a.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe, durationNs)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe, 0L)
  private def record(qe: QueryExecution, durationNs: Long): Unit = synchronized {
    val phases = qe.tracker.phases
    if (phases.nonEmpty)
      actions += ((phases.values.map(_.startTimeMs).min, phases.map { case (k, v) => k -> v.durationMs }, durationNs))
  }

  /** Attributes each recorded action to the op whose wall interval holds
    * its first planning phase; call after draining. A query execution does
    * not carry its job group, but ops run one at a time, so the interval
    * is exact.
    */
  def settle(opIntervals: Map[String, (Long, Long)]): Unit = synchronized {
    actions.foreach { case (startMs, phases, ns) =>
      opIntervals.collectFirst { case (op, (a, b)) if startMs >= a && startMs <= b => op }.foreach { op =>
        val a = acc(op)
        a.actions += 1
        a.actionNs += ns
        a.actionMs += ((startMs, phases.values.sum + ns / 1e6))
        phases.foreach { case (k, v) => a.phaseMs(k) += v }
      }
    }
    actions.clear()
  }
}

object Intervals {
  /** Length of the union of [start, end) intervals. */
  def covered(iv: Seq[(Long, Long)]): Long =
    iv.filter { case (a, b) => b > a }.sortBy(_._1)
      .foldLeft((0L, Long.MinValue)) { case ((sum, end), (a, b)) =>
        (sum + math.max(0L, b - math.max(a, end)), math.max(end, b))
      }._1

  /** Wall time of an op not covered by any of its Spark jobs. */
  def outsideMs(opStartMs: Long, opEndMs: Long, jobs: Seq[(Long, Long)]): Double =
    (opEndMs - opStartMs - covered(jobs.map { case (a, b) => (math.max(a, opStartMs), math.min(b, opEndMs)) })).toDouble
}

/** Host and JVM readings recorded with every run. */
object Host {
  private def read(path: String): Option[String] =
    try Some(new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8"))
    catch { case _: java.io.IOException => None }

  /** Peak resident set of this JVM in MB (VmHWM). */
  def peakRssMb: Double =
    read("/proc/self/status").flatMap(_.linesIterator.find(_.startsWith("VmHWM:")))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  def gcMs: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  }

  /** Host-wide CPU steal in jiffies (field 8 of the "cpu" line of /proc/stat). */
  def stealJiffies(): Option[Long] =
    read("/proc/stat").map(_.linesIterator.next().trim.split("\\s+")(8).toLong)

  private lazy val clkTck: Long =
    try scala.sys.process.Process(Seq("getconf", "CLK_TCK")).!!.trim.toLong catch { case _: Exception => 100L }

  def stealSeconds(a: Option[Long], b: Option[Long]): Option[Double] =
    for (x <- a; y <- b) yield (y - x).toDouble / clkTck
}
