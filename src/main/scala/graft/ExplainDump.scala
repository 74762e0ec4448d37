package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/** Dev tool for the optimization-round deliverables: write the
  * `.explain("formatted")` output of each named query to
  * `<outDir>/<query><suffix>.txt` — the before/after plan evidence the
  * round's OPTIMIZATION notes cite (plans/r19/).
  *
  * Usage: java -cp ... graft.ExplainDump <sfDir> <outDir> <suffix> <q1,q2,...>
  *
  * The session mirrors [[Bench]]'s conf (AQE on, shuffle partitions =
  * SPARK_GRAFT_CPUS) so the captured initial plans match what the bench
  * executes. Queries whose contract function RUNS work eagerly
  * (streaming drains, bucketed-table builds, iterative loops) execute
  * that work here too — the dumped plan is then the plan of the frame
  * the query RETURNS, which for driver-coordinated loops is the
  * collected trace; RoundPlans/PlanAudit stay the per-round audit tools.
  *
  * NSHM mode: java -cp ... graft.ExplainDump nshm <storeDir> <outDir> <suffix>
  * runs `queryRuptures` and the five `NshmDb` lookups twice each over
  * the parquet store at `<storeDir>` and writes the formatted EXECUTED
  * plan of every action the second, warm call submits to
  * `<outDir>/<call><suffix>.txt` (the first call builds the lookups'
  * dimension snapshot).
  * The call arguments are drawn from the store itself (the highest-rate
  * rupture, its first fault and that fault's parent), so two builds of
  * the program dumped over one store run the same calls.
  */
object ExplainDump {
  def main(args: Array[String]): Unit =
    if (args.headOption.contains("nshm")) nshm(args(1), java.nio.file.Paths.get(args(2)), args(3))
    else queries(args)

  private def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .master(s"local[$cpus]")
      .appName("graft-explain-dump")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def nshm(storeDir: String, outDir: java.nio.file.Path, suffix: String): Unit = {
    import graft.nshm._
    import org.apache.spark.sql.functions.col
    java.nio.file.Files.createDirectories(outDir)
    val spark = session()
    val db = new NshmDb(new ParquetNshmStore(spark, storeDir))
    val top = db.store.table("rupture").orderBy(col("rate").desc, col("rupture_id")).head()
    val (system, ruptureNshmId, ruptureId, magnitude) =
      (top.getAs[Int]("fault_system"), top.getAs[Long]("nshm_id"), top.getAs[Long]("rupture_id"),
        top.getAs[Double]("magnitude"))
    val link = db.store.table("rupture_faults").filter(col("rupture_id") === ruptureId)
      .join(db.store.table("fault"), "fault_id")
      .join(db.store.table("parent_fault"), "parent_id")
      .orderBy("fault_id").head()
    val (faultSystem, faultNshmId, parent) =
      (link.getAs[Int]("fault_system"), link.getAs[Long]("nshm_id"), link.getAs[String]("name"))

    val captured = scala.collection.mutable.ArrayBuffer.empty[QueryExecution]
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        captured.synchronized(captured += qe)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val calls: Seq[(String, () => Any)] = Seq(
      "query_ruptures" -> (() => db.queryRuptures(parent).collect()),
      "get_rupture" -> (() => db.getRupture(system, ruptureNshmId)),
      "get_fault" -> (() => db.getFault(faultSystem, faultNshmId)),
      "get_fault_info" -> (() => db.getFaultInfo(faultSystem, faultNshmId)),
      "get_rupture_fault_info" -> (() => db.getRuptureFaultInfo(ruptureNshmId)),
      "most_likely_fault" -> (() => db.mostLikelyFault(system, ruptureNshmId, Seq(parent -> magnitude))))
    for ((name, call) <- calls) {
      call()
      org.apache.spark.sql.graftshim.ListenerDrain(spark.sparkContext)
      captured.synchronized(captured.clear())
      call()
      org.apache.spark.sql.graftshim.ListenerDrain(spark.sparkContext)
      val plans = captured.synchronized(captured.toList).zipWithIndex.map { case (qe, i) =>
        s"-- action ${i + 1}\n" + qe.explainString(FormattedMode)
      }
      java.nio.file.Files.write(
        outDir.resolve(s"$name$suffix.txt"),
        (s"-- $name ($suffix) @ $storeDir\n" + plans.mkString("\n")).getBytes("UTF-8"))
      println(s"[explain] wrote $name$suffix.txt (${plans.size} actions)")
    }
    spark.stop()
  }

  private def queries(args: Array[String]): Unit = {
    val dir = args(0)
    val outDir = java.nio.file.Paths.get(args(1))
    val suffix = args(2)
    val names = args(3).split(',').toSeq
    java.nio.file.Files.createDirectories(outDir)
    val spark = session()
    Tables.validate(spark, dir)
    for (name <- names) {
      try {
        val df = SparkEntry.queries(name)(spark, dir)
        val txt = df.queryExecution.explainString(FormattedMode)
        java.nio.file.Files.write(
          outDir.resolve(s"$name$suffix.txt"),
          (s"-- $name ($suffix) @ $dir\n" + txt).getBytes("UTF-8"))
        println(s"[explain] wrote $name$suffix.txt")
      } catch {
        case e: Throwable =>
          println(s"[explain] ERROR $name: ${e.toString.take(200)}")
      }
    }
    spark.stop()
  }
}
