package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Dev tool for the optimization rounds: count the SPARK JOBS (driver
  * barriers) each named query submits end-to-end — contract-function
  * build (eager pins, index writes, streaming drains) plus the noop-sink
  * materialization, i.e. exactly what one bench iteration pays. Job
  * barriers, not task work, dominate sf0.1 wall time (r18/r19 probes),
  * so "fewer jobs per query" is the measurable claim behind every
  * materializeLazy fusion; this prints the number.
  *
  * Usage: java -cp ... graft.JobCount <sfDir> <q1,q2,...>
  * Output: one `[jobs] <name> <count>` line per query.
  */
object JobCount {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val names = args(1).split(',').toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .master(s"local[$cpus]")
      .appName("graft-job-count")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Tables.validate(spark, dir)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    })
    for (name <- names) {
      try {
        jobs.set(0)
        SparkEntry.queries(name)(spark, dir)
          .write.format("noop").mode("overwrite").save()
        // listener bus is async: drain it before reading the counter
        org.apache.spark.sql.graftshim.ListenerDrain(spark.sparkContext)
        println(s"[jobs] $name ${jobs.get()}")
      } catch {
        case e: Throwable => println(s"[jobs] ERROR $name: ${e.toString.take(160)}")
      }
    }
    spark.stop()
  }
}
