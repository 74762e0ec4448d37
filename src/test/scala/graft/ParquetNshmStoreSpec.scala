package graft

import graft.nshm._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graftshim.ListenerDrain

/** The parquet store's read contract: what a write makes visible, and
  * how many Spark jobs a read may cost.
  */
class ParquetNshmStoreSpec extends SparkSpec {
  import spark.implicits._

  private def freshStore(): (ParquetNshmStore, String) = {
    val dir = java.nio.file.Files.createTempDirectory("nshm_store").toString
    val store = new ParquetNshmStore(spark, dir)
    store.create()
    (store, dir)
  }

  private def names(store: NshmStore): Set[String] =
    store.table("parent_fault").collect().map(_.getString(1)).toSet

  /** Runs `body` under a job group of its own and returns its result and
    * the number of Spark jobs it submitted, counted after the listener
    * bus has drained.
    */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"job-budget-${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job budget", interruptOnCancel = false)
    try {
      val out = body
      ListenerDrain(sc)
      (out, jobs.get())
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("a table directory holding only the file create() writes reads as empty, with the declared schema") {
    val (store, _) = freshStore()
    Schemas.all.foreach { case (n, schema) =>
      val df = store.table(n)
      assert(df.schema.map(f => f.name -> f.dataType) === schema.map(f => f.name -> f.dataType), n)
      assert(df.count() === 0L, n)
    }
  }

  test("the relation is memoized until a write: the store's own append shows on the next call") {
    val (store, _) = freshStore()
    val before = store.table("parent_fault")
    assert(store.table("parent_fault") eq before)
    store.append("parent_fault", Seq((1L, "Alpine Fault")).toDF("parent_id", "name"))
    assert(!(store.table("parent_fault") eq before))
    assert(names(store) === Set("Alpine Fault"))
  }

  test("merge replaces the table in place and the next call reads the merged rows") {
    val (store, _) = freshStore()
    store.append("parent_fault", Seq((1L, "Alpine Fault")).toDF("parent_id", "name"))
    assert(names(store) === Set("Alpine Fault"))
    val batch = Seq((1L, "Alpine Fault"), (2L, "Kakapo")).toDF("parent_id", "name")
    store.merge("parent_fault", batch, Seq("name"))
    // merge writes the key column first; the declared schema still reads
    // the table in schema order
    assert(store.table("parent_fault").columns.toSeq === Schemas.parentFault.fieldNames.toSeq)
    assert(names(store) === Set("Alpine Fault", "Kakapo"))
    store.merge("parent_fault", batch, Seq("name"))
    assert(store.table("parent_fault").count() === 2L)
  }

  test("an append by a second store on the same directory shows on the first store's next call") {
    val (first, dir) = freshStore()
    assert(names(first).isEmpty)
    // same session: the writer drops the session's memo entry
    new ParquetNshmStore(spark, dir)
      .append("parent_fault", Seq((1L, "Alpine Fault")).toDF("parent_id", "name"))
    assert(names(first) === Set("Alpine Fault"))
    // another session (≙ another process): only the directory stat changes
    new ParquetNshmStore(spark.newSession(), dir)
      .append("parent_fault", Seq((2L, "Kakapo")).toDF("parent_id", "name"))
    assert(names(first) === Set("Alpine Fault", "Kakapo"))
  }

  test("job budget: table() submits no Spark job, cold or warm") {
    val (store, _) = freshStore()
    Schemas.all.keys.foreach { n =>
      assert(jobsOf(store.table(n))._2 === 0, s"cold $n")
      assert(jobsOf(store.table(n))._2 === 0, s"warm $n")
    }
  }

  test("job budget: a warm getFaultInfo on a parquet store submits at most 2 jobs") {
    val (store, _) = freshStore()
    store.append("parent_fault", Seq((1L, "Fault A")).toDF("parent_id", "name"))
    store.append(
      "fault",
      Seq((1L, 3, 1L, 90.0, Option.empty[Int], 1L))
        .toDF("fault_id", "fault_system", "nshm_id", "rake", "tect_type", "parent_id"))
    val db = new NshmDb(store)
    val want = FaultInfo(FaultSystem.Crustal, 1L, "Fault A", 90.0, None)
    assert(db.getFaultInfo(FaultSystem.Crustal, 1L) === want)
    val (info, jobs) = jobsOf(db.getFaultInfo(FaultSystem.Crustal, 1L))
    assert(info === want)
    assert(jobs <= 2, s"warm getFaultInfo submitted $jobs jobs")
  }
}
