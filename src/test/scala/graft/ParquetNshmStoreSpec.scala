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
    // the budget is now 0: the fault dimension tables are served from the
    // NshmDb's snapshot
    assert(jobs === 0, s"warm getFaultInfo submitted $jobs jobs")
  }

  /** A store holding one crustal rupture over two faults of two parents,
    * each fault with one plane and one MFD row.
    */
  private def ruptureStore(): (ParquetNshmStore, String) = {
    val (store, dir) = freshStore()
    store.append("parent_fault", Seq((1L, "Fault A"), (2L, "Fault B")).toDF("parent_id", "name"))
    store.append(
      "fault",
      Seq((1L, 3, 1L, 90.0, Option.empty[Int], 1L), (2L, 3, 2L, 45.0, Option.empty[Int], 2L))
        .toDF("fault_id", "fault_system", "nshm_id", "rake", "tect_type", "parent_id"))
    store.append(
      "fault_plane",
      Seq(1L, 2L).map(i => (i, -42.0, 172.0, -42.0, 173.0, -43.0, 173.0, -43.0, 172.0, 0.0, 10.0, i))
        .toDF("plane_id", "top_left_lat", "top_left_lon", "top_right_lat", "top_right_lon",
          "bottom_right_lat", "bottom_right_lon", "bottom_left_lat", "bottom_left_lon",
          "top_depth", "bottom_depth", "fault_id"))
    store.append(
      "rupture",
      Seq((1L, 3, 1L, 100.0, 7.0, 10.0, 0.01))
        .toDF("rupture_id", "fault_system", "nshm_id", "area", "magnitude", "len", "rate"))
    store.append(
      "rupture_faults", Seq((1L, 1L, 1L), (2L, 1L, 2L)).toDF("rupture_fault_id", "rupture_id", "fault_id"))
    store.append(
      "magnitude_frequency_distribution",
      Seq((1L, 1L, 7.0, 0.5), (2L, 2L, 7.0, 0.25)).toDF("entry_id", "fault_id", "magnitude", "rate"))
    (store, dir)
  }

  test("job budget: warm point lookups and hydration on a parquet store") {
    val db = new NshmDb(ruptureStore()._1)
    val budgets: Seq[(String, Int, () => Any)] = Seq(
      ("getFault", 0, () => db.getFault(FaultSystem.Crustal, 1L)),
      ("getFaultNames", 0, () => db.getFaultNames),
      ("getFaultIds", 0, () => db.getFaultIds),
      ("getRupture", 2, () => db.getRupture(FaultSystem.Crustal, 1L)),
      ("getRuptureFaultInfo", 2, () => db.getRuptureFaultInfo(1L)),
      ("mostLikelyFault", 3, () => db.mostLikelyFault(FaultSystem.Crustal, 1L, Seq("Fault A" -> 7.0))),
      ("getRupturesFaults", 1, () => db.getRupturesFaults(Seq(1L))))
    val over = budgets.flatMap { case (name, budget, call) =>
      val cold = call()
      val (warm, jobs) = jobsOf(call())
      assert(warm === cold, name)
      if (jobs > budget) Some(s"warm $name submitted $jobs jobs, budget $budget") else None
    }
    assert(over.isEmpty, over.mkString("; "))
    assert(db.getRupture(FaultSystem.Crustal, 1L).faults.keySet === Set("Fault A", "Fault B"))
    assert(db.mostLikelyFault(FaultSystem.Crustal, 1L, Seq("Fault A" -> 7.0)) === Map("Fault A" -> 0.5))
  }

  test("lookups see faults appended by a second store, in the same session and in another") {
    val (store, dir) = freshStore()
    store.append("parent_fault", Seq((1L, "Fault A")).toDF("parent_id", "name"))
    store.append(
      "fault",
      Seq((1L, 3, 1L, 90.0, Option.empty[Int], 1L))
        .toDF("fault_id", "fault_system", "nshm_id", "rake", "tect_type", "parent_id"))
    val db = new NshmDb(store)
    assert(db.getFaultNames === Set("Fault A"))
    def addFault(writer: ParquetNshmStore, id: Long, name: String): Unit = {
      val ws = writer.spark
      import ws.implicits._
      writer.append("parent_fault", Seq((id, name)).toDF("parent_id", "name"))
      writer.append(
        "fault",
        Seq((id, 3, id, 45.0, Option.empty[Int], id))
          .toDF("fault_id", "fault_system", "nshm_id", "rake", "tect_type", "parent_id"))
      writer.append(
        "fault_plane",
        Seq((id, -42.0, 172.0, -42.0, 173.0, -43.0, 173.0, -43.0, 172.0, 0.0, 10.0, id))
          .toDF("plane_id", "top_left_lat", "top_left_lon", "top_right_lat", "top_right_lon",
            "bottom_right_lat", "bottom_right_lon", "bottom_left_lat", "bottom_left_lon",
            "top_depth", "bottom_depth", "fault_id"))
    }
    addFault(new ParquetNshmStore(spark, dir), 2L, "Fault B")
    assert(db.getFaultInfo(FaultSystem.Crustal, 2L) === FaultInfo(FaultSystem.Crustal, 2L, "Fault B", 45.0, None))
    assert(db.getFault(FaultSystem.Crustal, 2L).planes.size === 1)
    assert(db.getFaultNames === Set("Fault A", "Fault B"))
    addFault(new ParquetNshmStore(spark.newSession(), dir), 3L, "Fault C")
    assert(db.getFaultInfo(FaultSystem.Crustal, 3L) === FaultInfo(FaultSystem.Crustal, 3L, "Fault C", 45.0, None))
    assert(db.getFault(FaultSystem.Crustal, 3L).planes.size === 1)
    assert(db.getFaultNames === Set("Fault A", "Fault B", "Fault C"))
  }
}
