package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.core.{Catalog, ForeignKey}
import graft.operators.Closure
import graft.sources.{Dump, DumpSpec}

/** Spark-job budget of `Dump.write` + `Dump.loadInto`, the driver-side
  * manifest parser, and the Catalog's pin-at-first-use resolution.
  */
class DumpJobSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_dumpjob").toString

  // dept 1..3 (head_id → emp), emp 1..20 (dept_id → dept, mgr_id → emp:
  // a tree rooted at 1), task 1..40 (emp_id → emp)
  private val depts = Seq((1L, "ops", 1L), (2L, "eng", 2L), (3L, "lab", 3L))
  private val emps = (1L to 20L).map(e => (e, e % 3 + 1, if (e == 1) None else Some(e / 2)))
  private val tasks = (1L to 40L).map(t => (t, t % 20 + 1, s"task $t"))

  private lazy val src: String = {
    val dir = tmp()
    depts.toDF("dept_id", "name", "head_id").coalesce(1).write.parquet(s"$dir/dept.parquet")
    emps.toDF("emp_id", "dept_id", "mgr_id").coalesce(1).write.parquet(s"$dir/emp.parquet")
    tasks.toDF("task_id", "emp_id", "title").coalesce(1).write.parquet(s"$dir/task.parquet")
    dir
  }

  private val keys = Map("dept" -> Seq("dept_id"), "emp" -> Seq("emp_id"),
    "task" -> Seq("task_id"))
  private val empDept = ForeignKey("emp", "dept_id", "dept", "dept_id")
  private val empMgr = ForeignKey("emp", "mgr_id", "emp", "emp_id")
  private val taskEmp = ForeignKey("task", "emp_id", "emp", "emp_id")
  private val deptHead = ForeignKey("dept", "head_id", "emp", "emp_id")

  /** Acyclic catalog: a full table (dept), a partial one (task) and a self-FK. */
  private def catalog(reader: Option[String => org.apache.spark.sql.DataFrame] = None) =
    new Catalog(spark, src, Seq("dept", "emp", "task"),
      Seq(taskEmp, empDept, empMgr), keys, reader = reader)

  private final case class Job(id: Int, shortSite: String, site: String) {
    /** Parquet/orc schema inference: the job's top Spark frame is the reader. */
    def infersSchema: Boolean = site.linesIterator.nextOption().exists(_.contains("DataFrameReader"))
  }

  /** Every Spark job `body` submits, from any thread. A marker job before
    * and after fences the listener bus, which delivers events in order.
    */
  private def jobsOf(body: => Unit): Seq[Job] = {
    val sc = spark.sparkContext
    val seen = new ConcurrentLinkedQueue[Job]()
    @volatile var marker: (String, CountDownLatch, Int) = null
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val m = marker
        val desc = Option(e.properties).map(_.getProperty("spark.job.description")).orNull
        if (m != null && desc == m._1) marker = m.copy(_3 = e.jobId)
        else seen.add(Job(e.jobId,
          Option(e.properties).map(_.getProperty("callSite.short")).orNull,
          e.stageInfos.sortBy(_.stageId).lastOption.map(_.details).getOrElse("")))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val m = marker
        if (m != null && e.jobId == m._3) m._2.countDown()
      }
    }
    def fence(): Unit = {
      val m = (s"graft-fence-${System.nanoTime}", new CountDownLatch(1), -1)
      marker = m
      sc.setJobDescription(m._1)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(m._2.await(60, TimeUnit.SECONDS), "listener bus did not drain")
    }
    sc.addSparkListener(listener)
    try {
      fence()
      seen.clear()
      body
      fence()
    } finally sc.removeSparkListener(listener)
    seen.asScala.toSeq.sortBy(_.id)
  }

  private def writeManifest(dir: String, text: String): String = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/manifest.json"),
      text.getBytes("UTF-8"))
    dir
  }

  test("readManifest parses on the driver: key order and whitespace do not matter") {
    val dir = writeManifest(s"${tmp()}/d",
      """  {"tables":[ {"full" : false, "sequence":7,"rows" : 3,"table":"b"},
        |
        |   {"rows": 2, "table": "a", "sequence": 0, "full": true}],
        |"load_order" :[ "a" ,"b"],   "format":"csv" }  """.stripMargin)
    var m: Dump.Manifest = null
    val jobs = jobsOf { m = Dump.readManifest(spark, dir) }
    assert(m === Dump.Manifest("csv", Seq("a", "b"),
      Map("a" -> 2L, "b" -> 3L), Map("a" -> 0L, "b" -> 7L)))
    assert(jobs.isEmpty, s"readManifest submitted Spark jobs: $jobs")
  }

  test("a manifest missing a field or of the wrong type fails naming the field and the file") {
    val base = tmp()
    val noRows = writeManifest(s"$base/norows",
      """{"format": "parquet", "load_order": ["a"],
        | "tables": [{"table": "a", "sequence": 0, "full": true}]}""".stripMargin)
    val e = intercept[java.io.IOException](Dump.readManifest(spark, noRows))
    assert(e.getMessage.contains("'rows'") && e.getMessage.contains("table a") &&
      e.getMessage.contains(s"$noRows/manifest.json"), e.getMessage)

    val typo = writeManifest(s"$base/typo",
      """{"format": "parquet", "load_order": ["a"],
        | "tables": [{"table": "a", "rows": "12", "sequence": 0}]}""".stripMargin)
    val e2 = intercept[java.io.IOException](Dump.readManifest(spark, typo))
    assert(e2.getMessage.contains("'rows'") && e2.getMessage.contains("not an integer") &&
      e2.getMessage.contains(s"$typo/manifest.json"), e2.getMessage)

    val noFormat = writeManifest(s"$base/noformat", """{"load_order": [], "tables": []}""")
    val e3 = intercept[java.io.IOException](Dump.readManifest(spark, noFormat))
    assert(e3.getMessage.contains("'format'"), e3.getMessage)
  }

  test("a truncated or missing manifest fails naming the file") {
    val dir = tmp()
    Dump.write(catalog(), DumpSpec(fullTables = Seq("dept")), s"$dir/d")
    val path = java.nio.file.Paths.get(s"$dir/d/manifest.json")
    val whole = java.nio.file.Files.readAllBytes(path)
    // a truncated copy: half the bytes, no checksum sidecar
    java.nio.file.Files.write(path, whole.take(whole.length / 2))
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(s"$dir/d/.manifest.json.crc"))
    val e = intercept[java.io.IOException](Dump.loadInto(spark, s"$dir/d", s"$dir/t"))
    assert(e.getMessage.contains(s"$dir/d/manifest.json") &&
      e.getMessage.contains("truncated"), e.getMessage)

    java.nio.file.Files.delete(path)
    val e2 = intercept[java.io.IOException](Dump.readManifest(spark, s"$dir/d"))
    assert(e2.getMessage.contains(s"$dir/d/manifest.json") &&
      e2.getMessage.contains("not found"), e2.getMessage)
  }

  test("job budget: one write job per table, no schema or manifest jobs") {
    val dir = tmp()
    // the source tables are written before counting starts
    assert(new java.io.File(src).isDirectory)
    var tablesDumped = 0
    val writeJobs = jobsOf {
      val cat = catalog()
      Dump.write(cat, DumpSpec(fullTables = Seq("dept"),
        partialTables = Map("task" -> cat.table("task").where(col("task_id") <= 5))), s"$dir/d")
      tablesDumped = cat.tables.size
    }
    var manifest: Dump.Manifest = null
    val loadJobs = jobsOf {
      manifest = Dump.readManifest(spark, s"$dir/d")
      Dump.loadInto(spark, s"$dir/d", s"$dir/t", manifest)
    }
    val k = manifest.loadOrder.size
    assert(manifest.loadOrder === Seq("dept", "emp", "task"))
    assert(loadJobs.size === k, s"loadInto of $k tables submitted:\n${loadJobs.mkString("\n")}")
    for (j <- writeJobs ++ loadJobs; m <- Seq("readManifest", "readData"))
      assert(!j.site.contains(m), s"job ${j.shortSite} submitted from $m:\n${j.site}")
    // the catalog reads each parquet schema from a footer on the driver
    val inference = writeJobs.filter(_.infersSchema)
    assert(inference.isEmpty,
      s"Dump.write ran ${inference.size} schema-inference jobs for $tablesDumped tables")
    // a small table is written as one file, and loads in one task
    for (t <- manifest.loadOrder) {
      val parts = new java.io.File(s"$dir/d/data/$t").listFiles()
        .filter(_.getName.startsWith("part-"))
      assert(parts.length === 1, s"$t was written as ${parts.length} files")
    }
    // the closure: tasks 1..5 reference emps 2..6, whose manager chains
    // reach 1, 2, 3 — emps 1..6
    assert(manifest.rows === Map("dept" -> 3L, "emp" -> 6L, "task" -> 5L))
    assert(spark.read.parquet(s"$dir/t/emp.parquet").count() === 6)
    // the manifest's bytes are a contract (parsers outside graft read it
    // with a regex), so its layout stays exactly this
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/d/manifest.json")), "UTF-8") ===
      """{
        |  "format": "parquet",
        |  "load_order": ["dept", "emp", "task"],
        |  "tables": [
        |    {"table": "dept", "rows": 3, "sequence": 3, "full": true},
        |    {"table": "emp", "rows": 6, "sequence": 6, "full": false},
        |    {"table": "task", "rows": 5, "sequence": 5, "full": false}
        |  ]
        |}""".stripMargin)
  }

  test("the Catalog takes a parquet table's schema from its footer, as inference would") {
    val dir = tmp()
    val df = spark.range(0, 20).selectExpr("id", "cast(id as decimal(12, 2)) as amount",
      "named_struct('a', id, 'b', array(cast(id as string))) as nested",
      "map(cast(id as string), id) as m", "timestamp_seconds(id) as ts", "id % 3 as part")
    df.write.parquet(s"$dir/flat.parquet")
    df.write.partitionBy("part").parquet(s"$dir/parted.parquet")
    val cat = new Catalog(spark, dir, Seq("flat", "parted"), Nil,
      Map("flat" -> Seq("id"), "parted" -> Seq("id")))
    var flat: org.apache.spark.sql.DataFrame = null
    assert(jobsOf { flat = cat.table("flat") }.isEmpty, "a flat table cost a Spark job")
    assert(flat.schema === spark.read.parquet(s"$dir/flat.parquet").schema)
    assert(flat.collect().toSet === df.collect().toSet)
    // partition directories: inferred as spark.read.parquet does
    assert(cat.table("parted").schema === spark.read.parquet(s"$dir/parted.parquet").schema)
  }

  test("one Catalog's table joins itself like two independent reads") {
    val cat = new Catalog(spark, src, Seq("dept", "emp"),
      Seq(empDept, deptHead, empMgr), keys)
    // a plain self-join: two table() calls of one catalog on both sides
    val e = cat.table("emp")
    val m = cat.table("emp")
    val pairs = e.join(m, e("mgr_id") === m("emp_id"))
      .select(e("emp_id"), m("emp_id")).as[(Long, Long)].collect().toSet
    assert(pairs === emps.collect { case (id, _, Some(mgr)) => (id, mgr) }.toSet)

    // the self-FK closure pulls emp into emp; the cyclic pair emp ↔ dept
    // runs the fixpoint sweep over the same two pinned relations
    val sel = Closure.relatedData(cat,
      partial = Map("emp" -> cat.table("emp").where(col("emp_id") === 13)))
    val deptOf = emps.map(r => r._1 -> r._2).toMap
    val headOf = depts.map(r => r._1 -> r._3).toMap
    val mgrOf = emps.flatMap(r => r._3.map(r._1 -> _)).toMap
    var want = Set(13L)
    var grown = true
    while (grown) {
      val more = want ++ want.flatMap(mgrOf.get) ++ want.map(e => headOf(deptOf(e)))
      grown = more != want
      want = more
    }
    assert(sel("emp").select("emp_id").as[Long].collect().toSet === want)
    assert(sel("dept").select("dept_id").as[Long].collect().toSet === want.map(deptOf))
  }

  test("a failing partial selection: write waits for in-flight full-table writes, names the table") {
    val dir = tmp()
    // dept's write takes over a second; task's selection fails at once
    val slow = udf { (k: Long) => Thread.sleep(400); k > 0 }
    val boom = udf { (k: Long) => if (k > 0) throw new IllegalStateException("planted"); true }
    val cat = catalog(reader = Some { t =>
      val df = spark.read.parquet(s"$src/$t.parquet")
      if (t == "dept") df.where(slow(col("dept_id"))) else df
    })
    val e = intercept[RuntimeException] {
      Dump.write(cat, DumpSpec(fullTables = Seq("dept"),
        partialTables = Map("task" -> cat.table("task").where(boom(col("task_id"))))), dir)
    }
    assert(e.getMessage.contains("table task"), e.getMessage)
    // dept's write had settled (committed) before write() threw
    assert(new java.io.File(s"$dir/data/dept/_SUCCESS").exists(),
      "a full-table write was still running after Dump.write threw")
    assert(!new java.io.File(s"$dir/manifest.json").exists())
  }
}
