package graft.perfbench

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.sql.functions._

import graft.core.{Catalog, ForeignKey}
import graft.sources.{Dump, DumpSpec}

/** dump_load: seeded partial-dump requests, each a `Dump.write` of an
  * `orders` key window plus an `events` value threshold (region and
  * nation whole) followed by a `Dump.loadInto` of that dump. The FK
  * closure pulls the ordering and acting customers, then walks their
  * `c_manager` self-FK chains to the roots.
  */
final class DumpLoad(ctx: Ctx) extends Workload {
  import ctx._

  val requestOp = "request"
  val throughputUnit = "rows/s"
  /** Two requests per cycle: every run measures at least two, so a run on a
    * slow host does not report its first request alone.
    */
  override val cycle = 2

  private val Customers = 3000L
  private val Orders = 30000L
  private val Events = 20000L
  private val Tables = Seq("region", "nation", "customer", "orders", "events")

  final case class Req(lo: Long, width: Long, threshold: Double)
  final case class Done(i: Int, req: Req, dir: String, rows: Long, bytes: Long, files: Long,
      traced: Boolean)

  private var src = ""
  private var out = ""
  private var reqs: Iterator[Req] = Iterator.empty
  private val done = mutable.ArrayBuffer.empty[Done]

  /** Request stream: seeded windows of 900..1100 orders and thresholds
    * keeping 1.8-2.2% of events. The spread is kept narrow so that every
    * seed asks for about the same amount of work.
    */
  private def stream(salt: String): Iterator[Req] = {
    val r = Inputs.rng(args.seed, salt)
    Iterator.continually {
      val w = 900L + r.nextLong(201L)
      Req(1L + r.nextLong(Orders - w), w, 489.0 + r.nextInt(200) / 100.0)
    }
  }

  private def catalog(): Catalog = new Catalog(spark, src, Tables,
    Seq(ForeignKey("orders", "o_custkey", "customer", "c_custkey"),
      ForeignKey("customer", "c_nationkey", "nation", "n_nationkey"),
      ForeignKey("customer", "c_manager", "customer", "c_custkey"),
      ForeignKey("nation", "n_regionkey", "region", "r_regionkey"),
      ForeignKey("events", "user_id", "customer", "c_custkey")),
    Map("region" -> Seq("r_regionkey"), "nation" -> Seq("n_nationkey"),
      "customer" -> Seq("c_custkey"), "orders" -> Seq("o_orderkey"),
      "events" -> Seq("event_id")))

  private def request(q: Req, dir: String): Unit = {
    val (cat, spec) = span("Catalog.open") {
      val c = catalog()
      (c, DumpSpec(fullTables = Seq("region", "nation"),
        partialTables = Map(
          "orders" -> c.table("orders")
            .where(col("o_orderkey").between(q.lo, q.lo + q.width - 1)),
          "events" -> c.table("events").where(col("value") > q.threshold))))
    }
    rec.op("dump")(span("Dump.write")(Dump.write(cat, spec, s"$dir/dump")))
    rec.op("load")(span("Dump.loadInto")(Dump.loadInto(spark, s"$dir/dump", s"$dir/target")))
  }

  def setup(dir: String): Unit = {
    src = s"$dir/source"
    out = s"$dir/requests"
    Inputs.writeDumpSource(spark, args.seed, src, Customers, Orders, Events)
    reqs = stream("dump-requests")
  }

  def warmup(): Unit = {
    val warm = stream("dump-warmup")
    (0 until 1).foreach { w =>
      request(warm.next(), s"$out/warm$w")
      rm(s"$out/warm$w")
    }
  }

  private def manifestRows(dumpDir: String): Map[String, Long] = {
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dumpDir/manifest.json")), "UTF-8")
    """"table": "([a-z_]+)", "rows": (\d+)""".r.findAllMatchIn(text)
      .map(m => m.group(1) -> m.group(2).toLong).toMap
  }

  def step(i: Int): Unit = {
    val q = reqs.next()
    val dir = s"$out/r$i"
    rec.op(requestOp)(span(requestOp)(request(q, dir)))
    done += Done(i, q, dir, manifestRows(s"$dir/dump").values.sum,
      du(s"$dir/dump/data"), files(s"$dir/dump/data"), rec.traced)
    // the first and every fifth request stay on disk for the checks
    if (i != 0 && i % 5 != 0) rm(dir)
  }

  private def untraced = done.filterNot(_.traced)
  def items: Double = untraced.map(_.rows * 2.0).sum
  def bytesPerRow: Double = done.map(_.bytes).sum.toDouble / math.max(done.map(_.rows).sum, 1L)

  /** On each kept request: every FK edge of the loaded target resolves
    * (the self-FK one is the closure's completeness), every loaded table
    * holds the rows the manifest recorded, and the selections arrived
    * whole.
    */
  def check(): Seq[String] = done.filter(d => d.i == 0 || d.i % 5 == 0).toSeq.flatMap { d =>
    def t(n: String) = spark.read.parquet(s"${d.dir}/target/$n.parquet")
    val edges = Seq(("orders", "o_custkey", "customer", "c_custkey"),
      ("customer", "c_nationkey", "nation", "n_nationkey"),
      ("customer", "c_manager", "customer", "c_custkey"),
      ("nation", "n_regionkey", "region", "r_regionkey"),
      ("events", "user_id", "customer", "c_custkey"))
    val dangling = edges.flatMap { case (a, c, b, k) =>
      val n = t(a).where(col(c).isNotNull)
        .join(t(b).select(col(k).as("__parent")), col(c) === col("__parent"), "left_anti")
        .count()
      if (n == 0) None else Some(s"request ${d.i}: $n $a.$c rows reference no $b row")
    }
    val manifest = manifestRows(s"${d.dir}/dump")
    val counts = Tables.flatMap { n =>
      val got = t(n).count()
      if (manifest.get(n).contains(got)) None
      else Some(s"request ${d.i}: $n loaded $got rows, manifest says ${manifest.get(n)}")
    }
    val srcEvents = spark.read.parquet(s"$src/events.parquet")
      .where(col("value") > d.req.threshold).count()
    val sel = Seq(
      ("orders", d.req.width, t("orders").count()),
      ("events", srcEvents, t("events").count())).collect {
      case (n, want, got) if want != got => s"request ${d.i}: $n selection $got rows, want $want"
    }
    dangling ++ counts ++ sel
  }

  def named(): ListMap[String, (Double, String)] = {
    def p(op: String) = {
      val xs = rec.lat(op)
      if (xs.isEmpty) (0.0, 0.0) else (Stats.median(xs), Stats.tail(xs)._1)
    }
    val (d50, dt) = p("dump")
    val (l50, lt) = p("load")
    ListMap("dump_p50_s" -> (d50, "s"), "dump_tail_s" -> (dt, "s"),
      "load_p50_s" -> (l50, "s"), "load_tail_s" -> (lt, "s"))
  }

  def layers(): Map[String, Double] = {
    val t = tracer
    val reqSpans = Layers.spans(t, requestOp)
    val n = math.max(reqSpans.size, 1).toDouble
    val writes = Layers.jobsIn(t, Layers.spans(t, "Dump.write"))
    val closure = Layers.ofModules(writes, "Closure")
    val all = Layers.jobsIn(t, reqSpans)
    val traced = done.filter(_.traced)
    val m = math.max(traced.size, 1).toDouble
    Map(
      "dump.write_s" -> Layers.meanDur(t, "Dump.write"),
      "dump.load_s" -> Layers.meanDur(t, "Dump.loadInto"),
      "dump.manifest_jobs" -> all.count(_.site.contains("readManifest")) / n,
      "dump.rows" -> traced.map(_.rows).sum / m,
      "dump.files" -> traced.map(_.files).sum / m,
      "dump.bytes" -> traced.map(_.bytes).sum / m,
      "closure.jobs" -> closure.size / n,
      "closure.job_s" -> Layers.jobSeconds(closure) / n,
      // one emptiness probe per semi-naive iteration of recursiveClosure
      "closure.depth" -> closure.count(j =>
        j.site.contains("recursiveClosure") && j.shortSite.startsWith("isEmpty")) / n,
      "catalog.open_s" -> Layers.meanDur(t, "Catalog.open"))
  }

  override def info(): ListMap[String, Any] = ListMap(
    "source_rows" -> ListMap("customer" -> Customers, "orders" -> Orders, "events" -> Events),
    "requests" -> done.size,
    "rows_per_request_mean" -> Stats.mean(done.map(_.rows.toDouble).toSeq))
}
