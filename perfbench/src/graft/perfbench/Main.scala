package graft.perfbench

import scala.collection.mutable
import scala.collection.immutable.ListMap
import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

final case class Args(
    workload: String, seed: Long, seconds: Int, trace: Boolean, work: String, out: String)

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("work"), need("out"))
  }
}

/** Per-operation accounting for the closed loop. Operations nest (a
  * request wraps its dump and load); the top-level ones are what a user
  * issues, and they define `attempted`, `failed` and `failed_ratio`. A
  * failed operation records its error, contributes no latency sample,
  * and is rethrown so the loop abandons the rest of that iteration. The
  * loop never retries, so `retried` is always counted as 0.
  */
final class Recorder {
  final case class Sample(op: String, seconds: Double, traced: Boolean)
  val samples = mutable.ArrayBuffer.empty[Sample]
  val attempted = mutable.LinkedHashMap.empty[String, Int]
  val failed = mutable.LinkedHashMap.empty[String, Int]
  val errors = mutable.ArrayBuffer.empty[ListMap[String, Any]]
  var topAttempted = 0
  var topFailed = 0
  var traced = false
  var workload = ""
  private var depth = 0

  def op[T](name: String)(body: => T): T = {
    attempted(name) = attempted.getOrElse(name, 0) + 1
    if (depth == 0) topAttempted += 1
    depth += 1
    val t0 = System.nanoTime()
    try {
      val v = body
      samples += Sample(name, (System.nanoTime() - t0) / 1e9, traced)
      v
    } catch {
      case NonFatal(e) =>
        failed(name) = failed.getOrElse(name, 0) + 1
        if (depth == 1) {
          topFailed += 1
          errors += ListMap("workload" -> workload, "op" -> name,
            "error" -> s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
        }
        throw e
    } finally depth -= 1
  }

  /** Forget the set-up's warm-up operations. */
  def reset(): Unit = {
    samples.clear(); attempted.clear(); failed.clear(); errors.clear()
    topAttempted = 0; topFailed = 0
  }

  def lat(name: String, tracedRuns: Boolean = false): Vector[Double] =
    samples.iterator.filter(s => s.op == name && s.traced == tracedRuns).map(_.seconds).toVector

  def opTable: ListMap[String, Any] = ListMap(attempted.keys.toSeq.map { k =>
    k -> ListMap("attempted" -> attempted(k), "failed" -> failed.getOrElse(k, 0), "retried" -> 0)
  }: _*)
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** The tail: the highest percentile with at least ten samples beyond
    * it, as (value, percentile). Below 21 samples that percentile would
    * not lie above the median, so the maximum is reported instead, at
    * percentile 100; the sample count is printed beside it.
    */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    if (s.size < 21) (s.last, 100.0)
    else { val i = s.size - 11; (s(i), 100.0 * (i + 1) / s.size) }
  }
}

/** Shared state of a run. */
final class Ctx(val spark: SparkSession, val args: Args, val rec: Recorder, val tracer: Tracer) {
  val slots: Int = spark.sparkContext.defaultParallelism
  def fs: FileSystem = FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
  def du(path: String): Long = {
    val p = new Path(path)
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }
  def files(path: String): Long = {
    val p = new Path(path)
    if (fs.exists(p)) fs.getContentSummary(p).getFileCount else 0L
  }
  def rm(path: String): Unit = fs.delete(new Path(path), true)
  def span[T](name: String)(body: => T): T = tracer.span(name)(body)
}

/** One benchmark workload: a closed loop with one client. */
trait Workload {
  /** The top-level operation whose median latency is `request_p50_s`. */
  def requestOp: String
  /** What `throughput` counts, e.g. `rows/s`. */
  def throughputUnit: String
  /** Generates every input and founds every store under `dir`,
    * replacing any earlier set-up.
    */
  def setup(dir: String): Unit
  /** Warm-up operations (JIT, codegen, file listings), run once on the
    * last set-up before the loop; they are not measured as loop samples.
    */
  def warmup(): Unit
  /** One loop iteration; its operations go through `ctx.rec.op`. */
  def step(i: Int): Unit
  /** Iterations per cycle. The loop only stops at a cycle boundary, so
    * every run does the same mix of operations.
    */
  def cycle: Int = 1
  /** Items handled by untraced operations, for `throughput`. */
  def items: Double
  def bytesPerRow: Double
  /** Untimed output checks: failure messages (empty when all pass). */
  def check(): Seq[String]
  /** The workload's own named end-to-end metrics: name -> (value, unit). */
  def named(): ListMap[String, (Double, String)]
  /** Workload-specific per-layer metrics from the traced operations. */
  def layers(): Map[String, Double]
  /** Per-layer metrics beyond [[Layers.Names]]: name -> (value, unit). */
  def extraLayers(): ListMap[String, (Double, String)] = ListMap.empty
  /** Extra facts printed with the result (check details, sizes). */
  def info(): ListMap[String, Any] = ListMap.empty
}

object Main {
  val SetupRounds = 3

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val t0 = System.nanoTime()
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(s"${a.work}/checkpoints")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val code =
      try run(spark, a, sessionS)
      finally spark.stop()
    sys.exit(code)
  }

  def run(spark: SparkSession, a: Args, sessionS: Double): Int = {
    val rec = new Recorder
    rec.workload = a.workload
    val tracer = new Tracer(spark)
    val ctx = new Ctx(spark, a, rec, tracer)
    val wl: Workload = a.workload match {
      case "dump_load" => new DumpLoad(ctx)
      case "ingest_serve" => new IngestServe(ctx)
      case "curate_corpus" => new CurateCorpus(ctx)
      case other => sys.error(s"unknown workload: $other")
    }

    // set-up: session start + the median of repeated rounds of input
    // generation and store founding + one warm-up
    val rounds = (1 to SetupRounds).map { r =>
      val s0 = System.nanoTime()
      wl.setup(s"${a.work}/setup$r")
      val s = (System.nanoTime() - s0) / 1e9
      if (r > 1) ctx.rm(s"${a.work}/setup${r - 1}")
      s
    }
    val w0 = System.nanoTime()
    wl.warmup()
    val warmS = (System.nanoTime() - w0) / 1e9
    val setupS = sessionS + Stats.median(rounds) + warmS
    rec.reset()

    // the measured closed loop, in whole cycles; a traced run alternates
    // traced and untraced cycles, at least one of each, so the two halves
    // see the same warm state
    val loop0 = System.nanoTime()
    val deadline = loop0 + a.seconds * 1000000000L
    var i = 0
    while (System.nanoTime() < deadline || i % wl.cycle != 0 || (a.trace && i < 2 * wl.cycle)) {
      val traced = a.trace && (i / wl.cycle) % 2 == 0
      tracer.enable(traced)
      tracer.op = i
      rec.traced = traced
      try wl.step(i) catch { case NonFatal(_) => () }
      if (traced) tracer.drain()
      i += 1
    }
    val loopS = (System.nanoTime() - loop0) / 1e9
    tracer.enable(false)
    rec.traced = false

    val problems = try wl.check() catch {
      case NonFatal(e) => Seq(s"check raised ${e.getClass.getName}: ${e.getMessage}")
    }
    val reqs = rec.lat(wl.requestOp)
    val correct = problems.isEmpty && reqs.nonEmpty
    val failedRatio = rec.topFailed.toDouble / math.max(rec.topAttempted, 1)

    val named = ListMap(
      "setup_s" -> (setupS, "s")) ++ wl.named() ++ ListMap(
      "throughput" -> (wl.items / loopS, wl.throughputUnit),
      "bytes_per_row" -> (wl.bytesPerRow, "bytes"),
      "failed_ratio" -> (failedRatio, "ratio"))
    val samples = ListMap(rec.attempted.keys.toSeq.map { op =>
      val xs = rec.lat(op)
      op -> (if (xs.isEmpty) ListMap("n" -> 0) else {
        val (tv, tp) = Stats.tail(xs)
        ListMap("n" -> xs.size, "p50_s" -> Stats.median(xs),
          "tail_s" -> tv, "tail_pct" -> tp)
      })
    }: _*)
    val metrics: ListMap[String, (Double, String)] =
      if (!a.trace) {
        ListMap(
          "setup_s" -> (setupS, "s"),
          "request_p50_s" -> ((if (reqs.isEmpty) 0.0 else Stats.median(reqs)), "s"),
          "throughput" -> (wl.items / loopS, "1/s"),
          "bytes_per_row" -> (wl.bytesPerRow, "bytes"))
      } else {
        tracer.drain()
        val lm = Layers.all(ctx, wl, reqs)
        tracer.writeJsonLines(java.nio.file.Paths.get(a.out))
        lm
      }
    println(Json.obj(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "named_metrics" -> named.map { case (k, (v, u)) => k -> ListMap("value" -> v, "unit" -> u) },
      "latency_samples" -> samples,
      "setup_rounds_s" -> rounds,
      "session_start_s" -> sessionS,
      "warmup_s" -> warmS,
      "loop_s" -> loopS,
      "ops" -> rec.opTable,
      "errors" -> rec.errors,
      "checks" -> (if (problems.isEmpty) "passed" else problems),
      "info" -> wl.info(),
      "trace_summary" -> (if (a.trace) Layers.summary(ctx) else "off"),
      "machine" -> ListMap(
        "nproc" -> Runtime.getRuntime.availableProcessors(),
        "spark_master" -> spark.sparkContext.master,
        "heap_max_bytes" -> Runtime.getRuntime.maxMemory(),
        "spark_version" -> spark.version,
        "java_version" -> System.getProperty("java.version"),
        "os" -> s"${System.getProperty("os.name")} ${System.getProperty("os.arch")}")))

    println(Json.obj(
      "correct" -> correct,
      "attempted" -> rec.topAttempted,
      "failed" -> rec.topFailed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> ListMap("value" -> v, "unit" -> u) }))
    0
  }
}
