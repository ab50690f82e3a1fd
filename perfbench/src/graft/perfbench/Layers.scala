package graft.perfbench

import scala.collection.immutable.ListMap

/** The per-layer metrics of a traced run. Every name is printed on every
  * workload; a layer the workload never enters reads 0. A workload may
  * append metrics of its own (curate_corpus does). Counts and times
  * are means per traced operation (an iteration of the loop) unless the
  * name says otherwise, so they compare across runs that complete
  * different numbers of operations.
  */
object Layers {

  val Names: Seq[(String, String)] = Seq(
    // Spark engine, over every traced operation
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.idle_slot_s" -> "s", "spark.task_s" -> "s", "spark.shuffle_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.gc_s" -> "s", "spark.plan_s" -> "s",
    "spark.exchanges" -> "count", "spark.input_bytes" -> "bytes",
    "spark.output_bytes" -> "bytes",
    // sources.Dump
    "dump.write_s" -> "s", "dump.load_s" -> "s", "dump.manifest_jobs" -> "count",
    "dump.rows" -> "count", "dump.files" -> "count", "dump.bytes" -> "bytes",
    // operators.Closure
    "closure.jobs" -> "count", "closure.job_s" -> "s", "closure.depth" -> "count",
    // core.Catalog
    "catalog.open_s" -> "s",
    // core.EpochStore
    "epoch.commits" -> "count", "epoch.segments" -> "count", "epoch.job_s" -> "s",
    "epoch.compact_s" -> "s", "epoch.vacuum_s" -> "s", "epoch.store_bytes" -> "bytes",
    "epoch.reclaimable_bytes" -> "bytes",
    // streaming.StreamingIngestGate / IngestGate / FingerprintStore / MinHashStore
    "fold.s" -> "s", "gate.job_s" -> "s", "gate.task_s" -> "s",
    "fp.append_job_s" -> "s", "mh.append_job_s" -> "s",
    "gate.survivor_ratio" -> "ratio", "gate.planted_dup_recall" -> "ratio",
    // operators.Bm25IndexStore
    "bm25.load_s" -> "s", "bm25.search_s" -> "s", "bm25.append_s" -> "s",
    "bm25.postings_rows_read" -> "count",
    // operators.VectorIndexStore
    "vector.load_s" -> "s", "vector.search_s" -> "s", "vector.append_s" -> "s",
    "vector.postings_rows_read" -> "count",
    // the tracing itself
    "trace.overhead_ratio" -> "ratio", "trace.spans" -> "count")

  // ── helpers for the workloads' own layer metrics ────────────────────

  def spans(t: Tracer, name: String): Seq[Span] = t.spans.filter(_.name == name).toSeq

  /** Mean duration of the spans called `name` (0 when there are none). */
  def meanDur(t: Tracer, name: String): Double = Stats.mean(spans(t, name).map(_.seconds))

  def jobsIn(t: Tracer, ss: Seq[Span]): Seq[JobRec] = ss.flatMap(t.jobsIn).distinct

  def ofModules(js: Seq[JobRec], modules: String*): Seq[JobRec] =
    js.filter(j => modules.contains(j.module))

  def jobSeconds(js: Seq[JobRec]): Double = js.map(_.seconds).sum

  def taskSeconds(t: Tracer, js: Seq[JobRec]): Double = t.stageAggs(js).map(_.taskMs).sum / 1e3

  def shuffleBytes(t: Tracer, js: Seq[JobRec]): Double =
    t.stageAggs(js).map(_.shuffleBytes).sum.toDouble

  def inputRecords(t: Tracer, js: Seq[JobRec]): Double =
    t.stageAggs(js).map(_.inputRecords).sum.toDouble

  /** Where a traced operation's time went, per operation: jobs and job
    * seconds by the call-site module that submitted them, and self
    * seconds by span name.
    */
  def summary(ctx: Ctx): ListMap[String, Any] = {
    val t = ctx.tracer
    val top = t.spans.filter(_.parent == -1).toSeq
    val ops = math.max(top.map(_.op).distinct.size, 1).toDouble
    val byModule = jobsIn(t, top).groupBy(_.module).toSeq.sortBy(-_._2.map(_.seconds).sum)
    ListMap(
      "traced_ops" -> ops,
      "jobs_by_module" -> ListMap(byModule.map { case (m, js) =>
        m -> ListMap("jobs" -> js.size / ops, "job_s" -> jobSeconds(js) / ops) }: _*),
      "self_s_by_span" -> ListMap(t.spans.groupBy(_.name).toSeq
        .map { case (n, ss) => n -> ss.map(t.selfSeconds).sum / ops }
        .sortBy(-_._2): _*))
  }

  /** Spark-engine metrics over every traced operation, the workload's
    * own layer metrics, and the tracing overhead: the traced iterations'
    * median request latency over the untraced iterations' one, minus 1.
    */
  def all(ctx: Ctx, wl: Workload, untracedReqs: Seq[Double]): ListMap[String, (Double, String)] = {
    val t = ctx.tracer
    val top = t.spans.filter(_.parent == -1).toSeq
    val ops = math.max(top.map(_.op).distinct.size, 1)
    val js = jobsIn(t, top)
    val st = t.stageAggs(js)
    val plans = top.flatMap(t.plansIn)
    val taskS = st.map(_.taskMs).sum / 1e3
    val wallSlots = top.map(_.seconds).sum * ctx.slots
    val tracedReqs = ctx.rec.lat(wl.requestOp, tracedRuns = true)
    val overhead =
      if (tracedReqs.isEmpty || untracedReqs.isEmpty) 0.0
      else Stats.median(tracedReqs) / Stats.median(untracedReqs) - 1
    val engine = Map(
      "spark.jobs" -> js.size.toDouble / ops,
      "spark.stages" -> st.count(_.ran).toDouble / ops,
      "spark.tasks" -> st.map(_.tasks).sum.toDouble / ops,
      "spark.idle_slot_s" -> (wallSlots - taskS) / ops,
      "spark.task_s" -> taskS / ops,
      "spark.shuffle_bytes" -> st.map(_.shuffleBytes).sum.toDouble / ops,
      "spark.spill_bytes" -> st.map(_.spillBytes).sum.toDouble / ops,
      "spark.gc_s" -> st.map(_.gcMs).sum / 1e3 / ops,
      "spark.plan_s" -> plans.map(_.planS).sum / ops,
      "spark.exchanges" -> plans.map(_.exchanges).sum.toDouble / ops,
      "spark.input_bytes" -> st.map(_.inputBytes).sum.toDouble / ops,
      "spark.output_bytes" -> st.map(_.outputBytes).sum.toDouble / ops,
      "trace.overhead_ratio" -> overhead,
      "trace.spans" -> t.spans.size.toDouble)
    val own = wl.layers()
    val unknown = own.keySet -- Names.map(_._1)
    require(unknown.isEmpty, s"layer metrics missing from Layers.Names: $unknown")
    ListMap(Names.map { case (n, u) =>
      n -> (own.getOrElse(n, engine.getOrElse(n, 0.0)), u) }: _*) ++ wl.extraLayers()
  }
}
