package graft.perfbench

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.core.EpochStore
import graft.operators.{Bm25IndexStore, FingerprintStore, MinHashStore, TextAnalysis,
  VectorIndexStore}
import graft.streaming.StreamingIngestGate

/** ingest_serve: the write path and the read path on one set of stores.
  * A seeded corpus founds the gate's FingerprintStore and MinHashStore,
  * and the serving Bm25IndexStore (documents) and VectorIndexStore (one
  * embedding per document). The loop runs whole cycles of four
  * iterations: (1) fold a seeded crawl batch — new docs, planted exact and
  * near copies of founding docs — through `StreamingIngestGate.foldBatch`,
  * append the survivors to both serving stores, then serve a read request;
  * (2, 3) serve a read request; (4) drop the replay markers, then compact
  * and vacuum all four stores. A read request is one BM25 batch (`load` +
  * `search` of Zipf-drawn queries) and one vector batch (`search` of
  * held-out vectors), so reads see segment lists that grow and shrink.
  */
final class IngestServe(ctx: Ctx) extends Workload {
  import ctx._
  import spark.implicits._

  val requestOp = "request"
  val throughputUnit = "queries/s"

  private val Founding = 3000
  private val NewPerBatch = 200
  private val ExactPerBatch = 20
  private val NearPerBatch = 20
  private val BmQueries = 8
  private val VecQueries = 16
  private val Dim = 64
  private val K = 10
  private val NProbe = 4
  /** Iterations per cycle: fold + read, read, read, maintenance. */
  override val cycle = 4

  final case class Batch(id: Long, docs: Seq[(Long, String)], exact: Set[Long], near: Set[Long])
  final case class Folded(id: Long, docs: Int, survivors: Int, exactKept: Int, exactPlanted: Int,
      nearKept: Int, nearPlanted: Int, fpStep: Long, mhStep: Long, traced: Boolean)

  private var fp = ""
  private var mh = ""
  private var bm = ""
  private var vx = ""
  private var founding: Array[String] = Array.empty
  private var mix: Inputs.VecMix = _
  private val docs = mutable.ArrayBuffer.empty[(Long, String)]
  private val vecs = mutable.ArrayBuffer.empty[(Long, Array[Double])]
  private var nextBatch = 0L
  private val folded = mutable.ArrayBuffer.empty[Folded]
  private val recalls = mutable.ArrayBuffer.empty[Double]
  private val problems = mutable.ArrayBuffer.empty[String]
  private val reclaimed = mutable.ArrayBuffer.empty[Long]
  private val commits = mutable.ArrayBuffer.empty[(Long, Boolean)]
  private var maxSegments = 0
  private var answered = 0.0
  private var gated = 0.0
  private var finalBytes = 0L

  private def stores = Seq(fp, mh, bm, vx)

  // ── seeded inputs ───────────────────────────────────────────────────

  /** The embedding of document `id`: a draw keyed by the id alone. */
  private def embed(id: Long): Array[Double] = mix.draw(Inputs.rng(args.seed, s"vec-$id"))

  private def batch(id: Long): Batch = {
    val r = Inputs.rng(args.seed, s"ingest-batch-$id")
    val base = 1000000L * (id + 1)
    val fresh = (0 until NewPerBatch).map(j => (base + j, Inputs.doc(r, 30, 90).mkString(" ")))
    val exact = (0 until ExactPerBatch).map(j =>
      (base + NewPerBatch + j, founding(r.nextInt(founding.length))))
    val near = (0 until NearPerBatch).map { j =>
      val src = founding(r.nextInt(founding.length)).split(" ")
      (base + NewPerBatch + ExactPerBatch + j, Inputs.nearDup(r, src, 2).mkString(" "))
    }
    Batch(id, fresh ++ exact ++ near, exact.map(_._1).toSet, near.map(_._1).toSet)
  }

  /** Query terms: Zipf over the vocabulary past the stopwords. */
  private val TermZipf = new Inputs.Zipf(Inputs.Vocab.length - 10, 1.0)

  private def bmBatch(i: Int): Seq[(Long, Seq[String])] = {
    val r = Inputs.rng(args.seed, s"serve-bm25-$i")
    (0 until BmQueries).map { q =>
      (q.toLong, Seq.fill(1 + r.nextInt(3))(Inputs.Vocab(10 + TermZipf.draw(r))).distinct)
    }
  }

  private def vecBatch(i: Int): Seq[(Long, Array[Double])] = {
    val r = Inputs.rng(args.seed, s"serve-vec-$i")
    (0 until VecQueries).map(q => (q.toLong, mix.draw(r)))
  }

  // ── set-up ──────────────────────────────────────────────────────────

  def setup(dir: String): Unit = {
    fp = s"$dir/fingerprints"
    mh = s"$dir/minhash"
    bm = s"$dir/bm25"
    vx = s"$dir/vectors"
    mix = new Inputs.VecMix(args.seed, Dim, 16)
    val r = Inputs.rng(args.seed, "ingest-corpus")
    founding = Array.fill(Founding)(Inputs.doc(r, 30, 90).mkString(" "))
    docs.clear()
    docs ++= founding.indices.map(i => (i.toLong, founding(i)))
    vecs.clear()
    vecs ++= docs.map { case (id, _) => (id, embed(id)) }
    // the four stores are independent: found them concurrently
    val corpus = Inputs.docsFrame(spark, docs.toSeq).localCheckpoint()
    val emb = Inputs.vecFrame(spark, vecs.toSeq).localCheckpoint()
    Seq[() => Unit](
      () => FingerprintStore.save(corpus, fp, expectedItems = 200000L),
      () => MinHashStore.save(corpus, mh),
      () => Bm25IndexStore.save(corpus, bm),
      () => VectorIndexStore.save(emb, vx))
      .map(f => Future(f())(ExecutionContext.global))
      .foreach(Await.result(_, Duration.Inf))
    folded.clear()
    nextBatch = 0L
  }

  def warmup(): Unit = {
    ingest()
    serve(-1, measured = false)
    maintain()
  }

  // ── operations ──────────────────────────────────────────────────────

  /** Exact top-K by squared L2 over the current corpus vectors. */
  private def exactTopK(q: Array[Double]): Set[Long] =
    vecs.iterator.map { case (id, v) =>
      var s = 0.0
      var d = 0
      while (d < Dim) { val x = v(d) - q(d); s += x * x; d += 1 }
      (s, id)
    }.toSeq.sortBy(_._1).take(K).map(_._2).toSet

  /** Records `body` as operation `name` only when `measured`. */
  private def op[T](name: String, measured: Boolean)(body: => T): T =
    if (measured) rec.op(name)(body) else body

  /** One read request; returns its BM25 and vector answers. */
  private def serve(i: Int, measured: Boolean): (Array[Row], Array[Row]) = {
    val qs = bmBatch(i)
    val qv = vecBatch(i)
    val qdf = qs.toDF("query_id", "terms")
    val vdf = Inputs.vecFrame(spark, qv)
    val (bmRows, vRows) = op(requestOp, measured)(span(requestOp) {
      val b = op("bm25", measured) {
        val ix = span("Bm25IndexStore.load")(Bm25IndexStore.load(spark, bm))
        span("Bm25IndexStore.search")(
          Bm25IndexStore.search(spark, ix, qdf, K, 1.2, 0.75, 1024, 1024).collect())
      }
      val v = op("vector", measured)(span("VectorIndexStore.search")(
        VectorIndexStore.search(vdf, vx, K, NProbe).collect()))
      (b, v)
    })
    // the standalone load prices the store resolution each search repeats
    if (tracer.on) span("VectorIndexStore.load")(VectorIndexStore.load(spark, vx))
    if (measured && !rec.traced) answered += qs.size + qv.size
    // untimed checks
    val byQuery = vRows.groupBy(_.getAs[Long]("query_id"))
    qv.foreach { case (id, q) =>
      val got = byQuery.getOrElse(id, Array.empty[Row]).map(_.getAs[Long]("neighbor_id")).toSet
      if (got.size != K) problems += s"request $i: vector query $id returned ${got.size} rows, want $K"
      recalls += (got & exactTopK(q)).size.toDouble / K
    }
    (bmRows, vRows)
  }

  /** A read request whose BM25 answers must equal `bm25TopKBatch` over
    * the same docs at the same epoch (run after the loop, on the final
    * compacted stores, which hold every appended survivor).
    */
  private def checkBm25(i: Int): Unit = {
    val (bmRows, _) = serve(i, measured = false)
    val want = TextAnalysis.bm25TopKBatch(Inputs.docsFrame(spark, docs.toSeq),
        bmBatch(i).toDF("query_id", "terms"), k = K)
      .collect().map(rowKey).toSet
    val got = bmRows.map(rowKey).toSet
    if (want != got) problems +=
      s"request $i: BM25 answers differ from bm25TopKBatch (${(want diff got).size} missing, " +
        s"${(got diff want).size} extra)"
  }

  private def rowKey(r: Row): (Long, Long, Long, Double) =
    (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id"), r.getAs[Long]("rank"),
      r.getAs[Double]("score"))

  private def epochs: (Long, Long) =
    (EpochStore.currentEpoch(spark, fp), EpochStore.currentEpoch(spark, mh))

  /** Gate one crawl batch, then index its survivors for serving. */
  private def ingest(): Unit = {
    val b = batch(nextBatch)
    nextBatch += 1
    val df = Inputs.docsFrame(spark, b.docs)
    val (f0, m0) = epochs
    val kept = rec.op("fold")(span("StreamingIngestGate.foldBatch") {
      StreamingIngestGate.foldBatch(df, fp, mh, b.id)
        .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    })
    val (f1, m1) = epochs
    folded += Folded(b.id, b.docs.size, kept.size, (kept & b.exact).size, b.exact.size,
      (kept & b.near).size, b.near.size, f1 - f0, m1 - m0, rec.traced)
    if (!rec.traced) gated += b.docs.size
    val newDocs = b.docs.filter(d => kept(d._1))
    val newVecs = newDocs.map { case (id, _) => (id, embed(id)) }
    rec.op("index") {
      span("Bm25IndexStore.append")(Bm25IndexStore.append(Inputs.docsFrame(spark, newDocs), bm))
      span("VectorIndexStore.append")(VectorIndexStore.append(Inputs.vecFrame(spark, newVecs), vx))
    }
    docs ++= newDocs
    vecs ++= newVecs
  }

  private def maintain(): Unit = {
    rec.op("compact")(span("EpochStore.compact") {
      FingerprintStore.compact(spark, fp)
      MinHashStore.compact(spark, mh)
      Bm25IndexStore.compact(spark, bm)
      VectorIndexStore.compact(spark, vx)
    })
    val before = stores.map(du).sum
    rec.op("vacuum")(span("EpochStore.vacuum") {
      StreamingIngestGate.vacuumMarkers(spark, fp, mh, nextBatch)
      FingerprintStore.vacuum(spark, fp)
      MinHashStore.vacuum(spark, mh)
      Bm25IndexStore.vacuum(spark, bm)
      VectorIndexStore.vacuum(spark, vx)
    })
    reclaimed += before - stores.map(du).sum
  }

  private def epochSum: Long = stores.map(EpochStore.currentEpoch(spark, _)).sum

  def step(i: Int): Unit = {
    val e0 = epochSum
    try {
      i % cycle match {
        case 0 => ingest(); serve(i, measured = true)
        case 3 => maintain()
        case _ => serve(i, measured = true)
      }
    } finally {
      commits += ((epochSum - e0, rec.traced))
      maxSegments = maxSegments max Seq(fp -> "fingerprints", mh -> "minhash", bm -> "bmpost",
        vx -> "postings").map { case (p, n) =>
          EpochStore.readSegments(spark, p, n, EpochStore.currentEpoch(spark, p))
            .map(_.size).getOrElse(1)
        }.max
    }
  }

  def items: Double = answered
  def bytesPerRow: Double = finalBytes.toDouble / docs.size

  // ── checks and metrics ──────────────────────────────────────────────

  /** Checked as the loop runs: every vector query returned K rows.
    * Checked here, on the stores as the loop's last cycle left them
    * (compacted and vacuumed, which also sizes them for `bytes_per_row`):
    * BM25 answers equal `bm25TopKBatch` over the same docs at the same
    * epoch, every planted exact copy was dropped, every fold advanced each
    * gate store by exactly one epoch, and the gate stores hold the
    * founding rows plus every survivor.
    */
  def check(): Seq[String] = {
    finalBytes = stores.map(du).sum
    checkBm25(-2)
    val exactKept = folded.filter(_.exactKept > 0)
      .map(f => s"batch ${f.id} kept ${f.exactKept} planted exact copies")
    val steps = folded.filter(f => f.fpStep != 1 || f.mhStep != 1)
      .map(f => s"batch ${f.id} advanced the gate stores by (${f.fpStep}, ${f.mhStep}) epochs")
    val want = founding.distinct.length + folded.map(_.survivors.toLong).sum
    val rows = Seq(
      "fingerprint" -> FingerprintStore.loadFingerprints(spark, fp).count(),
      "minhash" -> MinHashStore.load(spark, mh).count()).collect {
      case (n, got) if got != want => s"$n store holds $got rows, want $want"
    }
    problems.toSeq ++ exactKept ++ steps ++ rows
  }

  def named(): ListMap[String, (Double, String)] = {
    def p(op: String) = {
      val xs = rec.lat(op)
      if (xs.isEmpty) (0.0, 0.0) else (Stats.median(xs), Stats.tail(xs)._1)
    }
    val (f50, ft) = p("fold")
    val (b50, bt) = p("bm25")
    val (v50, vt) = p("vector")
    ListMap("fold_p50_s" -> (f50, "s"), "fold_tail_s" -> (ft, "s"),
      "bm25_p50_s" -> (b50, "s"), "bm25_tail_s" -> (bt, "s"),
      "vector_p50_s" -> (v50, "s"), "vector_tail_s" -> (vt, "s"),
      "recall_at_10" -> (Stats.mean(recalls.toSeq), "ratio"))
  }

  def layers(): Map[String, Double] = {
    val t = tracer
    val top = t.spans.filter(_.parent == -1).toSeq
    val ops = math.max(top.map(_.op).distinct.size, 1).toDouble
    val folds = Layers.spans(t, "StreamingIngestGate.foldBatch")
    val n = math.max(folds.size, 1).toDouble
    val fj = Layers.jobsIn(t, folds)
    val gate = Layers.ofModules(fj, "StreamingIngestGate", "IngestGate", "Dedup", "TextAnalysis")
    def rowsRead(name: String) = {
      val ss = Layers.spans(t, name)
      Layers.inputRecords(t, Layers.jobsIn(t, ss)) / math.max(ss.size, 1)
    }
    val tracedCommits = commits.filter(_._2).map(_._1)
    val all = folded.toSeq
    Map(
      "fold.s" -> Layers.meanDur(t, "StreamingIngestGate.foldBatch"),
      "gate.job_s" -> Layers.jobSeconds(gate) / n,
      "gate.task_s" -> Layers.taskSeconds(t, gate) / n,
      "fp.append_job_s" -> Layers.jobSeconds(Layers.ofModules(fj, "FingerprintStore")) / n,
      "mh.append_job_s" -> Layers.jobSeconds(Layers.ofModules(fj, "MinHashStore")) / n,
      "gate.survivor_ratio" -> all.map(_.survivors).sum.toDouble / math.max(all.map(_.docs).sum, 1),
      "gate.planted_dup_recall" ->
        (1.0 - all.map(_.exactKept).sum.toDouble / math.max(all.map(_.exactPlanted).sum, 1)),
      "bm25.load_s" -> Layers.meanDur(t, "Bm25IndexStore.load"),
      "bm25.search_s" -> Layers.meanDur(t, "Bm25IndexStore.search"),
      "bm25.append_s" -> Layers.meanDur(t, "Bm25IndexStore.append"),
      "bm25.postings_rows_read" -> rowsRead("Bm25IndexStore.search"),
      "vector.load_s" -> Layers.meanDur(t, "VectorIndexStore.load"),
      "vector.search_s" -> Layers.meanDur(t, "VectorIndexStore.search"),
      "vector.append_s" -> Layers.meanDur(t, "VectorIndexStore.append"),
      "vector.postings_rows_read" -> rowsRead("VectorIndexStore.search"),
      "epoch.commits" -> tracedCommits.sum.toDouble / math.max(tracedCommits.size, 1),
      "epoch.segments" -> maxSegments.toDouble,
      "epoch.job_s" -> Layers.jobSeconds(Layers.ofModules(Layers.jobsIn(t, top), "EpochStore")) / ops,
      "epoch.compact_s" -> Layers.meanDur(t, "EpochStore.compact"),
      "epoch.vacuum_s" -> Layers.meanDur(t, "EpochStore.vacuum"),
      "epoch.store_bytes" -> finalBytes.toDouble,
      "epoch.reclaimable_bytes" -> Stats.mean(reclaimed.map(_.toDouble).toSeq))
  }

  override def info(): ListMap[String, Any] = {
    val all = folded.toSeq
    ListMap("founding_docs" -> Founding,
      "batch_docs" -> (NewPerBatch + ExactPerBatch + NearPerBatch),
      "batches" -> all.size, "survivors" -> all.map(_.survivors).sum,
      "gated_docs_per_s_of_fold_time" -> gated / math.max(rec.lat("fold").sum, 1e-9),
      "near_dup_recall" ->
        (1.0 - all.map(_.nearKept).sum.toDouble / math.max(all.map(_.nearPlanted).sum, 1)),
      "docs" -> docs.size, "vectors" -> vecs.size,
      "bm25_queries_per_batch" -> BmQueries, "vector_queries_per_batch" -> VecQueries,
      "nprobe" -> NProbe, "recall_queries" -> recalls.size, "final_store_bytes" -> finalBytes)
  }
}
