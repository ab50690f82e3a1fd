package graft.perfbench

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity, TextAnalysis}

/** curate_corpus: repeated passes of one curation pipeline over a seeded,
  * decorrelated, scaled corpus: stripDupSpans, then qualityScore,
  * dedupExact, minhashPairs, chunkKnn and docEmbed -> knnGraph ->
  * dedupGroups over the stripped text. Each stage writes its output as
  * parquet shards, as a pipeline does.
  */
final class CurateCorpus(ctx: Ctx) extends Workload {
  import ctx._

  val requestOp = "pass"
  val throughputUnit = "docs/s"

  private val BaseDocs = 1500
  private val Copies = 2
  private val Boilerplate = 24

  private var corpus = ""
  private var out = ""
  private var docs = 0L
  private var passes = 0
  private var untracedPasses = 0
  private var passBytes = 0L
  private var reference: Option[Map[String, (Long, Long)]] = None
  private val problems = mutable.ArrayBuffer.empty[String]

  private val Stages = Seq("strip", "quality", "exact", "minhash", "chunk_knn", "semantic_groups")

  /** Base documents carry planted structure — shared boilerplate spans,
    * exact copies, near copies; the scaled copies permute each base doc
    * (scale_corpus.py's decorrelation), adding volume but no new pairs.
    */
  private def generate(): Seq[(Long, String)] = {
    val r = Inputs.rng(args.seed, "curate-corpus")
    val boiler = Array.fill(Boilerplate)(Inputs.doc(r, 20, 20))
    val base = mutable.ArrayBuffer.empty[Array[String]]
    while (base.size < BaseDocs) {
      val u = r.nextDouble()
      if (u < 0.03 && base.nonEmpty) base += base(r.nextInt(base.size))
      else if (u < 0.06 && base.nonEmpty) base += Inputs.nearDup(r, base(r.nextInt(base.size)), 2)
      else {
        val d = Inputs.doc(r, 40, 120)
        base += (if (r.nextDouble() < 0.3) {
          val at = r.nextInt(d.length)
          d.take(at) ++ boiler(r.nextInt(Boilerplate)) ++ d.drop(at)
        } else d)
      }
    }
    for (c <- 0 until Copies; (d, i) <- base.zipWithIndex)
      yield ((c * BaseDocs + i).toLong, Inputs.decorrelate(d, c).mkString(" "))
  }

  private def write(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  private def runPass(dir: String): Unit = {
    val input = spark.read.parquet(corpus)
    span("curate.strip")(write(Dedup.stripDupSpans(input, w = 15, stride = 5), s"$dir/strip"))
    val stripped = spark.read.parquet(s"$dir/strip")
      .select(col("doc_id"), col("text_clean").as("text"))
    span("curate.quality")(write(TextAnalysis.qualityScore(stripped), s"$dir/quality"))
    span("curate.exact")(write(TextAnalysis.dedupExact(stripped), s"$dir/exact"))
    span("curate.minhash")(write(Dedup.minhashPairs(stripped), s"$dir/minhash"))
    span("curate.chunk_knn")(
      write(Similarity.chunkKnn(stripped, k = 3), s"$dir/chunk_knn"))
    span("curate.semantic_groups") {
      val edges = Similarity.knnGraph(Similarity.docEmbed(stripped, dim = 16),
          k = 3, bands = 2, center = true, corpusHint = Some(docs))
        .where(col("cosine") >= 0.95)
        .select(col("query_id").as("doc_a"), col("neighbor_id").as("doc_b"))
      val groups = Dedup.dedupGroupsReclaimable(edges, spillDir = Some(s"${args.work}/spill"))
      write(groups.groups, s"$dir/semantic_groups")
      groups.reclaim()
    }
  }

  /** Order-independent (row count, sum of row hashes) per stage output. */
  private def hashes(dir: String): Map[String, (Long, Long)] = Stages.map { s =>
    val df = spark.read.parquet(s"$dir/$s")
    val r = df.agg(count(lit(1)), coalesce(sum(pmod(xxhash64(df.columns.map(col): _*), lit(1L << 31))), lit(0L))).head()
    s -> (r.getLong(0), r.getLong(1))
  }.toMap

  def setup(dir: String): Unit = {
    corpus = s"$dir/corpus"
    out = s"$dir/passes"
    val d = generate()
    docs = d.size.toLong
    write(Inputs.docsFrame(spark, d).repartition(slots), corpus)
  }

  def warmup(): Unit = {
    runPass(s"$out/warm")
    reference = Some(hashes(s"$out/warm"))
    rm(s"$out/warm")
  }

  def step(i: Int): Unit = {
    val dir = s"$out/p$i"
    rec.op(requestOp)(span(requestOp)(runPass(dir)))
    passes += 1
    if (!rec.traced) untracedPasses += 1
    passBytes = du(dir)
    val h = hashes(dir)
    reference.foreach { ref =>
      Stages.filter(s => h(s) != ref(s)).foreach(s =>
        problems += s"pass $i (${if (rec.traced) "traced" else "untraced"}): $s output " +
          s"${h(s)} differs from the warm-up pass ${ref(s)}")
    }
    rm(dir)
  }

  def items: Double = untracedPasses.toDouble * docs
  def bytesPerRow: Double = passBytes.toDouble / math.max(docs, 1L)

  /** Each pass's stage outputs hash identically to the set-up pass (so
    * across passes, and across traced and untraced passes).
    */
  def check(): Seq[String] = problems.toSeq

  def named(): ListMap[String, (Double, String)] = {
    val xs = rec.lat(requestOp)
    ListMap("curate_s" -> ((if (xs.isEmpty) 0.0 else Stats.median(xs)), "s"))
  }

  def layers(): Map[String, Double] = Map.empty

  /** Per pass and stage: span seconds, task seconds and shuffle bytes. */
  override def extraLayers(): ListMap[String, (Double, String)] =
    ListMap(Stages.flatMap { s =>
      val ss = Layers.spans(tracer, s"curate.$s")
      val n = math.max(ss.size, 1)
      val js = Layers.jobsIn(tracer, ss)
      Seq(s"curate.${s}_s" -> (Layers.meanDur(tracer, s"curate.$s"), "s"),
        s"curate.${s}_task_s" -> (Layers.taskSeconds(tracer, js) / n, "s"),
        s"curate.${s}_shuffle_bytes" -> (Layers.shuffleBytes(tracer, js) / n, "bytes"))
    }: _*)

  override def info(): ListMap[String, Any] = ListMap(
    "docs" -> docs, "base_docs" -> BaseDocs, "copies" -> Copies,
    "passes" -> passes, "stage_outputs" -> reference.map(_.map { case (k, v) => k -> v._1 }))
}
