package graft.perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every generator takes the run seed plus a
  * salt naming the stream, so one seed always yields the same inputs and
  * two streams of one run never share random draws.
  */
object Inputs {

  def rng(seed: Long, salt: String): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ salt.hashCode.toLong)

  /** A fixed vocabulary (independent of the seed, so corpus statistics do
    * not drift between seeds): the English stopwords the quality gate
    * counts, then syllable-built words in Zipf rank order.
    */
  val Vocab: Array[String] = {
    val stop = Seq("the", "a", "of", "and", "to", "in", "is", "it", "that", "an")
    val syl = Array("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "pa",
      "do", "ge", "hu", "ji", "be", "co", "fa", "xi", "yo", "we")
    val r = new SplittableRandom(7L)
    val words = scala.collection.mutable.LinkedHashSet.empty[String]
    while (words.size < 4000) {
      val n = 2 + r.nextInt(3)
      words += (0 until n).map(_ => syl(r.nextInt(syl.length))).mkString
    }
    (stop ++ words.filterNot(stop.contains)).toArray
  }

  /** Zipf(s) over vocabulary ranks, sampled by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot)
    }
    def draw(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  val WordZipf = new Zipf(Vocab.length, 1.05)

  /** A document of `lo..hi` Zipf-drawn tokens. */
  def doc(r: SplittableRandom, lo: Int, hi: Int): Array[String] =
    Array.fill(lo + r.nextInt(hi - lo + 1))(Vocab(WordZipf.draw(r)))

  /** A near-duplicate of `toks`: `edits` tokens replaced in place. */
  def nearDup(r: SplittableRandom, toks: Array[String], edits: Int): Array[String] = {
    val out = toks.clone()
    (0 until edits).foreach(_ => out(r.nextInt(out.length)) = Vocab(WordZipf.draw(r)))
    out
  }

  /** The scale_corpus.py decorrelation: copy `i > 0` of a document keeps
    * its token multiset but permutes positions by a hash keyed on the
    * copy index, so copies share statistics but no interior n-grams.
    */
  def decorrelate(toks: Array[String], copy: Int): Array[String] =
    if (copy == 0) toks
    else toks.zipWithIndex
      .sortBy { case (t, p) => scala.util.hashing.MurmurHash3.stringHash(s"$t:$p:$copy") }
      .map(_._1)

  def docsFrame(spark: SparkSession, docs: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    docs.toDF("doc_id", "text")
  }

  def vecFrame(spark: SparkSession, vecs: Seq[(Long, Array[Double])]): DataFrame = {
    import spark.implicits._
    vecs.map { case (id, v) => (id, v.map(_.toFloat)) }.toDF("vec_id", "embedding")
  }

  /** Clustered embeddings of low intrinsic dimension, as learned
    * embeddings are: `clusters` Gaussian centres in `dim` dimensions,
    * each vector a centre plus an 8-dimensional latent mapped through a
    * fixed random basis, plus a little isotropic noise.
    */
  final class VecMix(seed: Long, dim: Int, clusters: Int) {
    private val cr = rng(seed, "centres")
    private val Latent = 8
    val centres: Array[Array[Double]] =
      Array.fill(clusters)(Array.fill(dim)(2.0 * cr.nextGaussian()))
    private val basis = Array.fill(Latent, dim)(cr.nextGaussian() / math.sqrt(Latent))
    def draw(r: SplittableRandom): Array[Double] = {
      val c = centres(r.nextInt(clusters))
      val z = Array.fill(Latent)(r.nextGaussian())
      Array.tabulate(dim) { d =>
        var s = c(d) + 0.05 * r.nextGaussian()
        var l = 0
        while (l < Latent) { s += z(l) * basis(l)(d); l += 1 }
        s
      }
    }
  }

  // ── dump_load source tables ─────────────────────────────────────────

  /** Deterministic per-row draw in [0, m) from (seed, salt, key). */
  private def draw(seed: Long, salt: String, key: Column, m: Column): Column =
    pmod(xxhash64(lit(seed), lit(salt), key), m)
  private def draw(seed: Long, salt: String, key: Column, m: Long): Column =
    draw(seed, salt, key, lit(m))

  /** Writes the TPC-H-shaped source of the dump workload under `dir`:
    * region, nation, customer (with a `c_manager` self-FK hierarchy),
    * orders and events, one parquet directory each.
    */
  def writeDumpSource(spark: SparkSession, seed: Long, dir: String,
      customers: Long, orders: Long, events: Long): Unit = {
    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    spark.range(5).select(col("id").cast("int").as("r_regionkey"),
        element_at(typedLit(regions), col("id").cast("int") + 1).as("r_name"))
      .write.mode("overwrite").parquet(s"$dir/region.parquet")
    spark.range(25).select(col("id").cast("int").as("n_nationkey"),
        concat(lit("NATION_"), col("id")).as("n_name"),
        (col("id") % 5).cast("int").as("n_regionkey"))
      .write.mode("overwrite").parquet(s"$dir/nation.parquet")
    // manager of customer k is drawn from keys below k/3 (the first 10
    // are roots), so chains shorten geometrically: depth ~ log(k)
    val k = col("id") + 1
    spark.range(customers).select(k.as("c_custkey"),
        concat(lit("Customer#"), k).as("c_name"),
        draw(seed, "c_nation", k, 25).cast("int").as("c_nationkey"),
        (draw(seed, "c_bal", k, 1100000) / 100.0 - 1000.0).as("c_acctbal"),
        element_at(typedLit(Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
          "HOUSEHOLD", "MACHINERY")), draw(seed, "c_seg", k, 5).cast("int") + 1)
          .as("c_mktsegment"),
        when(k <= 10, lit(null).cast("long"))
          .otherwise(draw(seed, "c_mgr", k, greatest((k / 3).cast("long"), lit(1L))) + 1)
          .as("c_manager"))
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    spark.range(orders).select(k.as("o_orderkey"),
        (draw(seed, "o_cust", k, customers) + 1).as("o_custkey"),
        element_at(typedLit(Seq("F", "O", "P")), draw(seed, "o_st", k, 3).cast("int") + 1)
          .as("o_orderstatus"),
        (draw(seed, "o_price", k, 50000000) / 100.0).as("o_totalprice"),
        timestamp_seconds(lit(694224000L) + draw(seed, "o_date", k, 220000000L))
          .as("o_orderdate"),
        concat(draw(seed, "o_pri", k, 5) + 1, lit("-PRIORITY")).as("o_orderpriority"))
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    spark.range(events).select(col("id").as("event_id"),
        (lit(1704067200000000L) + col("id") * 31536L +
          draw(seed, "e_jit", k, 31536L)).as("ts"),
        (draw(seed, "e_user", k, customers) + 1).as("user_id"),
        element_at(typedLit(Seq("click", "view", "purchase", "signup", "error")),
          draw(seed, "e_type", k, 5).cast("int") + 1).as("event_type"),
        (draw(seed, "e_val", k, 50000) / 100.0).as("value"),
        concat(lit("{\"k\": "), draw(seed, "e_k", k, 100), lit("}")).as("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
  }
}
