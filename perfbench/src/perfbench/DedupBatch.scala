package perfbench

import graft.CacheUtil
import graft.operators.Dedup
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable

/** `dedup_batch`: each op is one batch pass of `Dedup.minHashNearDups`
  * and `Dedup.simHashNearDups` over the whole corpus (base docs plus one
  * perturbed copy of each). A round is one pass.
  */
final class DedupBatch(cfg: Map[String, Any]) extends Workload {
  private val corpus = s"${cfg("inputs")}/corpus.parquet"
  private val nDocs = cfg("docs").toString.toInt
  private val mh = cfg("minhash").asInstanceOf[Map[String, Any]]
  private def mhInt(k: String) = mh(k).toString.toInt
  private val threshold = mh("threshold").toString.toDouble
  private val h = cfg("simhash_h").toString.toInt

  // distinct pair sets seen across passes; one is expected
  private val minhash = mutable.LinkedHashSet[Seq[Seq[Any]]]()
  private val simhash = mutable.LinkedHashSet[Seq[Seq[Any]]]()
  private var fingerprints: Seq[Seq[Long]] = Nil

  def setup(spark: SparkSession, run: Run): Unit =
    spark.read.parquet(corpus).schema // resolve the input once

  override def prepare(spark: SparkSession, run: Run): Unit =
    fingerprints = spark.read.parquet(corpus)
      .select(col("doc_id"), Dedup.simHash(col("text")))
      .collect().toSeq.map(r => Seq(r.getLong(0), r.getLong(1)))

  private def pairs(df: DataFrame, third: String): Seq[Seq[Any]] = {
    val rows = df.select(col("id_a"), col("id_b"), col(third)).collect().toSeq
      .map(r => Seq(r.getLong(0), r.getLong(1), r.get(2)))
    CacheUtil.release(df)
    rows.sortBy(r => (r(0).asInstanceOf[Long], r(1).asInstanceOf[Long]))
  }

  def round(spark: SparkSession, run: Run): Unit = {
    run.op("pass", counted = true, docs = nDocs) {
      val df = spark.read.parquet(corpus)
      val m = run.tracer.span("Dedup.minHashNearDups")(Dedup.minHashNearDups(
        df, "text", "doc_id", threshold, numHashes = mhInt("num_hashes"),
        bands = mhInt("bands"), shingleSize = mhInt("shingle")))
      val mp = pairs(m, "jaccard")
      val s = run.tracer.span("Dedup.simHashNearDups")(
        Dedup.simHashNearDups(df, "text", "doc_id", maxHamming = h))
      (mp, pairs(s, "hamming"))
    }.foreach { case (m, s) =>
      if (minhash.size < 4) minhash += m
      if (simhash.size < 4) simhash += s
    }
  }

  def outputs: Map[String, Any] = Map(
    "minhash" -> minhash.toSeq,
    "simhash" -> simhash.toSeq,
    "fingerprints" -> fingerprints)

  def layers(spark: SparkSession, run: Run, timed: Seq[Op]): Map[String, Double] = {
    val wall = timed.map(_.seconds).sum
    Kernels.layers(spark, corpus, run.slots, mh, minhash.headOption.map(_.size).getOrElse(0)) +
      ("op.docs_per_s" -> (if (wall > 0) timed.map(_.docs).sum / wall else 0.0))
  }
}
