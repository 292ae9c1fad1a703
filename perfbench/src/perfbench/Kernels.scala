package perfbench

import graft.CacheUtil
import graft.operators.Dedup
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.{Column, SparkSession}

/** Per-layer figures of the hash kernels (`functions`) and of batch
  * MinHash candidate generation over one corpus, for the traced run.
  */
object Kernels {

  /** Docs per second of one column over the corpus spread across all
    * task slots and held in memory, written to the noop sink; median of
    * three runs.
    */
  private def rate(spark: SparkSession, corpus: String, slots: Int, c: Column): Double = {
    val spread = spark.read.parquet(corpus).repartition(slots).localCheckpoint(true)
    val n = spread.count()
    val rates = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      spread.select(c.as("k")).write.format("noop").mode("overwrite").save()
      n / ((System.nanoTime() - t0) / 1e9)
    }
    CacheUtil.release(spread)
    Main.median(rates)
  }

  def layers(
      spark: SparkSession,
      corpus: String,
      slots: Int,
      mh: Map[String, Any],
      verifiedPairs: Int): Map[String, Double] = {
    def mhInt(k: String) = mh(k).toString.toInt
    val cands = Dedup.minHashCandidates(
      spark.read.parquet(corpus), "text", "doc_id", numHashes = mhInt("num_hashes"),
      bands = mhInt("bands"), shingleSize = mhInt("shingle"))
    val nCands = cands.count().toDouble
    CacheUtil.release(cands)
    Map(
      "kernel.minhash_docs_per_s" -> rate(spark, corpus, slots,
        Dedup.minHashSignature(col("text"), mhInt("num_hashes"), mhInt("shingle"))),
      "kernel.simhash_docs_per_s" -> rate(spark, corpus, slots, Dedup.simHash(col("text"))),
      "dedup.candidates_per_pair" -> (if (verifiedPairs > 0) nCands / verifiedPairs else 0.0))
  }
}
