package perfbench

import graft.CacheUtil
import graft.operators.Dedup
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `fold_stream`: the corpus arrives as seeded deltas; each delta is
  * folded through the MinHash and then the SimHash incremental fold,
  * against indexes that start empty. Once per pass one delta is folded a
  * second time (an at-least-once replay) and both indexes are compacted;
  * the next pass starts from fresh indexes. A round is one pass.
  */
final class FoldStream(cfg: Map[String, Any]) extends Workload {
  private val dir = cfg("inputs").toString
  private val nDeltas = cfg("deltas").toString.toInt
  private val replay = cfg("replay").toString.toInt
  private val mh = cfg("minhash").asInstanceOf[Map[String, Any]]
  private def mhInt(k: String) = mh(k).toString.toInt
  private val threshold = mh("threshold").toString.toDouble
  private val h = cfg("simhash_h").toString.toInt
  private val buckets = cfg("buckets").toString.toInt

  private var warehouse = ""
  private var pass = 0
  private var used = false
  private var mhIdx: Dedup.MinHashIndex = _
  private var shIdx: Dedup.SimHashIndex = _
  private val deltaDocs = mutable.Map[Int, Int]()

  // what the oracles check, one entry per pass
  private val passes = mutable.ArrayBuffer[Map[String, Any]]()
  private var fingerprints: Seq[Seq[Long]] = Nil
  // per pass: mean files per index table before compaction, and stored
  // bytes of both indexes per folded doc after it
  private val indexFiles = mutable.ArrayBuffer[Double]()
  private val storedBytesPerDoc = mutable.ArrayBuffer[Double]()

  private def deltaPath(k: Int) = f"$dir/delta_$k%03d.parquet"

  private def createIndexes(spark: SparkSession): Unit = {
    val empty = spark.read.parquet(s"$dir/corpus.parquet").select("doc_id", "text").limit(0)
    mhIdx = Dedup.writeMinHashIndex(
      empty, "text", "doc_id", s"mh$pass", numHashes = mhInt("num_hashes"),
      bands = mhInt("bands"), shingleSize = mhInt("shingle"), buckets = buckets)
    shIdx = Dedup.writeSimHashIndex(
      empty, "text", "doc_id", s"sh$pass", maxHamming = h, buckets = buckets)
  }

  private def tables = Seq(mhIdx.bandTable, mhIdx.shingleTable, shIdx.chunkTable)

  def setup(spark: SparkSession, run: Run): Unit = {
    warehouse = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    pass = 0
    used = false
    createIndexes(spark)
  }

  override def prepare(spark: SparkSession, run: Run): Unit = {
    fingerprints = spark.read.parquet(s"$dir/corpus.parquet")
      .select(col("doc_id"), Dedup.simHash(col("text")))
      .collect().toSeq.map(r => Seq(r.getLong(0), r.getLong(1)))
    (0 until nDeltas).foreach(k => deltaDocs(k) = spark.read.parquet(deltaPath(k)).count().toInt)
  }

  private def counts(spark: SparkSession): Seq[Long] = tables.map(spark.table(_).count())

  private def files(t: String): Seq[Path] = {
    val p = Paths.get(warehouse, t.toLowerCase)
    if (!Files.exists(p)) Nil
    else Files.walk(p).iterator().asScala.filter { f =>
      val n = f.getFileName.toString
      Files.isRegularFile(f) && !n.startsWith("_") && !n.startsWith(".")
    }.toSeq
  }

  private def pairs(df: DataFrame, third: String): Seq[Seq[Any]] = {
    val rows = df.select(col("id_a"), col("id_b"), col(third)).collect().toSeq
      .map(r => Seq(r.getLong(0), r.getLong(1), r.get(2)))
    CacheUtil.release(df)
    rows
  }

  /** One micro-batch through both folds, as a foreachBatch body would. */
  private def foldBoth(spark: SparkSession, run: Run, k: Int): (Seq[Seq[Any]], Seq[Seq[Any]]) = {
    val delta = spark.read.parquet(deltaPath(k))
    val m = run.tracer.span("Dedup.minHashNearDupsIncrementalFold")(
      Dedup.minHashNearDupsIncrementalFold(delta, "text", "doc_id", threshold, mhIdx))
    val mp = pairs(m, "jaccard")
    val s = run.tracer.span("Dedup.simHashNearDupsIncrementalFold")(
      Dedup.simHashNearDupsIncrementalFold(delta, "text", "doc_id", shIdx))
    (mp, pairs(s, "hamming"))
  }

  def round(spark: SparkSession, run: Run): Unit = {
    if (used) {
      tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      pass += 1
      createIndexes(spark)
    }
    used = true
    val minhash = mutable.ArrayBuffer[Seq[Any]]()
    val simhash = mutable.ArrayBuffer[Seq[Any]]()
    var replayOut: (Seq[Seq[Any]], Seq[Seq[Any]]) = (Nil, Nil)
    var replayCounts: Seq[Seq[Long]] = Nil
    for (k <- 0 until nDeltas) {
      run.op("fold", counted = true, docs = deltaDocs(k))(foldBoth(spark, run, k)).foreach {
        case (m, s) => minhash ++= m; simhash ++= s
      }
      if (k == replay) {
        val before = counts(spark)
        replayOut = run.op("replay", counted = false)(foldBoth(spark, run, k))
          .getOrElse((Nil, Nil))
        replayCounts = Seq(before, counts(spark))
      }
    }
    val beforeCompact = counts(spark)
    indexFiles += tables.map(files(_).size).sum.toDouble / tables.size
    run.op("compact", counted = false) {
      run.tracer.span("Dedup.compactMinHashIndex")(Dedup.compactMinHashIndex(spark, mhIdx))
      run.tracer.span("Dedup.compactSimHashIndex")(Dedup.compactSimHashIndex(spark, shIdx))
    }
    val afterCompact = counts(spark)
    val bytes = tables.flatMap(files).map(Files.size(_)).sum
    storedBytesPerDoc += bytes.toDouble / deltaDocs.values.sum
    passes += Map(
      "minhash" -> minhash.toSeq,
      "simhash" -> simhash.toSeq,
      "replay_minhash" -> replayOut._1,
      "replay_simhash" -> replayOut._2,
      "replay_counts" -> replayCounts,
      "compact_counts" -> Seq(beforeCompact, afterCompact))
  }

  def outputs: Map[String, Any] = Map(
    "passes" -> passes.toSeq,
    "fingerprints" -> fingerprints,
    "stored_bytes_per_doc" -> storedBytesPerDoc.toSeq,
    "index_files" -> indexFiles.toSeq)

  /** Which fold step a job belongs to, from the program frame that
    * submitted it.
    */
  private def category(frame: String): String = frame match {
    case f if f.contains("ReplaySafe") => "ledger"
    case f if f.contains("appendRowHealed") || f.contains("writeBucketedTable") => "append"
    case f if f.contains("bandedRawChk") || f.contains("deltaShingles") ||
      f.contains("$anonfun$simHashNearDupsIncrementalFold") => "signature"
    case f if f.contains("Dedup") => "probe"
    case _ => "other"
  }

  def layers(spark: SparkSession, run: Run, timed: Seq[Op]): Map[String, Double] = {
    val folds = timed.filter(_.kind == "fold")
    val perOp = folds.map(run.tracer.jobsOf)
    val n = math.max(folds.size, 1).toDouble
    def busy(cat: String) =
      perOp.map(js => Tracer.busySeconds(js.filter(j => category(j.frame) == cat))).sum / n
    val union = perOp.map(Tracer.unionSeconds).sum
    def mean(kind: String) = {
      val xs = timed.filter(_.kind == kind).map(_.seconds)
      if (xs.isEmpty) 0.0 else xs.sum / xs.size
    }
    val wall = timed.map(_.seconds).sum
    val pairs = passes.headOption.map(_("minhash").asInstanceOf[Seq[_]].size).getOrElse(0)
    Kernels.layers(spark, s"$dir/corpus.parquet", run.slots, mh, pairs) ++ Map(
      "fold.ledger_s" -> busy("ledger"),
      "fold.signature_s" -> busy("signature"),
      "fold.probe_s" -> busy("probe"),
      "fold.append_s" -> busy("append"),
      "fold.overlap_factor" -> (if (union > 0) perOp.map(Tracer.busySeconds).sum / union else 0.0),
      "fold.replay_s" -> mean("replay"),
      "fold.compact_s" -> mean("compact"),
      "fold.index_files" -> Main.median(indexFiles.toSeq),
      "fold.stored_bytes_per_doc" -> Main.median(storedBytesPerDoc.toSeq),
      "op.docs_per_s" -> (if (wall > 0) folds.map(_.docs).sum / wall else 0.0))
  }
}
