package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Test-scoped scale probe for the quantized-ANN ingest claim, the SQ8
  * twin of [[FixedDeltaScalingProbe]]: hold the DELTA fixed (2,000
  * copy-0 vectors with far-shifted ids) and scale only the corpus
  * (1×/10×/100× [[ScaleFixture]] embeddings), so append wall time
  * isolates its corpus-size dependence — the empirical form of "the
  * daily crawl's encode cost tracks the delta, not the corpus". The
  * probe rows measure the search side: the flat-scan `sq8TopKIndexed`
  * (expected to grow with the corpus — the gap IVF-SQ8 exists to
  * close) vs the pruned `ivfSq8Search` (expected to grow with
  * corpus/nCentroids per probed list).
  *
  * `sbt "Test/runMain graft.Sq8FixedDeltaProbe <dir1x> <dir10x> <dir100x>"`
  */
object Sq8FixedDeltaProbe {

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Sq8FixedDeltaProbe <sfDir>...")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import operators.Quantization

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }

    args.foreach { dir =>
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id"), col("embedding")).localCheckpoint(true)
      val n = emb.count()
      // the fixed delta: every copy-0 vector, ids shifted far above any
      // salted copy's range — identical bytes at every factor
      val delta = emb.filter(col("vec_id") < 100000000L)
        .select((col("vec_id") + lit(100000000000L)).as("vec_id"), col("embedding"))
        .localCheckpoint(true)
      val qv = emb.filter(col("vec_id") === 0L)
        .select(col("embedding").cast("array<double>"))
        .head.getSeq[Double](0).toArray
      // ---- flat SQ8 index ----
      val (idx, build) = timed {
        Quantization.writeSq8Index(emb, "embedding", "vec_id", "sq8_fdsp")
      }
      val (_, app) = timed {
        Quantization.appendToSq8Index(delta, "embedding", "vec_id", idx)
      }
      require(
        spark.table(idx.codeTable).count() == n + delta.count(),
        "append must land every delta row exactly once")
      val (_, probe) = timed {
        Quantization.sq8TopKIndexed(spark, idx, qv, k = 10, excludeId = Some(0L))
          .collect()
      }
      // ---- IVF-SQ8 pruned index ----
      val path = s"${SparkTestSession.tmpRoot}/sq8_fdsp_ivf"
      val (ivfIdx, ivfBuild) = timed {
        Quantization.ivfSq8Build(emb, "embedding", "vec_id", path, nCentroids = 16)
      }
      val (_, ivfApp) = timed {
        Quantization.ivfSq8Append(spark, delta, path, "embedding", "vec_id")
      }
      val (_, ivfProbe) = timed {
        Quantization.ivfSq8Search(spark, ivfIdx, qv, k = 10, nProbe = 4,
          excludeId = Some(0L)).collect()
      }
      // ---- st15's ingest form: the PARTITION-PRUNED replay ledger ----
      // a second fixed delta (ids shifted again) through the replay-safe
      // append, then the SAME call replayed: the ledger scan reads only
      // the _centroid partitions the delta touches, so BOTH costs must
      // stay flat as the corpus grows — the claim st15 rides on
      val delta2 = delta
        .select((col("vec_id") + lit(100000000000L)).as("vec_id"), col("embedding"))
        .localCheckpoint(true)
      val before = spark.read.parquet(s"$path/codes").count()
      val (_, rsApp) = timed {
        Quantization.ivfSq8AppendReplaySafe(spark, delta2, path, "embedding", "vec_id")
      }
      val afterFirst = spark.read.parquet(s"$path/codes").count()
      require(afterFirst == before + delta2.count(),
        "replay-safe append must land every delta row exactly once")
      val (_, replay) = timed {
        Quantization.ivfSq8AppendReplaySafe(spark, delta2, path, "embedding", "vec_id")
      }
      require(spark.read.parquet(s"$path/codes").count() == afterFirst,
        "a replayed delta appended rows")
      // ---- st17's ingest form: SEMANTIC dedup against the index ----
      // a fixed MIXED delta (r19): ~1,000 exact copies of indexed rows
      // (every one must be REJECTED at tau=0 — the copy probes its own
      // twin's list first, deterministic) + ~1,000 NEGATED copies under
      // fresh ids (novel: a negated gaussian vector's 64-dim code
      // matching any indexed code is beyond astronomical). Fold cost =
      // one batched pruned search over the fixed delta + the append of
      // the admitted half; per-query candidate work is corpus/nLists ×
      // nProbe, so it grows with list SIZE at fixture-fixed nCentroids
      // — production holds lists near-constant by scaling nCentroids
      // with the corpus. The REPLAY must admit nothing (each admitted
      // row meets its own first-attempt copy at SDC 0).
      val half = emb
        .filter(col("vec_id") < 100000000L && pmod(col("vec_id"), lit(2)) === 0)
      val dupHalf = half.select(
        (col("vec_id") + lit(300000000000L)).as("vec_id"), col("embedding"))
      val novelHalf = half.select(
        (col("vec_id") + lit(400000000000L)).as("vec_id"),
        transform(col("embedding"), x => -x).as("embedding"))
      val delta3 = dupHalf.unionByName(novelHalf).localCheckpoint(true)
      val beforeSd = spark.read.parquet(s"$path/codes").count()
      val (admitted, sdFold) = timed {
        Quantization.ivfSq8SemanticDedupFold(
          spark, delta3, path, "embedding", "vec_id", tau = 0L, nProbe = 4)
          .count()
      }
      require(admitted == novelHalf.count(),
        s"semantic fold admitted $admitted of ${delta3.count()} " +
          s"(expected exactly the ${novelHalf.count()} novel rows)")
      require(spark.read.parquet(s"$path/codes").count() == beforeSd + admitted,
        "admitted rows must land exactly once")
      val (replayAdmitted, sdReplay) = timed {
        Quantization.ivfSq8SemanticDedupFold(
          spark, delta3, path, "embedding", "vec_id", tau = 0L, nProbe = 4)
          .count()
      }
      require(replayAdmitted == 0L,
        s"replayed semantic fold admitted $replayAdmitted rows")
      require(spark.read.parquet(s"$path/codes").count() == beforeSd + admitted,
        "a replayed semantic fold appended rows")
      // ---- the PRODUCTION-SIZED twin of sdFold: nCentroids ∝ corpus ----
      // the fixture above pins nCentroids=16 at every factor, so the
      // per-query candidate pool (nProbe × corpus/nLists) grows 100×
      // with the corpus — sdFold's growth measures LIST SIZE, not an
      // operator defect. Production sizes the coarse quantizer with the
      // corpus (faiss guidance: lists of hundreds to a few thousand
      // vectors); holding list size ≈ 500 here (nCentroids 4/40/400)
      // keeps the fold's candidate work CONSTANT across the factors —
      // the claim the pinned-nCentroids column cannot show
      val nc = math.max(4, (n / 500L).toInt)
      val pathSc = s"${SparkTestSession.tmpRoot}/sq8_fdsp_ivf_sc"
      val (_, scBuild) = timed {
        Quantization.ivfSq8Build(emb, "embedding", "vec_id", pathSc,
          nCentroids = nc)
      }
      // the un-compacted build writes up to tasks×lists files (32×400 =
      // ~13k at 100× — measured: the fold then pays file-open overhead,
      // not data cost); compaction is the family-standard companion of
      // a many-list layout, so the probe measures the compacted fold —
      // the production shape
      val (_, scCompact) = timed { Quantization.ivfSq8Compact(spark, pathSc) }
      val beforeSc = spark.read.parquet(s"$pathSc/codes").count()
      val (admittedSc, sdFoldSc) = timed {
        Quantization.ivfSq8SemanticDedupFold(
          spark, delta3, pathSc, "embedding", "vec_id", tau = 0L, nProbe = 4)
          .count()
      }
      require(admittedSc == novelHalf.count(),
        s"scaled semantic fold admitted $admittedSc of ${delta3.count()} " +
          s"(expected exactly the ${novelHalf.count()} novel rows)")
      require(spark.read.parquet(s"$pathSc/codes").count() == beforeSc + admittedSc,
        "scaled fold: admitted rows must land exactly once")
      val (replayAdmittedSc, sdReplaySc) = timed {
        Quantization.ivfSq8SemanticDedupFold(
          spark, delta3, pathSc, "embedding", "vec_id", tau = 0L, nProbe = 4)
          .count()
      }
      require(replayAdmittedSc == 0L,
        s"scaled replayed fold admitted $replayAdmittedSc rows")
      println(f"[sq8-fdsp] corpus=$n%7d build=$build%6.2f append=$app%6.2f " +
        f"flatProbe=$probe%6.2f ivfBuild=$ivfBuild%6.2f ivfAppend=$ivfApp%6.2f " +
        f"prunedProbe=$ivfProbe%6.2f rsAppend=$rsApp%6.2f replay=$replay%6.2f " +
        f"sdFold=$sdFold%6.2f sdReplay=$sdReplay%6.2f " +
        f"nCentroidsSc=$nc%4d scBuild=$scBuild%6.2f scCompact=$scCompact%6.2f " +
        f"sdFoldSc=$sdFoldSc%6.2f sdReplaySc=$sdReplaySc%6.2f")
      spark.sql("DROP TABLE IF EXISTS sq8_fdsp_codes")
      graft.CacheUtil.release(delta3)
      graft.CacheUtil.release(delta2)
    }
    spark.stop()
  }
}
