package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Test-scoped scale probe for the BATCHED retrieval claim (round 18):
  * hold the QUERY BATCH fixed (the 69 copy-0 `vec_id % 29 == 0`
  * queries — identical rows at every factor) and scale only the corpus
  * (1×/10×/100× [[ScaleFixture]] embeddings), so wall time isolates the
  * corpus-size dependence of one batched call — the daily-delta-
  * against-a-growing-index shape [[operators.Quantization
  * .ivfSq8SearchMany]] exists for. Three columns per factor:
  *
  *  - `pruned`: the production shape (nProbe = 4 of 16 lists) — DPP
  *    prunes the codes scan to the union of probed lists; expected to
  *    grow with corpus/nCentroids per probed list;
  *  - `full`: nProbe = all lists (the s19 ORACLE form) — scores the
  *    whole corpus per query; expected to grow linearly with the
  *    corpus and exist only as the correctness anchor;
  *  - `brute`: [[operators.Similarity.knnMany]] exact cosine — the
  *    recall baseline, |corpus| × |queries| floats by definition.
  *
  * Result-shape require()s pin non-vacuity (69 queries × k rows each).
  *
  * `sbt "Test/runMain graft.BatchedRetrievalProbe <dir1x> <dir10x> <dir100x>"`
  */
object BatchedRetrievalProbe {

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: BatchedRetrievalProbe <sfDir>...")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import operators.{Quantization, Similarity}

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }

    args.foreach { dir =>
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id"), col("embedding")).localCheckpoint(true)
      val n = emb.count()
      // the FIXED query batch: copy-0 rows only (ids below the
      // ScaleFixture stride), the same 69 vectors at every factor
      val queries = emb
        .filter(col("vec_id") < 100000000L && pmod(col("vec_id"), lit(29)) === 0)
        .localCheckpoint(true)
      val nq = queries.count()
      val path = s"${SparkTestSession.tmpRoot}/batched_probe_idx"
      val (_, build) = timed {
        Quantization.ivfSq8Build(emb, "embedding", "vec_id", path, nCentroids = 16)
      }
      val idx = Quantization.ivfSq8Read(spark, path, "vec_id")
      val (prunedRows, pruned) = timed {
        Quantization.ivfSq8SearchMany(
          spark, idx, queries, "embedding", "vec_id", k = 10, nProbe = 4).count()
      }
      val (fullRows, full) = timed {
        Quantization.ivfSq8SearchMany(
          spark, idx, queries, "embedding", "vec_id", k = 10, nProbe = 16).count()
      }
      val (bruteRows, brute) = timed {
        Similarity.knnMany(
          emb, "embedding", "vec_id", queries, "embedding", "vec_id", k = 10).count()
      }
      require(fullRows == nq * 10 && bruteRows == nq * 10,
        s"full/brute must return k rows per query: $fullRows/$bruteRows for $nq queries")
      require(prunedRows == nq * 10,
        s"pruned returned $prunedRows rows for $nq queries (a probed list ran dry?)")
      println(f"[batched-probe] corpus=$n%7d queries=$nq%3d build=$build%6.2f " +
        f"pruned=$pruned%6.2f full=$full%6.2f brute=$brute%6.2f")
      // QUERY-SIDE SCALING (r19 — the other axis of the batched claim):
      // FIXED corpus, query batches 69 → 690 → 6,900 via id-shifted
      // replicas of the same vectors (unique ids, shifted far above any
      // fixture id so the id-uniqueness contract and excludeSelf stay
      // exact). Per-query cost of the PRUNED production shape must stay
      // flat-or-falling as the batch grows (the join-shaped
      // amortization); the CHUNKED column forces ~4 broadcast slices at
      // the same batch (the past-the-broadcast-boundary path) and pays
      // only the extra pruned codes scans. Runs on the MIDDLE dir (10x
      // when three are given) — big enough to mean something, cheap
      // enough to scale the query axis 100x.
      if (dir == args(args.size / 2)) {
        Seq(1, 10, 100).foreach { m =>
          val qm = (0 until m)
            .map(j => queries.select(
              (col("vec_id") + lit(j * 1000000000000L)).as("vec_id"),
              col("embedding")))
            .reduce(_.unionByName(_))
            .localCheckpoint(true)
          val nqm = qm.count()
          val (rowsM, tM) = timed {
            Quantization.ivfSq8SearchMany(
              spark, idx, qm, "embedding", "vec_id", k = 10, nProbe = 4).count()
          }
          require(rowsM == nqm * 10,
            s"query-scale pruned returned $rowsM rows for $nqm queries")
          val probeRows = nqm * 4
          val (rowsC, tC) = timed {
            Quantization.ivfSq8SearchMany(
              spark, idx, qm, "embedding", "vec_id", k = 10, nProbe = 4,
              maxBroadcastProbeRows = math.max(1L, probeRows / 4)).count()
          }
          require(rowsC == rowsM, s"chunked row count diverged: $rowsC != $rowsM")
          println(f"[batched-probe-qscale] corpus=$n%7d queries=$nqm%5d " +
            f"pruned=$tM%6.2f (${tM * 1000 / nqm}%7.2f ms/q) " +
            f"chunked4=$tC%6.2f (${tC * 1000 / nqm}%7.2f ms/q)")
          graft.CacheUtil.release(qm)
        }
      }
      // FILTERED-SEARCH RECALL UNDER PRUNING (r19 — the s23/s25 recall
      // caveat made quantitative): a selective candidateFilter narrows
      // each probed list's eligible rows, so at fixed nProbe the truth
      // set (full-coverage filtered top-10) gets harder to cover —
      // "raise nProbe with selectivity" stated as measured recall, not
      // advice. Truth = nProbe=all with the same filter (integer-exact
      // per query); recall@10 = |pruned ∩ truth| / |truth|. Runs on the
      // middle dir like the query-axis block.
      if (dir == args(args.size / 2)) {
        val embL = spark.read.parquet(s"$dir/embeddings.parquet")
          .select(col("vec_id"), col("embedding"), col("label"))
          .localCheckpoint(true)
        val pathF = s"${SparkTestSession.tmpRoot}/batched_probe_idx_f"
        Quantization.ivfSq8Build(embL, "embedding", "vec_id", pathF,
          nCentroids = 16, attrCols = Seq("label"))
        val idxF = Quantization.ivfSq8Read(spark, pathF, "vec_id")
        Seq(("label<6", col("label") < 6), ("label<3", col("label") < 3),
          ("label<1", col("label") < 1)).foreach { case (nm, pred) =>
          val truth = Quantization.ivfSq8SearchMany(
            spark, idxF, queries, "embedding", "vec_id", k = 10,
            nProbe = 16, candidateFilter = Some(pred))
            .select(col("query_id"), col("neighbor_id")).localCheckpoint(true)
          val nTruth = truth.count()
          require(nTruth == nq * 10,
            s"filtered truth must keep k rows per query at this fixture: $nTruth")
          Seq(2, 4, 8).foreach { np =>
            val got = Quantization.ivfSq8SearchMany(
              spark, idxF, queries, "embedding", "vec_id", k = 10,
              nProbe = np, candidateFilter = Some(pred))
              .select(col("query_id"), col("neighbor_id"))
              .localCheckpoint(true)
            val hit = got.join(truth, Seq("query_id", "neighbor_id")).count()
            println(f"[batched-probe-frecall] corpus=$n%7d filter=$nm " +
              f"nProbe=$np gotRows=${got.count()}%4d " +
              f"recall=${hit.toDouble / nTruth}%6.3f")
            graft.CacheUtil.release(got)
          }
          graft.CacheUtil.release(truth)
        }
        graft.CacheUtil.release(embL)
      }
      graft.CacheUtil.release(queries)
      graft.CacheUtil.release(emb)
    }
    spark.stop()
  }
}
