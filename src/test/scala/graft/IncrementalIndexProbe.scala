package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Test-scoped scale probe: what does the persisted dedup index buy a
  * daily pipeline vs re-running batch dedup on corpus ∪ delta?
  *
  * `sbt "Test/runMain graft.IncrementalIndexProbe [replicas] [sfDir]"`
  * replicates the fixture corpus (disjoint ids, per-replica suffix so
  * replicas are near- not exact-dups), takes a ~3% delta, and times
  *  - batch:       minHashNearDups(corpus ∪ delta)      — the recompute
  *  - build(once): writeMinHashIndex(corpus)            — amortized
  *  - incremental: minHashNearDupsIncremental(delta)    — the daily cost
  * and the simhash twins. The daily-cost : recompute ratio is the
  * number that matters; it shrinks linearly as corpus/delta grows (the
  * probe's 10×/3% is conservative vs a 100 TB corpus with a 0.1% day).
  */
object IncrementalIndexProbe {

  def main(args: Array[String]): Unit = {
    val replicas = if (args.nonEmpty) args(0).toInt else 10
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = SparkSession.builder()
      .master("local[16]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val all = (0 until replicas)
      .map(r =>
        docs.select(
          (col("doc_id") + lit(r.toLong * 10_000_000L)).as("doc_id"),
          concat(col("text"), lit(s" replica$r")).as("text")
        )
      )
      .reduce(_ unionByName _)
      .localCheckpoint(true)
    val corpus = all.filter(col("doc_id") % 32 =!= 0).localCheckpoint(true)
    val delta = all.filter(col("doc_id") % 32 === 0).localCheckpoint(true)
    println(
      s"[incprobe] corpus=${corpus.count()} delta=${delta.count()} (replicas=$replicas)")

    def timed(name: String)(make: => DataFrame): Unit = {
      val t0 = System.nanoTime()
      val df = make
      val n = df.count()
      println(f"[incprobe] $name rows=$n t=${(System.nanoTime() - t0) / 1e9}%.2f s")
      CacheUtil.release(df)
    }
    // For legs whose result is LAZY over the probe's fixture checkpoints
    // (all/allL): CacheUtil.release walks the analyzed plan to every
    // LogicalRDD, so releasing such a result would free the FIXTURE's
    // blocks and crash every later leg with
    // CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND (bit the round-8 probe when new
    // legs were appended after passage-batch). Their bounded internal
    // checkpoints are left to die with the probe JVM instead.
    def timedKeep(name: String)(make: => DataFrame): Unit = {
      val t0 = System.nanoTime()
      val n = make.count()
      println(f"[incprobe] $name rows=$n t=${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    def timedUnit(name: String)(run: => Unit): Unit = {
      val t0 = System.nanoTime()
      run
      println(f"[incprobe] $name t=${(System.nanoTime() - t0) / 1e9}%.2f s")
    }

    import operators.Dedup
    timed("minhash-batch")(
      Dedup.minHashNearDups(all, "text", "doc_id", threshold = 0.4))
    var mIdx: Dedup.MinHashIndex = null
    timedUnit("minhash-index-build") {
      mIdx = Dedup.writeMinHashIndex(corpus, "text", "doc_id", "incprobe_m")
    }
    timed("minhash-incremental")(
      Dedup.minHashNearDupsIncremental(delta, "text", "doc_id", 0.4, mIdx))

    timed("simhash-batch")(
      Dedup.simHashNearDups(all, "text", "doc_id", maxHamming = 10, maxBucket = 8192))
    var sIdx: Dedup.SimHashIndex = null
    timedUnit("simhash-index-build") {
      sIdx = Dedup.writeSimHashIndex(corpus, "text", "doc_id", "incprobe_s", maxHamming = 10)
    }
    timed("simhash-incremental")(
      Dedup.simHashNearDupsIncremental(delta, "text", "doc_id", sIdx))

    // vector-LSH twin over a replicated embedding corpus (replicas get a
    // disjoint id space; vectors identical → cosine-1 cross pairs)
    val emb = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    val allV = (0 until replicas)
      .map(r => emb.select(
        (col("vec_id") + lit(r.toLong * 10_000_000L)).as("vec_id"), col("embedding")))
      .reduce(_ unionByName _)
      .localCheckpoint(true)
    val corpusV = allV.filter(col("vec_id") % 32 =!= 0).localCheckpoint(true)
    val deltaV = allV.filter(col("vec_id") % 32 === 0).localCheckpoint(true)
    import operators.Similarity
    // plane count sized for THIS corpus (the fixture's 3 planes would
    // leave 8 buckets/table at 200k vectors — the maxBucket cap would
    // bind and truncate the batch leg, making the legs non-equivalent).
    // nTables stays at the fixture's 12: suggestLshParams' 0.95-recall
    // sizing at this near-threshold regime would ask for hundreds of
    // tables, and the probe measures timing parity, not recall — the
    // dominant replica pairs sit at cosine 1.0 where every table
    // collides, so both legs still see the bulk of the output. Both
    // legs run uncapped with identical params ⇒ identical pair sets.
    val lp = Similarity.LshParams(
      nPlanes = math.max(1, math.round(
        math.log(allV.count().toDouble / 250) / math.log(2.0)).toInt),
      nTables = 12)
    println(s"[incprobe] lsh params: nPlanes=${lp.nPlanes} nTables=${lp.nTables}")
    timed("lsh-batch")(
      Similarity.lshNearDups(
        allV, "embedding", "vec_id", 0.3,
        nPlanes = lp.nPlanes, nTables = lp.nTables, maxBucket = Int.MaxValue))
    var lIdx: Similarity.LshIndex = null
    timedUnit("lsh-index-build") {
      lIdx = Similarity.writeLshIndex(
        corpusV, "embedding", "vec_id", "incprobe_l",
        nPlanes = lp.nPlanes, nTables = lp.nTables, maxBucket = Int.MaxValue)
    }
    timed("lsh-incremental")(
      Similarity.lshNearDupsIncremental(
        deltaV, "embedding", "vec_id", 0.3, lIdx))

    // passage twin (hash64 production keys): daily profile of the delta
    // vs re-profiling the whole union. The filter references a column
    // from the profile's left join — without it, count() lets
    // EliminateOuterJoin drop the whole dup computation (the right side
    // is key-unique and unreferenced) and the leg measures nothing.
    import operators.Passages
    timedKeep("passage-batch")(
      Passages.passageDupFraction(all, "text", "doc_id", windowTokens = 8, hash64 = true)
        .filter(col("n_dup_windows") >= 0))
    var pIdx: Passages.PassageIndex = null
    timedUnit("passage-index-build") {
      pIdx = Passages.writePassageIndex(corpus, "text", "doc_id", "incprobe_p", windowTokens = 8)
    }
    timed("passage-incremental")(
      Passages.passageDupFractionIncremental(delta, "text", "doc_id", pIdx))

    // exact-dedup twin: the cheapest batch op, so the ratio shows the
    // FLOOR of what an index buys (anti-join vs full-union hash-agg)
    timedKeep("exact-batch")(Dedup.exactDedup(all, "text", "doc_id"))
    var eIdx: Dedup.ExactDedupIndex = null
    timedUnit("exact-index-build") {
      eIdx = Dedup.writeExactDedupIndex(corpus, "text", "incprobe_e")
    }
    timed("exact-incremental")(
      Dedup.exactDedupIncremental(delta, "text", "doc_id", eIdx))

    // line-catalogue twin (replica docs are single-line near-dups, so
    // no line recurs verbatim — plant a shared boilerplate line per doc
    // by prefixing one)
    import operators.Lines
    val allL = all.select(
      col("doc_id"),
      concat(lit("boilerplate header line\n"), col("text")).as("text")
    ).localCheckpoint(true)
    val corpusL = allL.filter(col("doc_id") % 32 =!= 0).localCheckpoint(true)
    val deltaL = allL.filter(col("doc_id") % 32 === 0).localCheckpoint(true)
    // the filter references the joined text column — without it count()
    // lets EliminateOuterJoin drop the whole dup computation (same
    // pitfall as passage-batch above; 0.14 s read as "measured" once)
    timedKeep("lines-batch")(
      Lines.dropDuplicatedLines(allL, "text", "doc_id")
        .filter(length(col("text")) >= 0))
    var liIdx: Lines.LineIndex = null
    timedUnit("lines-index-build") {
      liIdx = Lines.writeLineIndex(corpusL, "text", "doc_id", "incprobe_li")
    }
    timed("lines-incremental")(
      Lines.dropDuplicatedLinesIncremental(deltaL, "text", "doc_id", liIdx)
        .filter(length(col("text")) >= 0))

    // 128-bit wide-radius simhash twin
    timed("simhash128-batch")(
      Dedup.simHashNearDups128(all, "text", "doc_id", maxHamming = 20, maxBucket = 8192))
    var s128Idx: Dedup.SimHash128Index = null
    timedUnit("simhash128-index-build") {
      s128Idx = Dedup.writeSimHash128Index(corpus, "text", "doc_id", "incprobe_s128", maxHamming = 20)
    }
    timed("simhash128-incremental")(
      Dedup.simHashNearDupsIncremental(delta, "text", "doc_id", s128Idx))

    spark.sql("DROP TABLE IF EXISTS incprobe_e_exactfps")
    spark.sql("DROP TABLE IF EXISTS incprobe_li_linefps")
    spark.sql("DROP TABLE IF EXISTS incprobe_s128_chunks128")
    spark.sql("DROP TABLE IF EXISTS incprobe_p_fps")
    spark.sql("DROP TABLE IF EXISTS incprobe_m_bands")
    spark.sql("DROP TABLE IF EXISTS incprobe_m_shingles")
    spark.sql("DROP TABLE IF EXISTS incprobe_s_chunks")
    spark.sql("DROP TABLE IF EXISTS incprobe_l_bands")
    spark.sql("DROP TABLE IF EXISTS incprobe_l_vecs")
    spark.stop()
  }
}
