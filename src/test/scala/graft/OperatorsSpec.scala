package graft

import graft.functions.{TextFunctions, VectorFunctions}
import graft.operators._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

final case class Doc(doc_id: Long, text: String)
final case class Vec(vec_id: Long, embedding: Array[Float])
final case class VecPair(id: Long, a: Array[Float], b: Array[Float])

class OperatorsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // ------------------------------------------------------------- text

  test("tokenCount / bpeishTokenCount") {
    val df = Seq(Doc(1, "hello big  world"), Doc(2, "a-b c! 42")).toDS.toDF
    val m = df.select($"doc_id", TextFunctions.tokenCount($"text"), TextFunctions.bpeishTokenCount($"text"))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    assert(m(1L) === ((3, 3)))       // 'hello', 'big', 'world'
    assert(m(2L) === ((3, 6)))       // bpe-ish: a, -, b, c, !, 42
  }

  test("wordShingles builds n-2 trigrams; short docs collapse to one") {
    val df = Seq(Doc(1, "a b c d e"), Doc(2, "x y")).toDS.toDF
    val m = df
      .select($"doc_id", TextFunctions.wordShingles($"text", 3).as("sh"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1))
      .toMap
    assert(m(1L) === Seq("a b c", "b c d", "c d e"))
    assert(m(2L) === Seq("x y"))
  }

  test("compiled shingleSet == HOF formulation on the fixture + edge strings") {
    val docs = Tables.documents(spark, SparkTestSession.sfDir)
      .select($"text")
      .union(Seq(
        "",                       // empty → one empty shingle
        "one",                    // short doc collapses to whole text
        "a b",                    // exactly k-1 tokens
        "a b c",                  // exactly k tokens
        "a  b c d",               // double space → empty token
        "x y z x y z x y z"      // repeated shingles → dedup order
      ).toDF("text"))
    for (k <- Seq(2, 3)) {
      val rows = docs.select(
        TextFunctions.shingleSet($"text", k).as("kr"),
        TextFunctions.shingleSetHof($"text", k).as("hr")
      ).collect()
      rows.foreach { r =>
        assert(r.getSeq[String](0) === r.getSeq[String](1))
      }
    }
  }

  test("randomized equivalence: every compiled kernel == its HOF oracle on generated corpora") {
    // seeded corpus: small alphabet (forces shingle/token collisions),
    // 0-50 tokens, runs of repeated spaces (empty tokens), occasional
    // non-BMP code points (rolling hash splits at code points)
    val rng = new scala.util.Random(2026)
    val words = Vector("a", "b", "ab", "ba", "x", "yz", "😀", "qq")
    val texts = (0 until 300).map { _ =>
      val n = rng.nextInt(51)
      val sep = if (rng.nextInt(10) == 0) "  " else " "
      Seq.fill(n)(words(rng.nextInt(words.length))).mkString(sep)
    }
    val df = texts.toDF("text")
    val k = 3
    val rows = df.select(
      TextFunctions.shingleSet($"text", k).as("ks"),
      TextFunctions.shingleSetHof($"text", k).as("hs"),
      TextFunctions.fingerprintRolling($"text").as("kf"),
      TextFunctions.fingerprintRollingHof($"text").as("hf"),
      Dedup.simHash($"text").as("ksim")
    ).collect()
    rows.foreach { r =>
      assert(r.getSeq[String](0) === r.getSeq[String](1), "shingleSet")
      assert(r.getLong(2) === r.getLong(3), "rollingHash")
    }
    // simhash has no HOF twin anymore; cross-check determinism instead
    val again = df.select(Dedup.simHash($"text")).collect().map(_.getLong(0))
    assert(rows.map(_.getLong(4)).toSeq === again.toSeq)

    // vector kernels on random equal-length embeddings
    val vecs = (0L until 100L).map { i =>
      VecPair(i,
        Array.fill(1 + rng.nextInt(96))(rng.nextGaussian().toFloat),
        Array.empty[Float])
    }.map(v => VecPair(v.id, v.a, v.a.map(x => x * 0.7f + 0.1f)))
    val vdf = vecs.toDS.toDF
    val ad = $"a".cast("array<double>")
    val bd = $"b".cast("array<double>")
    val vrows = vdf.select(
      VectorFunctions.dot($"a", $"b").as("kd"),
      aggregate(zip_with(ad, bd, _ * _), lit(0.0), _ + _).as("hd"),
      VectorFunctions.euclidean($"a", $"b").as("ke"),
      sqrt(aggregate(zip_with(ad, bd, (x, y) => (x - y) * (x - y)), lit(0.0), _ + _)).as("he")
    ).collect()
    vrows.foreach { r =>
      assert(r.getDouble(0) === r.getDouble(1), "dot")
      assert(r.getDouble(2) === r.getDouble(3), "euclidean")
    }
  }

  test("langId picks the marker-dominant language") {
    val df = Seq(
      Doc(1, "the cat and the dog of the house is to go"),
      Doc(2, "el gato y la casa de que el perro y la"),
      Doc(3, "der hund und die katze das ist der und die"),
      Doc(4, "zzz qqq www")
    ).toDS.toDF
    val m = df
      .select($"doc_id", TextFunctions.langId($"text").as("l"))
      .collect()
      .map(r => r.getLong(0) -> r.getString(1))
      .toMap
    assert(m(1L) === "en")
    assert(m(2L) === "es")
    assert(m(3L) === "de")
    assert(m(4L) === "und")
  }

  test("rolling fingerprint matches the polynomial definition") {
    val df = Seq(Doc(1, "abc")).toDS.toDF
    val got = df.select(TextFunctions.fingerprintRolling($"text")).collect().head.getLong(0)
    val want = "abc".foldLeft(0L)((a, c) => (a * 31 + c.toInt) % 1000000007L)
    assert(got === want)
  }

  test("compiled rollingHash64 == interpreted HOF on the fixture + edge strings (t04 gate)") {
    // the compiled kernel replaced the per-character HOF (the only round-2
    // bench regression); this gate keeps them bit-identical
    val docs = Tables.documents(spark, SparkTestSession.sfDir)
    val diff = docs
      .select(
        TextFunctions.fingerprintRolling($"text").as("k"),
        TextFunctions.fingerprintRollingHof($"text").as("h")
      )
      .filter($"k" =!= $"h")
      .count()
    assert(diff === 0L)
    // edge cases incl. a long string that wraps the modulus many times and
    // a supplementary (non-BMP) character — split("") is code-point-based
    // in Spark, so kernel == HOF there too
    val edges = Seq(Doc(1, ""), Doc(2, "a"), Doc(3, "x y  z!"), Doc(4, "q" * 5000), Doc(5, "a😀b")).toDS.toDF
    val rows = edges
      .select(
        $"doc_id",
        TextFunctions.fingerprintRolling($"text").as("k"),
        TextFunctions.fingerprintRollingHof($"text").as("h")
      )
      .collect()
    rows.foreach(r => assert(r.getLong(1) === r.getLong(2), s"doc ${r.getLong(0)}"))
  }

  test("rollingHash64 on non-BMP text: code-point semantics, equal to split(\"\") HOF") {
    // Spark strings are UTF-8 and split(text, "") splits at CODE POINT
    // boundaries (not UTF-16 code units — unlike java.lang.String.split),
    // so the HOF sees whole code points too. Kernel == HOF on
    // supplementary characters, and both equal the reference fold over
    // code points.
    val s = "a😀b" // a, U+1F600 GRINNING FACE, b
    val df = Seq(Doc(1, s)).toDS.toDF
    val row = df.select(
      TextFunctions.fingerprintRolling($"text").as("k"),
      TextFunctions.fingerprintRollingHof($"text").as("h")
    ).collect().head
    val wantCodePoints = s.codePoints().toArray
      .foldLeft(0L)((a, cp) => (a * 31 + cp) % 1000000007L)
    assert(row.getLong(0) === wantCodePoints)
    assert(row.getLong(0) === row.getLong(1), "kernel and HOF agree on non-BMP")
  }

  // ------------------------------------------------------------ dedup

  test("exactGroups/exactDedup collapse identical texts") {
    val df = Seq(Doc(1, "same text"), Doc(2, "same text"), Doc(3, "other")).toDS.toDF
    val groups = Dedup.exactGroups(df, "text", "doc_id").collect()
    assert(groups.length === 2)
    assert(groups.map(_.getLong(2)).sorted === Array(1L, 2L))
    val kept = Dedup.exactDedup(df, "text", "doc_id").select("doc_id")
      .collect().map(_.getLong(0)).sorted
    assert(kept === Array(1L, 3L))
  }

  test("minHashNearDups finds a planted near-duplicate") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val near = base.replace("today", "tomorrow")
    val other = "completely different content about spark query engines and shuffles"
    val df = Seq(Doc(1, base), Doc(2, near), Doc(3, other)).toDS.toDF
    val pairs = Dedup
      .minHashNearDups(df, "text", "doc_id", threshold = 0.5)
      .select("id_a", "id_b")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSet === Set((1L, 2L)))
  }

  test("d02/d08 full-oracle guard: fixture LSH miss budget stays negligible at every oracle-compared SF") {
    // The d02/d08 exact-set DuckDB oracles are sound only while the
    // 16×2 banding's chance of missing ANY over-threshold fixture pair
    // is negligible. The real invariant is the expected number of
    // missed pairs, Σ_pairs (1 − j^rows)^bands — not "no pair below
    // 0.9": a single j = 0.889 pair contributes ~2e-11 (harmless, and
    // present at sf0.001), while one j = 0.45 pair contributes ~0.5
    // (a coin-flip flake). Asserting the sum < 1e-6 bounds the oracle
    // hash-mismatch probability below 1e-6 at ANY fixture shape.
    // Runs at EVERY SF a DuckDB oracle compare can run at (round-11
    // advice: a guard pinned to one fixture would let an SF switch
    // bypass it) — sf0.01 is the driver's compare fixture, sf0.001 the
    // dev-loop one; sf0.1 is bench-only (never oracle-compared, and
    // brute all-pairs there is a minutes-class job that belongs in
    // d04's tiers, not a unit test).
    for (dir <- OperatorsSpec.oracleComparedSfDirs) {
      assume(new java.io.File(dir).exists(), s"$dir not present")
      val docs = Tables.documents(spark, dir)
      val pairs = Dedup.jaccardPairsBrute(docs, "text", "doc_id", threshold = 0.4)
      OperatorsSpec.assertLshMissBudget(
        pairs, bands = 16, rows = 2, what = s"fixture $dir (d02/d08 oracles)")
    }
  }

  test("p11 full-oracle guard: canon-space LSH miss budget stays negligible at every oracle-compared SF") {
    // p11's minhash near-dedup runs over CANONICALIZED text (strip HTML
    // → lower → ws-collapse), a space the raw-text d02/d08 guard above
    // cannot see: lowercasing/collapsing can merge shingles and shift a
    // pair's jaccard. The oracle's exact-jaccard pair CTE is recall-safe
    // only while the stage's 16×2 banding is near-certain to emit every
    // over-threshold canon-space pair — the same expected-missed-pairs
    // bound as the d02/d08 guard above, computed over EXACTLY the frame
    // the p11 stage emits pairs from (quality survivors of the
    // canonicalized %10≠0 corpus ∪ planted rows, after canonical exact
    // dedup), at EVERY oracle-compared SF (round-11 advice — see the
    // d02/d08 guard above for the tier rationale).
    for (dir <- OperatorsSpec.oracleComparedSfDirs) {
      assume(new java.io.File(dir).exists(), s"$dir not present")
      val tf = graft.functions.TextFunctions
      val all = Tables.documents(spark, dir).select($"doc_id", $"text", $"source")
        .unionByName(SparkEntry.pipelinePlantedDocs.toDF("doc_id", "text", "source"))
        .withColumn("canon", tf.canonicalizeForDedup(tf.stripHtml($"text")))
        .filter($"doc_id" % 10 =!= 0)
        .filter(tf.qualityPredicate($"canon",
          minTokens = 20, minTypeTokenRatio = 0.55, maxRepeatedBigrams = 0.15))
      val exact = Dedup.exactDedup(all, "canon", "doc_id").localCheckpoint(true)
      val pairs = Dedup.jaccardPairsBrute(exact, "canon", "doc_id", threshold = 0.4)
      try OperatorsSpec.assertLshMissBudget(
        pairs, bands = 16, rows = 2, what = s"canon-space fixture $dir (p11 oracle)")
      finally graft.CacheUtil.release(exact)
    }
  }

  test("incremental dedup against a persisted index == batch on the union (gate)") {
    // the daily-pipeline contract: pairs(corpus) ∪ incremental(delta, idx)
    // must equal batch(corpus ∪ delta) — no missed cross pairs, no
    // duplicates, no corpus recompute
    val docs = Tables.documents(spark, SparkTestSession.sfDir)
    val corpus = docs.filter($"doc_id" % 3 =!= 0)
    val delta = docs.filter($"doc_id" % 3 === 0)
    val idx = Dedup.writeMinHashIndex(corpus, "text", "doc_id", "inc_gate", buckets = 8)
    try {
      def pairs(df: org.apache.spark.sql.DataFrame): Array[(Long, Long)] =
        df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
      val incr = pairs(
        Dedup.minHashNearDupsIncremental(delta, "text", "doc_id", 0.4, idx))
      val batch = pairs(
        Dedup.minHashNearDups(docs, "text", "doc_id", threshold = 0.4)).toSet
      val corpusOnly = pairs(
        Dedup.minHashNearDups(corpus, "text", "doc_id", threshold = 0.4)).toSet
      val touchesDelta = batch.filter { case (a, b) => a % 3 == 0 || b % 3 == 0 }
      assert(touchesDelta.nonEmpty, "fixture yields no cross/delta pairs — gate is vacuous")
      assert(incr.toSet === touchesDelta)
      assert(incr.length === incr.toSet.size, "pair emitted more than once")
      assert(corpusOnly.union(incr.toSet) === batch)
    } finally {
      spark.sql("DROP TABLE IF EXISTS inc_gate_bands")
      spark.sql("DROP TABLE IF EXISTS inc_gate_shingles")
    }
  }

  test("appendToMinHashIndex folds a delta in: the next delta pairs against it") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val corpus = Seq(
      Doc(1, "completely different content about spark query engines and shuffles"),
      Doc(2, "another unrelated paragraph mentioning parquet files and buckets")
    ).toDS.toDF
    val idx = Dedup.writeMinHashIndex(corpus, "text", "doc_id", "inc_app", buckets = 4)
    try {
      val delta1 = Seq(Doc(10, base)).toDS.toDF
      assert(
        Dedup.minHashNearDupsIncremental(delta1, "text", "doc_id", 0.5, idx).count() === 0)
      Dedup.appendToMinHashIndex(delta1, "text", "doc_id", idx)
      // delta2 is a near-dup of delta1's doc — only visible via the append
      val delta2 = Seq(Doc(20, base.replace("today", "tomorrow"))).toDS.toDF
      val got = Dedup
        .minHashNearDupsIncremental(delta2, "text", "doc_id", 0.5, idx)
        .select("id_a", "id_b")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(got.toSet === Set((10L, 20L)))
    } finally {
      spark.sql("DROP TABLE IF EXISTS inc_app_bands")
      spark.sql("DROP TABLE IF EXISTS inc_app_shingles")
    }
  }

  test("incremental candidates read the corpus index with no corpus-side Exchange") {
    // the point of the persisted index at 100 TB: the corpus side of the
    // delta-vs-corpus join must be a bucketed scan feeding the join
    // directly (only the small delta may shuffle)
    val docs = Tables.documents(spark, SparkTestSession.sfDir)
    val corpus = docs.filter($"doc_id" % 3 =!= 0)
    val delta = docs.filter($"doc_id" % 3 === 0)
    val idx = Dedup.writeMinHashIndex(corpus, "text", "doc_id", "inc_plan", buckets = 8)
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // forbid broadcast so the claim is tested on the sort-merge path a
      // corpus-scale index would take (B22 test pattern)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // the public probe is materialized — gate the family's lazy
      // emission plan (threshold 0: every candidate pair is emitted)
      IndexFold.withProbePlan(Dedup.minHashFamily(delta, "text", "doc_id", 0.0, idx)) { cands =>
        val plan = cands.queryExecution.executedPlan.toString
        assert(
          plan.contains("Bucketed: true"),
          s"index scan did not use the bucket layout:\n${plan.take(3000)}"
        )
        assert(
          !plan.contains("Bucketed: false"),
          s"planner disabled the bucketed read (corpus side would shuffle):\n${plan.take(3000)}"
        )
        assert(cands.count() > 0)
      }
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      spark.sql("DROP TABLE IF EXISTS inc_plan_bands")
      spark.sql("DROP TABLE IF EXISTS inc_plan_shingles")
    }
  }

  test("incremental simhash against a persisted index == batch on the union (gate)") {
    // same daily-pipeline contract as the minhash gate, for the simhash
    // index: pairs(corpus) ∪ incremental(delta, idx) == batch(corpus ∪
    // delta), exactly once, with no corpus recompute
    val docs = Tables.documents(spark, SparkTestSession.sfDir)
    val corpus = docs.filter($"doc_id" % 3 =!= 0)
    val delta = docs.filter($"doc_id" % 3 === 0)
    val h = 10
    val idx =
      Dedup.writeSimHashIndex(corpus, "text", "doc_id", "sinc_gate", maxHamming = h, buckets = 8)
    try {
      def pairs(df: org.apache.spark.sql.DataFrame): Array[(Long, Long)] =
        df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
      val incr = pairs(Dedup.simHashNearDupsIncremental(delta, "text", "doc_id", idx))
      val batch = pairs(Dedup.simHashNearDups(docs, "text", "doc_id", maxHamming = h)).toSet
      val corpusOnly =
        pairs(Dedup.simHashNearDups(corpus, "text", "doc_id", maxHamming = h)).toSet
      val touchesDelta = batch.filter { case (a, b) => a % 3 == 0 || b % 3 == 0 }
      assert(touchesDelta.nonEmpty, "fixture yields no cross/delta pairs — gate is vacuous")
      assert(incr.toSet === touchesDelta)
      assert(incr.length === incr.toSet.size, "pair emitted more than once")
      assert(corpusOnly.union(incr.toSet) === batch)
    } finally {
      spark.sql("DROP TABLE IF EXISTS sinc_gate_chunks")
    }
  }

  test("appendToSimHashIndex folds a delta in: the next delta pairs against it") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val corpus = Seq(
      Doc(1, "completely different content about spark query engines and shuffles"),
      Doc(2, "another unrelated paragraph mentioning parquet files and buckets")
    ).toDS.toDF
    val idx =
      Dedup.writeSimHashIndex(corpus, "text", "doc_id", "sinc_app", maxHamming = 16, buckets = 4)
    try {
      val delta1 = Seq(Doc(10, base)).toDS.toDF
      assert(
        Dedup.simHashNearDupsIncremental(delta1, "text", "doc_id", idx).count() === 0)
      Dedup.appendToSimHashIndex(delta1, "text", "doc_id", idx)
      val delta2 = Seq(Doc(20, base.replace("today", "tomorrow"))).toDS.toDF
      val got = Dedup
        .simHashNearDupsIncremental(delta2, "text", "doc_id", idx)
        .select("id_a", "id_b")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(got.toSet === Set((10L, 20L)))
    } finally {
      spark.sql("DROP TABLE IF EXISTS sinc_app_chunks")
    }
  }

  test("over-cap planted bucket: incremental simhash == capped batch for 64 and 128 (write/append/probe all cap)") {
    // Round-9 verdict #2: the corpus leg used to read UNCAPPED buckets,
    // so over the cap the incremental path emitted pairs the capped
    // batch form suppressed. Now write/append pre-cap the stored buckets
    // at the maxBucket lowest ids and the probe admits delta rows into
    // the remaining slots — this gate PLANTS an over-cap bucket (cap 3,
    // monotone ids: corpus < delta, the documented contract) and checks
    // pair-for-pair equality with the capped batch on the union.
    val a = "alpha bravo charlie delta echo foxtrot golf hotel india juliett"
    val b = "kilo lima mike november oscar papa quebec romeo sierra tango uniform"
    val c = "victor whiskey xray yankee zulu one two three four five six seven"
    val corpus = Seq(
      Doc(1, a), Doc(2, a), Doc(3, a), Doc(4, a), Doc(5, a), Doc(6, a), // over cap
      Doc(101, b), Doc(102, b),                                         // 1 slot left
      Doc(201, c)                                                       // 2 slots left
    ).toDS.toDF
    val delta = Seq(
      Doc(1001, b), Doc(1002, b),             // only 1001 fits bucket b
      Doc(1003, a),                           // bucket a saturated — excluded
      Doc(2001, c), Doc(2002, c), Doc(2003, c) // 2001+2002 fit bucket c
    ).toDS.toDF
    val h = 2
    val cap = 3
    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] = {
      val got = df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(got.length === got.toSet.size, "pair emitted more than once")
      got.toSet
    }
    val expected = Set(
      (101L, 1001L), (102L, 1001L),                      // cross, part-full bucket
      (201L, 2001L), (201L, 2002L), (2001L, 2002L)       // cross + within under admission
    )

    // 64-bit family
    val idx = Dedup.writeSimHashIndex(
      corpus, "text", "doc_id", "cap_gate", maxHamming = h, buckets = 4, maxBucket = cap)
    try {
      val incr = pairSet(Dedup.simHashNearDupsIncremental(delta, "text", "doc_id", idx))
      val batch = pairSet(Dedup.simHashNearDups(
        corpus.unionByName(delta), "text", "doc_id", maxHamming = h, maxBucket = cap))
      val touchesDelta = batch.filter { case (x, y) => x >= 1000L || y >= 1000L }
      assert(incr === touchesDelta, "incremental != capped batch on the over-cap fixture")
      assert(incr === expected)
      // append also caps: bucket b saturates at {101,102,1001}; a second
      // b-doc must neither pair nor grow the stored bucket
      Dedup.appendToSimHashIndex(delta, "text", "doc_id", idx)
      val delta2 = Seq(Doc(3001, b)).toDS.toDF
      val incr2 = Dedup.simHashNearDupsIncremental(delta2, "text", "doc_id", idx)
      assert(incr2.count() === 0L, "saturated bucket admitted a later delta doc")
      graft.CacheUtil.release(incr2)
      val maxStored = spark.table(idx.chunkTable)
        .groupBy($"_chunk", $"_val").count().agg(max($"count")).head().getLong(0)
      assert(maxStored <= cap.toLong, s"stored bucket exceeds cap: $maxStored")
    } finally spark.sql("DROP TABLE IF EXISTS cap_gate_chunks")

    // 128-bit family (same fixture; radius on the doubled Hamming scale)
    val idx128 = Dedup.writeSimHash128Index(
      corpus, "text", "doc_id", "cap_gate128", maxHamming = 4, buckets = 4, maxBucket = cap)
    try {
      val incr = pairSet(Dedup.simHashNearDupsIncremental(delta, "text", "doc_id", idx128))
      val batch = pairSet(Dedup.simHashNearDups128(
        corpus.unionByName(delta), "text", "doc_id", maxHamming = 4, maxBucket = cap))
      val touchesDelta = batch.filter { case (x, y) => x >= 1000L || y >= 1000L }
      assert(incr === touchesDelta, "128: incremental != capped batch on the over-cap fixture")
      assert(incr === expected)
    } finally spark.sql("DROP TABLE IF EXISTS cap_gate128_chunks128")
  }

  test("over-cap planted bucket: minhash and vector-LSH incremental == capped batch (round-10 family contract)") {
    // same contract as the simhash over-cap gate, for the two remaining
    // pair-emitting families: band tables pre-capped at write/append,
    // delta admitted into remaining slots. Identical texts/vectors per
    // group make emission deterministic; the gate asserts pair-for-pair
    // parity with the capped batch (delta-touching restriction), plus
    // stored-bucket-size ≤ cap after append.
    val a = "alpha bravo charlie delta echo foxtrot golf hotel india juliett"
    val b = "kilo lima mike november oscar papa quebec romeo sierra tango uniform"
    val c = "victor whiskey xray yankee zulu one two three four five six seven"
    val corpus = Seq(
      Doc(1, a), Doc(2, a), Doc(3, a), Doc(4, a), Doc(5, a), Doc(6, a),
      Doc(101, b), Doc(102, b),
      Doc(201, c)
    ).toDS.toDF
    val delta = Seq(
      Doc(1001, b), Doc(1002, b),
      Doc(1003, a),
      Doc(2001, c), Doc(2002, c), Doc(2003, c)
    ).toDS.toDF
    val cap = 3
    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] = {
      val got = df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(got.length === got.toSet.size, "pair emitted more than once")
      got.toSet
    }

    // ---- minhash
    val mIdx = Dedup.writeMinHashIndex(
      corpus, "text", "doc_id", "mh_capgate", buckets = 4, maxBucket = cap)
    try {
      val incr = pairSet(Dedup.minHashNearDupsIncremental(delta, "text", "doc_id", 0.5, mIdx))
      val batch = pairSet(Dedup.minHashNearDups(
        corpus.unionByName(delta), "text", "doc_id", threshold = 0.5, maxBucket = cap))
      val touchesDelta = batch.filter { case (x, y) => x >= 1000L || y >= 1000L }
      assert(touchesDelta.nonEmpty, "over-cap fixture yields no delta pairs — gate vacuous")
      assert(incr === touchesDelta, "minhash: incremental != capped batch on over-cap fixture")
      Dedup.appendToMinHashIndex(delta, "text", "doc_id", mIdx)
      val maxStored = spark.table(mIdx.bandTable)
        .groupBy($"_band", $"_bucket").count().agg(max($"count")).head().getLong(0)
      assert(maxStored <= cap.toLong, s"minhash stored bucket exceeds cap: $maxStored")
    } finally Seq("mh_capgate_bands", "mh_capgate_shingles")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

    // ---- vector-LSH (8-dim orthogonal groups; cosine verification
    // filters any cross-group bucket collision identically in both forms)
    def vec(i: Int): Array[Float] = Array.tabulate(8)(j => if (j == i) 1f else 0f)
    val vCorpus = Seq(
      Vec(1, vec(0)), Vec(2, vec(0)), Vec(3, vec(0)), Vec(4, vec(0)),
      Vec(5, vec(0)), Vec(6, vec(0)),
      Vec(101, vec(1)), Vec(102, vec(1)),
      Vec(201, vec(2))
    ).toDS.toDF
    val vDelta = Seq(
      Vec(1001, vec(1)), Vec(1002, vec(1)),
      Vec(1003, vec(0)),
      Vec(2001, vec(2)), Vec(2002, vec(2)), Vec(2003, vec(2))
    ).toDS.toDF
    val lIdx = Similarity.writeLshIndex(
      vCorpus, "embedding", "vec_id", "lsh_capgate",
      nPlanes = 3, dim = 8, nTables = 4, buckets = 4, maxBucket = cap)
    try {
      val incr = pairSet(
        Similarity.lshNearDupsIncremental(vDelta, "embedding", "vec_id", 0.9, lIdx))
      val batch = pairSet(Similarity.lshNearDups(
        vCorpus.unionByName(vDelta), "embedding", "vec_id", threshold = 0.9,
        nPlanes = 3, dim = 8, nTables = 4, maxBucket = cap))
      val touchesDelta = batch.filter { case (x, y) => x >= 1000L || y >= 1000L }
      assert(touchesDelta.nonEmpty, "over-cap LSH fixture yields no delta pairs — gate vacuous")
      assert(incr === touchesDelta, "LSH: incremental != capped batch on over-cap fixture")
      Similarity.appendToLshIndex(vDelta, "embedding", "vec_id", lIdx)
      val maxStored = spark.table(lIdx.bandTable)
        .groupBy($"_tbl", $"_sig").count().agg(max($"count")).head().getLong(0)
      assert(maxStored <= cap.toLong, s"LSH stored bucket exceeds cap: $maxStored")
    } finally Seq("lsh_capgate_bands", "lsh_capgate_vecs")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("fold probe-then-append == separate probe + append (minhash, passages, lines)") {
    // the fold forms compute the banding / window fingerprints ONCE for
    // probe AND append; this gates that they are observationally
    // identical to the separate calls: same per-batch emissions, and an
    // index state a THIRD delta probes identically
    val docs = Tables.documents(spark, SparkTestSession.sfDir)
      .select($"doc_id", $"text")
      .unionByName(Seq(
        (9100001L, "fold parity twin alpha3 beta3 gamma3 delta3 epsilon3 zeta3 eta3 theta3 iota3 kappa3"),
        (9100002L, "fold parity twin alpha3 beta3 gamma3 delta3 epsilon3 zeta3 eta3 theta3 iota3 kappa3")
      ).toDF("doc_id", "text"))
    val chunks = (0 to 1).map(k => docs.filter($"doc_id" % 2 === k).localCheckpoint(true))
    val probe3 = docs.filter($"doc_id" % 3 === 0)
    try {
      // ---- minhash
      val idxSep = Dedup.writeMinHashIndex(docs.limit(0), "text", "doc_id", "foldpar_sep", bands = 8, buckets = 4)
      val idxFold = Dedup.writeMinHashIndex(docs.limit(0), "text", "doc_id", "foldpar_fold", bands = 8, buckets = 4)
      def pairSet(df: org.apache.spark.sql.DataFrame) = {
        val s = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        graft.CacheUtil.release(df)
        s
      }
      chunks.foreach { c =>
        val sep = pairSet(Dedup.minHashNearDupsIncremental(c, "text", "doc_id", 0.4, idxSep))
        Dedup.appendToMinHashIndex(c, "text", "doc_id", idxSep)
        val fold = pairSet(Dedup.minHashNearDupsIncrementalFold(c, "text", "doc_id", 0.4, idxFold))
        assert(fold === sep, "minhash fold emissions diverged from probe+append")
      }
      // identical post-state: a third probe reads both indexes the same
      val s3 = pairSet(Dedup.minHashNearDupsIncremental(probe3, "text", "doc_id", 0.4, idxSep))
      val f3 = pairSet(Dedup.minHashNearDupsIncremental(probe3, "text", "doc_id", 0.4, idxFold))
      assert(f3 === s3, "minhash index state diverged after fold appends")
      assert(s3.nonEmpty, "fold parity fixture emitted no pairs — gate vacuous")

      // ---- passages
      val pSep = Passages.writePassageIndex(docs.limit(0), "text", "doc_id", "foldpar_psep", windowTokens = 8, buckets = 4)
      val pFold = Passages.writePassageIndex(docs.limit(0), "text", "doc_id", "foldpar_pfold", windowTokens = 8, buckets = 4)
      def profMap(df: org.apache.spark.sql.DataFrame) = {
        val m = df.collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
        graft.CacheUtil.release(df)
        m
      }
      chunks.foreach { c =>
        val sep = profMap(Passages.passageDupFractionIncremental(c, "text", "doc_id", pSep))
        Passages.appendToPassageIndex(c, "text", "doc_id", pSep)
        val fold = profMap(Passages.passageDupFractionIncrementalFold(c, "text", "doc_id", pFold))
        assert(fold === sep, "passage fold profile diverged from probe+append")
      }
      val ps3 = profMap(Passages.passageDupFractionIncremental(probe3, "text", "doc_id", pSep))
      val pf3 = profMap(Passages.passageDupFractionIncremental(probe3, "text", "doc_id", pFold))
      assert(pf3 === ps3, "passage index state diverged after fold appends")
      assert(ps3.values.exists(_._2 > 0), "no dup windows in the third probe — gate vacuous")

      // ---- lines (multi-line docs needed: reuse the planted twins with a
      // shared banner line so the catalogue goes hot across batches)
      val lineDocs = Seq(
        (9200000L, "shared banner line\nunique zero"),
        (9200001L, "shared banner line\nunique one"),
        (9200002L, "solo content\nunique two")
      ).toDF("doc_id", "text")
      val lineChunks = (0 to 1).map(k => lineDocs.filter($"doc_id" % 2 === k).localCheckpoint(true))
      val lSep = Lines.writeLineIndex(lineDocs.limit(0), "text", "doc_id", "foldpar_lsep", buckets = 4)
      val lFold = Lines.writeLineIndex(lineDocs.limit(0), "text", "doc_id", "foldpar_lfold", buckets = 4)
      // NOTE: no release here — the separate probe is LAZY and its plan
      // contains the caller's chunk checkpoint, which the append (and
      // later legs) must still execute
      def cleanMap(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
      try {
        lineChunks.foreach { c =>
          val sep = cleanMap(Lines.dropDuplicatedLinesIncremental(c, "text", "doc_id", lSep))
          Lines.appendToLineIndex(c, "text", "doc_id", lSep)
          val fold = cleanMap(Lines.dropDuplicatedLinesIncrementalFold(c, "text", "doc_id", lFold))
          assert(fold === sep, "line fold cleaning diverged from probe+append")
        }
        // post-state: a third delta reusing the banner is cleaned by both
        val d3 = Seq((9200004L, "shared banner line\nunique three")).toDF("doc_id", "text")
        val s3l = cleanMap(Lines.dropDuplicatedLinesIncremental(d3, "text", "doc_id", lSep))
        val f3l = cleanMap(Lines.dropDuplicatedLinesIncremental(d3, "text", "doc_id", lFold))
        assert(f3l === s3l, "line catalogue state diverged after fold appends")
        assert(s3l(9200004L) === Some("unique three"), "banner not hot — gate vacuous")
        lineChunks.foreach(graft.CacheUtil.release)
      } finally Seq("foldpar_lsep_fps", "foldpar_lfold_fps")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    } finally {
      Seq("foldpar_sep_bands", "foldpar_sep_shingles", "foldpar_fold_bands",
        "foldpar_fold_shingles", "foldpar_psep_fps", "foldpar_pfold_fps")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      chunks.foreach(graft.CacheUtil.release)
    }
  }

  test("fold probe-then-append == separate probe + append (simhash64/128, combo, vector-LSH, exact)") {
    // completes the fold family gate: same contract as the
    // minhash/passages/lines leg — equal per-batch emissions, and a
    // third delta probes the post-append index identically
    val docs = Tables.documents(spark, SparkTestSession.sfDir)
      .select($"doc_id", $"text")
      .unionByName(Seq(
        (9300000L, "exact fold twin carries identical bytes across the chunk split"),
        (9300001L, "exact fold twin carries identical bytes across the chunk split")
      ).toDF("doc_id", "text"))
    val chunks = (0 to 1).map(k => docs.filter($"doc_id" % 2 === k).localCheckpoint(true))
    val probe3 = docs.filter($"doc_id" % 3 === 0)
    val emb = Tables.embeddings(spark, SparkTestSession.sfDir)
      .select($"vec_id", $"embedding")
    // odd offset flips parity, so every echoed twin spans the %2 split
    val vdocs = emb.unionByName(
      emb.limit(3).select(($"vec_id" + 1000001L).as("vec_id"), $"embedding"))
    val vchunks = (0 to 1).map(k => vdocs.filter($"vec_id" % 2 === k).localCheckpoint(true))
    def pairs2(df: org.apache.spark.sql.DataFrame) = {
      val s = df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      graft.CacheUtil.release(df)
      s
    }
    def ids(df: org.apache.spark.sql.DataFrame) = {
      val s = df.select("doc_id").collect().map(_.getLong(0)).toSet
      graft.CacheUtil.release(df)
      s
    }
    try {
      // ---- simhash64
      val hSep = Dedup.writeSimHashIndex(docs.limit(0), "text", "doc_id", "foldpar_hsep", maxHamming = 3, buckets = 4)
      val hFold = Dedup.writeSimHashIndex(docs.limit(0), "text", "doc_id", "foldpar_hfold", maxHamming = 3, buckets = 4)
      chunks.foreach { c =>
        val sep = pairs2(Dedup.simHashNearDupsIncremental(c, "text", "doc_id", hSep))
        Dedup.appendToSimHashIndex(c, "text", "doc_id", hSep)
        val fold = pairs2(Dedup.simHashNearDupsIncrementalFold(c, "text", "doc_id", hFold))
        assert(fold === sep, "simhash64 fold emissions diverged")
      }
      val h3s = pairs2(Dedup.simHashNearDupsIncremental(probe3, "text", "doc_id", hSep))
      val h3f = pairs2(Dedup.simHashNearDupsIncremental(probe3, "text", "doc_id", hFold))
      assert(h3f === h3s, "simhash64 index state diverged after fold appends")
      assert(h3s.nonEmpty, "simhash64 fold gate emitted no pairs — vacuous")

      // ---- simhash128
      val wSep = Dedup.writeSimHash128Index(docs.limit(0), "text", "doc_id", "foldpar_wsep", maxHamming = 8, buckets = 4)
      val wFold = Dedup.writeSimHash128Index(docs.limit(0), "text", "doc_id", "foldpar_wfold", maxHamming = 8, buckets = 4)
      chunks.foreach { c =>
        val sep = pairs2(Dedup.simHashNearDupsIncremental(c, "text", "doc_id", wSep))
        Dedup.appendToSimHashIndex(c, "text", "doc_id", wSep)
        val fold = pairs2(Dedup.simHashNearDupsIncrementalFold(c, "text", "doc_id", wFold))
        assert(fold === sep, "simhash128 fold emissions diverged")
      }
      val w3s = pairs2(Dedup.simHashNearDupsIncremental(probe3, "text", "doc_id", wSep))
      val w3f = pairs2(Dedup.simHashNearDupsIncremental(probe3, "text", "doc_id", wFold))
      assert(w3f === w3s, "simhash128 index state diverged after fold appends")
      assert(w3s.nonEmpty, "simhash128 fold gate emitted no pairs — vacuous")

      // ---- combination-keyed simhash (identical twins sit at hamming 0,
      // inside the h=3 radius)
      val cSep = Dedup.writeSimHashComboIndex(docs.limit(0), "text", "doc_id", "foldpar_csep", maxHamming = 3, blocks = 6, buckets = 4)
      val cFold = Dedup.writeSimHashComboIndex(docs.limit(0), "text", "doc_id", "foldpar_cfold", maxHamming = 3, blocks = 6, buckets = 4)
      chunks.foreach { c =>
        val sep = pairs2(Dedup.simHashNearDupsIncremental(c, "text", "doc_id", cSep))
        Dedup.appendToSimHashIndex(c, "text", "doc_id", cSep)
        val fold = pairs2(Dedup.simHashNearDupsIncrementalFold(c, "text", "doc_id", cFold))
        assert(fold === sep, "combo fold emissions diverged")
      }
      val c3s = pairs2(Dedup.simHashNearDupsIncremental(probe3, "text", "doc_id", cSep))
      val c3f = pairs2(Dedup.simHashNearDupsIncremental(probe3, "text", "doc_id", cFold))
      assert(c3f === c3s, "combo index state diverged after fold appends")
      assert(c3s.nonEmpty, "combo fold gate emitted no pairs — vacuous")

      // ---- vector LSH
      val lSep = Similarity.writeLshIndex(vdocs.limit(0), "embedding", "vec_id", "foldpar_vsep", nPlanes = 3, nTables = 8, buckets = 4)
      val lFold = Similarity.writeLshIndex(vdocs.limit(0), "embedding", "vec_id", "foldpar_vfold", nPlanes = 3, nTables = 8, buckets = 4)
      vchunks.foreach { c =>
        val sep = pairs2(Similarity.lshNearDupsIncremental(c, "embedding", "vec_id", 0.9, lSep))
        Similarity.appendToLshIndex(c, "embedding", "vec_id", lSep)
        val fold = pairs2(Similarity.lshNearDupsIncrementalFold(c, "embedding", "vec_id", 0.9, lFold))
        assert(fold === sep, "LSH fold emissions diverged")
      }
      val vprobe = vdocs.filter($"vec_id" % 3 === 0)
      val v3s = pairs2(Similarity.lshNearDupsIncremental(vprobe, "embedding", "vec_id", 0.9, lSep))
      val v3f = pairs2(Similarity.lshNearDupsIncremental(vprobe, "embedding", "vec_id", 0.9, lFold))
      assert(v3f === v3s, "LSH index state diverged after fold appends")
      assert(v3s.nonEmpty, "LSH fold gate emitted no pairs — vacuous")

      // ---- exact
      val eSep = Dedup.writeExactDedupIndex(docs.limit(0), "text", "foldpar_esep", buckets = 4)
      val eFold = Dedup.writeExactDedupIndex(docs.limit(0), "text", "foldpar_efold", buckets = 4)
      chunks.foreach { c =>
        val sep = ids(Dedup.exactDedupIncremental(c, "text", "doc_id", eSep))
        Dedup.appendToExactDedupIndex(c, "text", eSep)
        val fold = ids(Dedup.exactDedupIncrementalFold(c, "text", "doc_id", eFold))
        assert(fold === sep, "exact fold survivors diverged")
      }
      val e3s = ids(Dedup.exactDedupIncremental(probe3, "text", "doc_id", eSep))
      val e3f = ids(Dedup.exactDedupIncremental(probe3, "text", "doc_id", eFold))
      assert(e3f === e3s, "exact index state diverged after fold appends")
      // the chunk-1 twin must have been dropped against chunk-0's append
      assert(!e3s.contains(9300000L) || !e3s.contains(9300001L))
    } finally {
      Seq("foldpar_hsep_chunks", "foldpar_hfold_chunks",
        "foldpar_csep_combo", "foldpar_cfold_combo",
        "foldpar_wsep_chunks128", "foldpar_wfold_chunks128",
        "foldpar_vsep_bands", "foldpar_vsep_vecs",
        "foldpar_vfold_bands", "foldpar_vfold_vecs",
        "foldpar_esep_exactfps", "foldpar_efold_exactfps")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      (chunks ++ vchunks).foreach(graft.CacheUtil.release)
    }
  }

  test("write-time bucket cap plans as WindowGroupLimit, not a full hot-bucket sort") {
    // the cap is `row_number() <= k` over the bucket keys; Spark 4's
    // WindowGroupLimit rewrite turns that into per-partition top-k
    // (bounded memory per hot bucket) instead of a full bucket sort —
    // at 100 TB a skewed bucket would otherwise sort all its members to
    // keep k. Gate the executed plan so a Spark upgrade or planner
    // regression can't silently degrade the write path (round-10
    // verdict #5).
    val df = (1L to 200L).map(i => (i % 5, i % 3, i, i * 2))
      .toDF("_chunk", "_val", "_id", "_w")
    val capped = Dedup.capBucketMembership(df, 3, Seq("_chunk", "_val"), Seq("_w"))
    val plan = capped.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"cap no longer plans as WindowGroupLimit:\n${plan.take(3000)}")
    // and the cap semantics hold on the same frame: 3 lowest ids per bucket
    val got = capped.collect()
      .groupBy(r => (r.getLong(0), r.getLong(1)))
      .map { case (k, rs) => k -> rs.map(_.getLong(2)).sorted.toSeq }
    val want = (1L to 200L).map(i => ((i % 5, i % 3), i))
      .groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2).sorted.take(3).toSeq }
    assert(got === want, "capBucketMembership did not keep the 3 lowest ids per bucket")
  }

  test("semDedup cluster cap plans as WindowGroupLimit and keeps the lowest ids") {
    // same contract as the bucket-cap gate above, for the semantic
    // family: the cluster cap is row_number ≤ k over _centroid — a hot
    // 10k-member cluster must plan as per-partition top-k, never as a
    // collect_list aggregation buffer or a full cluster sort
    val vecs = (1L to 60L).map(i => (i, Array(1.0f, (i % 4).toFloat)))
      .toDF("vec_id", "embedding")
    val idx = Similarity.IvfIndex(
      Similarity.ivfAssign(vecs, "embedding", Array(Array(1.0, 0.0), Array(1.0, 3.0))),
      Array(Array(1.0, 0.0), Array(1.0, 3.0)), "embedding", "vec_id")
    val lazyCap = Similarity.semDedupCappedStoredLazy(idx, maxCluster = 5)
    val plan = lazyCap.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"semDedup cap no longer plans as WindowGroupLimit:\n${plan.take(3000)}")
    val got = lazyCap.collect()
      .groupBy(_.getInt(2))
      .map { case (c, rs) => c -> rs.map(_.getLong(0)).sorted.toSeq }
    got.foreach { case (c, ids) =>
      assert(ids.size <= 5, s"cluster $c over cap: $ids")
    }
    // the kept ids are the LOWEST of each cluster: recompute assignment
    val assign = Similarity.ivfAssign(vecs, "embedding",
        Array(Array(1.0, 0.0), Array(1.0, 3.0)))
      .select($"vec_id", $"_centroid").collect()
      .map(r => r.getLong(0) -> r.getInt(1))
    val want = assign.groupBy(_._2)
      .map { case (c, xs) => c -> xs.map(_._1).sorted.take(5).toSeq }
    assert(got === want, "semDedup cap did not keep the 5 lowest ids per cluster")
  }

  test("bucket admission reads the corpus index bucketed, semi-filtered by a broadcast delta bucket set") {
    // the round-10 admission step adds a second corpus scan per probe
    // (bucket-key counts). This gates ITS plan shape — the main probe
    // plan asserts can't see it because callers checkpoint the admitted
    // frame eagerly: the corpus side must stay a bucketed scan (counts
    // group on the table's own bucket keys — no Exchange) behind a
    // broadcast LeftSemi on the delta's bucket set.
    val docs = Tables.documents(spark, SparkTestSession.sfDir)
    val corpus = docs.filter($"doc_id" % 3 =!= 0)
    val delta = docs.filter($"doc_id" % 3 === 0)
    val idx = Dedup.writeSimHashIndex(
      corpus, "text", "doc_id", "adm_plan", maxHamming = 10, buckets = 8)
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val chunked = idx.keys.keyed(delta, $"doc_id", $"text")
      val admitted = Dedup.admittedAgainstIndexKeyed(
        chunked, idx.chunkTable, 10000, Seq("_chunk", "_val"))
      val plan = admitted.queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"),
        s"admission corpus scan lost the bucket layout:\n${plan.take(3000)}")
      assert(!plan.contains("Bucketed: false"),
        s"planner disabled the admission's bucketed read:\n${plan.take(3000)}")
      assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
        s"delta bucket set is not a broadcast semi-filter:\n${plan.take(3000)}")
      assert(admitted.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      spark.sql("DROP TABLE IF EXISTS adm_plan_chunks")
    }
  }

  test("incremental simhash reads the corpus index with no corpus-side Exchange") {
    val docs = Tables.documents(spark, SparkTestSession.sfDir)
    val corpus = docs.filter($"doc_id" % 3 =!= 0)
    val delta = docs.filter($"doc_id" % 3 === 0)
    val idx =
      Dedup.writeSimHashIndex(corpus, "text", "doc_id", "sinc_plan", maxHamming = 10, buckets = 8)
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // the public wrapper eagerly checkpoints (hiding the join), so
      // assert on the lazy plan it materializes
      IndexFold.withProbePlan(Dedup.simHashFamily(delta, "text", "doc_id", idx)) { pairs =>
        val plan = pairs.queryExecution.executedPlan.toString
        assert(plan.contains("Bucketed: true"),
          s"index scan did not use the bucket layout:\n${plan.take(3000)}")
        assert(!plan.contains("Bucketed: false"),
          s"planner disabled the bucketed read (corpus side would shuffle):\n${plan.take(3000)}")
        assert(pairs.count() > 0)
      }
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      spark.sql("DROP TABLE IF EXISTS sinc_plan_chunks")
    }
  }

  test("incremental combination simhash against a persisted index == batch combo on union (gate)") {
    // the ≥10⁷-doc twin of the d09 gate: same daily-pipeline contract
    // (pairs(corpus) ∪ incremental(delta, idx) == batch(corpus ∪ delta),
    // exactly once, no corpus recompute) on Manku combination keys. The
    // fixture has no natural pairs at h=3, so plant a perturbed twin of
    // every doc (d14's shape) — twins land in a different %3 split than
    // their base whenever doc_id % 3 ≠ (doc_id + 100000) % 3, so cross
    // delta/corpus pairs exist.
    val base = Tables.documents(spark, SparkTestSession.sfDir).select($"doc_id", $"text")
    val docs = base.union(
      base.select(
        ($"doc_id" + 100000L).as("doc_id"),
        concat($"text", lit(" perturbed")).as("text")))
    val corpus = docs.filter($"doc_id" % 3 =!= 0)
    val delta = docs.filter($"doc_id" % 3 === 0)
    val idx = Dedup.writeSimHashComboIndex(
      corpus, "text", "doc_id", "scinc_gate", maxHamming = 3, blocks = 6, buckets = 8)
    try {
      def pairs(df: org.apache.spark.sql.DataFrame): Array[(Long, Long)] = {
        val out = df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
        graft.CacheUtil.release(df)
        out
      }
      val incr = pairs(Dedup.simHashNearDupsIncremental(delta, "text", "doc_id", idx))
      val batch = pairs(
        Dedup.simHashNearDupsCombination(docs, "text", "doc_id", maxHamming = 3, blocks = 6)).toSet
      val corpusOnly = pairs(
        Dedup.simHashNearDupsCombination(corpus, "text", "doc_id", maxHamming = 3, blocks = 6)).toSet
      val touchesDelta = batch.filter { case (a, b) => a % 3 == 0 || b % 3 == 0 }
      assert(touchesDelta.nonEmpty, "fixture yields no cross/delta pairs — gate is vacuous")
      assert(incr.toSet === touchesDelta)
      assert(incr.length === incr.toSet.size, "pair emitted more than once")
      assert(corpusOnly.union(incr.toSet) === batch)
    } finally {
      spark.sql("DROP TABLE IF EXISTS scinc_gate_combo")
    }
  }

  test("appendToSimHashComboIndex folds a delta in: the next delta pairs against it") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val corpus = Seq(
      Doc(1, "completely different content about spark query engines and shuffles"),
      Doc(2, "another unrelated paragraph mentioning parquet files and buckets")
    ).toDS.toDF
    val idx = Dedup.writeSimHashComboIndex(
      corpus, "text", "doc_id", "scinc_app", maxHamming = 3, blocks = 6, buckets = 4)
    try {
      val delta1 = Seq(Doc(10, base)).toDS.toDF
      val incr1 = Dedup.simHashNearDupsIncremental(delta1, "text", "doc_id", idx)
      assert(incr1.count() === 0)
      graft.CacheUtil.release(incr1)
      Dedup.appendToSimHashIndex(delta1, "text", "doc_id", idx)
      // identical text → hamming 0, inside any radius — probes the
      // appended rows without depending on perturbation distance
      val delta2 = Seq(Doc(20, base)).toDS.toDF
      val incr2 = Dedup.simHashNearDupsIncremental(delta2, "text", "doc_id", idx)
      val got = incr2
        .select("id_a", "id_b")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(got.toSet === Set((10L, 20L)))
      graft.CacheUtil.release(incr2)
    } finally {
      spark.sql("DROP TABLE IF EXISTS scinc_app_combo")
    }
  }

  test("incremental combo simhash reads the corpus index with no corpus-side Exchange") {
    val docs = Tables.documents(spark, SparkTestSession.sfDir)
    val corpus = docs.filter($"doc_id" % 3 =!= 0)
    val delta = docs.filter($"doc_id" % 3 === 0)
    val idx = Dedup.writeSimHashComboIndex(
      corpus, "text", "doc_id", "scinc_plan", maxHamming = 3, blocks = 6, buckets = 8)
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      IndexFold.withProbePlan(Dedup.simHashFamily(delta, "text", "doc_id", idx)) { pairs =>
        val plan = pairs.queryExecution.executedPlan.toString
        assert(plan.contains("Bucketed: true"),
          s"index scan did not use the bucket layout:\n${plan.take(3000)}")
        assert(!plan.contains("Bucketed: false"),
          s"planner disabled the bucketed read (corpus side would shuffle):\n${plan.take(3000)}")
        // non-vacuous: a key-layout mismatch producing zero rows would let
        // the Bucketed assertions above pass on an empty join
        assert(pairs.count() > 0, "combo probe produced no pairs — plan gate is vacuous")
      }
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      spark.sql("DROP TABLE IF EXISTS scinc_plan_combo")
    }
  }

  test("incremental 128-bit simhash against a persisted index == batch on union (gate)") {
    val docs = Tables.documents(spark, SparkTestSession.sfDir)
    val corpus = docs.filter($"doc_id" % 3 =!= 0)
    val delta = docs.filter($"doc_id" % 3 === 0)
    val h = 20
    val idx = Dedup.writeSimHash128Index(
      corpus, "text", "doc_id", "s128inc_gate", maxHamming = h, buckets = 8)
    try {
      def pairs(df: org.apache.spark.sql.DataFrame): Array[(Long, Long)] = {
        val out = df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
        graft.CacheUtil.release(df)
        out
      }
      val incr = pairs(Dedup.simHashNearDupsIncremental(delta, "text", "doc_id", idx))
      val batch = pairs(Dedup.simHashNearDups128(docs, "text", "doc_id", maxHamming = h)).toSet
      val corpusOnly = pairs(Dedup.simHashNearDups128(corpus, "text", "doc_id", maxHamming = h)).toSet
      val touchesDelta = batch.filter { case (a, b) => a % 3 == 0 || b % 3 == 0 }
      assert(touchesDelta.nonEmpty, "fixture yields no cross/delta pairs — gate is vacuous")
      assert(incr.toSet === touchesDelta)
      assert(incr.length === incr.toSet.size, "pair emitted more than once")
      assert(corpusOnly.union(incr.toSet) === batch)
    } finally {
      spark.sql("DROP TABLE IF EXISTS s128inc_gate_chunks128")
    }
  }

  test("appendToSimHash128Index folds a delta in: the next delta pairs against it") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val corpus = Seq(
      Doc(1, "completely different content about spark query engines and shuffles"),
      Doc(2, "another unrelated paragraph mentioning parquet files and buckets")
    ).toDS.toDF
    val idx = Dedup.writeSimHash128Index(
      corpus, "text", "doc_id", "s128inc_app", maxHamming = 0, buckets = 4)
    try {
      val delta1 = Seq(Doc(10, base)).toDS.toDF
      val incr1 = Dedup.simHashNearDupsIncremental(delta1, "text", "doc_id", idx)
      assert(incr1.count() === 0)
      graft.CacheUtil.release(incr1)
      Dedup.appendToSimHashIndex(delta1, "text", "doc_id", idx)
      val delta2 = Seq(Doc(20, base)).toDS.toDF
      val incr2 = Dedup.simHashNearDupsIncremental(delta2, "text", "doc_id", idx)
      val got = incr2.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(got.toSet === Set((10L, 20L)))
      graft.CacheUtil.release(incr2)
    } finally {
      spark.sql("DROP TABLE IF EXISTS s128inc_app_chunks128")
    }
  }

  test("incremental 128-bit simhash reads the corpus index with no corpus-side Exchange") {
    val docs = Tables.documents(spark, SparkTestSession.sfDir)
    val corpus = docs.filter($"doc_id" % 3 =!= 0)
    val delta = docs.filter($"doc_id" % 3 === 0)
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val idx = Dedup.writeSimHash128Index(
        corpus, "text", "doc_id", "s128inc_plan", maxHamming = 20, buckets = 8)
      IndexFold.withProbePlan(Dedup.simHashFamily(delta, "text", "doc_id", idx)) { pairs =>
        val plan = pairs.queryExecution.executedPlan.toString
        assert(plan.contains("Bucketed: true"),
          s"index scan did not use the bucket layout:\n${plan.take(3000)}")
        assert(!plan.contains("Bucketed: false"),
          s"planner disabled the bucketed read (corpus side would shuffle):\n${plan.take(3000)}")
        assert(pairs.count() > 0, "128-bit probe produced no pairs — plan gate is vacuous")
      }
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      spark.sql("DROP TABLE IF EXISTS s128inc_plan_chunks128")
    }
  }

  test("simHash: identical text → distance 0; near text → small distance") {
    val df = Seq(
      Doc(1, "alpha beta gamma delta epsilon zeta eta theta"),
      Doc(2, "alpha beta gamma delta epsilon zeta eta theta"),
      Doc(3, "alpha beta gamma delta epsilon zeta eta iota")
    ).toDS.toDF
    val sims = df.select($"doc_id", Dedup.simHash($"text").as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sims(1L) === sims(2L))
    val hamming = java.lang.Long.bitCount(sims(1L) ^ sims(3L))
    assert(hamming > 0 && hamming <= 16, s"hamming=$hamming")
    val pairs = Dedup.simHashNearDups(df, "text", "doc_id", maxHamming = 16)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("simHashNearDups recall is exact: blocked pairs == brute bit_count(xor) pairs (d03 gate)") {
    // the round-1 bug: fixed 4×16-bit chunks only guarantee recall for
    // Hamming ≤ 3, but d03 runs maxHamming = 10 — this gate recomputes
    // the full brute pair set on the fixture and requires equality
    val docs = Tables.documents(spark, SparkTestSession.sfDir)
    val h = 10
    val hashes = docs
      .select($"doc_id", Dedup.simHash($"text"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      (ia, ha) <- hashes
      (ib, hb) <- hashes
      if ia < ib && java.lang.Long.bitCount(ha ^ hb) <= h
    } yield (ia, ib)).toSet
    assert(brute.nonEmpty, "fixture produced no near pairs — gate is vacuous")
    val gotRows = Dedup
      .simHashNearDups(docs, "text", "doc_id", maxHamming = h)
      .select("id_a", "id_b")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val got = gotRows.toSet
    assert(got === brute)
    // lowest-matching-chunk emission contract: there is no distinct() in
    // the plan anymore, so each pair must be generated from exactly one
    // (chunk, value) bucket — duplicates would silently collapse in the
    // set comparison above
    assert(gotRows.length === got.size, "pair emitted more than once")
  }

  test("simHashNearDups128 recall is exact: blocked == brute two-word hamming (wide radius)") {
    // 128-bit Hamming runs ~2× the 64-bit scale for the same similarity,
    // so the wide-radius gate runs h = 20 (the 64-bit h=10 policy)
    val docs = Tables.documents(spark, SparkTestSession.sfDir)
    val h = 20
    val hashes = docs
      .select($"doc_id", Dedup.simHash128($"text"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1)))
    val brute = (for {
      (ia, ha) <- hashes
      (ib, hb) <- hashes
      if ia < ib &&
        java.lang.Long.bitCount(ha(0) ^ hb(0)) +
          java.lang.Long.bitCount(ha(1) ^ hb(1)) <= h
    } yield (ia, ib)).toSet
    assert(brute.nonEmpty, "fixture produced no near pairs — gate is vacuous")
    val gotRows = Dedup
      .simHashNearDups128(docs, "text", "doc_id", maxHamming = h)
      .select("id_a", "id_b")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val got = gotRows.toSet
    assert(got === brute)
    assert(gotRows.length === got.size, "pair emitted more than once")
    // straddling-chunk extraction sanity: every chunk layout bit is
    // covered exactly once (widths sum to 128, offsets contiguous)
    val (ws, offs) = Dedup.chunkLayout(128, h + 1)
    assert(ws.sum === 128 && offs.zip(ws).map { case (o, w) => o + w } === offs.tail :+ 128)
    // identical text → identical fingerprint → hamming 0
    val twin = Seq(Doc(1, "alpha beta gamma"), Doc(2, "alpha beta gamma")).toDS.toDF
    val p = Dedup.simHashNearDups128(twin, "text", "doc_id", maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(p.toSeq === Seq((1L, 2L, 0)))
  }

  test("combination blocking covers every damage set: some subset avoids any ≤h blocks") {
    // the Manku guarantee, checked exhaustively: a pair within Hamming h
    // damages ≤ h blocks; recall is exact iff for EVERY damage set of
    // size ≤ h some C(blocks, t) subset avoids it entirely
    for ((h, b) <- Seq((3, 6), (3, 8), (4, 7), (2, 4), (0, 1))) {
      val t = b - h
      val subsets = Dedup.combinationSubsets(b, t).map(_.toSet)
      for (k <- 0 to h; damage <- (0 until b).combinations(k).map(_.toSet))
        assert(
          subsets.exists(s => (s & damage).isEmpty),
          s"h=$h blocks=$b: no subset avoids damage $damage"
        )
    }
  }

  test("simHashNearDupsCombination == brute == pigeonhole pairs (d14 gate)") {
    // fixture docs plus one near-dup per doc (a token appended) so pairs
    // exist at the production radius h=3; both blocked forms must emit
    // exactly the brute bit_count(xor) pair set, each pair exactly once
    val base = Tables.documents(spark, SparkTestSession.sfDir)
      .select($"doc_id", $"text")
    val docs = base.union(
      base.select($"doc_id" + 100000L, concat($"text", lit(" perturbed")))
    )
    val h = 3
    val hashes = docs
      .select($"doc_id", Dedup.simHash($"text"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      (ia, ha) <- hashes
      (ib, hb) <- hashes
      if ia < ib && java.lang.Long.bitCount(ha ^ hb) <= h
    } yield (ia, ib)).toSet
    assert(brute.nonEmpty, "fixture produced no near pairs — gate is vacuous")
    val comboRows = Dedup
      .simHashNearDupsCombination(docs, "text", "doc_id", maxHamming = h, blocks = 6)
      .select("id_a", "id_b")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(comboRows.toSet === brute)
    assert(comboRows.length === comboRows.toSet.size, "pair emitted more than once")
    val pigeon = Dedup
      .simHashNearDups(docs, "text", "doc_id", maxHamming = h)
      .select("id_a", "id_b")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(pigeon === brute)
  }

  test("planted hot bucket: cap bounds pairs, audit reports one bucket per combo key") {
    val docs = (1L to 300L).map(i => Doc(i, "boilerplate header repeated everywhere"))
    val df = docs.toDS.toDF
    val capped = Dedup
      .simHashNearDupsCombination(df, "text", "doc_id", maxHamming = 3, blocks = 6, maxBucket = 40)
      .count()
    assert(capped === 40L * 39 / 2, s"expected capped pair count, got $capped")
    val hot = Dedup
      .hotSimHashComboBuckets(df, "text", "doc_id", maxHamming = 3, blocks = 6, maxBucket = 40)
      .collect()
    assert(hot.length === 20) // identical docs: one hot bucket per C(6,3) key
    assert(hot.forall(_.getLong(2) === 300L))
    assert(Dedup.hotSimHashComboBuckets(df, "text", "doc_id").columns.toSeq ===
      Seq("chunk", "value", "bucket_size"))
  }

  test("planted hot bucket: cap bounds the pair expansion, audit reports it (minhash)") {
    // 300 identical docs land in the same bucket in every band; uncapped
    // that is 300·299/2 = 44850 pairs — the cap keeps the lowest 40 ids
    val docs = (1L to 300L).map(i => Doc(i, "boilerplate header repeated everywhere"))
    val df = (docs :+ Doc(999L, "genuinely unique content here")).toDS.toDF
    val capped = Dedup
      .minHashCandidates(df, "text", "doc_id", maxBucket = 40)
      .count()
    assert(capped === 40L * 39 / 2, s"expected capped pair count, got $capped")
    val hot = Dedup
      .hotMinHashBuckets(df, "text", "doc_id", maxBucket = 40)
      .collect()
    assert(hot.nonEmpty && hot.forall(_.getLong(2) === 300L))
  }

  test("planted hot bucket: cap bounds the pair expansion, audit reports it (simhash)") {
    val docs = (1L to 300L).map(i => Doc(i, "boilerplate header repeated everywhere"))
    val df = docs.toDS.toDF
    // the 64-bit and 128-bit pigeonhole emitters with their audits
    val cases = Seq[(String, () => org.apache.spark.sql.DataFrame, () => org.apache.spark.sql.DataFrame)](
      ("simhash64",
        () => Dedup.simHashNearDups(df, "text", "doc_id", maxHamming = 3, maxBucket = 40),
        () => Dedup.hotSimHashBuckets(df, "text", "doc_id", maxHamming = 3, maxBucket = 40)),
      ("simhash128",
        () => Dedup.simHashNearDups128(df, "text", "doc_id", maxHamming = 3, maxBucket = 40),
        () => Dedup.hotSimHash128Buckets(df, "text", "doc_id", maxHamming = 3, maxBucket = 40)))
    for ((kind, pairs, audit) <- cases) {
      val capped = pairs().count()
      assert(capped === 40L * 39 / 2, s"$kind: expected capped pair count, got $capped")
      val hotDf = audit()
      assert(hotDf.columns.toSeq === Seq("chunk", "value", "bucket_size"), kind)
      val hot = hotDf.collect()
      assert(hot.length === 4, kind) // identical docs: one hot bucket per chunk
      assert(hot.forall(_.getLong(2) === 300L), kind)
    }
  }

  test("passage dedup: windows, cross-doc dup detection, fractions, stride, short docs") {
    // doc1/doc2 share "a b c" and "b c d"; doc4 repeats a window only
    // WITHIN itself (must not count as duplicated); doc3 is too short
    val df = Seq(
      Doc(1, "a b c d e"),
      Doc(2, "x a b c d"),
      Doc(3, "z z"),
      Doc(4, "q q q q")
    ).toDS.toDF
    val fps = Passages.passageFingerprints(df, "text", "doc_id", windowTokens = 3)
    assert(fps.count() === 3 + 3 + 0 + 2)
    val dup = Passages
      .duplicatedPassages(df, "text", "doc_id", windowTokens = 3)
      .collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    assert(dup.length === 2 && dup.forall(_ === ((2L, 2L))))
    val fracDf = Passages.passageDupFraction(df, "text", "doc_id", windowTokens = 3)
    val frac = fracDf
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    graft.CacheUtil.release(fracDf)
    assert(frac(1L) === ((3L, 2L, 2.0 / 3)))
    assert(frac(2L) === ((3L, 2L, 2.0 / 3)))
    assert(frac(3L) === ((0L, 0L, 0.0)))
    assert(frac(4L) === ((2L, 0L, 0.0)))
    // stride skips starts: doc1 at stride 2 → windows at 0 and 2 only
    val strided = Passages
      .passageFingerprints(df.filter($"doc_id" === 1), "text", "doc_id", 3, stride = 2)
      .select("pos").collect().map(_.getInt(0)).sorted
    assert(strided === Array(0, 2))
    // retention: dup-heavy docs 1 and 2 dropped at a 0.5 threshold
    val keptDf = Passages
      .dropDuplicatedPassageDocs(df, "text", "doc_id", 3, maxDupFraction = 0.5)
    val kept = keptDf.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(3L, 4L))
    graft.CacheUtil.release(keptDf)
  }

  test("incremental passage profile == batch on the union; appends fold in (d18 gate)") {
    val docs = Tables.documents(spark, SparkTestSession.sfDir)
    val corpus = docs.filter($"doc_id" % 3 =!= 0)
    val delta1 = docs.filter($"doc_id" % 9 === 0)
    val delta2 = docs.filter($"doc_id" % 3 === 0 && $"doc_id" % 9 =!= 0)
    val k = 8
    def prof(df: org.apache.spark.sql.DataFrame) =
      df.collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
        .toMap
    def batchOn(all: org.apache.spark.sql.DataFrame, ids: Set[Long]) = {
      val df = Passages.passageDupFraction(all, "text", "doc_id", k)
      val out = prof(df).filter { case (id, _) => ids.contains(id) }
      graft.CacheUtil.release(df)
      out
    }
    try {
      val idx = Passages.writePassageIndex(corpus, "text", "doc_id", "pinc_gate", windowTokens = k)
      val d1Ids = delta1.select("doc_id").collect().map(_.getLong(0)).toSet
      val incr1 = Passages.passageDupFractionIncremental(delta1, "text", "doc_id", idx)
      assert(prof(incr1) === batchOn(corpus.unionByName(delta1), d1Ids))
      assert(prof(incr1).values.exists(_._2 > 0), "delta1 saw no dups — gate is vacuous")
      graft.CacheUtil.release(incr1)
      Passages.appendToPassageIndex(delta1, "text", "doc_id", idx)
      val d2Ids = delta2.select("doc_id").collect().map(_.getLong(0)).toSet
      val incr2 = Passages.passageDupFractionIncremental(delta2, "text", "doc_id", idx)
      assert(prof(incr2) === batchOn(docs, d2Ids))
      graft.CacheUtil.release(incr2)
    } finally spark.sql("DROP TABLE IF EXISTS pinc_gate_fps")
  }

  test("incremental passage probe reads the corpus index with no corpus-side Exchange") {
    val docs = Tables.documents(spark, SparkTestSession.sfDir)
    val corpus = docs.filter($"doc_id" % 3 =!= 0)
    val delta = docs.filter($"doc_id" % 3 === 0)
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val idx = Passages.writePassageIndex(corpus, "text", "doc_id", "pinc_plan", windowTokens = 8)
      IndexFold.withProbePlan(Passages.passageFamily(delta, "text", "doc_id", idx)) { out =>
        val plan = out.queryExecution.executedPlan.toString
        assert(plan.contains("Bucketed: true"),
          s"index scan did not use the bucket layout:\n${plan.take(3000)}")
        assert(!plan.contains("Bucketed: false"),
          s"planner disabled the bucketed read (corpus side would shuffle):\n${plan.take(3000)}")
        assert(out.count() > 0)
      }
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      spark.sql("DROP TABLE IF EXISTS pinc_plan_fps")
    }
  }

  test("line dedup: hot lines removed in order, empty docs kept, within-doc repeats survive") {
    val df = Seq(
      Doc(1, "banner\nkeep one\nfooter"),
      Doc(2, "banner\nkeep two\nfooter"),
      Doc(3, "banner\nfooter"),       // nothing survives
      Doc(4, "only\nunique\nlines"),  // untouched, order preserved
      Doc(5, "echo\necho")            // repeats within ONE doc: not hot
    ).toDS.toDF
    val cat = Lines.duplicatedLines(df, "text", "doc_id", minDocs = 2)
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._2)
    // two hot lines (banner, footer), each in 3 docs once
    assert(cat.toSeq === Seq((3L, 3L), (3L, 3L)))
    def cleaned(hash64: Boolean): Map[Long, String] =
      Lines.dropDuplicatedLines(df, "text", "doc_id", minDocs = 2, hash64 = hash64)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = cleaned(hash64 = true)
    assert(got === Map(
      1L -> "keep one",
      2L -> "keep two",
      3L -> "",
      4L -> "only\nunique\nlines",
      5L -> "echo\necho"
    ))
    // production LONG keys == oracle md5 keys on the same input
    assert(cleaned(hash64 = false) === got)
    // untouched multi-line doc round-trips byte-identical
    assert(got(4L) === "only\nunique\nlines")
  }

  test("compiled nfcNormalize == java.text.Normalizer on edge strings; canonicalizeForDedup folds spellings") {
    val edge = Seq(
      "",
      "plain ascii",
      "Café",            // decomposed
      "Café",             // precomposed — same visible string
      "Ǻb",        // stacked combining marks
      "😀 emoji",    // surrogate pair
      "ẛ̣",          // NFC corner: long s with dot above + dot below
      "mixed Café and Café in one"
    )
    val df = edge.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val got = df
      .select($"doc_id", TextFunctions.nfcNormalize($"text").as("n"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    edge.zipWithIndex.foreach { case (t, i) =>
      val expected = java.text.Normalizer.normalize(t, java.text.Normalizer.Form.NFC)
      assert(got(i.toLong) === expected, s"input $i")
    }
    // the two spellings of café canonicalize to the SAME bytes — the
    // whole point of running this before exact dedup
    val canon = Seq((1L, "Café  DELUXE"), (2L, "CAFÉ\tdeluxe"))
      .toDF("doc_id", "text")
      .select(TextFunctions.canonicalizeForDedup($"text").as("c"))
      .collect().map(_.getString(0)).toSet
    assert(canon.size === 1, s"spellings did not fold: $canon")
    assert(canon.head === "café deluxe")
  }

  test("pairInvariants counts every violation class (the dNN_audit rows are not vacuously zero)") {
    val perDoc = Seq((1L, 10L), (2L, 12L), (3L, 10L)).toDF("_cid", "_fp")
    val pairs = Seq(
      (1L, 3L, 0L),  // clean: bit_count(10^10)=0
      (3L, 2L, 99L), // bad_order AND bad_measure (wrong + over threshold)
      (1L, 2L, 3L),  // bad_measure: bit_count(10^12)=2, emitted 3
      (1L, 9L, 0L),  // unknown id 9 (not counted as bad_measure: NULL pred)
      (1L, 3L, 0L),  // duplicate emission
      (2L, 2L, 0L)   // self pair (extraViolations) — also bad_order
    ).toDF("id_a", "id_b", "hamming")
    val r = Dedup
      .pairInvariants(
        pairs,
        perDoc,
        bit_count(col("fa._fp").bitwiseXOR(col("fb._fp"))) =!= col("hamming") ||
          col("hamming") > lit(10),
        extraViolations = Seq("self_pair" -> (col("id_a") === col("id_b"))))
      .collect()(0)
    assert(r.getAs[Long]("bad_order") === 2L)
    assert(r.getAs[Long]("unknown_ids") === 1L)
    assert(r.getAs[Long]("bad_measure") === 2L)
    assert(r.getAs[Long]("dup_pairs") === 1L)
    assert(r.getAs[Long]("has_pairs") === 1L)
    assert(r.getAs[Long]("self_pair") === 1L)
    // empty output: all zeros, has_pairs = 0 — the audit row proves
    // non-vacuity because the oracle expects has_pairs = 1
    val e = Dedup
      .pairInvariants(pairs.limit(0), perDoc, lit(false))
      .collect()(0)
    assert(e.getAs[Long]("has_pairs") === 0L)
    assert(e.getAs[Long]("bad_order") === 0L)
    assert(e.getAs[Long]("dup_pairs") === 0L)
  }

  test("paragraph-level dedup: inner newlines survive, hot paragraphs drop, incremental carries the delimiter") {
    val df = Seq(
      Doc(1, "hot para\nline two\n\nbody one"),
      Doc(2, "hot para\nline two\n\nbody two"),
      Doc(3, "hot para\nline two"),            // fully boilerplate
      Doc(4, "keep\nme\n\nintact")             // untouched, inner \n kept
    ).toDS.toDF
    val got = Lines
      .dropDuplicatedLines(df, "text", "doc_id", minDocs = 2, delimiter = "\n\n")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(
      1L -> "body one",
      2L -> "body two",
      3L -> "",
      4L -> "keep\nme\n\nintact"
    ))
    // doc 4's inner "\n" and "\n\n" structure came back byte-identical —
    // the lossless split/join round trip at paragraph granularity
    val idx = Lines.writeLineIndex(
      df.filter($"doc_id" <= 2), "text", "doc_id", "para_idx",
      buckets = 4, delimiter = "\n\n")
    try {
      assert(idx.delimiter === "\n\n")
      val delta = Seq(Doc(10, "hot para\nline two\n\nfresh body")).toDS.toDF
      val cleaned = Lines
        .dropDuplicatedLinesIncremental(delta, "text", "doc_id", idx)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(cleaned(10L) === "fresh body",
        "corpus-hot paragraph must drop from the delta at the index's delimiter")
    } finally spark.sql("DROP TABLE IF EXISTS para_idx_linefps")
  }

  test("topKAudit counts every violation class (the s07 audit row is not vacuously zero)") {
    val emb = Seq(
      (0L, Array(1f, 0f)),      // the query
      (1L, Array(0.9f, 0.4359f)), // cos ≈ 0.9 vs query
      (2L, Array(0.5f, 0.866f)),  // cos = 0.5
      (3L, Array(0f, 1f))         // cos = 0
    ).toDF("vec_id", "embedding")
    val good = Seq((1L, 1), (2L, 2), (3L, 3)).toDF("neighbor_id", "rank")
    val g = Similarity.topKAudit(good, emb, "embedding", "vec_id", 0L, 3).collect()(0)
    for (c <- Seq("missing_rows", "bad_ids", "bad_rank_set", "disorder", "above_best"))
      assert(g.getAs[Long](c) === 0L, c)
    // planted violations: a missing row (k=4, 3 returned), an unknown
    // neighbor, a rank gap, and a cosine increasing with rank.
    // above_best stays 0 BY CONSTRUCTION — a recomputed cosine of a real
    // corpus member can never exceed the corpus max — which is exactly
    // why it is a safe oracle invariant
    val bad = Seq((3L, 1), (1L, 3), (99L, 4)).toDF("neighbor_id", "rank")
    val b = Similarity.topKAudit(bad, emb, "embedding", "vec_id", 0L, 4).collect()(0)
    assert(b.getAs[Long]("missing_rows") === 1L)
    assert(b.getAs[Long]("bad_ids") === 1L)
    assert(b.getAs[Long]("bad_rank_set") === 1L)
    assert(b.getAs[Long]("disorder") === 1L)
    assert(b.getAs[Long]("above_best") === 0L)
  }

  test("adcTopKAudit counts every violation class (the s10/s11 audit rows are not vacuously zero)") {
    import graft.operators.Quantization
    val emb = Seq(
      (0L, Array(1f, 0f, 0f, 0f)), // the query
      (1L, Array(0.9f, 0.1f, 0f, 0f)),
      (2L, Array(0.5f, 0.8f, 0.1f, 0f)),
      (3L, Array(0f, 1f, 0.2f, 0f)),
      (4L, Array(0.2f, 0.3f, 0.9f, 0f))
    ).toDF("vec_id", "embedding")
    val cb = Quantization.pqTrain(emb, "embedding", "vec_id", m = 2, k = 4, iters = 2)
    val enc = Quantization.pqEncode(emb, "embedding", cb)
    val qv = Array(1.0, 0.0, 0.0, 0.0)
    val recompute =
      Quantization.adcScore(col("enc._pq"), Quantization.adcLut(qv, cb))
    def audit(res: org.apache.spark.sql.DataFrame, k: Int) =
      Quantization
        .adcTopKAudit(res, enc, recompute, emb, "embedding", "vec_id", 0L, k)
        .collect()(0)
    val good = Quantization
      .pqSearchEncoded(enc, "vec_id", qv, cb, k = 4, excludeId = Some(0L), emitScore = true)
    val g = audit(good, 4)
    for (c <- Seq("missing_rows", "bad_ids", "bad_rank_set",
        "adc_mismatch", "adc_disorder", "above_best"))
      assert(g.getAs[Long](c) === 0L, c)
    // planted violations, one frame per class so each count is exact
    // (a single mangled frame couples the counters — e.g. a perturbed
    // score can also flip the disorder check). above_best stays 0 BY
    // CONSTRUCTION: a real corpus member's exact cosine cannot exceed
    // the corpus max — which is exactly why it is a safe oracle
    // invariant.
    val rows = good.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
      .sortBy(_._2)
    assert(rows.length === 4, "fixture search returned fewer than k rows")
    def df(rs: Seq[(Long, Int, Double)]) = rs.toDF("neighbor_id", "rank", "adc")
    assert(audit(df(rows.dropRight(1)), 4).getAs[Long]("missing_rows") === 1L)
    val unknown = audit(df(rows.updated(0, (99L, rows(0)._2, rows(0)._3))), 4)
    assert(unknown.getAs[Long]("bad_ids") === 1L)
    // the unknown id's recompute is NULL through the left join → the
    // mismatch predicate is NULL, not true: bad_ids owns that failure
    assert(unknown.getAs[Long]("adc_mismatch") === 0L)
    assert(audit(df(rows.updated(1, rows(1).copy(_2 = rows(0)._2))), 4)
      .getAs[Long]("bad_rank_set") === 1L)
    assert(audit(df(rows.updated(3, rows(3).copy(_3 = rows(3)._3 + 0.5))), 4)
      .getAs[Long]("adc_mismatch") === 1L)
    // swap the first two SCORES only: rank 2 now carries a lower ADC
    // than rank 1 (one disorder), and both scores disagree with their
    // rows' recomputed values (two mismatches) — orthogonal counters
    val swapped = df(Seq(
      rows(0).copy(_3 = rows(1)._3), rows(1).copy(_3 = rows(0)._3),
      rows(2), rows(3)))
    val dis = audit(swapped, 4)
    assert(dis.getAs[Long]("adc_disorder") === 1L)
    assert(dis.getAs[Long]("adc_mismatch") === 2L)
    assert(g.getAs[Long]("above_best") === 0L)
  }

  test("compaction single-writer lock: appends fail fast under the sentinel; compact reclaims a dead compactor's lock") {
    import graft.operators.Quantization
    val emb = Tables.embeddings(spark, SparkTestSession.sfDir)
      .select($"vec_id", $"embedding")
    val corpus = emb.filter($"vec_id" % 3 =!= 0)
    val delta = emb.filter($"vec_id" % 3 === 0)

    // ---- IVF layout: ivfAppend + the semantic fold both guard
    val built = Similarity.ivfBuild(corpus, "embedding", "vec_id", nCentroids = 2)
    val dir = java.nio.file.Files.createTempDirectory("ivf_lock").toString
    Similarity.ivfWrite(built, dir)
    graft.CacheUtil.release(built.assigned)
    val lock = new java.io.File(s"$dir/lists_compact_lock")
    assert(lock.createNewFile(), "could not plant the sentinel")
    val e1 = intercept[IllegalStateException] {
      Similarity.ivfAppend(spark, delta, dir, "embedding", "vec_id")
    }
    assert(e1.getMessage.contains("compaction"))
    val e2 = intercept[IllegalStateException] {
      Similarity.semDedupPairsIncrementalFold(
        spark, delta, dir, "embedding", "vec_id", threshold = 0.9)
    }
    assert(e2.getMessage.contains("compaction"))
    // a dead compactor's sentinel: the next compact reclaims it (its
    // leftover recovery handles every crash state), finishes, and
    // removes it — appends work again
    Similarity.ivfCompact(spark, dir)
    assert(!lock.exists(), "compaction did not release the sentinel")
    Similarity.ivfAppend(spark, delta, dir, "embedding", "vec_id")

    // ---- IVF-PQ layout: same guard on the codes dir
    val pq = Quantization.ivfPqBuild(
      corpus, "embedding", "vec_id", nCentroids = 2, refineIters = 1,
      m = 2, k = 4, iters = 1)
    val dir2 = java.nio.file.Files.createTempDirectory("ivfpq_lock").toString
    Quantization.ivfPqWrite(pq, dir2)
    graft.CacheUtil.release(pq.encoded)
    val lock2 = new java.io.File(s"$dir2/codes_compact_lock")
    assert(lock2.createNewFile())
    val e3 = intercept[IllegalStateException] {
      Quantization.ivfPqAppend(spark, delta, dir2, "embedding", "vec_id")
    }
    assert(e3.getMessage.contains("compaction"))
    Quantization.ivfPqCompact(spark, dir2)
    assert(!lock2.exists())
    Quantization.ivfPqAppend(spark, delta, dir2, "embedding", "vec_id")
  }

  test("table-layout compaction lock: appends fail fast under the sentinel; compact reclaims a dead holder") {
    // the bucketed-catalog twin of the dir-layout guard: every
    // appendTo*Index / *IncrementalFold funnels through
    // writeBucketedTable(Append), which fails fast under the sentinel
    val corpus = Seq(Doc(1, "alpha"), Doc(2, "beta")).toDS.toDF
    val delta = Seq(Doc(10, "alpha"), Doc(11, "fresh")).toDS.toDF
    val idx = Dedup.writeExactDedupIndex(corpus, "text", "tbl_lock", buckets = 4)
    val lockPath = graft.operators.CompactLock.forTable(spark, idx.fpTable)
    val fs = lockPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      // plant a sentinel with a provably-dead pid (forked child that
      // already exited) — the append must fail fast on pure existence
      val deadPid = {
        val p = new ProcessBuilder("true").start()
        p.waitFor(); p.pid()
      }
      val out = fs.create(lockPath, false)
      out.write(s"compaction started test pid $deadPid\n".getBytes("UTF-8"))
      out.close()
      val e1 = intercept[IllegalStateException] {
        Dedup.appendToExactDedupIndex(delta, "text", idx)
      }
      assert(e1.getMessage.contains("compaction"))
      val e2 = intercept[IllegalStateException] {
        Dedup.exactDedupIncrementalFold(delta, "text", "doc_id", idx)
      }
      assert(e2.getMessage.contains("compaction"))
      // a minhash-family append is guarded by the same central check
      val mh = Dedup.writeMinHashIndex(
        corpus, "text", "doc_id", "tbl_lock_mh", numHashes = 8, bands = 4)
      val mhLock = graft.operators.CompactLock.forTable(spark, mh.bandTable)
      assert(fs.create(mhLock, false) != null)
      val e3 = intercept[IllegalStateException] {
        Dedup.appendToMinHashIndex(delta, "text", "doc_id", mh)
      }
      assert(e3.getMessage.contains("compaction"))
      fs.delete(mhLock, false)
      // dead-holder reclaim: compact takes over the sentinel, finishes,
      // releases — appends work again and the probe is unchanged
      Dedup.compactExactDedupIndex(spark, idx)
      assert(!fs.exists(lockPath), "compaction did not release the sentinel")
      Dedup.appendToExactDedupIndex(delta, "text", idx)
      val probed = Dedup.exactDedupIncremental(
        Seq(Doc(20, "fresh"), Doc(21, "novel")).toDS.toDF, "text", "doc_id", idx)
      val kept = probed.select("doc_id").collect().map(_.getLong(0)).toSet
      graft.CacheUtil.release(probed)
      assert(kept === Set(21L), "index content wrong after reclaim + append")
    } finally {
      fs.delete(lockPath, false)
      Seq(idx.fpTable, "tbl_lock_mh_bands", "tbl_lock_mh_shingles")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    }
  }

  test("compaction lock staleness: a LIVE foreign holder is never stolen; failure with canonical absent keeps the sentinel") {
    // ---- live foreign holder: acquire must refuse, not steal
    val emb = Tables.embeddings(spark, SparkTestSession.sfDir)
      .select($"vec_id", $"embedding")
    val corpus = emb.filter($"vec_id" % 3 =!= 0).limit(50)
    val built = Similarity.ivfBuild(corpus, "embedding", "vec_id", nCentroids = 2)
    val dir = java.nio.file.Files.createTempDirectory("ivf_live_lock").toString
    Similarity.ivfWrite(built, dir)
    graft.CacheUtil.release(built.assigned)
    val holder = new ProcessBuilder("sleep", "120").start()
    try {
      val lock = new java.io.File(s"$dir/lists_compact_lock")
      val w = new java.io.FileWriter(lock)
      w.write(s"compaction started test pid ${holder.pid()}\n"); w.close()
      val e = intercept[IllegalStateException] { Similarity.ivfCompact(spark, dir) }
      assert(e.getMessage.contains("live pid"), s"wrong refusal: ${e.getMessage}")
      assert(lock.exists(), "a live holder's sentinel was deleted")
      // holder dies -> reclaimable
      holder.destroyForcibly(); holder.waitFor()
      Similarity.ivfCompact(spark, dir)
      assert(!lock.exists(), "dead holder's sentinel not reclaimed+released")
    } finally { holder.destroyForcibly(); () }

    // ---- failure with canonical ABSENT leaves the sentinel behind
    // (mid-swap class: here the no-data throw inside the locked section)
    val empty = java.nio.file.Files.createTempDirectory("ivf_nodata").toString
    val e2 = intercept[IllegalStateException] {
      graft.operators.Similarity.ivfCompact(spark, s"$empty/idx")
    }
    assert(e2.getMessage.contains("no index data"))
    val leftover = new java.io.File(s"$empty/idx/lists_compact_lock")
    assert(leftover.exists(),
      "canonical-absent failure must KEEP the sentinel (appends stay blocked)")
    // and while it is held, appends fail fast even though the dir is gone
    intercept[IllegalStateException] {
      val lp = graft.operators.CompactLock.forDir(s"$empty/idx/lists")
      graft.operators.CompactLock.failIfHeld(
        lp.getFileSystem(spark.sparkContext.hadoopConfiguration), lp,
        s"$empty/idx/lists")
    }

    // ---- failure with canonical INTACT releases the sentinel (table
    // layout: a throwing transform fails before the swap)
    val t = Dedup.writeExactDedupIndex(
      Seq(Doc(1, "a")).toDS.toDF, "text", "lock_intact", buckets = 2)
    try {
      intercept[RuntimeException] {
        Dedup.compactBucketedIndexTable(
          spark, t.fpTable, 2, Seq("_fp"),
          transform = _ => throw new RuntimeException("boom"))
      }
      val tl = graft.operators.CompactLock.forTable(spark, t.fpTable)
      val tfs = tl.getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(!tfs.exists(tl),
        "canonical-intact failure must RELEASE the sentinel (appends are safe)")
      Dedup.appendToExactDedupIndex(Seq(Doc(2, "b")).toDS.toDF, "text", t)
    } finally spark.sql(s"DROP TABLE IF EXISTS `${t.fpTable}`")
  }

  test("compaction lock same-pid: a second thread of this JVM cannot reclaim a live lock; a finished attempt's leftover stays reclaimable") {
    import graft.operators.CompactLock
    // `holder pid == self` alone cannot distinguish "leftover from a
    // failed in-process attempt" (reclaimable) from "another THREAD of
    // this JVM is compacting right now" — stealing the latter's
    // sentinel would let two compactors race through the non-atomic
    // snapshot/rename swap. The JVM-local in-flight registry closes it.
    val dir = java.nio.file.Files.createTempDirectory("cl_samepid").toString
    val lock = CompactLock.forDir(s"$dir/idx")
    val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    CompactLock.acquire(fs, lock) // this thread's live compactor
    try {
      val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val t = new Thread(() =>
        try CompactLock.acquire(fs, lock)
        catch { case e: Throwable => err.set(e) })
      t.start(); t.join()
      assert(err.get() != null, "a second same-JVM acquire STOLE a live lock")
      assert(err.get().isInstanceOf[IllegalStateException], s"wrong error: ${err.get()}")
      assert(err.get().getMessage.contains("another thread of this JVM"),
        s"wrong refusal: ${err.get().getMessage}")
      assert(fs.exists(lock), "the live lock was removed by the refused acquire")
    } finally
      // the mid-swap failure shape: sentinel deliberately stays behind,
      // but the in-process critical section is over
      CompactLock.releaseIfCanonical(fs, lock, canonicalPresent = false)
    assert(fs.exists(lock), "canonical-absent release must keep the sentinel")
    // …and the next same-JVM attempt reclaims the leftover as before
    CompactLock.acquire(fs, lock)
    CompactLock.releaseIfCanonical(fs, lock, canonicalPresent = true)
    assert(!fs.exists(lock), "clean release must remove the sentinel")
  }

  test("compaction lock races: concurrent same-JVM acquires yield exactly one holder") {
    import graft.operators.CompactLock
    // the r15 advice window: between a winner's create-exclusive and its
    // in-flight registration, a loser's reclaim check could read the
    // still-empty sentinel as fail-open and steal a LIVE lock. acquire()
    // is now serialized per path on an interned monitor, so the pair is
    // atomic relative to siblings — hammer it: across repeated rounds of
    // simultaneous acquires, exactly ONE thread may ever win per round.
    val dir = java.nio.file.Files.createTempDirectory("cl_race").toString
    val lock = CompactLock.forDir(s"$dir/idx")
    val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    for (round <- 1 to 20) {
      val n = 8
      val gate = new java.util.concurrent.CountDownLatch(1)
      val wins = new java.util.concurrent.atomic.AtomicInteger(0)
      val unexpected = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val threads = (1 to n).map { _ =>
        new Thread(() => {
          gate.await()
          try { CompactLock.acquire(fs, lock); wins.incrementAndGet(); () }
          catch {
            case _: IllegalStateException => () // refused — the correct loss
            case e: Throwable => unexpected.set(e)
          }
        })
      }
      threads.foreach(_.start()); gate.countDown(); threads.foreach(_.join())
      assert(unexpected.get() == null, s"round $round: ${unexpected.get()}")
      assert(wins.get() === 1, s"round $round: ${wins.get()} concurrent winners")
      assert(fs.exists(lock), s"round $round: winner's sentinel missing")
      CompactLock.releaseIfCanonical(fs, lock, canonicalPresent = true)
      assert(!fs.exists(lock))
    }
  }

  test("compaction lock acquire: a transient IOException surfaces as itself, not as a reclaim race") {
    import graft.operators.CompactLock
    import org.apache.hadoop.fs.{FSDataOutputStream, FileSystem, Path}
    // every IOException used to be read as "sentinel present", sending a
    // permissions/network failure into the reclaim path where the rename
    // of the NONEXISTENT sentinel fails and the caller sees a misleading
    // "reclaimed by a concurrent compactor" instead of the real error
    val dir = java.nio.file.Files.createTempDirectory("cl_ioerr").toString
    val real = new Path(s"$dir/idx_compact_lock")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val failing = new org.apache.hadoop.fs.FilterFileSystem(real) {
      override def create(f: Path, overwrite: Boolean): FSDataOutputStream =
        throw new java.io.IOException("injected transient failure")
    }
    val lock = CompactLock.forDir(s"$dir/idx")
    val e = intercept[java.io.IOException] { CompactLock.acquire(failing, lock) }
    assert(e.getMessage === "injected transient failure",
      s"the real I/O failure was swallowed: ${e.getMessage}")
    assert(!real.exists(lock), "no sentinel may exist after a failed create")
    // …while a genuinely-present sentinel still routes into reclaim
    // (create-exclusive refusal + fs.exists confirms), even when the
    // filesystem reports it via a plain IOException
    val out = real.create(lock, false)
    out.write("unparsable pre-upgrade sentinel".getBytes("UTF-8")); out.close()
    val failing2 = new org.apache.hadoop.fs.FilterFileSystem(real) {
      override def create(f: Path, overwrite: Boolean): FSDataOutputStream =
        if (real.exists(f)) throw new java.io.IOException(s"File already exists: $f")
        else real.create(f, overwrite)
    }
    CompactLock.acquire(failing2, lock) // reclaims the unparsable leftover
    CompactLock.releaseIfCanonical(real, lock, canonicalPresent = true)
    assert(!real.exists(lock))
  }

  test("NULL-text semantics: line dedup preserves NULL; exact-dedup modes agree NULL is unseen") {
    // line dedup: a NULL-text doc produces no line rows, so it must come
    // back NULL (byte-identical), not coerced to '' like a doc whose
    // every line was boilerplate
    val df = Seq(
      Doc(1, "banner\nkeep\nbanner x"),
      Doc(2, "banner\nother\nbanner x"),
      Doc(3, null),
      Doc(4, "")
    ).toDS.toDF
    val cleaned = Lines.dropDuplicatedLines(df, "text", "doc_id", minDocs = 2)
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(cleaned(3L) === None)        // NULL preserved, not ''
    assert(cleaned(4L) === Some(""))    // genuinely-empty text unchanged
    assert(cleaned(1L) === Some("keep"))

    // exact incremental dedup: NULL fingerprints never match the index
    // (SQL join semantics) in EITHER hash mode — xxhash64(NULL) would
    // otherwise yield the seed and silently dedup NULLs in hash64 mode
    val corpus = Seq(Doc(1, null), Doc(2, "real")).toDS.toDF
    for (h64 <- Seq(true, false)) {
      val idx = Dedup.writeExactDedupIndex(corpus, "text", s"exnull_$h64", hash64 = h64)
      try {
        val delta = Seq(Doc(10, null), Doc(11, null), Doc(12, "real")).toDS.toDF
        val out = Dedup.exactDedupIncremental(delta, "text", "doc_id", idx)
        val got = out.select("doc_id").collect().map(_.getLong(0)).toSet
        graft.CacheUtil.release(out)
        // NULL texts are never duplicates of ANYTHING — not of the
        // indexed NULL, and not of each other even within one delta
        // (batch-invariant contract: the same two docs in one delta or
        // in two deltas give the same answer). "real" is dropped by
        // corpus precedence — identically in both modes
        assert(got === Set(10L, 11L), s"hash64=$h64")
        // batch-invariance leg: the same NULL docs split across two
        // deltas must give the same survivors
        val d1 = Seq(Doc(10, null)).toDS.toDF
        val d2 = Seq(Doc(11, null)).toDS.toDF
        val o1 = Dedup.exactDedupIncremental(d1, "text", "doc_id", idx)
        val s1 = o1.select("doc_id").collect().map(_.getLong(0)).toSet
        graft.CacheUtil.release(o1)
        Dedup.appendToExactDedupIndex(d1, "text", idx)
        val o2 = Dedup.exactDedupIncremental(d2, "text", "doc_id", idx)
        val s2 = o2.select("doc_id").collect().map(_.getLong(0)).toSet
        graft.CacheUtil.release(o2)
        assert((s1 ++ s2) === got, s"hash64=$h64 batching changed NULL survivors")
      } finally spark.sql(s"DROP TABLE IF EXISTS exnull_${h64}_exactfps")
    }

    // BATCH exactDedup honors the same contract (round-10 advice): with
    // ≥2 NULL-text docs, the window must NOT collapse them into one
    // keeper group, so batch-on-union == incremental restricted to delta
    // ids even on a NULL-bearing corpus
    val unionDf = Seq(
      Doc(1, null), Doc(2, "real"),               // corpus
      Doc(10, null), Doc(11, null), Doc(12, "real") // delta
    ).toDS.toDF
    val batchIds = Dedup.exactDedup(unionDf, "text", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(batchIds === Set(1L, 2L, 10L, 11L),
      "batch exactDedup must keep every NULL-text doc and min-id per real text")
  }

  test("incremental exact dedup: corpus precedence, within-delta keep-min, appends fold in") {
    val corpus = Seq(
      Doc(1, "seen before"),
      Doc(2, "also seen")
    ).toDS.toDF
    val idx = Dedup.writeExactDedupIndex(corpus, "text", "exinc_gate")
    try {
      val delta = Seq(
        Doc(10, "seen before"),  // dropped: corpus precedence
        Doc(11, "new text"),     // kept (min of its delta group)
        Doc(12, "new text"),     // dropped: within-delta keep-min
        Doc(13, "unique fresh")  // kept
      ).toDS.toDF
      def ids(df: org.apache.spark.sql.DataFrame) = {
        val out = df.select("doc_id").collect().map(_.getLong(0)).toSet
        graft.CacheUtil.release(df)
        out
      }
      val got = ids(Dedup.exactDedupIncremental(delta, "text", "doc_id", idx))
      assert(got === Set(11L, 13L))
      // parity with batch exactDedup on the union, restricted to delta
      // ids (ids are monotone: corpus < delta, so first-seen == min-id)
      val batch = ids(Dedup.exactDedup(corpus.unionByName(delta), "text", "doc_id"))
        .filter(_ >= 10L)
      assert(got === batch)
      // append: the next delta sees delta1's fingerprints
      Dedup.appendToExactDedupIndex(delta, "text", idx)
      val delta2 = Seq(Doc(20, "new text"), Doc(21, "never seen")).toDS.toDF
      assert(ids(Dedup.exactDedupIncremental(delta2, "text", "doc_id", idx)) === Set(21L))
    } finally spark.sql("DROP TABLE IF EXISTS exinc_gate_exactfps")
  }

  test("incremental exact dedup reads the index with no corpus-side Exchange") {
    val docs = Tables.documents(spark, SparkTestSession.sfDir)
    val corpus = docs.filter($"doc_id" % 3 =!= 0)
    // echo corpus texts under new ids so drops are guaranteed
    val delta = docs.filter($"doc_id" % 3 === 0)
      .unionByName(corpus.limit(50).select(($"doc_id" + 600000L).as("doc_id"),
        $"text", $"lang", $"source", $"n_chars"))
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val idx = Dedup.writeExactDedupIndex(corpus, "text", "exinc_plan", buckets = 8)
      // the public probe pins its membership probe (hiding the index
      // scan): gate the plan of the anti join the family pins
      val plan = Dedup.exactUnseen(delta.withColumn("_fp", Dedup.exactFp("text", idx.hash64)), idx)
        .queryExecution.executedPlan.toString
      val out = Dedup.exactDedupIncremental(delta, "text", "doc_id", idx)
      assert(plan.contains("Bucketed: true"),
        s"index scan did not use the bucket layout:\n${plan.take(3000)}")
      assert(!plan.contains("Bucketed: false"),
        s"planner disabled the bucketed read:\n${plan.take(3000)}")
      val n = out.count()
      val nDelta = delta.count()
      assert(n > 0 && n === nDelta - 50, "exactly the 50 echoed docs must drop")
      graft.CacheUtil.release(out)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      spark.sql("DROP TABLE IF EXISTS exinc_plan_exactfps")
    }
  }

  test("incremental line cleaning against a persisted catalogue == batch on union (gate)") {
    val corpus = Seq(
      Doc(1, "banner\nalpha\nfooter"),
      Doc(2, "banner\nbeta\nfooter"),
      Doc(3, "rare line\nunique three")
    ).toDS.toDF
    val delta = Seq(
      Doc(10, "banner\ngamma"),          // hot in corpus alone
      Doc(11, "rare line\ndelta text"),  // hot only via union (1 + 1 ≥ 2)
      Doc(12, "wholly original\ncontent")
    ).toDS.toDF
    val idx = Lines.writeLineIndex(corpus, "text", "doc_id", "linc_gate")
    try {
      def m(df: org.apache.spark.sql.DataFrame): Map[Long, String] =
        df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val incr = m(Lines.dropDuplicatedLinesIncremental(delta, "text", "doc_id", idx))
      val batchUnion = m(Lines.dropDuplicatedLines(corpus.unionByName(delta), "text", "doc_id"))
        .filter { case (id, _) => id >= 10 }
      assert(incr === batchUnion)
      assert(incr(10L) === "gamma")
      assert(incr(11L) === "delta text", "union-threshold line must be removed")
      assert(incr(12L) === "wholly original\ncontent")
    } finally spark.sql("DROP TABLE IF EXISTS linc_gate_linefps")
  }

  test("appendToLineIndex folds a delta in: the next delta cleans against it") {
    val corpus = Seq(Doc(1, "nothing shared here\nat all")).toDS.toDF
    val idx = Lines.writeLineIndex(corpus, "text", "doc_id", "linc_app")
    try {
      val delta1 = Seq(Doc(10, "future boilerplate\nsome body")).toDS.toDF
      val c1 = Lines.dropDuplicatedLinesIncremental(delta1, "text", "doc_id", idx)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(c1(10L) === "future boilerplate\nsome body", "nothing hot yet")
      Lines.appendToLineIndex(delta1, "text", "doc_id", idx)
      val delta2 = Seq(Doc(20, "future boilerplate\nother body")).toDS.toDF
      val c2 = Lines.dropDuplicatedLinesIncremental(delta2, "text", "doc_id", idx)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(c2(20L) === "other body", "line appended by delta1 must now be hot")
    } finally spark.sql("DROP TABLE IF EXISTS linc_app_linefps")
  }

  test("index compaction: merged rows, fewer files, identical probes, bucket layout kept") {
    val corpus = Seq(Doc(1, "common line\none"), Doc(2, "common line\ntwo")).toDS.toDF
    val idx = Lines.writeLineIndex(corpus, "text", "doc_id", "cmp_line", buckets = 4)
    try {
      // two appends re-contribute the same hot line → 3 rows for its fp
      Lines.appendToLineIndex(Seq(Doc(10, "common line\nten")).toDS.toDF, "text", "doc_id", idx)
      Lines.appendToLineIndex(Seq(Doc(11, "common line\neleven")).toDS.toDF, "text", "doc_id", idx)
      def tableDir = new java.io.File(
        spark.sql(s"DESCRIBE TABLE EXTENDED ${idx.fpTable}")
          .filter($"col_name" === "Location").head().getString(1).stripPrefix("file:"))
      def nFiles = tableDir.listFiles().count(_.getName.startsWith("part-"))
      def probe() =
        Lines.dropDuplicatedLinesIncremental(
          Seq(Doc(20, "common line\nfresh content")).toDS.toDF, "text", "doc_id", idx)
          .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val rowsBefore = spark.table(idx.fpTable).count()
      val filesBefore = nFiles
      val before = probe()
      assert(before(20L) === "fresh content")
      Lines.compactLineIndex(spark, idx)
      assert(probe() === before, "compaction changed probe results")
      assert(spark.table(idx.fpTable).count() < rowsBefore, "count rows did not merge")
      assert(nFiles < filesBefore, s"file count did not shrink ($filesBefore -> $nFiles)")
      // the swapped-in table must still serve the zero-Exchange probe
      val plan = IndexFold.withProbePlan(Lines.lineFamily(
        Seq(Doc(21, "common line\nx")).toDS.toDF, "text", "doc_id", idx))(
        _.queryExecution.executedPlan.toString)
      assert(plan.contains("Bucketed: true") && !plan.contains("Bucketed: false"),
        s"compacted table lost its bucket layout:\n${plan.take(2000)}")
    } finally spark.sql("DROP TABLE IF EXISTS cmp_line_linefps")

    // exact index: appends re-adding seen fingerprints dedup away
    val exIdx = Dedup.writeExactDedupIndex(
      Seq(Doc(1, "alpha"), Doc(2, "beta")).toDS.toDF, "text", "cmp_exact", buckets = 4)
    try {
      Dedup.appendToExactDedupIndex(Seq(Doc(10, "alpha"), Doc(11, "gamma")).toDS.toDF, "text", exIdx)
      assert(spark.table(exIdx.fpTable).count() === 4L) // alpha twice
      Dedup.compactExactDedupIndex(spark, exIdx)
      assert(spark.table(exIdx.fpTable).count() === 3L)
      val keptDf = Dedup.exactDedupIncremental(
        Seq(Doc(20, "alpha"), Doc(21, "gamma"), Doc(22, "delta")).toDS.toDF,
        "text", "doc_id", exIdx)
      assert(keptDf.select("doc_id").collect().map(_.getLong(0)).toSet === Set(22L))
      graft.CacheUtil.release(keptDf)
    } finally spark.sql("DROP TABLE IF EXISTS cmp_exact_exactfps")
  }

  test("compaction wrappers: minhash / vector-LSH / passage indexes keep probes identical, shrink files, keep bucket layout") {
    def tableFiles(table: String): Int = {
      val dir = new java.io.File(
        spark.sql(s"DESCRIBE TABLE EXTENDED $table")
          .filter($"col_name" === "Location").head().getString(1).stripPrefix("file:"))
      dir.listFiles().count(_.getName.startsWith("part-"))
    }
    def checkCompaction[A](
        tables: Seq[String],
        probe: () => A,
        compact: () => Unit,
        planOfProbe: () => String
    ): Unit = {
      val before = probe()
      val filesBefore = tables.map(tableFiles).sum
      compact()
      assert(probe() === before, s"compaction changed probe results for ${tables.head}")
      val filesAfter = tables.map(tableFiles).sum
      assert(filesAfter < filesBefore,
        s"${tables.head}: file count did not shrink ($filesBefore -> $filesAfter)")
      val plan = planOfProbe()
      assert(plan.contains("Bucketed: true") && !plan.contains("Bucketed: false"),
        s"${tables.head}: compacted table lost its bucket layout:\n${plan.take(2000)}")
    }
    val docs = Tables.documents(spark, SparkTestSession.sfDir).select($"doc_id", $"text")
    val corpus = docs.filter($"doc_id" % 3 =!= 0)
    def echo(base: Long) =
      corpus.limit(20).select(($"doc_id" + base).as("doc_id"), $"text")

    // tiny test tables would otherwise broadcast and let the planner
    // bypass the bucketed scan, vacuating the layout gate
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {

    // ---- minhash (two catalog tables)
    val mhIdx = Dedup.writeMinHashIndex(corpus, "text", "doc_id", "cmp_mh", buckets = 4)
    try {
      Dedup.appendToMinHashIndex(echo(500000L), "text", "doc_id", mhIdx)
      Dedup.appendToMinHashIndex(echo(600000L), "text", "doc_id", mhIdx)
      def mhProbe() = {
        val out = Dedup.minHashNearDupsIncremental(
          echo(700000L), "text", "doc_id", 0.9, mhIdx)
        val got = out.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        graft.CacheUtil.release(out)
        got
      }
      assert(mhProbe().nonEmpty, "echoed delta produced no minhash pairs — gate vacuous")
      checkCompaction(
        Seq(mhIdx.bandTable, mhIdx.shingleTable),
        () => mhProbe(),
        () => Dedup.compactMinHashIndex(spark, mhIdx),
        () => {
          // the public probe is materialized — gate the LAZY plan
          IndexFold.withProbePlan(Dedup.minHashFamily(echo(710000L), "text", "doc_id", 0.0, mhIdx))(
            _.queryExecution.executedPlan.toString)
        }
      )
    } finally Seq("cmp_mh_bands", "cmp_mh_shingles")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

    // ---- vector-LSH (two catalog tables)
    val emb = Tables.embeddings(spark, SparkTestSession.sfDir).select($"vec_id", $"embedding")
    val vCorpus = emb.filter($"vec_id" % 3 =!= 0)
    def vEcho(base: Long) =
      vCorpus.limit(20).select(($"vec_id" + base).as("vec_id"), $"embedding")
    val lshIdx = Similarity.writeLshIndex(
      vCorpus, "embedding", "vec_id", "cmp_lsh", nPlanes = 3, nTables = 8, buckets = 4)
    try {
      Similarity.appendToLshIndex(vEcho(500000L), "embedding", "vec_id", lshIdx)
      Similarity.appendToLshIndex(vEcho(600000L), "embedding", "vec_id", lshIdx)
      def lshProbe() = {
        val out = Similarity.lshNearDupsIncremental(
          vEcho(700000L), "embedding", "vec_id", 0.9, lshIdx)
        val got = out.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        graft.CacheUtil.release(out)
        got
      }
      assert(lshProbe().nonEmpty, "echoed vectors produced no LSH pairs — gate vacuous")
      checkCompaction(
        Seq(lshIdx.bandTable, lshIdx.vecTable),
        () => lshProbe(),
        () => Similarity.compactLshIndex(spark, lshIdx),
        () => {
          IndexFold.withProbePlan(Similarity.lshFamily(vEcho(710000L), "embedding", "vec_id", 0.9, lshIdx))(
            _.queryExecution.executedPlan.toString)
        }
      )
    } finally Seq("cmp_lsh_bands", "cmp_lsh_vecs")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

    // ---- combination-keyed simhash (one catalog table) — the eighth
    // family's wrapper (round-9 verdict #3)
    val cbIdx = Dedup.writeSimHashComboIndex(
      corpus, "text", "doc_id", "cmp_cb", maxHamming = 3, blocks = 6, buckets = 4)
    try {
      Dedup.appendToSimHashIndex(echo(500000L), "text", "doc_id", cbIdx)
      Dedup.appendToSimHashIndex(echo(600000L), "text", "doc_id", cbIdx)
      def cbProbe() = {
        val out = Dedup.simHashNearDupsIncremental(
          echo(700000L), "text", "doc_id", cbIdx)
        val got = out.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        graft.CacheUtil.release(out)
        got
      }
      assert(cbProbe().nonEmpty, "echoed delta produced no combo pairs — gate vacuous")
      checkCompaction(
        Seq(cbIdx.chunkTable),
        () => cbProbe(),
        () => Dedup.compactSimHashIndex(spark, cbIdx),
        () => {
          IndexFold.withProbePlan(Dedup.simHashFamily(echo(710000L), "text", "doc_id", cbIdx))(
            _.queryExecution.executedPlan.toString)
        }
      )
    } finally spark.sql("DROP TABLE IF EXISTS cmp_cb_combo")

    // ---- passages (one catalog table)
    val pIdx = Passages.writePassageIndex(
      corpus, "text", "doc_id", "cmp_pass", windowTokens = 8, buckets = 4)
    try {
      Passages.appendToPassageIndex(echo(500000L), "text", "doc_id", pIdx)
      Passages.appendToPassageIndex(echo(600000L), "text", "doc_id", pIdx)
      def pProbe() = {
        val out = Passages.passageDupFractionIncremental(
          echo(700000L), "text", "doc_id", pIdx)
        val got = out.collect()
          .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
        graft.CacheUtil.release(out)
        got
      }
      assert(pProbe().values.exists(_._2 > 0), "echoed delta had no dup windows — gate vacuous")
      checkCompaction(
        Seq(pIdx.fpTable),
        () => pProbe(),
        () => Passages.compactPassageIndex(spark, pIdx),
        () => {
          IndexFold.withProbePlan(Passages.passageFamily(echo(710000L), "text", "doc_id", pIdx))(
            _.queryExecution.executedPlan.toString)
        }
      )
    } finally spark.sql("DROP TABLE IF EXISTS cmp_pass_fps")

    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
  }

  test("compaction crash recovery: stale tmp/old leftovers and a mid-swap crash both self-heal") {
    val mk = () => Seq(Doc(1, "alpha"), Doc(2, "beta")).toDS.toDF
    def probe(idx: Dedup.ExactDedupIndex): Set[Long] = {
      val out = Dedup.exactDedupIncremental(
        Seq(Doc(20, "alpha"), Doc(21, "fresh")).toDS.toDF, "text", "doc_id", idx)
      val got = out.select("doc_id").collect().map(_.getLong(0)).toSet
      graft.CacheUtil.release(out)
      got
    }
    val idx = Dedup.writeExactDedupIndex(mk(), "text", "cmp_crash", buckets = 4)
    val t = idx.fpTable
    try {
      val expected = probe(idx)
      assert(expected === Set(21L))
      // state A: a previous attempt crashed after writing tmp (and after
      // a retry of a still-earlier attempt left old) — canonical intact
      spark.sql(s"CREATE TABLE ${t}_compact_tmp AS SELECT * FROM $t LIMIT 0")
      spark.sql(s"CREATE TABLE ${t}_compact_old AS SELECT * FROM $t LIMIT 0")
      Dedup.compactExactDedupIndex(spark, idx)
      assert(probe(idx) === expected, "compaction after stale leftovers changed the probe")
      assert(!spark.catalog.tableExists(s"${t}_compact_tmp"))
      assert(!spark.catalog.tableExists(s"${t}_compact_old"))
      // state B: crash BETWEEN the two renames — canonical absent, data
      // lives under old, the new table under tmp; the retry must restore
      // old as canonical, drop tmp, and complete
      spark.sql(s"CREATE TABLE ${t}_compact_tmp AS SELECT * FROM $t")
      spark.sql(s"ALTER TABLE $t RENAME TO ${t}_compact_old")
      assert(!spark.catalog.tableExists(t))
      Dedup.compactExactDedupIndex(spark, idx)
      assert(spark.catalog.tableExists(t), "canonical table not restored")
      assert(probe(idx) === expected, "mid-swap recovery changed the probe")
      assert(!spark.catalog.tableExists(s"${t}_compact_tmp"))
      assert(!spark.catalog.tableExists(s"${t}_compact_old"))
    } finally Seq(t, s"${t}_compact_tmp", s"${t}_compact_old")
      .foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
  }

  test("incremental line cleaning reads the catalogue with no corpus-side Exchange") {
    val base = Tables.documents(spark, SparkTestSession.sfDir).select($"doc_id", $"text")
    val corpus = base.filter($"doc_id" % 3 =!= 0)
    // fixture docs are unique single-liners: make the delta echo corpus
    // texts so the probe is non-vacuous
    val delta = corpus.limit(50)
      .select(($"doc_id" + 500000L).as("doc_id"), $"text")
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val idx = Lines.writeLineIndex(corpus, "text", "doc_id", "linc_plan", buckets = 8)
      // the public probe is materialized — gate the family's lazy
      // emission plan
      IndexFold.withProbePlan(Lines.lineFamily(delta, "text", "doc_id", idx)) { out =>
        val plan = out.queryExecution.executedPlan.toString
        assert(plan.contains("Bucketed: true"),
          s"catalogue scan did not use the bucket layout:\n${plan.take(3000)}")
        assert(!plan.contains("Bucketed: false"),
          s"planner disabled the bucketed read (corpus side would shuffle):\n${plan.take(3000)}")
        val cleaned = out.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
        assert(cleaned.nonEmpty && cleaned.values.forall(_ === ""),
          "every echoed doc must be fully cleaned — plan gate would be vacuous otherwise")
      }
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      spark.sql("DROP TABLE IF EXISTS linc_plan_linefps")
    }
  }

  test("passage dedup: xxhash64 production keys == md5 oracle keys") {
    val docs = Tables.documents(spark, SparkTestSession.sfDir)
    def profile(hash64: Boolean) = {
      val df = Passages
        .passageDupFraction(docs, "text", "doc_id", windowTokens = 8, hash64 = hash64)
      val out = df
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
        .toMap
      graft.CacheUtil.release(df)
      out
    }
    val viaMd5 = profile(hash64 = false)
    assert(viaMd5.values.exists(_._2 > 0), "no dup windows on fixture — vacuous")
    assert(profile(hash64 = true) === viaMd5)
  }

  test("semDedupPairs with one cluster == brute cosine pairs (s06 kernel gate)") {
    // nClusters=1 puts everything in one cluster: the within-cluster
    // verify must reproduce the brute pair set exactly (threshold 0.3
    // has a 7e-5 margin on the fixture, so > vs >= cannot differ)
    val emb = Tables.embeddings(spark, SparkTestSession.sfDir)
    val brute = Dedup
      .embeddingNearDupsBrute(emb, "embedding", "vec_id", threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty, "fixture produced no cosine pairs — gate is vacuous")
    val one = Similarity
      .semDedupPairs(emb, "embedding", "vec_id", nClusters = 1, threshold = 0.3)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(one === brute)
  }

  test("semDedup finds planted twins across clusters and keeps the originals") {
    // twins: each vector scaled and nudged on every 7th axis — cosine to
    // its original ~0.999, far above any natural fixture pair (≤ ~0.5)
    val emb = Tables.embeddings(spark, SparkTestSession.sfDir)
    val twins = emb.select(
      ($"vec_id" + 100000L).as("vec_id"),
      transform($"embedding", (x, i) =>
        x * lit(1.001f) + when(i % 7 === 0, lit(0.01f)).otherwise(lit(0.0f))
      ).as("embedding")
    )
    val planted = emb.select($"vec_id", $"embedding").unionByName(twins)
    val n = emb.count()
    val pairs = Similarity
      .semDedupPairs(planted, "embedding", "vec_id", nClusters = 8, threshold = 0.9)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // precision: nothing but twin pairs can clear 0.9
    assert(pairs.forall { case (a, b) => b === a + 100000L }, s"non-twin pair above 0.9")
    // recall floor: a twin is only missed if the nudge pushes it across
    // a cluster boundary — rare for near-colinear pairs
    assert(pairs.length >= (n * 0.9).toInt, s"found ${pairs.length} of $n planted pairs")
    // retention: with one cluster the twin graph is fully found — every
    // original survives, every twin is dropped
    val kept = Similarity
      .semDedup(planted, "embedding", "vec_id", nClusters = 1, threshold = 0.9)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept === emb.collect().map(_.getLong(0)).toSet)
  }

  test("ngram LM: hand-computed add-k bigram logprobs, unseen fallbacks, short docs") {
    val train = Seq(Doc(1, "a b a"), Doc(2, "a b")).toDS.toDF
    // uni: a→3, b→2 (V=2); bi: (a,b)→2, (b,a)→1; k=0.1
    val model = NgramLM.train(train, "text", addK = 0.1)
    assert(model.vocabSize === 2L)
    val score = Seq(
      Doc(1, "a b a"), // ln(2.1/3.2), ln(1.1/2.2)
      Doc(3, "a c"),   // seen w1, unseen bigram: ln(0.1/3.2)
      Doc(4, "x y"),   // unseen w1: ln(0.1/0.2)
      Doc(5, "solo")   // 1 token → no bigrams → omitted
    ).toDS.toDF
    val got = NgramLM
      .scoreLogProb(score, "text", "doc_id", model)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    // Spark's round() works on the shortest-decimal repr (BigDecimal.valueOf)
    def r4(x: Double) =
      BigDecimal.valueOf(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.keySet === Set(1L, 3L, 4L))
    assert(got(1L) === ((2L, r4((math.log(2.1 / 3.2) + math.log(1.1 / 2.2)) / 2))))
    assert(got(3L) === ((1L, r4(math.log(0.1 / 3.2)))))
    assert(got(4L) === ((1L, r4(math.log(0.1 / 0.2)))))
  }

  test("ngram LM model round-trips through parquet; scores are identical") {
    val docs = Tables.documents(spark, SparkTestSession.sfDir)
    val model = NgramLM.train(docs, "text")
    val dir = java.nio.file.Files.createTempDirectory("lm_rt").toString
    NgramLM.saveModel(model, dir)
    val loaded = NgramLM.loadModel(spark, dir)
    assert(loaded.vocabSize === model.vocabSize && loaded.addK === model.addK)
    def scores(m: NgramLM.Model) = NgramLM
      .scoreLogProb(docs, "text", "doc_id", m)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    assert(scores(loaded) === scores(model))
  }

  test("semDedup pairs from a disk-round-tripped IVF index == direct pairs") {
    val emb = Tables.embeddings(spark, SparkTestSession.sfDir)
    val index = Similarity.ivfBuild(emb, "embedding", "vec_id", nCentroids = 4)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val direct = pairs(Similarity.semDedupPairsFromIndex(index, threshold = 0.3))
    assert(direct.nonEmpty)
    val dir = java.nio.file.Files.createTempDirectory("sem_rt").toString
    Similarity.ivfWrite(index, dir)
    val reread = Similarity.ivfRead(spark, dir, "embedding", "vec_id")
    assert(pairs(Similarity.semDedupPairsFromIndex(reread, threshold = 0.3)) === direct)
  }

  test("semDedup incremental: delta probe == capped batch on the union (frozen centroids), over-cap gated") {
    import org.apache.spark.sql.DataFrame
    def pairSet(df: DataFrame) = {
      val s = df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      graft.CacheUtil.release(df)
      s
    }
    // ---- fixture leg: real embeddings, cap not binding — emission must
    // equal ALL delta-touching within-cluster pairs of the union under
    // the corpus-trained (frozen) centroids
    val emb = Tables.embeddings(spark, SparkTestSession.sfDir)
    val corpus = emb.filter($"vec_id" % 3 =!= 0)
    val delta = emb.filter($"vec_id" % 3 === 0)
    val built = Similarity.ivfBuild(corpus, "embedding", "vec_id", nCentroids = 4)
    val inc = pairSet(Similarity.semDedupPairsIncremental(delta, built, threshold = 0.3))
    val unionIdx = Similarity.IvfIndex(
      Similarity.ivfAssign(emb, "embedding", built.centroids),
      built.centroids, "embedding", "vec_id")
    val batch = pairSet(Similarity.semDedupPairsFromIndex(unionIdx, threshold = 0.3))
      .filter { case (a, b) => a % 3 == 0 || b % 3 == 0 }
    assert(inc === batch, "semDedup incremental != batch delta-touching pairs")
    assert(inc.nonEmpty, "semDedup incremental gate emitted no pairs — vacuous")
    graft.CacheUtil.release(built.assigned)

    // ---- over-cap leg: ONE cluster, monotone ids (corpus 1-5 precede
    // delta 10-12), near-identical vectors so every pair verifies
    def vecs(ids: Seq[Long]) = ids.map(i =>
      (i, Array(1.0f, 0.01f * i, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val storedIds = (1L to 5L)
    val deltaIds = Seq(10L, 11L, 12L)
    // the monotone-id precondition the cap contract depends on (see
    // semDedupPairsIncrementalFold scaladoc): every delta id must
    // exceed every stored id of a touched cluster — here there is one
    // cluster, so the global comparison IS the per-cluster one. A
    // fixture edit that interleaves ids would silently test a
    // different (unsupported) regime; fail loudly instead.
    assert(deltaIds.min > storedIds.max,
      "over-cap fixture violates the monotone-id contract the cap admission requires")
    val oc = Similarity.ivfBuild(vecs(storedIds), "embedding", "vec_id", nCentroids = 1)
    val od = vecs(deltaIds)
    // cap 5: all slots taken by stored ids 1-5 → nothing admitted
    assert(pairSet(Similarity.semDedupPairsIncremental(od, oc, 0.9, maxCluster = 5)).isEmpty,
      "saturated cluster admitted delta members")
    // cap 7: ids 10, 11 admitted into the two free slots; 12 capped out.
    // capped-batch members = {1..5, 10, 11} → delta-touching pairs =
    // (1..5 × 10, 11) + (10, 11)
    val got = pairSet(Similarity.semDedupPairsIncremental(od, oc, 0.9, maxCluster = 7))
    val want = ((1L to 5L).flatMap(c => Seq((c, 10L), (c, 11L))) :+ ((10L, 11L))).toSet
    assert(got === want, s"over-cap admission diverged: got $got")
    graft.CacheUtil.release(oc.assigned)
  }

  test("ivfAppend / ivfPqAppend: frozen-quantizer appends == union under the same quantizers") {
    // the ANN twin of the dedup-family ingest contract: the coarse
    // quantizer (and PQ codebooks) are trained once and FROZEN; appends
    // assign/encode new vectors against the stored quantizers, and a
    // probe after the append must equal a probe over the union
    // assigned/encoded with those same quantizers
    import graft.operators.Quantization
    val emb = Tables.embeddings(spark, SparkTestSession.sfDir)
    val corpus = emb.filter($"vec_id" % 3 =!= 0)
    val delta = emb.filter($"vec_id" % 3 === 0)
    val qv = emb.filter($"vec_id" === 1L)
      .select($"embedding".cast("array<double>")).head().getSeq[Double](0).toArray

    // ---- IVF
    val built = Similarity.ivfBuild(corpus, "embedding", "vec_id", nCentroids = 4)
    val dir = java.nio.file.Files.createTempDirectory("ivf_append").toString
    Similarity.ivfWrite(built, dir)
    Similarity.ivfAppend(spark, delta, dir, "embedding", "vec_id")
    val appended = Similarity.ivfRead(spark, dir, "embedding", "vec_id")
    assert(appended.assigned.count() === emb.count(), "append lost or duplicated rows")
    // delta rows landed in the lists the frozen centroids dictate
    val gotAssign = appended.assigned.filter($"vec_id" % 3 === 0)
      .select($"vec_id", $"_centroid").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val wantAssign = Similarity.ivfAssign(delta, "embedding", built.centroids)
      .select($"vec_id", $"_centroid").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(gotAssign === wantAssign, "appended list assignment diverged from frozen centroids")
    def topIvf(ix: Similarity.IvfIndex) = {
      val df = Similarity.ivfProbe(ix, qv, k = 5, nProbe = 2, excludeId = Some(1L))
      val s = df.collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
      graft.CacheUtil.release(df)
      s
    }
    val refIvf = Similarity.IvfIndex(
      Similarity.ivfAssign(emb, "embedding", built.centroids),
      built.centroids, "embedding", "vec_id")
    assert(topIvf(appended) === topIvf(refIvf), "IVF probe diverged after append")

    // ---- IVF-PQ
    val pq = Quantization.ivfPqBuild(
      corpus, "embedding", "vec_id", nCentroids = 4, refineIters = 1, m = 16, k = 16, iters = 1)
    val dir2 = java.nio.file.Files.createTempDirectory("ivfpq_append").toString
    Quantization.ivfPqWrite(pq, dir2)
    Quantization.ivfPqAppend(spark, delta, dir2, "embedding", "vec_id")
    val loaded = Quantization.ivfPqRead(spark, dir2, "vec_id")
    assert(loaded.encoded.count() === emb.count(), "PQ append lost or duplicated rows")
    // reference: the union encoded with the SAME frozen coarse + codebooks
    val coarseLit = array(pq.coarse.map(cv => array(cv.map(lit): _*)): _*)
    val withRes = Similarity.ivfAssign(emb, "embedding", pq.coarse)
      .withColumn("_res", graft.functions.VectorFunctions
        .vecSub($"embedding", element_at(coarseLit, $"_centroid" + 1)))
      .select($"vec_id", $"_centroid", $"_res")
    val refPq = Quantization.IvfPqIndex(
      Quantization.pqEncode(withRes, "_res", pq.cb)
        .select($"vec_id", $"_centroid", $"_pq"),
      pq.coarse, pq.cb, "vec_id")
    def topPq(ix: Quantization.IvfPqIndex) = {
      val df = Quantization.ivfPqSearch(ix, qv, 5, nProbe = 2, excludeId = Some(1L))
      val s = df.collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
      graft.CacheUtil.release(df)
      s
    }
    assert(topPq(loaded) === topPq(refPq), "IVF-PQ search diverged after append")
    graft.CacheUtil.release(built.assigned)
    graft.CacheUtil.release(pq.encoded)
  }

  test("semDedup fold probe-then-append == separate probe + ivfAppend") {
    // the semantic member of the fold family: same contract as the other
    // eight — equal per-batch emissions, and a third delta probes the
    // post-append index identically. Echo twins of three base vectors at
    // two id offsets with opposite parities, so every batch carries
    // near-dup mass against the stored lists AND against the other
    // batch's appended rows.
    val emb = Tables.embeddings(spark, SparkTestSession.sfDir)
      .select($"vec_id", $"embedding")
    val base3 = emb.filter($"vec_id" < 3)
    def echo(offset: Long) =
      base3.select(($"vec_id" + offset).as("vec_id"), $"embedding")
    val deltas = echo(1000001L).unionByName(echo(1000010L))
    val chunks = (0 to 1).map(k => deltas.filter($"vec_id" % 2 === k).localCheckpoint(true))
    val built = Similarity.ivfBuild(emb, "embedding", "vec_id", nCentroids = 4)
    val dirSep = java.nio.file.Files.createTempDirectory("semfold_sep").toString
    val dirFold = java.nio.file.Files.createTempDirectory("semfold_fold").toString
    Similarity.ivfWrite(built, dirSep)
    Similarity.ivfWrite(built, dirFold)
    graft.CacheUtil.release(built.assigned)
    def pairs3(df: org.apache.spark.sql.DataFrame) = {
      val s = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      graft.CacheUtil.release(df)
      s
    }
    chunks.foreach { c =>
      val sep = pairs3(Similarity.semDedupPairsIncremental(
        c, Similarity.ivfRead(spark, dirSep, "embedding", "vec_id"), threshold = 0.9))
      Similarity.ivfAppend(spark, c, dirSep, "embedding", "vec_id")
      val fold = pairs3(Similarity.semDedupPairsIncrementalFold(
        spark, c, dirFold, "embedding", "vec_id", threshold = 0.9))
      assert(fold === sep, "semDedup fold emissions diverged from probe+append")
      assert(fold.nonEmpty, "semDedup fold batch emitted no pairs — gate vacuous")
    }
    // the caller's delta blocks must survive the fold (it releases only
    // its internal checkpoints)
    chunks.foreach(c => assert(c.count() > 0))
    // identical post-state: a third delta probes both indexes the same
    val probe3 = echo(2000001L)
    val s3 = pairs3(Similarity.semDedupPairsIncremental(
      probe3, Similarity.ivfRead(spark, dirSep, "embedding", "vec_id"), threshold = 0.9))
    val f3 = pairs3(Similarity.semDedupPairsIncremental(
      probe3, Similarity.ivfRead(spark, dirFold, "embedding", "vec_id"), threshold = 0.9))
    assert(f3 === s3, "IVF list state diverged after fold appends")
    // non-vacuous: the third echo must pair against BOTH earlier echo
    // generations (the appended rows), not just the original corpus
    assert(s3.exists { case (a, b, _) => b >= 2000001L && a >= 1000001L && a < 2000001L },
      "third probe saw no appended rows — gate vacuous")
    chunks.foreach(graft.CacheUtil.release)
  }

  test("probe-only and append-only entry points run a bounded number of Spark jobs (minhash, simhash, vector-LSH, semDedup, passages)") {
    // One count per call on a fixed fixture: the sf0.001 documents and
    // embeddings, split %3 into corpus and delta. Each bound is the
    // measured count; a rise means a step the family's fold shares with
    // these calls now runs twice, or a frame is materialized that the
    // call does not need.
    val docs = Tables.documents(spark, SparkTestSession.sfDir).select($"doc_id", $"text")
    val corpus = docs.filter($"doc_id" % 3 =!= 0)
    val delta = docs.filter($"doc_id" % 3 === 0).localCheckpoint(true)
    val emb = Tables.embeddings(spark, SparkTestSession.sfDir).select($"vec_id", $"embedding")
    val vCorpus = emb.filter($"vec_id" % 3 =!= 0)
    val vDelta = emb.filter($"vec_id" % 3 === 0).localCheckpoint(true)
    def probeJobs(call: => org.apache.spark.sql.DataFrame): Int = {
      val (out, n) = JobCount.during(spark)(call)
      assert(out.count() > 0, "probe emitted nothing — the job count would gate an empty plan")
      graft.CacheUtil.release(out)
      n
    }
    def appendJobs(call: => Unit): Int = JobCount.during(spark)(call)._2
    val measured = scala.collection.mutable.LinkedHashMap[String, Int]()
    val mh = Dedup.writeMinHashIndex(corpus, "text", "doc_id", "jg_mh", buckets = 4)
    val sh = Dedup.writeSimHashIndex(corpus, "text", "doc_id", "jg_sh", maxHamming = 10, buckets = 4)
    val lsh = Similarity.writeLshIndex(
      vCorpus, "embedding", "vec_id", "jg_lsh", nPlanes = 2, nTables = 8, buckets = 4)
    val ps = Passages.writePassageIndex(corpus, "text", "doc_id", "jg_ps", windowTokens = 8, buckets = 4)
    val ivf = Similarity.ivfBuild(vCorpus, "embedding", "vec_id", nCentroids = 4)
    try {
      measured("minhash probe") = probeJobs(
        Dedup.minHashNearDupsIncremental(delta, "text", "doc_id", 0.0, mh))
      measured("minhash append") = appendJobs(Dedup.appendToMinHashIndex(delta, "text", "doc_id", mh))
      measured("simhash probe") = probeJobs(Dedup.simHashNearDupsIncremental(delta, "text", "doc_id", sh))
      measured("simhash append") = appendJobs(Dedup.appendToSimHashIndex(delta, "text", "doc_id", sh))
      measured("vector-lsh probe") = probeJobs(
        Similarity.lshNearDupsIncremental(vDelta, "embedding", "vec_id", 0.3, lsh))
      measured("vector-lsh append") = appendJobs(
        Similarity.appendToLshIndex(vDelta, "embedding", "vec_id", lsh))
      measured("semdedup probe") = probeJobs(
        Similarity.semDedupPairsIncremental(vDelta, ivf, threshold = 0.3))
      measured("passages probe") = probeJobs(
        Passages.passageDupFractionIncremental(delta, "text", "doc_id", ps))
      info(measured.map { case (k, v) => s"$k=$v" }.mkString("jobs: ", ", ", ""))
      // an append-only call checkpoints its signatures as the fold does
      // (one job each), and the semDedup probe its centroid assignment
      val bounds = Map(
        "minhash probe" -> 13, "minhash append" -> 10,
        "simhash probe" -> 10, "simhash append" -> 7,
        "vector-lsh probe" -> 13, "vector-lsh append" -> 10,
        "semdedup probe" -> 10, "passages probe" -> 10)
      measured.foreach { case (k, n) =>
        assert(n <= bounds(k), s"$k ran $n Spark jobs, bound ${bounds(k)}: $measured")
      }
    } finally {
      Seq(mh.bandTable, mh.shingleTable, sh.chunkTable, lsh.bandTable, lsh.vecTable, ps.fpTable)
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
      Seq(delta, vDelta, ivf.assigned).foreach(graft.CacheUtil.release)
    }
  }

  test("exact and line-catalogue fold, probe-only and append-only calls run a bounded number of Spark jobs") {
    // The fixture of the job gate above (sf0.001 documents split %3);
    // each fold is a first attempt on an index of its own. Each bound
    // is the measured count.
    val docs = Tables.documents(spark, SparkTestSession.sfDir).select($"doc_id", $"text")
    val corpus = docs.filter($"doc_id" % 3 =!= 0)
    val delta = docs.filter($"doc_id" % 3 === 0).localCheckpoint(true)
    def emitJobs(call: => org.apache.spark.sql.DataFrame): Int = {
      val (out, n) = JobCount.during(spark)(call)
      assert(out.count() > 0, "call emitted nothing — the job count would gate an empty plan")
      graft.CacheUtil.release(out)
      n
    }
    val measured = scala.collection.mutable.LinkedHashMap[String, Int]()
    val Seq(exFold, exProbe) = Seq("jg_exf", "jg_exp").map(
      Dedup.writeExactDedupIndex(corpus, "text", _, buckets = 4))
    val Seq(lnFold, lnProbe) = Seq("jg_lnf", "jg_lnp").map(
      Lines.writeLineIndex(corpus, "text", "doc_id", _, buckets = 4))
    try {
      measured("exact fold") = emitJobs(
        Dedup.exactDedupIncrementalFold(delta, "text", "doc_id", exFold))
      measured("exact probe") = emitJobs(Dedup.exactDedupIncremental(delta, "text", "doc_id", exProbe))
      measured("lines fold") = emitJobs(
        Lines.dropDuplicatedLinesIncrementalFold(delta, "text", "doc_id", lnFold))
      measured("lines probe") = emitJobs(
        Lines.dropDuplicatedLinesIncremental(delta, "text", "doc_id", lnProbe))
      measured("lines append") =
        JobCount.during(spark)(Lines.appendToLineIndex(delta, "text", "doc_id", lnProbe))._2
      info(measured.map { case (k, v) => s"$k=$v" }.mkString("jobs: ", ", ", ""))
      // the folds and probes return checkpoints, so each count includes
      // the jobs that materialize the result
      val bounds = Map(
        "exact fold" -> 8, "exact probe" -> 6,
        "lines fold" -> 16, "lines probe" -> 9, "lines append" -> 7)
      measured.foreach { case (k, n) =>
        assert(n <= bounds(k), s"$k ran $n Spark jobs, bound ${bounds(k)}: $measured")
      }
    } finally {
      Seq(exFold, exProbe).foreach(i => spark.sql(s"DROP TABLE IF EXISTS `${i.fpTable}`"))
      Seq(lnFold, lnProbe).foreach(i => spark.sql(s"DROP TABLE IF EXISTS `${i.fpTable}`"))
      graft.CacheUtil.release(delta)
    }
  }

  test("ivfCompact / ivfPqCompact: probe parity, file shrink, layout preserved, crash recovery") {
    import graft.operators.Quantization
    val emb = Tables.embeddings(spark, SparkTestSession.sfDir)
      .select($"vec_id", $"embedding")
    val corpus = emb.filter($"vec_id" % 3 =!= 0)
    val deltas = (1 to 2).map(k => emb.filter($"vec_id" % 3 === 0 && $"vec_id" % 2 === (k % 2)))
    val qv = emb.filter($"vec_id" === 1L)
      .select($"embedding".cast("array<double>")).head().getSeq[Double](0).toArray
    def dataFiles(dir: String): Seq[java.io.File] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
      walk(new java.io.File(dir))
    }
    def partDirs(dir: String): Set[String] =
      new java.io.File(dir).listFiles().filter(_.isDirectory)
        .map(_.getName).filter(_.startsWith("_centroid=")).toSet

    // ---- IVF
    val built = Similarity.ivfBuild(corpus, "embedding", "vec_id", nCentroids = 4)
    val dir = java.nio.file.Files.createTempDirectory("ivf_compact").toString
    Similarity.ivfWrite(built, dir)
    graft.CacheUtil.release(built.assigned)
    deltas.foreach(d => Similarity.ivfAppend(spark, d, dir, "embedding", "vec_id"))
    def topIvf() = {
      val df = Similarity.ivfProbe(
        Similarity.ivfRead(spark, dir, "embedding", "vec_id"),
        qv, k = 5, nProbe = 2, excludeId = Some(1L))
      val s = df.collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
      graft.CacheUtil.release(df)
      s
    }
    val lists = s"$dir/lists"
    val beforeTop = topIvf()
    val beforeFiles = dataFiles(lists).size
    val beforeDirs = partDirs(lists)
    Similarity.ivfCompact(spark, dir)
    assert(topIvf() === beforeTop, "IVF probe diverged after compaction")
    assert(dataFiles(lists).size < beforeFiles,
      s"compaction did not shrink the file count (${dataFiles(lists).size} vs $beforeFiles)")
    assert(partDirs(lists) === beforeDirs, "compaction changed the list layout")

    // crash recovery A — mid-swap: canonical dir renamed aside, tmp
    // present; a retry must restore from `old` and complete
    val listsF = new java.io.File(lists)
    val oldF = new java.io.File(lists + "_compact_old")
    val tmpF = new java.io.File(lists + "_compact_tmp")
    assert(listsF.renameTo(oldF))
    assert(tmpF.mkdir())
    Similarity.ivfCompact(spark, dir)
    assert(topIvf() === beforeTop, "IVF probe diverged after mid-swap recovery")
    assert(!oldF.exists() && !tmpF.exists(), "recovery left swap leftovers")

    // crash recovery B — stale leftovers next to an intact canonical
    // dir are cleared, not merged
    assert(oldF.mkdir() && tmpF.mkdir())
    Similarity.ivfCompact(spark, dir)
    assert(topIvf() === beforeTop, "IVF probe diverged after stale-leftover cleanup")
    assert(!oldF.exists() && !tmpF.exists())

    // ---- IVF-PQ
    val pq = Quantization.ivfPqBuild(
      corpus, "embedding", "vec_id", nCentroids = 4, refineIters = 1, m = 16, k = 16, iters = 1)
    val dir2 = java.nio.file.Files.createTempDirectory("ivfpq_compact").toString
    Quantization.ivfPqWrite(pq, dir2)
    graft.CacheUtil.release(pq.encoded)
    deltas.foreach(d => Quantization.ivfPqAppend(spark, d, dir2, "embedding", "vec_id"))
    def topPq() = {
      val df = Quantization.ivfPqSearch(
        Quantization.ivfPqRead(spark, dir2, "vec_id"), qv, 5, nProbe = 2, excludeId = Some(1L))
      val s = df.collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
      graft.CacheUtil.release(df)
      s
    }
    val codes = s"$dir2/codes"
    val beforePq = topPq()
    val beforePqFiles = dataFiles(codes).size
    Quantization.ivfPqCompact(spark, dir2)
    assert(topPq() === beforePq, "IVF-PQ search diverged after compaction")
    assert(dataFiles(codes).size < beforePqFiles, "PQ compaction did not shrink files")
  }

  test("capPerGroup == single-window reference; layout-independent; caps honored") {
    val docs = Tables.documents(spark, SparkTestSession.sfDir)
    import org.apache.spark.sql.expressions.Window
    val reference = docs
      .withColumn("_k", md5(concat(lit("cap:"), $"doc_id".cast("string"))))
      .withColumn("_rn", row_number().over(
        Window.partitionBy($"source").orderBy($"_k", $"doc_id")))
      .filter($"_rn" <= 7)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    def capped(df: org.apache.spark.sql.DataFrame) = Sampling
      .capPerGroup(df, "source", "doc_id", maxN = 7)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(capped(docs) === reference)
    // two-phase result is a pure function of ids — any layout agrees
    assert(capped(docs.repartition(7)) === reference)
    // caps honored per group; small groups keep everything
    val sizes = Sampling.capPerGroup(docs, "source", "doc_id", maxN = 7)
      .groupBy("source").count().collect().map(_.getLong(1))
    assert(sizes.forall(_ <= 7))
    val tiny = Sampling.capPerGroup(docs.limit(3), "source", "doc_id", maxN = 7)
    assert(tiny.count() === 3)
  }

  test("capTokensPerGroup == single-window prefix sum; strict prefix; layout-independent") {
    val docs = Tables.documents(spark, SparkTestSession.sfDir)
    import org.apache.spark.sql.expressions.Window
    val budget = 2000L
    val reference = docs
      .withColumn("_k", md5(concat(lit("captok:"), $"doc_id".cast("string"))))
      .withColumn("_t", functions.TextFunctions.tokenCount($"text").cast("long"))
      .withColumn("_cum", sum($"_t").over(
        Window.partitionBy($"source").orderBy($"_k", $"doc_id")))
      .filter($"_cum" <= budget)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(reference.nonEmpty, "budget keeps nothing — gate is vacuous")
    def capped(df: org.apache.spark.sql.DataFrame, parts: Int) = {
      val out = Sampling.capTokensPerGroup(df, "text", "source", "doc_id", budget, rangeParts = parts)
      val ids = out.select("doc_id").collect().map(_.getLong(0)).toSet
      graft.CacheUtil.release(out)
      ids
    }
    // distributed prefix sum == the single window, at any chunking
    assert(capped(docs, 8) === reference)
    assert(capped(docs.repartition(7), 3) === reference)
    // the chunk id is a pure function of the md5 key — NO checkpoint may
    // appear in the plan (the round-8 shape localCheckpointed the full
    // corpus, text included, which a checkpoint scan would betray here
    // as a LogicalRDD/ExistingRDD leaf)
    val planStr = Sampling
      .capTokensPerGroup(docs, "text", "source", "doc_id", budget)
      .queryExecution.optimizedPlan.toString
    assert(
      !planStr.contains("LogicalRDD"),
      "checkpoint scan found in capTokensPerGroup plan — chunk id must stay a pure key function")
    // strict prefix on a crafted group. md5 captok: order of these ids
    // is 3 < 4 < 1 < 2 (verified: e134… < effd… < f3a1… < fc15…); with
    // tokens 3→50, 4→10, 1→30, 2→10 and budget 75 the prefix runs
    // 50, 60, then doc 1 overflows (90) — STRICT semantics stop there,
    // while a backfilling implementation would still admit doc 2
    // (60 + 10 = 70 ≤ 75). The distinguishing assertion is {3, 4}.
    val crafted = Seq(
      (1L, "g", ("w " * 30).trim), (2L, "g", ("w " * 10).trim),
      (3L, "g", ("w " * 50).trim), (4L, "g", ("w " * 10).trim)
    ).toDF("doc_id", "source", "text")
    val keyOrder = crafted
      .withColumn("_k", md5(concat(lit("captok:"), $"doc_id".cast("string"))))
      .orderBy($"_k").select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(keyOrder === Seq(3L, 4L, 1L, 2L), "crafted order assumption broke")
    val kept75 = {
      val out = Sampling.capTokensPerGroup(crafted, "text", "source", "doc_id", 75L, rangeParts = 2)
      val ids = out.select("doc_id").collect().map(_.getLong(0)).toSet
      graft.CacheUtil.release(out)
      ids
    }
    assert(kept75 === Set(3L, 4L), "backfill detected — strict prefix violated")
    // NULL group: kept as a group of its own, not silently dropped by
    // the offsets join (null-safe <=> match)
    val withNull = Seq(
      (1L, Some("g"), ("w " * 10).trim), (2L, None, ("w " * 10).trim),
      (3L, None, ("w " * 10).trim)
    ).toDF("doc_id", "source", "text")
    val keptNull = {
      val out = Sampling.capTokensPerGroup(withNull, "text", "source", "doc_id", 1000L, rangeParts = 2)
      val ids = out.select("doc_id").collect().map(_.getLong(0)).toSet
      graft.CacheUtil.release(out)
      ids
    }
    assert(keptNull === Set(1L, 2L, 3L), "NULL-group rows were dropped")
  }

  test("gopher rules: planted docs flip each rule independently") {
    // base: 60 clean stopword-bearing words → passes; each planted doc
    // fails, driven by the indicated rule (short/symbol-heavy docs also
    // drag correlated metrics down — the spot-checks below pin the
    // targeted metric across its threshold)
    val good = (("the and was for that " * 12).trim)
    val df = Seq(
      Doc(1, good),                                     // pass
      Doc(2, "the and was"),                            // too few words
      Doc(3, ("# " * 30 + good).trim),                  // symbol ratio > 0.1
      Doc(4, (("99 00 11 " * 20) + "the and").trim),    // alpha fraction < 0.8
      Doc(5, ("zz qq xx vv ww " * 12).trim)             // no stopwords
    ).toDS.toDF
    val got = df.select(
        $"doc_id",
        TextFunctions.gopherPredicate($"text").as("p"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got === Map(1L -> true, 2L -> false, 3L -> false, 4L -> false, 5L -> false))
    // metric spot-checks
    val m = df.filter($"doc_id" === 3).select(
      TextFunctions.symbolWordRatio($"text")).collect().head.getDouble(0)
    assert(m > 0.1, s"symbol ratio $m")
    val af = df.filter($"doc_id" === 4).select(
      TextFunctions.alphaWordFraction($"text")).collect().head.getDouble(0)
    assert(af < 0.8, s"alpha fraction $af")
  }

  test("jaccard exact: known set overlap") {
    val df = Seq(Doc(1, "a b c d"), Doc(2, "b c d e")).toDS.toDF
    // trigrams: {a b c, b c d}, {b c d, c d e} → intersect 1, union 3
    val j = Dedup.jaccardPairsBrute(df, "text", "doc_id", threshold = 0.0)
      .select("jacc").collect().head.getDouble(0)
    assert(math.abs(j - 1.0 / 3.0) < 1e-12)
  }

  test("dupClusters == local union-find on chain + clique + pair (d06 gate)") {
    // chain 1-2-...-8 (stresses pointer jumping), clique 100-104 (dense
    // clump), isolated pair (200, 201)
    val chain = (1L until 8L).map(i => (i, i + 1))
    val clique = (for {
      a <- 100L to 104L; b <- 100L to 104L if a < b
    } yield (a, b))
    val pairs = (chain ++ clique :+ ((200L, 201L))).toDF("id_a", "id_b")
    val got = Dedup.dupClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // local union-find recompute
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    (chain ++ clique :+ ((200L, 201L))).foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = parent.keys.map(k => k -> find(k)).toMap
    assert(got === want)
    assert(got.values.toSet === Set(1L, 100L, 200L))
  }

  test("every checkpointing operator's blocks are freed by CacheUtil.release (leak class)") {
    import graft.operators.Quantization
    val docs = Tables.documents(spark, SparkTestSession.sfDir)
    val emb = Tables.embeddings(spark, SparkTestSession.sfDir)
    def assertReleasable(name: String)(make: => org.apache.spark.sql.DataFrame): Unit = {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val df = make
      df.write.mode("overwrite").format("noop").save()
      graft.CacheUtil.release(df)
      val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(leaked.isEmpty, s"$name leaked persistent RDDs: $leaked")
    }
    assertReleasable("minHashCandidates")(
      Dedup.minHashCandidates(docs, "text", "doc_id"))
    assertReleasable("minHashNearDups")(
      Dedup.minHashNearDups(docs, "text", "doc_id", threshold = 0.4))
    assertReleasable("simHashNearDups")(
      Dedup.simHashNearDups(docs, "text", "doc_id", maxHamming = 10))
    assertReleasable("simHashNearDupsCombination")(
      Dedup.simHashNearDupsCombination(docs, "text", "doc_id", maxHamming = 3, blocks = 6))
    assertReleasable("simHashNearDups128")(
      Dedup.simHashNearDups128(docs, "text", "doc_id", maxHamming = 20))
    assertReleasable("capTokensPerGroup")(
      Sampling.capTokensPerGroup(docs, "text", "source", "doc_id", maxTokens = 2000L))
    assertReleasable("exactDedupIncremental") {
      val idx = Dedup.writeExactDedupIndex(
        docs.filter($"doc_id" % 3 =!= 0), "text", "leak_exidx", buckets = 8)
      Dedup.exactDedupIncremental(
        docs.filter($"doc_id" % 3 === 0), "text", "doc_id", idx)
    }
    spark.sql("DROP TABLE IF EXISTS leak_exidx_exactfps")
    assertReleasable("simHashNearDupsIncremental") {
      val idx = Dedup.writeSimHash128Index(
        docs.filter($"doc_id" % 3 =!= 0), "text", "doc_id", "leak_s128idx",
        maxHamming = 20, buckets = 8)
      Dedup.simHashNearDupsIncremental(
        docs.filter($"doc_id" % 3 === 0), "text", "doc_id", idx)
    }
    spark.sql("DROP TABLE IF EXISTS leak_s128idx_chunks128")
    assertReleasable("semDedupPairs")(
      Similarity.semDedupPairs(emb, "embedding", "vec_id", nClusters = 4, threshold = 0.3))
    assertReleasable("passageDupFraction")(
      Passages.passageDupFraction(docs, "text", "doc_id", windowTokens = 8, hash64 = true))
    assertReleasable("dropDuplicatedPassageDocs")(
      Passages.dropDuplicatedPassageDocs(
        docs, "text", "doc_id", windowTokens = 8, maxDupFraction = 0.5, hash64 = true))
    assertReleasable("minHashNearDupsIncremental") {
      val idx = Dedup.writeMinHashIndex(
        docs.filter($"doc_id" % 3 =!= 0), "text", "doc_id", "leak_idx", buckets = 8)
      try
        Dedup.minHashNearDupsIncremental(
          docs.filter($"doc_id" % 3 === 0), "text", "doc_id", 0.4, idx)
      finally ()
    }
    spark.sql("DROP TABLE IF EXISTS leak_idx_bands")
    spark.sql("DROP TABLE IF EXISTS leak_idx_shingles")
    assertReleasable("simHashNearDupsIncremental") {
      val idx = Dedup.writeSimHashIndex(
        docs.filter($"doc_id" % 3 =!= 0), "text", "doc_id", "leak_sidx",
        maxHamming = 10, buckets = 8)
      Dedup.simHashNearDupsIncremental(
        docs.filter($"doc_id" % 3 === 0), "text", "doc_id", idx)
    }
    spark.sql("DROP TABLE IF EXISTS leak_sidx_chunks")
    assertReleasable("simHashNearDupsIncremental") {
      val idx = Dedup.writeSimHashComboIndex(
        docs.filter($"doc_id" % 3 =!= 0), "text", "doc_id", "leak_cbidx",
        maxHamming = 3, blocks = 6, buckets = 8)
      Dedup.simHashNearDupsIncremental(
        docs.filter($"doc_id" % 3 === 0), "text", "doc_id", idx)
    }
    spark.sql("DROP TABLE IF EXISTS leak_cbidx_combo")
    assertReleasable("decontaminate")(
      operators.Decontaminate.decontaminate(
        docs.filter($"doc_id" % 10 =!= 0), "text", "doc_id",
        docs.filter($"doc_id" % 10 === 0), "text", n = 8))
    assertReleasable("lshNearDups")(
      Similarity.lshNearDups(emb, "embedding", "vec_id", threshold = 0.3))
    assertReleasable("lshNearDupsIncremental") {
      val idx = Similarity.writeLshIndex(
        emb.filter($"vec_id" % 3 =!= 0), "embedding", "vec_id", "leak_lidx",
        nPlanes = 2, nTables = 8, buckets = 8)
      Similarity.lshNearDupsIncremental(
        emb.filter($"vec_id" % 3 === 0), "embedding", "vec_id", 0.3, idx)
    }
    spark.sql("DROP TABLE IF EXISTS leak_lidx_bands")
    spark.sql("DROP TABLE IF EXISTS leak_lidx_vecs")
    assertReleasable("ivfPqBuild/search") {
      val idx = Quantization.ivfPqBuild(
        emb, "embedding", "vec_id", nCentroids = 8, refineIters = 1, m = 8, k = 16, iters = 1)
      val qv = emb.filter($"vec_id" === 0L)
        .select($"embedding".cast("array<double>")).head().getSeq[Double](0).toArray
      Quantization.ivfPqSearch(idx, qv, 5, nProbe = 2, excludeId = Some(0L))
    }
  }

  test("dedupByPairs keeps cluster minima and every unpaired doc") {
    val docs = Seq(
      Doc(1, "a"), Doc(2, "b"), Doc(3, "c"), Doc(10, "d"), Doc(11, "e"), Doc(50, "f")
    ).toDS.toDF
    // clusters {1,2,3} and {10,11}; 50 unpaired
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val kept = operators.Dedup.dedupByPairs(docs, "doc_id", pairs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 10L, 50L))
    // no leaked blocks beyond the victims checkpoint the plan still reads
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = operators.Dedup.dedupByPairs(docs, "doc_id", pairs)
    out.count()
    graft.CacheUtil.release(out)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"dedupByPairs leaked: $leaked")
  }

  test("dupClusters releases its iteration caches (only the result stays)") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = Dedup.dupClusters(pairs)
    out.count()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    // the localCheckpoint of the result is the single expected entry
    assert(leaked.size <= 1, s"leaked cached RDDs: $leaked")
  }

  test("decontaminate removes exactly the docs sharing a benchmark n-gram") {
    val bench = Seq(
      Doc(100, "the secret benchmark question about distributed joins appears here verbatim")
    ).toDS.toDF
    val corpus = Seq(
      // contains an 8-gram of the benchmark text → contaminated
      Doc(1, "prefix words then the secret benchmark question about distributed joins appears and more"),
      // shares only shorter spans → clean at n = 8
      Doc(2, "the secret benchmark question is mentioned but differently continued here today"),
      Doc(3, "entirely unrelated text about parquet bucketing and shuffle hygiene")
    ).toDS.toDF
    val report = operators.Decontaminate
      .contaminationReport(corpus, "text", "doc_id", bench, "text", n = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(report.keySet === Set(1L))
    assert(report(1L) >= 1)
    val clean = operators.Decontaminate
      .decontaminate(corpus, "text", "doc_id", bench, "text", n = 8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(clean === Set(2L, 3L))
  }

  test("contaminationReport minMatches thresholds on distinct shared grams") {
    val bench = Seq(Doc(100, "alpha beta gamma delta epsilon zeta eta theta iota kappa")).toDS.toDF
    val corpus = Seq(
      // shares two distinct 4-grams (alpha..delta, beta..epsilon) via a 5-token overlap
      Doc(1, "alpha beta gamma delta epsilon completely different tail content here"),
      // shares exactly one 4-gram
      Doc(2, "alpha beta gamma delta then something else entirely follows now")
    ).toDS.toDF
    def ids(minMatches: Int): Set[Long] = operators.Decontaminate
      .contaminationReport(corpus, "text", "doc_id", bench, "text", n = 4, minMatches = minMatches)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids(1) === Set(1L, 2L))
    assert(ids(2) === Set(1L))
  }

  test("decontamination broadcasts the benchmark side (corpus never shuffles for the probe)") {
    val docs = Tables.documents(spark, SparkTestSession.sfDir)
    val report = operators.Decontaminate.contaminationReport(
      docs.filter($"doc_id" % 10 =!= 0), "text", "doc_id",
      docs.filter($"doc_id" % 10 === 0), "text", n = 8)
    val plan = report.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"benchmark gram probe is not a broadcast join:\n${plan.take(3000)}")
    assert(report.count() > 0, "fixture yields no contamination — gate is vacuous")
  }

  // ------------------------------------------------- deterministic sampling

  test("hash split partitions exactly; membership is layout-independent") {
    val docs = Tables.documents(spark, SparkTestSession.sfDir)
    val (train, hold) = operators.Sampling.split(docs, "doc_id", 0.8)
    val all = docs.count()
    assert(train.count() + hold.count() === all)
    assert(train.join(hold, Seq("doc_id"), "inner").count() === 0)
    // binomial at frac 0.8: loose sanity bounds, not exact-count
    val frac = train.count().toDouble / all
    assert(frac > 0.6 && frac < 0.95, s"train frac $frac")
    // repartitioning must not change the selected set (the df.sample contrast)
    val re = operators.Sampling.split(docs.repartition(7), "doc_id", 0.8)._1
    assert(re.select("doc_id").collect().map(_.getLong(0)).sorted ===
      train.select("doc_id").collect().map(_.getLong(0)).sorted)
  }

  test("hash samples are nested across fractions and decorrelated by salt") {
    val docs = Tables.documents(spark, SparkTestSession.sfDir)
    def ids(frac: Double, salt: String = ""): Set[Long] = docs
      .filter(operators.Sampling.hashSample($"doc_id", frac, salt))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val s10 = ids(0.1); val s20 = ids(0.2)
    assert(s10.subsetOf(s20), "smaller sample must nest inside larger")
    val salted = ids(0.2, salt = "other-decision")
    assert(salted !== s20, "salt must produce an independent selection")
  }

  test("shuffleDeterministic: globally ordered, layout-independent, salt-varied") {
    val docs = Tables.documents(spark, SparkTestSession.sfDir)
    val out = operators.Sampling.shuffleDeterministic(docs, "doc_id", "epoch0")
      .select("doc_id", "shuffle_key").collect()
    val keys = out.map(_.getString(1))
    assert(keys.toSeq === keys.sorted.toSeq, "collected order must be the global key order")
    // same order regardless of input partitioning
    val re = operators.Sampling
      .shuffleDeterministic(docs.repartition(13), "doc_id", "epoch0")
      .select("doc_id").collect().map(_.getLong(0))
    assert(re.toSeq === out.map(_.getLong(0)).toSeq)
    // a different salt gives a different epoch order
    val other = operators.Sampling.shuffleDeterministic(docs, "doc_id", "epoch1")
      .select("doc_id").collect().map(_.getLong(0))
    assert(other.toSeq !== out.map(_.getLong(0)).toSeq)
    // scale shape: range partitioning, not a single-task sort
    val plan = operators.Sampling.shuffleDeterministic(docs, "doc_id", "e")
      .queryExecution.executedPlan.toString
    assert(plan.contains("rangepartitioning"), s"expected range sort:\n${plan.take(1500)}")
    // domain separation: the epoch order must NOT put a hashSample-kept
    // set at the front (the shuffle hash is domain-prefixed; without
    // that, sampled membership and epoch position share one hash)
    val n = out.length
    val kept = docs.filter(operators.Sampling.hashSample($"doc_id", 0.5))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val firstHalf = out.map(_.getLong(0)).take(n / 2).count(kept)
    assert(firstHalf < (n / 2) * 9 / 10 && firstHalf > (n / 2) / 10,
      s"sampled set clusters in the epoch order: $firstHalf of ${n / 2}")
    // a stale shuffle_key column is rejected, not silently clobbered
    val withKey = operators.Sampling.shuffleDeterministic(docs, "doc_id", "x")
    val e = intercept[IllegalArgumentException](
      operators.Sampling.shuffleDeterministic(withKey, "doc_id", "y"))
    assert(e.getMessage.contains("shuffle_key"))
  }

  test("sampleExactK: exact size, layout-independent, nested, TakeOrdered plan") {
    val docs = Tables.documents(spark, SparkTestSession.sfDir)
    val k50 = operators.Sampling.sampleExactK(docs, "doc_id", 50, "eval")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(k50.size === 50)
    val re = operators.Sampling.sampleExactK(docs.repartition(11), "doc_id", 50, "eval")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(re === k50, "layout must not change the selected set")
    val k100 = operators.Sampling.sampleExactK(docs, "doc_id", 100, "eval")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(k50.subsetOf(k100), "smaller k nests inside larger")
    val plan = operators.Sampling.sampleExactK(docs, "doc_id", 50, "eval")
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrdered"), s"expected per-partition heaps:\n${plan.take(1200)}")
  }

  test("sampleByStratum honors per-stratum fractions exactly at 0 and 1") {
    val docs = Tables.documents(spark, SparkTestSession.sfDir)
    val out = operators.Sampling.sampleByStratum(
      docs, "doc_id", "lang", Map("zh" -> 1.0, "fr" -> 0.0), default = 0.5)
    val byLang = out.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val inLang = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLang("zh") === inLang("zh"), "frac 1.0 keeps every row")
    assert(!byLang.contains("fr"), "frac 0.0 keeps none")
    val enFrac = byLang("en").toDouble / inLang("en")
    assert(enFrac > 0.25 && enFrac < 0.75, s"default frac applied: $enFrac")
  }

  test("upsampleByWeight emits floor(w) + deterministic-frac copies") {
    val docs = Tables.documents(spark, SparkTestSession.sfDir)
    val out = operators.Sampling.upsampleByWeight(
      docs, "doc_id", "source", Map("src0" -> 2.0, "src1" -> 0.0), default = 1.0)
    val perDoc = out.groupBy("doc_id", "source").count()
    assert(perDoc.filter($"source" === "src0" && $"count" =!= 2).count() === 0,
      "integer weight 2.0 → exactly 2 copies")
    assert(out.filter($"source" === "src1").count() === 0, "weight 0 drops the stratum")
    assert(perDoc.filter($"source" =!= "src0" && $"count" =!= 1).count() === 0,
      "default weight 1.0 → exactly 1 copy")
    // _copy indexes 0..n-1
    val copies = out.filter($"source" === "src0").groupBy("doc_id")
      .agg(org.apache.spark.sql.functions.sort_array(
        org.apache.spark.sql.functions.collect_list($"_copy")).as("cs"))
      .select("cs").collect().map(_.getSeq[Int](0))
    assert(copies.forall(_ == Seq(0, 1)))
    // fractional weight reruns identically (determinism)
    val f1 = operators.Sampling.upsampleByWeight(
      docs, "doc_id", "source", Map("src2" -> 1.5), default = 1.0).count()
    val f2 = operators.Sampling.upsampleByWeight(
      docs, "doc_id", "source", Map("src2" -> 1.5), default = 1.0).count()
    assert(f1 === f2)
  }

  // ------------------------------------------------- chunking / packing

  test("chunkByTokens splits on the budget with a ragged tail and survives reassembly") {
    val df = Seq(
      Doc(1, "a b c d e f g"), // 7 tokens → 3,3,1 at maxTokens=3
      Doc(2, "x y"),           // under budget → one chunk unchanged
      Doc(3, "solo")
    ).toDS.toDF
    val chunks = operators.Packing.chunkByTokens(df, "text", "doc_id", maxTokens = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    assert(chunks.filter(_._1 == 1L).sortBy(_._2).map(_._3).toSeq ===
      Seq("a b c", "d e f", "g"))
    assert(chunks.filter(_._1 == 2L).map(_._3).toSeq === Seq("x y"))
    assert(chunks.filter(_._1 == 3L).map(_._3).toSeq === Seq("solo"))
    // lossless: rejoining chunks in index order reproduces every doc
    val rejoined = operators.Packing.chunkByTokens(df, "text", "doc_id", 3)
      .groupBy("doc_id")
      .agg(org.apache.spark.sql.functions.array_join(
        org.apache.spark.sql.functions.sort_array(
          org.apache.spark.sql.functions.collect_list(
            org.apache.spark.sql.functions.struct($"chunk_idx", $"chunk_text"))
        ).getField("chunk_text"), " ").as("t"))
    val got = rejoined.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(1L -> "a b c d e f g", 2L -> "x y", 3L -> "solo"))
  }

  test("packGreedy fills packs to the budget and is layout-independent") {
    val df = (1L to 40L).map(i => (i, 100L)).toDF("doc_id", "w")
    val out = operators.Packing.packGreedy(df, "doc_id", "w", budget = 300L, nBuckets = 4)
    // each bucket stream has 10 docs of weight 100 → packs of 3 (300 budget)
    val sizes = out.groupBy("pack_bucket", "pack_seq").count()
      .select("count").collect().map(_.getLong(0))
    assert(sizes.forall(s => s == 3 || s == 1), s"pack sizes: ${sizes.toSeq}")
    assert(out.select("doc_id").distinct().count() === 40, "every doc packed exactly once")
    // a doc heavier than the budget overflows its own pack, never splits
    val heavy = Seq((1L, 1000L), (2L, 50L)).toDF("doc_id", "w")
    val hp = operators.Packing.packGreedy(heavy, "doc_id", "w", budget = 300L, nBuckets = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(hp(1L) === 0L)
    assert(hp(2L) === 3L, "next doc starts past the overflowed budget")
    // partitioning must not change assignment
    val re = operators.Packing.packGreedy(df.repartition(7), "doc_id", "w", 300L, 4)
    assert(re.orderBy("doc_id").collect().toSeq ===
      out.orderBy("doc_id").collect().toSeq)
  }

  test("string-id type dynamism: packGreedy, pqTrain, ivfBuild, md5 twins, pair audit accept string ids") {
    // the reference surface is type-dynamic; Spark 4 runs ANSI-on, so a
    // baked-in numeric cast on an id column fails loudly but pointlessly
    // for string-id corpora. These entry points (the ones outside the
    // fold families, which have their own replay gates) must work with
    // string ids: numeric ids keep their exact historical behavior,
    // non-numeric ids bucket/stride on a deterministic hash.
    import operators.{Dedup, Packing, Quantization, Similarity}
    // packGreedy: packs fill identically to the numeric case per bucket
    val sdf = (1 to 40).map(i => (f"doc-$i%03d", 100L)).toDF("doc_id", "w")
    val packs = Packing.packGreedy(sdf, "doc_id", "w", budget = 300L, nBuckets = 4)
    val sizes = packs.groupBy("pack_bucket", "pack_seq").count()
      .select("count").collect().map(_.getLong(0))
    assert(sizes.forall(s => s == 3 || s == 1), s"pack sizes: ${sizes.toSeq}")
    assert(packs.select("doc_id").distinct().count() === 40)
    // pqTrain + ivfBuild: quantizers train off string-keyed vectors
    val vecs = (1 to 32).map(i => (s"v-$i", Array.tabulate(8)(j => (i * 7 + j).toFloat)))
      .toDF("vec_id", "embedding")
    val cb = Quantization.pqTrain(vecs, "embedding", "vec_id", m = 2, k = 4, iters = 1)
    assert(cb.k === 4 && cb.m === 2)
    // the hash-ORDERED sample is exact: a hash-residue stride filter
    // would select ~Binomial(n, 1/stride) rows and fail the k-seeds
    // require on roughly half of string-id corpora at this shape
    val many = (1 to 100).map(i => (s"w-$i", Array.tabulate(8)(j => (i * 13 + j).toFloat)))
      .toDF("vec_id", "embedding")
    val cb16 = Quantization.pqTrain(many, "embedding", "vec_id", m = 2, k = 16, iters = 0)
    assert(cb16.k === 16, "hash-ordered seed sample must select exactly k seeds")
    // an empty corpus fails ivf init LOUDLY, not with NULL assignments
    val e0 = intercept[IllegalArgumentException] {
      Similarity.ivfInitCentroids(many.limit(0), "embedding", "vec_id", nCentroids = 2)
    }
    assert(e0.getMessage.contains("zero seed vectors"))
    val built = Similarity.ivfBuild(vecs, "embedding", "vec_id", nCentroids = 2, refineIters = 1)
    assert(built.assigned.select("vec_id").distinct().count() === 32)
    graft.CacheUtil.release(built.assigned)
    // md5 oracle twins: identical docs pair under string ids, ordered by
    // the ids' native (string) ordering
    val docs = Seq(
      ("a-1", "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      ("a-2", "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      ("b-9", "one two three four five six seven eight nine ten")
    ).toDF("doc_id", "text")
    val mh = Dedup.minHashMd5NearDups(docs, "text", "doc_id", 0.9)
      .select("id_a", "id_b").collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(mh === Set(("a-1", "a-2")), s"md5 minhash twin under string ids: $mh")
    val sh = Dedup.simHashMd5NearDups(docs, "text", "doc_id")
      .select("id_a", "id_b").collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(sh.contains(("a-1", "a-2")), s"md5 simhash twin under string ids: $sh")
    // the pair-invariant audit composes with the string-id pair set
    val pairs = Dedup.minHashMd5NearDups(docs, "text", "doc_id", 0.9)
      .select(col("id_a"), col("id_b"), col("jaccard"))
    val bad = Dedup.pairInvariantViolations(
      pairs, docs, "text", "doc_id", "jaccard",
      (a, b) => Dedup.jaccard(
        graft.functions.TextFunctions.shingleSet(a, 3),
        graft.functions.TextFunctions.shingleSet(b, 3)),
      m => m >= 0.9)
    assert(bad.isEmpty, s"audit flagged a clean string-id pair set: ${bad.collect().toSeq}")
  }

  test("sparse numeric ids: PQ/IVF seeding falls back to the hash-ordered sample (exactly k seeds)") {
    // Snowflake/random-long id corpora under-select the historical
    // pmod(id, stride) == 0 residue filter binomially — the same hole
    // r15 closed for string ids, one type class over (r15 verdict ask
    // #2). These ids are all ODD, so with an even stride (n/k here) the
    // residue filter deterministically selects ZERO rows: without the
    // fallback pqTrain fails its k-seeds require and ivfInitCentroids
    // fails nonEmpty. With it, both must return exactly k seeds.
    import operators.{Quantization, Similarity}
    val sparse = (1 to 100)
      .map(i => (i.toLong * 2654435762L + 1L, // odd: never ≡ 0 (mod even stride)
        Array.tabulate(8)(j => (i * 13 + j).toFloat)))
      .toDF("vec_id", "embedding")
    assert(sparse.filter(pmod(col("vec_id"), lit(100L / 16)) === 0).count() === 0,
      "fixture must deterministically defeat the stride filter")
    val cb = Quantization.pqTrain(sparse, "embedding", "vec_id", m = 2, k = 16, iters = 0)
    assert(cb.k === 16, "sparse-numeric-id fallback must select exactly k PQ seeds")
    val cents = Similarity.ivfInitCentroids(sparse, "embedding", "vec_id", nCentroids = 8)
    assert(cents.length === 8,
      s"sparse-numeric-id fallback must select exactly nCentroids seeds, got ${cents.length}")
    // end-to-end: the built index assigns every vector a real centroid
    val built = Similarity.ivfBuild(sparse, "embedding", "vec_id", nCentroids = 4, refineIters = 1)
    assert(built.assigned.filter(col("_centroid").isNull).count() === 0)
    assert(built.assigned.select("vec_id").distinct().count() === 100)
    graft.CacheUtil.release(built.assigned)
    // DENSE ids keep their exact historical seed set: the strided sample
    // already returns k rows, so the fallback never engages and the
    // seeds are the ordered stride multiples (committed rows don't move)
    val dense = (0 until 100)
      .map(i => (i.toLong, Array.tabulate(8)(j => (i * 13 + j).toFloat)))
      .toDF("vec_id", "embedding")
    val denseCents = Similarity.ivfInitCentroids(dense, "embedding", "vec_id", nCentroids = 8)
    val expected = (0 until 100 by (100 / 8)).take(8)
      .map(i => Array.tabulate(8)(j => (i * 13 + j).toDouble).toSeq)
    assert(denseCents.map(_.toSeq).toSeq === expected,
      "dense ids must keep the exact historical strided seeds")
  }

  test("redactPii replaces each PII shape and leaves clean text alone") {
    val df = Seq(
      Doc(1, "write to jane.doe+test@sub.example.org today"),
      Doc(2, "host 10.0.0.1 and peer 255.255.255.255 up"),
      Doc(3, "dial 555-123-4567 or 555.987.6543 or 555 222 3333"),
      Doc(4, "version 1.2.3 costs 12.50 at 3pm")
    ).toDS.toDF
    val got = df.select($"doc_id",
      functions.TextFunctions.redactPii($"text").as("r"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) === "write to <EMAIL> today")
    assert(got(2L) === "host <IP> and peer <IP> up")
    assert(got(3L) === "dial <PHONE> or <PHONE> or <PHONE>")
    assert(got(4L) === "version 1.2.3 costs 12.50 at 3pm",
      "version strings and prices must survive")
  }

  test("registrableDomain: PSL algorithm — longest rule, wildcard, exception, private, implicit-*, NULLs") {
    val df = functions.DomainFunctions
    def rd(host: String): Option[String] =
      Option(Seq(Doc(1, host)).toDS.toDF
        .select(df.registrableDomain($"text")).head().getString(0))
    def ps(host: String): Option[String] =
      Option(Seq(Doc(1, host)).toDS.toDF
        .select(df.publicSuffix($"text")).head().getString(0))
    // plain + longest-rule-wins multi-label suffixes
    assert(rd("example.com") === Some("example.com"))
    assert(rd("a.b.example.com") === Some("example.com"))
    assert(rd("bbc.co.uk") === Some("bbc.co.uk"))
    assert(rd("news.bbc.co.uk") === Some("bbc.co.uk"))
    assert(ps("news.bbc.co.uk") === Some("co.uk"))
    // private-section rules behave identically (github.io)
    assert(rd("user.github.io") === Some("user.github.io"))
    assert(rd("deep.user.github.io") === Some("user.github.io"))
    // wildcard *.ck: every 2-level name is a suffix…
    assert(rd("a.b.ck") === Some("a.b.ck"))
    assert(ps("a.b.ck") === Some("b.ck"))
    assert(rd("b.ck") === None)
    // …except the !www.ck exception
    assert(rd("www.ck") === Some("www.ck"))
    assert(rd("sub.www.ck") === Some("www.ck"))
    // Japanese geographic wildcards + city exceptions
    assert(rd("x.y.kawasaki.jp") === Some("x.y.kawasaki.jp"))
    assert(rd("city.kawasaki.jp") === Some("city.kawasaki.jp"))
    assert(rd("a.city.kawasaki.jp") === Some("city.kawasaki.jp"))
    // unknown TLD → implicit * rule (the TLD itself is the suffix)
    assert(rd("foo.unknowntld") === Some("foo.unknowntld"))
    assert(rd("a.foo.unknowntld") === Some("foo.unknowntld"))
    // a bare public suffix has no registrable domain
    assert(rd("co.uk") === None)
    assert(rd("com") === None)
    assert(ps("co.uk") === Some("co.uk"))
    // IP literals / junk → NULL; trailing dot + case are folded
    assert(rd("192.168.0.1") === None)
    assert(rd("[2001:db8::1]") === None)
    assert(rd("Example.COM.") === Some("example.com"))
    // composition from a URL column
    val got = Seq(Doc(1, "read https://News.BBC.co.uk/x?a=1 now")).toDS.toDF
      .select(explode(functions.TextFunctions.extractUrls($"text")).as("url"))
      .select(df.registrableDomainFromUrl($"url")).head().getString(0)
    assert(got === "bbc.co.uk")
  }

  test("capPerGroup by registrable domain: hosts of one domain share a cap, sibling domains don't") {
    // the C4/RefinedWeb per-domain rule: news.bbc.co.uk and www.bbc.co.uk
    // share bbc.co.uk's cap; other.co.uk is a DIFFERENT domain even
    // though the raw-host suffix "co.uk" matches
    val rows = (1L to 30L).map { i =>
      val host =
        if (i <= 20) { if (i % 2 == 0) "news.bbc.co.uk" else "www.bbc.co.uk" }
        else "other.co.uk"
      (i, host)
    }
    val df = rows.toDF("doc_id", "host")
      .withColumn("domain", functions.DomainFunctions.registrableDomain($"host"))
    val kept = graft.operators.Sampling.capPerGroup(df, "domain", "doc_id", maxN = 5)
      .select($"doc_id", $"domain").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val byDomain = kept.groupBy(_._2).view.mapValues(_.length).toMap
    assert(byDomain("bbc.co.uk") === 5, "20 docs across two hosts must share ONE domain cap")
    assert(byDomain("other.co.uk") === 5)
    assert(kept.length === 10)
  }

  test("URL extract/host/normalize: delimiters, tracking params, case folding") {
    val tf = functions.TextFunctions
    val df = Seq(
      Doc(1, "see https://Example.COM/Path?a=b&utm_source=x#frag and (https://x.y/z) too"),
      Doc(2, "quoted \"https://q.r/s\" and 'http://a.b/c' stop before quotes"),
      Doc(3, "no urls at all")
    ).toDS.toDF
    val rows = df
      .select($"doc_id", explode(tf.extractUrls($"text")).as("url"))
      .select($"doc_id", $"url", tf.urlHost($"url").as("host"), tf.normalizeUrl($"url").as("n"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
    assert(rows.count(_._1 == 3L) === 0)
    val byUrl = rows.map(r => r._2 -> ((r._3, r._4))).toMap
    assert(byUrl("https://Example.COM/Path?a=b&utm_source=x#frag") ===
      (("example.com", "https://example.com/Path?a=b")))
    assert(byUrl.contains("https://x.y/z"), "closing paren must delimit")
    assert(byUrl.contains("https://q.r/s") && byUrl.contains("http://a.b/c"),
      "quotes must delimit")
    // middle/trailing/only tracking params + authority folding with port
    def norm(u: String): String =
      Seq(Doc(9, u)).toDS.toDF
        .select(tf.normalizeUrl($"text")).head().getString(0)
    assert(norm("https://m.n/o?utm_a=1&utm_b=2&c=3") === "https://m.n/o?c=3")
    assert(norm("https://m.n/o?c=3&gclid=z") === "https://m.n/o?c=3")
    assert(norm("https://m.n/o?fbclid=z") === "https://m.n/o")
    assert(norm("HTTPS://User@Host.Net:8080/KeepCase?Q=V") ===
      "https://user@host.net:8080/KeepCase?Q=V")
    // anchoring regressions: a param NAME that merely contains a
    // tracking name must survive intact (the unanchored first cut
    // produced ?xb=2 and ?myk=1 here)
    assert(norm("https://e.com/?xutm_a=1&b=2") === "https://e.com/?xutm_a=1&b=2")
    assert(norm("https://e.com/?myfbclid=3&k=1") === "https://e.com/?myfbclid=3&k=1")
    // emptied-out query drops its '?'
    assert(norm("https://e.com/p?utm_only=1") === "https://e.com/p")
    // CRLF text must not embed \r into the extracted URL
    val crlf = Seq(Doc(30, "see https://a.b/c\r\nmore")).toDS.toDF
      .select(explode(tf.extractUrls($"text")).as("u")).head().getString(0)
    assert(crlf === "https://a.b/c")
  }

  test("NULL inputs: sampling, chunking, repetition, clustering stay well-defined") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = true),
      StructField("lang", StringType, nullable = true),
      StructField("text", StringType, nullable = true)))
    val df = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(1L, "en", "alpha beta gamma delta epsilon"),
        Row(2L, null, "some other words entirely here"),
        Row(null, "en", "row with a null id")),
      schema)
    // split: NULL id lands in exactly one side (holdout), never vanishes
    val (train, hold) = operators.Sampling.split(df, "doc_id", 0.8)
    assert(train.count() + hold.count() === 3)
    assert(hold.filter($"doc_id".isNull).count() === 1)
    // sampleByStratum: NULL stratum takes the default fraction, not 0
    assert(operators.Sampling
      .sampleByStratum(df, "doc_id", "lang", Map("fr" -> 1.0), default = 1.0)
      .count() === 3)
    assert(operators.Sampling
      .sampleByStratum(df, "doc_id", "lang", Map("en" -> 1.0), default = 0.0)
      .count() === 2)
    // chunkByTokens: NULL text yields no chunks (not phantom NULL rows)
    val nullText = spark.createDataFrame(
      java.util.Arrays.asList(Row(9L, "en", null)), schema)
    assert(operators.Packing.chunkByTokens(nullText, "text", "doc_id", 4).count() === 0)
    // repeatedNgramFraction: NULL text → NULL, never an impossible 2.0
    val f = nullText.select(
      functions.TextFunctions.repeatedNgramFraction($"text", 2)).collect().head
    assert(f.isNullAt(0))
    // dupClusters: string ids are rejected loudly, not silently no-op'd
    val strPairs = Seq(("a", "b")).toDF("id_a", "id_b")
    val e = intercept[IllegalArgumentException](operators.Dedup.dupClusters(strPairs))
    assert(e.getMessage.contains("integer-like"))
  }

  test("packTexts concatenates members in id order with bounded bookkeeping") {
    val df = Seq(
      (3L, "cc", 100L), (1L, "aa", 100L), (2L, "bb", 100L), (11L, "dd", 100L)
    ).toDF("doc_id", "text", "w")
    val out = operators.Packing
      .packTexts(df, "text", "doc_id", "w", budget = 300L, nBuckets = 1)
      .orderBy("pack_seq")
      .collect()
    // one bucket: ids 1,2,3 fill pack 0 (300 = budget), 11 starts pack 1
    assert(out.length === 2)
    assert(out(0).getAs[String]("pack_text") === "aa bb cc", "id order, not arrival order")
    assert(out(0).getAs[Long]("n_docs") === 3L)
    assert(out(0).getAs[Long]("pack_weight") === 300L)
    assert(out(1).getAs[String]("pack_text") === "dd")
  }

  test("stripHtml drops tags/scripts/comments, decodes entities, keeps plain text") {
    val df = Seq(
      Doc(1, "<html><p>Hello &amp; welcome</p><script>var x=1;</script><b>world</b></html>"),
      Doc(2, "<div class=\"box\">A&nbsp;B</div> <!-- note --> C &lt;tag&gt;"),
      Doc(3, "no markup here at all"),
      Doc(4, "edge: &amp;lt; must decode once to &lt; not twice to <")
    ).toDS.toDF
    val got = df.select($"doc_id", functions.TextFunctions.stripHtml($"text").as("c"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) === "Hello & welcome world")
    assert(got(2L) === "A B C <tag>")
    assert(got(3L) === "no markup here at all")
    assert(got(4L) === "edge: &lt; must decode once to < not twice to <")
    // a dangling <script/> must not let </style> close it and swallow prose
    val dangling = Seq(
      Doc(5, "<script src=\"a.js\"/><p>Real text</p><style>.x{}</style>")
    ).toDS.toDF
    val d5 = dangling.select(functions.TextFunctions.stripHtml($"text"))
      .collect().head.getString(0)
    assert(d5 === "Real text", s"got '$d5'")
  }

  test("hotLshBuckets reports exactly the blocks the cap would truncate") {
    // 50 identical vectors collide into one bucket per table
    val vecs = (1L to 50L).map(i => Vec(i, Array.fill(8)(1f))).toDS.toDF
    val hot = operators.Similarity.hotLshBuckets(
      vecs, "embedding", "vec_id", nPlanes = 4, dim = 8, nTables = 2, maxBucket = 10)
    val rows = hot.collect()
    assert(rows.length === 2, s"one hot bucket per table: ${rows.toSeq}")
    assert(rows.forall(_.getAs[Long]("bucket_size") === 50L))
    // under a loose cap nothing is hot
    assert(operators.Similarity.hotLshBuckets(
      vecs, "embedding", "vec_id", nPlanes = 4, dim = 8, nTables = 2,
      maxBucket = 100).count() === 0)
  }

  test("HLL sketches survive a parquet round-trip (the persist-per-day contract)") {
    val docs = Tables.documents(spark, SparkTestSession.sfDir)
      .withColumn("_day", $"doc_id" % 3)
    val path = s"${SparkTestSession.tmpRoot}/sketches_rt"
    operators.Sketches.distinctSketch(docs, Seq("lang", "_day"), "text")
      .write.mode("overwrite").parquet(path)
    val merged = operators.Sketches
      .mergeSketches(spark.read.parquet(path), Seq("lang"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val direct = operators.Sketches
      .mergeSketches(
        operators.Sketches.distinctSketch(docs, Seq("lang"), "text"), Seq("lang"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(merged === direct, "persisted sketches must merge to the direct estimate")
  }

  test("ngramDocFrequency counts docs, not occurrences, and prunes below minDocs") {
    val df = Seq(
      Doc(1, "the boilerplate footer text ends here"),
      Doc(2, "content one then the boilerplate footer text ends here"),
      // repeats the gram WITHIN one doc — must still count once
      Doc(3, "the boilerplate footer the boilerplate footer unrelated tail words")
    ).toDS.toDF
    val got = operators.CorpusStats.ngramDocFrequency(df, "text", n = 3, minDocs = 3L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("the boilerplate footer" -> 3L))
    val loose = operators.CorpusStats.ngramDocFrequency(df, "text", n = 3, minDocs = 2L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(loose("boilerplate footer text") === 2L)
    assert(!loose.contains("content one then"))
  }

  test("repeatedNgramFraction measures within-doc bigram repeats") {
    val df = Seq(
      Doc(1, "spam spam spam spam"),        // 3 bigrams, 1 distinct → 2/3
      Doc(2, "all words here are unique"),  // no repeats → 0
      Doc(3, "tiny")                        // ≤ n tokens → 0
    ).toDS.toDF
    val got = df.select($"doc_id",
      functions.TextFunctions.repeatedNgramFraction($"text", 2).as("f"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(got(1L) - 2.0 / 3.0) < 1e-12)
    assert(got(2L) === 0.0)
    assert(got(3L) === 0.0)
  }

  // ------------------------------------------------- sketches

  test("uniqueNApprox tracks exact distinct counts within the rsd bound") {
    val docs = Tables.documents(spark, SparkTestSession.sfDir)
    val exact = docs.groupBy("lang")
      .agg(org.apache.spark.sql.functions.countDistinct($"text").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val approx = operators.Sketches.uniqueNApprox(docs, Seq("lang"), "text", rsd = 0.02)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (lang, n) =>
      val a = approx(lang).toDouble
      assert(math.abs(a - n) / n <= 0.06, s"$lang: approx $a vs exact $n")
    }
  }

  test("merged per-increment HLL sketches == whole-corpus sketch, bit-for-bit") {
    // the incremental-analytics contract: per-day sketches persisted and
    // merged later must give the estimate a full recompute would
    val docs = Tables.documents(spark, SparkTestSession.sfDir)
      .withColumn("_day", $"doc_id" % 5)
    val daily = operators.Sketches.distinctSketch(docs, Seq("lang", "_day"), "text")
    val merged = operators.Sketches.mergeSketches(daily, Seq("lang"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val whole = operators.Sketches
      .mergeSketches(
        operators.Sketches.distinctSketch(docs, Seq("lang"), "text"), Seq("lang"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(merged === whole)
    // and the estimate itself is accurate
    val exact = docs.groupBy("lang")
      .agg(org.apache.spark.sql.functions.countDistinct($"text").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (lang, n) =>
      assert(math.abs(merged(lang).toDouble - n) / n <= 0.05, s"$lang: ${merged(lang)} vs $n")
    }
  }

  test("uniqueNApprox plans one partial-final aggregate pair — no Expand, no distinct shuffle") {
    val docs = Tables.documents(spark, SparkTestSession.sfDir)
    val plan = operators.Sketches.uniqueNApprox(docs, Seq("lang"), "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"), s"Expand in approx-distinct plan:\n${plan.take(2000)}")
    assert(plan.contains("partial_approx_count_distinct") ||
      "HashAggregate.*HashAggregate".r.findFirstIn(plan.replaceAll("\n", " ")).isDefined,
      s"expected map-side partial aggregation:\n${plan.take(2000)}")
  }

  // ------------------------------------------------- vectors/similarity

  test("cosine: identity 1, orthogonal 0") {
    val df = Seq(
      Vec(1, Array(1f, 0f)),
      Vec(2, Array(0f, 1f))
    ).toDS.toDF
    val self = df.filter($"vec_id" === 1)
      .select(VectorFunctions.cosine($"embedding", $"embedding")).collect().head.getDouble(0)
    assert(math.abs(self - 1.0) < 1e-12)
    val cross = df.as("a").crossJoin(df.as("b"))
      .filter($"a.vec_id" === 1 && $"b.vec_id" === 2)
      .select(VectorFunctions.cosine($"a.embedding", $"b.embedding"))
      .collect().head.getDouble(0)
    assert(math.abs(cross) < 1e-12)
  }

  test("dot/normSq/euclidean compiled kernels == HOF formulations, bit-identical") {
    val rng = new scala.util.Random(13)
    val df = (0L until 50L)
      .map(i => VecPair(i,
        Array.fill(64)(rng.nextGaussian().toFloat),
        Array.fill(64)(rng.nextGaussian().toFloat)))
      .toDS.toDF
    val ad = $"a".cast("array<double>")
    val bd = $"b".cast("array<double>")
    val rows = df.select(
      VectorFunctions.dot($"a", $"b").as("kd"),
      aggregate(zip_with(ad, bd, _ * _), lit(0.0), _ + _).as("hd"),
      VectorFunctions.normSq($"a").as("kn"),
      aggregate(transform(ad, x => x * x), lit(0.0), _ + _).as("hn"),
      VectorFunctions.euclidean($"a", $"b").as("ke"),
      sqrt(aggregate(zip_with(ad, bd, (x, y) => (x - y) * (x - y)), lit(0.0), _ + _)).as("he")
    ).collect()
    rows.foreach { r =>
      assert(r.getDouble(0) === r.getDouble(1)) // dot
      assert(r.getDouble(2) === r.getDouble(3)) // normSq
      assert(r.getDouble(4) === r.getDouble(5)) // euclidean
    }
  }

  test("l2Normalize compiled kernel == HOF formulation, bit-identical") {
    // the kernel replaces an interpreted nested HOF (VERDICT r5 #3); the
    // contract is BIT-equality with the Column formulation it replaced:
    // same ascending-index double summation, sqrt, divide
    val rng = new scala.util.Random(11)
    val df = (0L until 50L)
      .map(i => Vec(i, Array.fill(64)(rng.nextGaussian().toFloat)))
      .toDS.toDF
    val ad = $"embedding".cast("array<double>")
    val hofNorm = sqrt(aggregate(transform(ad, x => x * x), lit(0.0), _ + _))
    val hof = flatten(transform(array(hofNorm), nn => transform(ad, x => x / nn)))
    val rows = df
      .select(
        VectorFunctions.l2Normalize($"embedding").as("k"),
        hof.as("h")
      )
      .collect()
    rows.foreach { r =>
      val k = r.getSeq[Double](0)
      val h = r.getSeq[Double](1)
      assert(k.length === 64 && k === h)
    }
    // normalized vectors are unit length
    val n = df
      .select(VectorFunctions.norm(VectorFunctions.l2Normalize($"embedding")))
      .collect()
    n.foreach(r => assert(math.abs(r.getDouble(0) - 1.0) < 1e-12))
  }

  test("every compiled expression survives CODEGEN_ONLY (no silent interpreter fallback)") {
    // Scala only emits Java-visible static forwarders for TOP-LEVEL
    // objects: a kernel nested in another object compiles in Scala but the
    // generated Java can't resolve it, and Spark quietly falls back to
    // interpreted eval with only a WARN (this bit the PQ kernels in round
    // 6). CODEGEN_ONLY turns that fallback into a hard failure.
    import graft.operators.Quantization
    val key = "spark.sql.codegen.factoryMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "CODEGEN_ONLY")
    try {
      val docs = Seq(Doc(1L, "alpha beta gamma delta epsilon")).toDS.toDF
      docs.select(
        Dedup.minHashSignature($"text", 32, 3),
        Dedup.simHash($"text"),
        TextFunctions.fingerprintRolling($"text"),
        TextFunctions.shingleSet($"text", 3)
      ).collect()
      val vecs = Seq(Vec(1L, Array.tabulate(8)(_.toFloat + 1f))).toDS.toDF
      val cb = Quantization.PQCodebooks(
        2, 2, 8,
        Array.tabulate(2)(s => Array.tabulate(2)(c =>
          Array.fill(4)(s + c + 1.0))))
      vecs.select(
        VectorFunctions.dot($"embedding", $"embedding"),
        VectorFunctions.euclidean($"embedding", $"embedding"),
        VectorFunctions.vecSub($"embedding", $"embedding"),
        VectorFunctions.l2Normalize($"embedding")
      ).collect()
      Quantization.pqEncode(vecs, "embedding", cb)
        .select(Quantization.adcScore($"_pq", Array(Array(0.1, 0.2), Array(0.3, 0.4))))
        .collect()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    }
  }

  test("vector kernels fail fast on mismatched lengths (no out-of-bounds reads)") {
    // a dim parameter that disagrees with the real embedding width must
    // surface as a clear error, not garbage signatures (the replaced HOF
    // null-padded; an unchecked kernel would read past the shorter array)
    val df = Seq(VecPair(1L, Array(1f, 2f, 3f), Array(1f, 2f))).toDS.toDF
    val e = intercept[Exception] {
      df.select(VectorFunctions.dot($"a", $"b")).collect()
    }
    def rootMessages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ rootMessages(x.getCause))
    assert(
      rootMessages(e).exists(_.contains("equal-length arrays")),
      s"unexpected error: $e"
    )
  }

  test("pq encode fails fast on vector/codebook dim mismatch") {
    // pqEncode accepts user-supplied codebooks (e.g. from ivfPqRead); a
    // dim mismatch must surface as a clear error, not garbage codes from
    // reading past the UnsafeArrayData
    val vecs = Seq(Vec(1L, Array.tabulate(8)(_.toFloat + 1f))).toDS.toDF
    val narrow = Quantization.PQCodebooks(
      2, 2, 6,
      Array.tabulate(2)(s => Array.tabulate(2)(c =>
        Array.fill(3)(s + c + 1.0))))
    val e = intercept[Exception] {
      Quantization.pqEncode(vecs, "embedding", narrow).collect()
    }
    def rootMessages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ rootMessages(x.getCause))
    assert(
      rootMessages(e).exists(m =>
        m.contains("codebook dim") && m.contains("8") && m.contains("6")),
      s"unexpected error: $e"
    )
  }

  test("missing ANN query id names the id in the error, not 'empty iterator'") {
    val vecs = (0L until 8L)
      .map(i => Vec(i, Array.tabulate(8)(j => (i + j).toFloat)))
      .toDS.toDF
    val e = intercept[IllegalArgumentException] {
      Quantization.pqSearch(vecs, "embedding", "vec_id", queryId = 999L,
        topK = 1, m = 2, k = 2, iters = 1)
    }
    assert(e.getMessage.contains("999") && e.getMessage.contains("vec_id"))
  }

  test("suggestLshParams reproduces the probe's known-good points") {
    // the sf0.1 probe (NEXT.md round 6): 2000 near-threshold vectors at
    // cosine 0.3, (3 planes, 12 tables) measured recall 0.951. The
    // at-threshold bound for (3, 12) is 0.943, so asking for 0.94
    // reproduces the known-good config and 0.95 adds one table.
    import Similarity.{suggestLshParams, LshParams}
    assert(suggestLshParams(2000, 250, recallTarget = 0.94, threshold = 0.3)
      === LshParams(3, 12))
    assert(suggestLshParams(2000, 250, recallTarget = 0.95, threshold = 0.3)
      === LshParams(3, 13))
    // planes grow with log(n): 1000× the corpus at the same bucket target
    val big = suggestLshParams(2000L * 1000, 250, 0.94, 0.3)
    assert(big.nPlanes === 13, s"expected log2(2M/250)=13, got $big")
    // more planes → lower per-table collision → more tables to recover
    assert(big.nTables > 12)
    // near-duplicate threshold (cosine ~0.95) needs very few tables
    val tight = suggestLshParams(2000L * 1000, 250, 0.95, 0.95)
    assert(tight.nTables < big.nTables)
  }

  test("knn ranks by cosine: crafted vectors in known order") {
    val df = Seq(
      Vec(0, Array(1f, 0f, 0f)),
      Vec(1, Array(0.9f, 0.1f, 0f)),
      Vec(2, Array(0.5f, 0.5f, 0f)),
      Vec(3, Array(0f, 1f, 0f)),
      Vec(4, Array(-1f, 0f, 0f))
    ).toDS.toDF
    val got = Similarity.knn(df, "embedding", "vec_id", queryId = 0L, k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(got === Array((1L, 1), (2L, 2), (3L, 3)))
  }

  test("annTopK returns plausible neighbors through LSH buckets") {
    val rng = new scala.util.Random(7)
    val vecs = (0L until 100L).map { i =>
      Vec(i, Array.fill(16)(rng.nextGaussian().toFloat))
    }
    val df = vecs.toDS.toDF
    val ann = Similarity.annTopK(df, "embedding", "vec_id", 0L, 5, nPlanes = 4, dim = 16)
      .collect()
    assert(ann.nonEmpty && ann.length <= 5)
    assert(ann.map(_.getInt(1)).toSeq === (1 to ann.length))
  }

  test("annTopK recall@5 vs exact knn on the fixture (s02 gate)") {
    val emb = Tables.embeddings(spark, SparkTestSession.sfDir)
    val queryIds = Seq(0L, 1L, 2L, 3L, 4L)
    val recalls = queryIds.map { q =>
      val exact = Similarity
        .knn(emb, "embedding", "vec_id", q, 5)
        .collect().map(_.getLong(0)).toSet
      val ann = Similarity
        .annTopK(emb, "embedding", "vec_id", q, 5, nPlanes = 6)
        .collect().map(_.getLong(0)).toSet
      (exact intersect ann).size / 5.0
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.6, s"mean recall@5=$mean per-query=$recalls")
  }

  test("ivfTopK recall@5 vs exact knn on the fixture (s03 gate)") {
    val emb = Tables.embeddings(spark, SparkTestSession.sfDir)
    val queryIds = Seq(0L, 1L, 2L)
    val recalls = queryIds.map { q =>
      val exact = Similarity
        .knn(emb, "embedding", "vec_id", q, 5)
        .collect().map(_.getLong(0)).toSet
      val ivf = Similarity
        .ivfTopK(emb, "embedding", "vec_id", q, 5, nCentroids = 16, nProbe = 6)
        .collect().map(_.getLong(0)).toSet
      (exact intersect ivf).size / 5.0
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.8, s"mean recall@5=$mean per-query=$recalls")
  }

  test("sq8 codes == HOF formulation bit-for-bit; clamped; round-trip within half a cell (s13 kernel gate)") {
    val emb = Tables.embeddings(spark, SparkTestSession.sfDir)
    val p = Quantization.sq8Train(emb, "embedding")
    assert(p.span > 0, "fixture corpus must not be constant")
    // compiled kernel == the HOF formulation of the same double chain
    // (the expression the DuckDB oracle replays); the HOF side is
    // CodegenFallback, so this also pins interpreted == codegen'd
    val hof = transform(
      col("embedding").cast("array<double>"),
      x =>
        least(lit(255.0), greatest(lit(0.0),
          floor((x - lit(p.mn)) / lit(p.span) * lit(255.0)))).cast("int"))
    val mismatches = Quantization
      .sq8Encode(emb, "embedding", p)
      .withColumn("_hof", hof)
      .filter(col("_sq8") =!= col("_hof"))
      .count()
    assert(mismatches === 0L)
    // range + reconstruction bound: midpoint decode sits within half a
    // quantization cell of the original (the uniform-SQ8 error contract)
    val cell = p.span / 255.0
    Quantization
      .sq8Encode(emb, "embedding", p)
      .select(col("embedding").cast("array<double>"), col("_sq8"))
      .collect()
      .foreach { r =>
        r.getSeq[Double](0).zip(r.getSeq[Int](1)).foreach { case (x, c) =>
          assert(c >= 0 && c <= 255, s"code $c out of range")
          val decoded = p.mn + (c + 0.5) * cell
          assert(math.abs(x - decoded) <= cell / 2 + 1e-12, s"x=$x code=$c")
        }
      }
    // frozen-params encode of an out-of-range delta saturates, not wraps
    // (the incremental-ingest shape: new vectors under yesterday's params)
    val delta = Seq(Vec(9000L, Array(1e9f, -1e9f))).toDS.toDF
    val sat = Quantization
      .sq8Encode(delta, "embedding", p)
      .select(col("_sq8"))
      .head
      .getSeq[Int](0)
    assert(sat === Seq(255, 0))
    // degenerate inputs pin the ORACLE's (DuckDB's) measured outcomes —
    // there is no engine-neutral chain for them (Spark's HOF sends NaN
    // to 0, DuckDB to 255; DuckDB's div-by-zero is NULL → 0), which is
    // why the kernel, not a HOF, defines the production semantics
    assert(SQ8Kernels.codeOf(Double.NaN, 0.0, 1.0) === 255)
    assert(SQ8Kernels.codeOf(0.5, 0.5, 0.0) === 0)
    assert(SQ8Kernels.codeOf(1.0, 0.5, 0.0) === 0)
    assert(SQ8Kernels.codeOf(0.0, 0.5, 0.0) === 0)
    assert(SQ8Kernels.codeOf(Double.PositiveInfinity, 0.0, 1.0) === 255)
    assert(SQ8Kernels.codeOf(Double.NegativeInfinity, 0.0, 1.0) === 0)
    val weird = Seq(Vec(1L, Array(Float.NaN, 0.1f, 0.9f))).toDS.toDF
    val wrow = Quantization
      .sq8Encode(weird, "embedding", Quantization.SQ8Params(0.0, 1.0))
      .select(col("_sq8"))
      .head
    assert(wrow.getSeq[Int](0) === Seq(255, 25, 229))
  }

  test("sq8TopK: integer scores rank-consistent, recall@5 vs brute L2 on the fixture (s13 gate)") {
    val emb = Tables.embeddings(spark, SparkTestSession.sfDir)
    val queryIds = Seq(0L, 1L, 2L)
    val recalls = queryIds.map { qid =>
      val res = Quantization
        .sq8TopK(emb, "embedding", "vec_id", qid, k = 5)
        .collect()
      assert(res.length === 5)
      assert(res.map(_.getInt(1)).sorted.toSeq === (1 to 5))
      val byRank = res.sortBy(_.getInt(1))
      val sdcs = byRank.map(_.getAs[Long]("sdc_l2"))
      assert(sdcs.zip(sdcs.tail).forall { case (a, b) => a <= b },
        s"scores must be nondecreasing with rank: ${sdcs.toSeq}")
      // exact L2 top-5 (brute, full floats) as the recall reference
      val qv = emb
        .filter(col("vec_id") === qid)
        .select(col("embedding").cast("array<double>"))
        .head.getSeq[Double](0)
      val qLit = array(qv.map(lit): _*)
      val brute = emb
        .filter(col("vec_id") =!= qid)
        .withColumn("_d", VectorFunctions.sqDist(col("embedding"), qLit))
        .orderBy(col("_d").asc, col("vec_id").asc)
        .limit(5)
        .collect().map(_.getLong(0)).toSet
      (brute intersect byRank.map(_.getLong(0)).toSet).size / 5.0
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.8, s"mean recall@5=$mean per-query=$recalls")
  }

  test("sq8 index: probe-after-append == frozen-params union; replay appends nothing; compaction keeps probes; wrong-dim fails fast (s14 gate)") {
    val emb = Tables.embeddings(spark, SparkTestSession.sfDir)
    val corpus = emb.filter(col("vec_id") % 3 =!= 0)
    val delta = emb.filter(col("vec_id") % 3 === 0)
    val idx = Quantization.writeSq8Index(corpus, "embedding", "vec_id", "sq8_gate_idx")
    try {
      // the handle's frozen params are exactly a plain train on the corpus
      assert(idx.params === Quantization.sq8Train(corpus, "embedding"))
      Quantization.appendToSq8Index(delta, "embedding", "vec_id", idx)
      val qv = emb
        .filter(col("vec_id") === 1L)
        .select(col("embedding").cast("array<double>"))
        .head.getSeq[Double](0).toArray
      def probeDf() =
        Quantization.sq8TopKIndexed(spark, idx, qv, k = 10, excludeId = Some(1L))
      def probe() = probeDf()
        .collect()
        .sortBy(_.getInt(1))
        .map(r => (r.getLong(0), r.getAs[Long]("sdc_l2")))
        .toSeq
      // the probe is one code-table scan into per-partition heaps — a
      // global sort (Exchange) here would be the 100 TB scale-killer
      val plan = probeDf().queryExecution.executedPlan.toString
      assert(plan.contains("TakeOrderedAndProject"),
        s"probe lost its TakeOrdered shape:\n${plan.take(2000)}")
      assert(!plan.contains("Exchange"),
        s"probe plan contains a shuffle:\n${plan.take(2000)}")
      val probed = probe()
      // direct form: encode the union under the SAME frozen params — the
      // written build+append table must be observationally identical
      val qCodes = SQ8Kernels.encodeLocal(qv, idx.params.mn, idx.params.span)
      val direct = Quantization
        .sq8Encode(emb.filter(col("vec_id") =!= 1L), "embedding", idx.params)
        .withColumn("_sdc", Quantization.sq8Sdc(col("_sq8"), qCodes))
        .orderBy(col("_sdc").asc, col("vec_id").asc)
        .limit(10)
        .collect()
        .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("_sdc")))
        .toSeq
      assert(probed === direct)
      // a replayed batch (at-least-once foreachBatch) appends NOTHING:
      // duplicate _vid rows would eat top-k slots
      val rowsAfterFirst = spark.table(idx.codeTable).count()
      Quantization.appendToSq8Index(delta, "embedding", "vec_id", idx)
      assert(spark.table(idx.codeTable).count() === rowsAfterFirst,
        "replayed append duplicated rows")
      assert(probe() === probed, "replayed append changed probe results")
      // compaction: small-file merge, identical probes, bucket layout kept
      def tableDir = new java.io.File(
        spark.sql(s"DESCRIBE TABLE EXTENDED ${idx.codeTable}")
          .filter($"col_name" === "Location").head().getString(1).stripPrefix("file:"))
      def nFiles = tableDir.listFiles().count(_.getName.startsWith("part-"))
      val filesBefore = nFiles
      Quantization.compactSq8Index(spark, idx)
      assert(probe() === probed, "compaction changed probe results")
      assert(nFiles <= filesBefore, s"file count grew ($filesBefore -> $nFiles)")
      assert(spark.table(idx.codeTable).count() === rowsAfterFirst)
      // a wrong-dim delta fails BEFORE any row lands in the table
      val bad = Seq(Vec(99999L, Array(1f, 2f))).toDS.toDF
      val e = intercept[IllegalArgumentException] {
        Quantization.appendToSq8Index(bad, "embedding", "vec_id", idx)
      }
      assert(e.getMessage.contains("dim"))
      assert(spark.table(idx.codeTable).filter(col("_vid") === 99999L).count() === 0L)
    } finally spark.sql("DROP TABLE IF EXISTS sq8_gate_idx_codes")
  }

  test("sq8TopKRefined == brute L2 top-k; broadcast-only plan (s15 gate)") {
    val emb = Tables.embeddings(spark, SparkTestSession.sfDir)
    val idx = Quantization.writeSq8Index(emb, "embedding", "vec_id", "sq8_gate_refine")
    try {
      Seq(0L, 1L, 2L).foreach { qid =>
        val qv = emb
          .filter(col("vec_id") === qid)
          .select(col("embedding").cast("array<double>"))
          .head.getSeq[Double](0).toArray
        val refinedDf = Quantization.sq8TopKRefined(
          emb, "embedding", "vec_id", idx, qv, k = 5, refine = 4,
          excludeId = Some(qid))
        // exact pass touches only the broadcast candidate list: a
        // shuffle in this plan would defeat the two-stage design
        val plan = refinedDf.queryExecution.executedPlan.toString
        assert(plan.contains("BroadcastExchange"), plan.take(2000))
        assert(!plan.contains("hashpartitioning") && !plan.contains("rangepartitioning"),
          s"refine plan shuffles:\n${plan.take(2000)}")
        val refined = refinedDf.collect().sortBy(_.getInt(1)).map(_.getLong(0)).toSeq
        val qLit = array(qv.map(lit): _*)
        val brute = emb
          .filter(col("vec_id") =!= qid)
          .withColumn("_d", VectorFunctions.sqDist(col("embedding"), qLit))
          .orderBy(col("_d").asc, col("vec_id").asc)
          .limit(5)
          .collect().map(_.getLong(0)).toSeq
        // 8-bit shortlist at refine=4 recovers the exact top-5 in ORDER
        // on the fixture (quantization noise ≪ inter-vector gaps)
        assert(refined === brute, s"query $qid: $refined != $brute")
      }
    } finally spark.sql("DROP TABLE IF EXISTS sq8_gate_refine_codes")
  }

  test("ivfSq8: nProbe=all == frozen-params full scan incl. append; pruned codes-only plan; compaction parity; recall + refined lift (s16 gate)") {
    val emb = Tables.embeddings(spark, SparkTestSession.sfDir)
    val corpus = emb.filter($"vec_id" % 3 =!= 0)
    val delta = emb.filter($"vec_id" % 3 === 0)
    val path = s"${SparkTestSession.tmpRoot}/ivfsq8_gate"
    val idx = Quantization.ivfSq8Build(
      corpus, "embedding", "vec_id", path, nCentroids = 8)
    // frozen params are exactly a plain SQ8 train on the build corpus
    assert(idx.params === Quantization.sq8Train(corpus, "embedding"))
    // sidecar round-trip: coarse + params come back bit-identical
    val loaded = Quantization.ivfSq8Read(spark, path, "vec_id")
    assert(loaded.coarse.flatten.toSeq === idx.coarse.flatten.toSeq)
    assert(loaded.params === idx.params && loaded.dim === idx.dim)
    Quantization.ivfSq8Append(spark, delta, path, "embedding", "vec_id")
    val qv = emb
      .filter($"vec_id" === 1L)
      .select($"embedding".cast("array<double>"))
      .head.getSeq[Double](0).toArray
    def probe(nProbe: Int) = Quantization
      .ivfSq8Search(spark, loaded, qv, k = 10, nProbe = nProbe, excludeId = Some(1L))
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .collect().sortBy(_.getInt(1))
      .map(r => (r.getLong(0), r.getAs[Long]("sdc_l2"))).toSeq
    // nProbe = all lists → candidate pool = build + append → must equal a
    // frozen-params encode of the union scored directly: ids AND integer
    // scores (this is simultaneously the append-parity gate — the delta
    // rows are only visible via the append)
    val all = rows(probe(8))
    val qCodes = SQ8Kernels.encodeLocal(qv, idx.params.mn, idx.params.span)
    val direct = Quantization
      .sq8Encode(emb.filter($"vec_id" =!= 1L), "embedding", idx.params)
      .withColumn("_sdc", Quantization.sq8Sdc($"_sq8", qCodes))
      .orderBy($"_sdc".asc, $"vec_id".asc)
      .limit(10)
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("_sdc"))).toSeq
    assert(all === direct)
    assert(direct.exists { case (id, _) => id % 3 == 0 },
      "gate is vacuous: no appended row reaches the top-10")
    // the pruned probe is a partition-pruned scan of the codes table into
    // per-partition heaps: directory-level pruning, no floats, no shuffle
    val prunedDf = probe(2)
    val plan = prunedDf.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("_centroid"),
      s"probe scan is not partition-pruned:\n${plan.take(3000)}")
    assert(plan.contains("TakeOrderedAndProject"),
      s"probe lost its TakeOrdered shape:\n${plan.take(2000)}")
    assert(!plan.contains("Exchange"),
      s"probe plan contains a shuffle:\n${plan.take(2000)}")
    assert(!spark.read.parquet(s"$path/codes").columns.contains("embedding"))
    // pruned results carry the same integer scores as the full ranking
    // (the probe only narrows the candidate pool, never rescores)
    val directMap = Quantization
      .sq8Encode(emb.filter($"vec_id" =!= 1L), "embedding", idx.params)
      .withColumn("_sdc", Quantization.sq8Sdc($"_sq8", qCodes))
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("_sdc")).toMap
    val pruned = rows(prunedDf)
    assert(pruned.forall { case (id, s) => directMap(id) == s },
      s"pruned probe rescored: $pruned")
    // compaction: identical probes before and after
    Quantization.ivfSq8Compact(spark, path)
    assert(rows(probe(8)) === all, "compaction changed probe results")
    // recall@10 vs exact L2, probing half the lists — same floor as the
    // s05 gate (the gaussian fixture is IVF's worst case: no cluster
    // structure, so pruning recall is the measured fixture value)
    val recalls = Seq(0L, 1L, 2L, 3L, 4L).map { qid =>
      val q = emb.filter($"vec_id" === qid)
        .select($"embedding".cast("array<double>")).head.getSeq[Double](0).toArray
      val exact = emb.filter($"vec_id" =!= qid)
        .withColumn("_d", VectorFunctions.sqDist($"embedding", array(q.map(lit): _*)))
        .orderBy($"_d".asc, $"vec_id".asc).limit(10)
        .collect().map(_.getLong(0)).toSet
      val got = Quantization
        .ivfSq8Search(spark, loaded, q, k = 10, nProbe = 4, excludeId = Some(qid))
        .collect().map(_.getLong(0)).toSet
      (exact intersect got).size / 10.0
    }
    val mean = recalls.sum / recalls.length
    assert(mean >= 0.4, s"mean recall@10 $mean below the fixture floor (got $recalls)")
    // refined two-stage over all lists recovers the exact top-5 in order
    // (the s15 property, through the pruned emitter's shortlist)
    val refined = Quantization
      .ivfSq8SearchRefined(emb, "embedding", "vec_id", loaded, qv,
        k = 5, nProbe = 8, refine = 4, excludeId = Some(1L))
      .collect().sortBy(_.getInt(1)).map(_.getLong(0)).toSeq
    val brute = emb.filter($"vec_id" =!= 1L)
      .withColumn("_d", VectorFunctions.sqDist($"embedding", array(qv.map(lit): _*)))
      .orderBy($"_d".asc, $"vec_id".asc).limit(5)
      .collect().map(_.getLong(0)).toSeq
    assert(refined === brute, s"$refined != $brute")
    // a wrong-dim delta fails BEFORE any row lands
    val bad = Seq(Vec(99999L, Array(1f, 2f))).toDS.toDF
    val e = intercept[IllegalArgumentException] {
      Quantization.ivfSq8Append(spark, bad, path, "embedding", "vec_id")
    }
    assert(e.getMessage.contains("dim"))
    assert(spark.read.parquet(s"$path/codes")
      .filter($"_vid" === 99999L).count() === 0L)
    // replay-safe append (st15's ingest form): a replayed batch — the
    // at-least-once foreachBatch case — appends NOTHING (the partition-
    // pruned ledger sees its first attempt's rows), and a genuinely new
    // delta still folds in
    val shifted = delta
      .select(($"vec_id" + 500000L).as("vec_id"), $"embedding")
    Quantization.ivfSq8AppendReplaySafe(spark, shifted, path, "embedding", "vec_id")
    val afterFirst = spark.read.parquet(s"$path/codes").count()
    val probeAfterFirst = rows(probe(8))
    Quantization.ivfSq8AppendReplaySafe(spark, shifted, path, "embedding", "vec_id")
    assert(spark.read.parquet(s"$path/codes").count() === afterFirst,
      "replayed append duplicated rows")
    assert(rows(probe(8)) === probeAfterFirst, "replayed append changed probe results")
    // the shifted copy of vec 1's nearest neighbor is only visible via
    // the replay-safe append — non-vacuity of the fold
    assert(afterFirst ===
      spark.read.parquet(s"$path/codes").filter($"_vid" < 500000L).count()
        + shifted.count())
  }

  test("ivfSq8SearchMany: batched == N single probes; one broadcast join + WindowGroupLimit + DPP; jobs don't scale with queries (s19/s20 gate)") {
    val emb = Tables.embeddings(spark, SparkTestSession.sfDir)
      .select($"vec_id", $"embedding")
    val path = s"${SparkTestSession.tmpRoot}/ivfsq8_many_gate"
    val idx = Quantization.ivfSq8Build(
      emb, "embedding", "vec_id", path, nCentroids = 8)
    val qids = Seq(0L, 3L, 7L, 11L, 200L)
    val queries = emb.filter($"vec_id".isin(qids.map(java.lang.Long.valueOf): _*))
    def batchedRows(nProbe: Int) = Quantization
      .ivfSq8SearchMany(spark, idx, queries, "embedding", "vec_id",
        k = 5, nProbe = nProbe)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
      .toSet
    def singleRows(nProbe: Int) = qids.flatMap { qid =>
      val qv = emb.filter($"vec_id" === qid)
        .select($"embedding".cast("array<double>")).head.getSeq[Double](0).toArray
      Quantization
        .ivfSq8Search(spark, idx, qv, k = 5, nProbe = nProbe, excludeId = Some(qid))
        .collect()
        .map(r => (qid, r.getLong(0), r.getInt(1), r.getAs[Long]("sdc_l2")))
    }.toSet
    // PRUNED parity: the join-shaped composition must reproduce the
    // single-query probe path exactly — ids, ranks, integer scores
    assert(batchedRows(2) === singleRows(2))
    // nProbe=all parity == the flat full scan per query (the s19 FULL-
    // oracle argument: seed-dependent centroids cancel at full coverage)
    assert(batchedRows(8) === singleRows(8))
    // plan shape: ONE broadcast equi-join (corpus never shuffles), ONE
    // hash exchange (the per-query window), map-side partial top-k
    // (WindowGroupLimit), and dynamic partition pruning reaching the
    // codes scan — lists no query probes never leave disk
    val df = Quantization.ivfSq8SearchMany(
      spark, idx, queries, "embedding", "vec_id", k = 5, nProbe = 2)
    val plan = df.queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(plan).size === 1, plan.take(3000))
    assert(plan.contains("WindowGroupLimit"), plan.take(3000))
    assert("Exchange hashpartitioning".r.findAllIn(plan).size === 1,
      plan.take(3000))
    assert(plan.contains("dynamicpruningexpression"),
      s"codes scan not dynamically partition-pruned:\n${plan.take(3000)}")
    assert(plan.contains("sq8_sdc_cols"), plan.take(3000))
    // job accounting: ~100 queries must run a CONSTANT number of Spark
    // jobs (dim guard + broadcast + DPP subquery + the one action), not
    // one per query — the driver-loop bottleneck this operator removes
    val manyQueries = emb.filter($"vec_id" % 5 === 0) // 100 at sf0.001
    val nq = manyQueries.count()
    assert(nq >= 50, s"fixture too small for the job gate: $nq")
    val (n, jobs) = JobCount.during(spark)(Quantization.ivfSq8SearchMany(
      spark, idx, manyQueries, "embedding", "vec_id", k = 5, nProbe = 2)
      .count())
    assert(n > 0)
    assert(jobs <= 15,
      s"batched search ran $jobs jobs for $nq queries — per-query work?")
    // a wrong-dim query frame fails before any scan
    val bad = Seq(Vec(77777L, Array(1f, 2f))).toDS.toDF
    val e = intercept[IllegalArgumentException] {
      Quantization.ivfSq8SearchMany(
        spark, idx, bad, "embedding", "vec_id", k = 5, nProbe = 2)
    }
    assert(e.getMessage.contains("dim"))
    // batched REFINED == per-query single refined (ids + ranks) at the
    // pruned shape — the exact re-rank composes join-shaped too
    val refinedBatched = Quantization.ivfSq8SearchManyRefined(
      spark, idx, emb, "embedding", "vec_id", queries, "embedding", "vec_id",
      k = 3, nProbe = 2, refine = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val refinedSingle = qids.flatMap { qid =>
      val qv = emb.filter($"vec_id" === qid)
        .select($"embedding".cast("array<double>")).head.getSeq[Double](0).toArray
      Quantization
        .ivfSq8SearchRefined(emb, "embedding", "vec_id", idx, qv,
          k = 3, nProbe = 2, refine = 4, excludeId = Some(qid))
        .collect().map(r => (qid, r.getLong(0), r.getInt(1)))
    }.toSet
    assert(refinedBatched === refinedSingle)
    // the refined plan still never shuffles the corpus: every join is a
    // broadcast, the only hash exchanges are the two per-query windows
    val rdf = Quantization.ivfSq8SearchManyRefined(
      spark, idx, emb, "embedding", "vec_id", queries, "embedding", "vec_id",
      k = 3, nProbe = 2, refine = 4)
    val rplan = rdf.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(rplan).size <= 2, rplan.take(3000))
    assert("SortMergeJoin".r.findAllIn(rplan).isEmpty, rplan.take(3000))
  }

  test("knnMany: batched exact == N single knn calls; broadcast nested-loop + WindowGroupLimit, one exchange (s22 gate)") {
    val emb = Tables.embeddings(spark, SparkTestSession.sfDir)
      .select($"vec_id", $"embedding")
    val qids = Seq(0L, 3L, 7L, 11L, 200L)
    val queries = emb.filter($"vec_id".isin(qids.map(java.lang.Long.valueOf): _*))
    val batched = Similarity
      .knnMany(emb, "embedding", "vec_id", queries, "embedding", "vec_id", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val single = qids.flatMap { qid =>
      Similarity.knn(emb, "embedding", "vec_id", qid, k = 5)
        .collect().map(r => (qid, r.getLong(0), r.getInt(1)))
    }.toSet
    assert(batched === single)
    // plan: the corpus never shuffles — queries ride a broadcast
    // nested-loop (the exclusion predicate is the join condition), the
    // only hash exchange is the per-query window, partial top-k map-side
    val df = Similarity.knnMany(
      emb, "embedding", "vec_id", queries, "embedding", "vec_id", k = 5)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert(plan.contains("WindowGroupLimit"), plan.take(3000))
    assert("Exchange hashpartitioning".r.findAllIn(plan).size === 1, plan.take(3000))
    // null corpus vectors and null query vectors never rank
    val withNull = emb.unionByName(
      Seq((99999L, null: Array[Float])).toDF("vec_id", "embedding"))
    val got = Similarity.knnMany(
      withNull, "embedding", "vec_id",
      withNull.filter($"vec_id".isin(0L, 99999L)), "embedding", "vec_id", k = 5)
      .collect()
    assert(got.forall(_.getLong(0) == 0L), "a null query emitted rows")
    assert(got.forall(_.getLong(1) != 99999L), "a null corpus vector ranked")
    // r19: a duplicated query id corrupts ranks silently — fail loudly
    val dup = queries.union(queries.limit(1))
    val e = intercept[IllegalArgumentException] {
      Similarity.knnMany(
        emb, "embedding", "vec_id", dup, "embedding", "vec_id", k = 5)
    }
    assert(e.getMessage.contains("unique"))
    // r19: auto-sliced past the broadcast bound == single-shot
    val sliced = Similarity.knnMany(
      emb, "embedding", "vec_id", queries, "embedding", "vec_id", k = 5,
      maxBroadcastQueryRows = 2)
    assert(sliced.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet === batched)
    // r19: filtered EXACT baseline — "top-k among rows WHERE label < 3"
    // == the unfiltered operator over the pre-filtered corpus, with the
    // QUERY rows untouched by the predicate (a query may itself fail
    // the filter and still get its k filtered neighbors)
    val embL = Tables.embeddings(spark, SparkTestSession.sfDir)
      .select($"vec_id", $"embedding", $"label")
    val qL = embL.filter($"vec_id".isin(qids.map(java.lang.Long.valueOf): _*))
    def frows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val fGot = frows(Similarity.knnMany(
      embL, "embedding", "vec_id", qL, "embedding", "vec_id", k = 5,
      candidateFilter = Some($"label" < 3)))
    val fRef = frows(Similarity.knnMany(
      embL.filter($"label" < 3), "embedding", "vec_id",
      qL, "embedding", "vec_id", k = 5))
    assert(fGot === fRef)
    assert(fGot.size === qids.size * 5)
  }

  test("ivfSq8SearchMany r19: sliced == single-shot past the broadcast bound; filtered search is scan-pushed and exact; dup ids fail; appends carry attrs") {
    val emb = Tables.embeddings(spark, SparkTestSession.sfDir)
      .select($"vec_id", $"embedding", $"label")
    val path = s"${SparkTestSession.tmpRoot}/ivfsq8_many_r19_gate"
    // ATTRIBUTE-CARRYING index: label rides into the codes table so
    // filtered retrieval needs no corpus-sized metadata join
    val idx = Quantization.ivfSq8Build(
      emb, "embedding", "vec_id", path, nCentroids = 8,
      attrCols = Seq("label"))
    assert(spark.read.parquet(s"$path/codes").columns.contains("label"))
    val queries = emb.filter($"vec_id" % 5 === 0) // 100 at sf0.001
    val nq = queries.count()
    assert(nq >= 50, s"fixture too small: $nq")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSet
    // ---- 1) AUTO-SLICING (the r18 verdict #1 ask): a probe table over
    // the bound splits into disjoint id-hash slices whose union must be
    // ROW-IDENTICAL to the single-shot plan — and each slice keeps the
    // judged shape: broadcast joins only, never a SortMergeJoin, the
    // corpus never shuffles, one window exchange per slice
    val single = rows(Quantization.ivfSq8SearchMany(
      spark, idx, queries, "embedding", "vec_id", k = 5, nProbe = 2))
    val slicedDf = Quantization.ivfSq8SearchMany(
      spark, idx, queries, "embedding", "vec_id", k = 5, nProbe = 2,
      maxBroadcastProbeRows = 50) // 100 x 2 probe rows -> 4 slices
    val (sliced, jobs) = JobCount.during(spark)(rows(slicedDf))
    assert(sliced === single)
    // job count is O(slices), not O(queries): 4 slices of ~25 queries
    // each ran within a fixed per-slice budget (vs >= 100 for a loop)
    assert(jobs <= 30,
      s"sliced search ran $jobs jobs for $nq queries in 4 slices")
    // plan-shape asserts on a FRESH (un-executed) frame: an executed
    // AQE plan string reprints exchanges under its query stages
    val plan = Quantization.ivfSq8SearchMany(
      spark, idx, queries, "embedding", "vec_id", k = 5, nProbe = 2,
      maxBroadcastProbeRows = 50)
      .queryExecution.executedPlan.toString
    assert("SortMergeJoin".r.findAllIn(plan).isEmpty, plan.take(3000))
    assert("BroadcastHashJoin".r.findAllIn(plan).size === 4, plan.take(3000))
    assert("Exchange hashpartitioning".r.findAllIn(plan).size === 4,
      plan.take(3000))
    // ---- 2) DUPLICATE QUERY IDS fail loudly (r18 ADVICE #4): silently
    // doubled candidate rows would interleave wrong ranks
    val dup = queries.union(queries.limit(1))
    val e = intercept[IllegalArgumentException] {
      Quantization.ivfSq8SearchMany(
        spark, idx, dup, "embedding", "vec_id", k = 5, nProbe = 2)
    }
    assert(e.getMessage.contains("unique"))
    // ---- 3) FILTERED retrieval ("top-k among rows WHERE label < 3"):
    // at nProbe = all lists the result must equal the brute SDC ranking
    // over the FILTERED corpus — not a post-filter of the unfiltered
    // top-k, which loses rows (k survivors of a filter != filter of
    // the top k)
    val qids = Seq(0L, 5L, 10L, 200L)
    val qFrame = emb.filter($"vec_id".isin(qids.map(java.lang.Long.valueOf): _*))
    val filtered = Quantization.ivfSq8SearchMany(
      spark, idx, qFrame, "embedding", "vec_id", k = 5, nProbe = 8,
      candidateFilter = Some($"label" < 3))
    val got = rows(filtered)
    val want = qids.flatMap { qid =>
      val qCodes = Quantization
        .sq8Encode(emb.filter($"vec_id" === qid), "embedding", idx.params)
        .select($"_sq8").head.getSeq[Int](0).toArray
      Quantization
        .sq8Encode(emb.filter($"label" < 3 && $"vec_id" =!= qid),
          "embedding", idx.params)
        .withColumn("_sdc", Quantization.sq8Sdc($"_sq8", qCodes))
        .orderBy($"_sdc".asc, $"vec_id".asc).limit(5)
        .collect().zipWithIndex
        .map { case (r, i) =>
          (qid, r.getAs[Long]("vec_id"), i + 1, r.getAs[Long]("_sdc")) }
    }.toSet
    assert(got === want, s"filtered batched search != brute filtered SDC")
    // every emitted neighbor satisfies the predicate, k rows per query
    assert(got.size === qids.size * 5)
    // the predicate lands in the codes SCAN (PushedFilters), not
    // post-window — the gate the r18 verdict ask #3 names
    val fplan = filtered.queryExecution.executedPlan.toString
    assert("PushedFilters: \\[[^\\]]*label".r.findFirstIn(fplan).isDefined,
      s"label predicate not pushed to the codes scan:\n${fplan.take(3000)}")
    // ---- 3b) FILTERED two-stage (s25): at nProbe = all the refined
    // result must equal brute — filtered SDC shortlist of k×refine,
    // then exact L2 over exactly those rows (the filter never restated
    // at the re-rank: the shortlist set is already filtered); and the
    // predicate still lands in the codes scan
    val fRefDf = Quantization.ivfSq8SearchManyRefined(
      spark, idx, emb, "embedding", "vec_id",
      qFrame, "embedding", "vec_id", k = 3, nProbe = 8, refine = 4,
      candidateFilter = Some($"label" < 3))
    val fGotR = fRefDf.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    def vecOf(id: Long): Array[Double] = emb.filter($"vec_id" === id)
      .select($"embedding".cast("array<double>")).head.getSeq[Double](0).toArray
    val fWantR = qids.flatMap { qid =>
      val qCodes = Quantization
        .sq8Encode(emb.filter($"vec_id" === qid), "embedding", idx.params)
        .select($"_sq8").head.getSeq[Int](0).toArray
      val short = Quantization
        .sq8Encode(emb.filter($"label" < 3 && $"vec_id" =!= qid),
          "embedding", idx.params)
        .withColumn("_sdc", Quantization.sq8Sdc($"_sq8", qCodes))
        .orderBy($"_sdc".asc, $"vec_id".asc).limit(12)
        .select($"vec_id").collect().map(_.getLong(0))
      val qv = vecOf(qid)
      short.map { id =>
        val v = vecOf(id)
        val l2 = v.zip(qv).map { case (a, b) => (a - b) * (a - b) }.sum
        (id, l2)
      }.sortBy { case (id, l2) => (l2, id) }.take(3).zipWithIndex
        .map { case ((id, _), i) => (qid, id, i + 1) }
    }.toSet
    assert(fGotR === fWantR, "filtered refined != brute filtered two-stage")
    val frPlan = fRefDf.queryExecution.executedPlan.toString
    assert("PushedFilters: \\[[^\\]]*label".r.findFirstIn(frPlan).isDefined,
      s"label predicate not pushed in the refined form:\n${frPlan.take(3000)}")
    // ---- 4) appends CARRY the attribute columns; a drifted delta fails
    val delta = emb.filter($"vec_id".isin(1L, 2L, 3L))
      .select(($"vec_id" + 900000L).as("vec_id"), $"embedding", $"label")
    Quantization.ivfSq8Append(spark, delta, path, "embedding", "vec_id")
    assert(spark.read.parquet(s"$path/codes")
      .filter($"_vid" >= 900000L && $"label".isNotNull).count() === 3)
    val replayDelta = emb.filter($"vec_id".isin(4L, 6L))
      .select(($"vec_id" + 950000L).as("vec_id"), $"embedding", $"label")
    Quantization.ivfSq8AppendReplaySafe(spark, replayDelta, path, "embedding", "vec_id")
    val afterFirst = spark.read.parquet(s"$path/codes").count()
    Quantization.ivfSq8AppendReplaySafe(spark, replayDelta, path, "embedding", "vec_id")
    assert(spark.read.parquet(s"$path/codes").count() === afterFirst,
      "replayed attr-carrying append duplicated rows")
    val noAttr = emb.filter($"vec_id" === 7L)
      .select(($"vec_id" + 990000L).as("vec_id"), $"embedding")
    val e2 = intercept[IllegalArgumentException] {
      Quantization.ivfSq8Append(spark, noAttr, path, "embedding", "vec_id")
    }
    assert(e2.getMessage.contains("label"))
    // filtered search sees appended rows under their appended labels
    // (schema-consistent): rerun the filtered query — appended ids with
    // label < 3 are now eligible candidates
    val after = Quantization.ivfSq8SearchMany(
      spark, idx, qFrame, "embedding", "vec_id", k = 5, nProbe = 8,
      candidateFilter = Some($"label" >= 0)).collect()
    assert(after.length === qids.size * 5)
    // ---- 5) the two-stage refined form slices identically: union of
    // per-slice (shortlist + exact re-rank) == the single-shot plan
    def rrows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val corpus = emb.filter($"vec_id" < 900000L)
    val refinedSingle = rrows(Quantization.ivfSq8SearchManyRefined(
      spark, idx, corpus, "embedding", "vec_id",
      qFrame, "embedding", "vec_id", k = 3, nProbe = 2, refine = 4))
    val refinedSliced = rrows(Quantization.ivfSq8SearchManyRefined(
      spark, idx, corpus, "embedding", "vec_id",
      qFrame, "embedding", "vec_id", k = 3, nProbe = 2, refine = 4,
      maxBroadcastProbeRows = 2)) // 4 x 2 probe rows -> 4 slices
    assert(refinedSliced === refinedSingle)
  }

  test("sq8TrainClipped: lo=0/hi=1 degenerates to sq8Train; a planted outlier collapses unclipped recall but not clipped (s18 gate)") {
    val emb = Tables.embeddings(spark, SparkTestSession.sfDir)
    // rank 0 / rank n-1 ARE the min and max — the closed-form sanity
    // that the rank arithmetic lines up at the edges
    assert(Quantization.sq8TrainClipped(emb, "embedding", lo = 0.0, hi = 1.0)
      === Quantization.sq8Train(emb, "embedding"))
    // contaminate ONE element of ONE vector: per-tensor min/max hands it
    // the whole code range (span ~1e6 vs the fixture's ~±4), so every
    // real element lands in a couple of adjacent cells and ranking
    // collapses; the clipped train never sees it (encode saturates it)
    val poisoned = emb.withColumn(
      "embedding",
      when(col("vec_id") === 7L,
        expr("concat(array(CAST(1e6 AS FLOAT)), slice(embedding, 2, size(embedding) - 1))"))
        .otherwise(col("embedding")))
    val unclipped = Quantization.sq8Train(poisoned, "embedding")
    val clipped = Quantization.sq8TrainClipped(poisoned, "embedding", lo = 0.001, hi = 0.999)
    assert(unclipped.span > 100000.0, s"outlier must own the unclipped range: $unclipped")
    assert(clipped.span < 100.0, s"clip must shed the outlier: $clipped")
    def recall(p: Quantization.SQ8Params): Double = {
      val rs = Seq(0L, 1L, 2L).map { qid =>
        val qv = poisoned.filter($"vec_id" === qid)
          .select($"embedding".cast("array<double>")).head.getSeq[Double](0).toArray
        val exact = poisoned.filter($"vec_id" =!= qid)
          .withColumn("_d", VectorFunctions.sqDist($"embedding", array(qv.map(lit): _*)))
          .orderBy($"_d".asc, $"vec_id".asc).limit(5)
          .collect().map(_.getLong(0)).toSet
        val got = Quantization
          .sq8TopKWithParams(poisoned, "embedding", "vec_id", p, qid, k = 5)
          .collect().map(_.getLong(0)).toSet
        (exact intersect got).size / 5.0
      }
      rs.sum / rs.size
    }
    val (rc, ru) = (recall(clipped), recall(unclipped))
    assert(rc >= ru, s"clipped recall $rc below unclipped $ru")
    // the fixture floor: clipped survives contamination near the clean
    // s13 recall; unclipped collapses (measured — codes span ~2 cells)
    assert(rc >= 0.6, s"clipped recall $rc below floor")
    assert(ru <= rc, s"unclipped $ru should not beat clipped $rc")
  }

  test("sq8TrainClipped fails at TRAIN time on a planted NULL element, even off the selected ranks") {
    // element-level NULLs sort NULLS-FIRST in Spark but NULLS-LAST in the
    // DuckDB oracle's row_number — with fewer nulls than floor(lo·(n−1))
    // the old rank-landing require never fired and train silently
    // returned rank-shifted params; the failure then surfaced later, at
    // encode time, with no hint the train was wrong. One null element in
    // one vector (far below any selected rank at lo=0.25) must fail HERE.
    val rows = (0L until 8L)
      .map(i => Vec(i, Array.tabulate(8)(j => (i * 8 + j).toFloat)))
    val withNull = rows.toDF("vec_id", "embedding")
      .withColumn(
        "embedding",
        when(col("vec_id") === 3L,
          expr("concat(slice(embedding, 1, 4), array(CAST(NULL AS FLOAT)), slice(embedding, 6, 3))"))
          .otherwise(col("embedding")))
    val e = intercept[IllegalArgumentException] {
      Quantization.sq8TrainClipped(withNull, "embedding", lo = 0.25, hi = 0.75)
    }
    assert(e.getMessage.contains("NULL element"), e.getMessage)
    // the clean frame trains fine under the same clip
    val p = Quantization.sq8TrainClipped(
      rows.toDF("vec_id", "embedding"), "embedding", lo = 0.25, hi = 0.75)
    assert(p.span > 0.0)
  }

  test("sq8TrainClippedSampled: frac=1 == sq8TrainClipped exactly; sampled == clipped-over-the-sample; bad frac loud (s24 gate)") {
    val emb = Tables.embeddings(spark, SparkTestSession.sfDir)
      .select(col("vec_id"), col("embedding"))
    // frac = 1.0 must degenerate to the unsampled trainer EXACTLY
    // (hashSample(1.0) is literal true — bit-identical params)
    assert(
      Quantization.sq8TrainClippedSampled(
        emb, "embedding", "vec_id", lo = 0.01, hi = 0.99, frac = 1.0)
        == Quantization.sq8TrainClipped(emb, "embedding", lo = 0.01, hi = 0.99))
    // the composition contract the s24 oracle rides on: the sampled
    // trainer IS the clipped trainer over the md5-prefix-kept rows —
    // and determinism: a second call returns bit-identical params
    val sampled = Quantization.sq8TrainClippedSampled(
      emb, "embedding", "vec_id", lo = 0.01, hi = 0.99, frac = 0.25, salt = "s24")
    val manual = Quantization.sq8TrainClipped(
      emb.filter(Sampling.hashSample(col("vec_id"), 0.25, "s24")),
      "embedding", lo = 0.01, hi = 0.99)
    assert(sampled == manual, s"sampled $sampled != clipped-over-sample $manual")
    assert(sampled == Quantization.sq8TrainClippedSampled(
      emb, "embedding", "vec_id", lo = 0.01, hi = 0.99, frac = 0.25, salt = "s24"))
    // the sample genuinely shrinks the rank-pass input (params off the
    // full-corpus clip are allowed to differ; the SPAN must stay sane)
    assert(sampled.span > 0.0)
    // frac outside (0, 1] fails loudly, naming the bound
    val e = intercept[IllegalArgumentException] {
      Quantization.sq8TrainClippedSampled(
        emb, "embedding", "vec_id", frac = 0.0)
    }
    assert(e.getMessage.contains("0 < frac <= 1"), e.getMessage)
  }

  test("null embeddings never rank in the ascending-distance searchers") {
    // a NULL vector scores NULL distance/ADC, and Spark's ascending
    // sort is NULLS FIRST — unfiltered, the null row would take rank 1
    // in every distance-ranked (not cosine-desc-ranked) searcher
    val clean = (0L until 8L)
      .map(i => Vec(i, Array.tabulate(8)(j => (i + j).toFloat)))
    val vecs = clean.toDF("vec_id", "embedding")
      .unionByName(Seq((99L, null: Array[Float])).toDF("vec_id", "embedding"))
    val qv = Array.tabulate(8)(_.toDouble)
    // PQ ADC search over an encoded frame carrying a NULL-codes row
    val cb = Quantization.pqTrain(clean.toDF("vec_id", "embedding"),
      "embedding", "vec_id", m = 2, k = 2, iters = 1)
    val enc = Quantization.pqEncode(vecs, "embedding", cb)
    val pq = Quantization.pqSearchEncoded(enc, "vec_id", qv, cb, k = 9)
      .collect().map(_.getLong(0))
    assert(pq.length === 8 && !pq.contains(99L), pq.toSeq)
    // IVF-PQ reranked: the exact pass scans the null-bearing raw table
    val idx = Quantization.ivfPqBuild(clean.toDF("vec_id", "embedding"),
      "embedding", "vec_id", nCentroids = 2, refineIters = 1, m = 2, k = 2)
    val rr = Quantization.ivfPqSearchReranked(idx, vecs, "embedding", qv,
      topK = 9, nProbe = 2, refine = 2)
      .collect().map(_.getLong(0))
    assert(!rr.contains(99L), rr.toSeq)
    graft.CacheUtil.release(idx.encoded)
    // SQ8 end-to-end form over the null-bearing frame
    val sq = Quantization.sq8TopK(vecs, "embedding", "vec_id", queryId = 0L, k = 9)
      .collect().map(_.getLong(0))
    assert(sq.length === 7 && !sq.contains(99L), sq.toSeq)
    // IVF-SQ8: the write path drops the NULL row, so the pruned probe
    // never sees (or ranks) it
    val np = s"${SparkTestSession.tmpRoot}/ivfsq8_nullgate"
    val nidx = Quantization.ivfSq8Build(vecs, "embedding", "vec_id", np, nCentroids = 2)
    val iv = Quantization.ivfSq8Search(spark, nidx, qv, k = 9, nProbe = 2)
      .collect().map(_.getLong(0))
    assert(iv.length === 8 && !iv.contains(99L), iv.toSeq)
  }

  test("lshNearDups precision-exact + recall vs brute on the fixture (d07 gate)") {
    // fixture pairs all sit at cosine 0.3-0.5 — near-threshold, the hard
    // case for hyperplane LSH. nPlanes=2/nTables=8 gives theoretical
    // per-pair recall 1-(1-p²)⁸ ≈ 0.97 at cos=0.3 (p = 1-θ/π ≈ 0.597);
    // deterministic under the fixed seed/data, so the bound is tight.
    val emb = Tables.embeddings(spark, SparkTestSession.sfDir)
    val brute = Dedup
      .embeddingNearDupsBrute(emb, "embedding", "vec_id", threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lshRows = Similarity
      .lshNearDups(emb, "embedding", "vec_id", threshold = 0.3, nPlanes = 2, nTables = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val lsh = lshRows.toSet
    // lowest-matching-table emission: no distinct() in the plan, so a pair
    // colliding in several tables must still appear exactly once
    assert(lshRows.length === lsh.size, "pair emitted more than once")
    assert(brute.nonEmpty, "fixture must contain qualifying pairs")
    assert(lsh.subsetOf(brute), "cosine-verified pairs must be precision-exact")
    val recall = (brute intersect lsh).size.toDouble / brute.size
    assert(recall >= 0.9, s"recall=$recall (${lsh.size}/${brute.size})")
  }

  test("incremental LSH against a persisted index == batch on the union (gate)") {
    // third member of the incremental-index family (d08 minhash, d09
    // simhash): pairs(corpus) ∪ incremental(delta, idx) == batch(corpus
    // ∪ delta), exactly once, no corpus recompute. Same (2, 8) params
    // as the d07 gate so the fixture's near-threshold pairs collide.
    val emb = Tables.embeddings(spark, SparkTestSession.sfDir)
    val corpus = emb.filter($"vec_id" % 3 =!= 0)
    val delta = emb.filter($"vec_id" % 3 === 0)
    val idx = Similarity.writeLshIndex(
      corpus, "embedding", "vec_id", "linc_gate", nPlanes = 2, nTables = 8, buckets = 8)
    try {
      def pairs(df: org.apache.spark.sql.DataFrame): Array[(Long, Long)] =
        df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
      val incr = pairs(
        Similarity.lshNearDupsIncremental(delta, "embedding", "vec_id", 0.3, idx))
      val batch = pairs(Similarity.lshNearDups(
        emb, "embedding", "vec_id", 0.3, nPlanes = 2, nTables = 8)).toSet
      val corpusOnly = pairs(Similarity.lshNearDups(
        corpus, "embedding", "vec_id", 0.3, nPlanes = 2, nTables = 8)).toSet
      val touchesDelta = batch.filter { case (a, b) => a % 3 == 0 || b % 3 == 0 }
      assert(touchesDelta.nonEmpty, "fixture yields no cross/delta pairs — gate is vacuous")
      assert(incr.toSet === touchesDelta)
      assert(incr.length === incr.toSet.size, "pair emitted more than once")
      assert(corpusOnly.union(incr.toSet) === batch)
    } finally {
      spark.sql("DROP TABLE IF EXISTS linc_gate_bands")
      spark.sql("DROP TABLE IF EXISTS linc_gate_vecs")
    }
  }

  test("incremental LSH reads the corpus index with no corpus-side Exchange; appends fold in") {
    val emb = Tables.embeddings(spark, SparkTestSession.sfDir)
    val corpus = emb.filter($"vec_id" % 3 =!= 0)
    val delta = emb.filter($"vec_id" % 3 === 0)
    val idx = Similarity.writeLshIndex(
      corpus, "embedding", "vec_id", "linc_plan", nPlanes = 2, nTables = 8, buckets = 8)
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      IndexFold.withProbePlan(Similarity.lshFamily(delta, "embedding", "vec_id", 0.3, idx)) { pairs =>
        val plan = pairs.queryExecution.executedPlan.toString
        assert(plan.contains("Bucketed: true"),
          s"index scan did not use the bucket layout:\n${plan.take(3000)}")
        assert(!plan.contains("Bucketed: false"),
          s"planner disabled the bucketed read (corpus side would shuffle):\n${plan.take(3000)}")
        assert(pairs.count() > 0)
      }
      // append: fold the delta in; the next (tiny) delta must pair
      // against a vector that only the append made visible
      Similarity.appendToLshIndex(delta, "embedding", "vec_id", idx)
      val one = emb.filter($"vec_id" % 3 === 0).limit(1)
        .select(($"vec_id" + 1000000L).as("vec_id"), $"embedding")
      val got = Similarity.lshNearDupsIncremental(one, "embedding", "vec_id", 0.99, idx)
      // the shifted copy of a delta vector is cosine-1 with its original,
      // which lives in the index only via the append
      assert(got.count() >= 1)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      spark.sql("DROP TABLE IF EXISTS linc_plan_bands")
      spark.sql("DROP TABLE IF EXISTS linc_plan_vecs")
    }
  }

  test("written IVF index probes as a partition-pruned scan, no cache/count (s03 scale shape)") {
    val emb = Tables.embeddings(spark, SparkTestSession.sfDir)
    val path = s"${SparkTestSession.tmpRoot}/ivf_index"
    val built = Similarity.ivfBuild(emb, "embedding", "vec_id", nCentroids = 8, refineIters = 1)
    Similarity.ivfWrite(built, path)
    val loaded = Similarity.ivfRead(spark, path, "embedding", "vec_id")
    assert(loaded.centroids.length === 8)
    val qVec = emb.filter($"vec_id" === 0L).select($"embedding").head()
      .getSeq[Float](0).toArray.map(_.toDouble)
    val probe = Similarity.ivfProbe(loaded, qVec, k = 5, nProbe = 2, excludeId = Some(0L))
    val plan = probe.queryExecution.executedPlan.toString
    assert(
      plan.contains("PartitionFilters") && plan.contains("_centroid"),
      s"probe scan is not partition-pruned:\n${plan.take(3000)}"
    )
    assert(!plan.contains("InMemoryTableScan"), "probe path must not cache the table")
    assert(probe.collect().length === 5)
  }

  test("PQ: Lloyd training reduces reconstruction error; encode is deterministic") {
    import graft.operators.Quantization
    val emb = Tables.embeddings(spark, SparkTestSession.sfDir)
    def mse(cb: Quantization.PQCodebooks): Double = {
      val rows = Quantization.pqEncode(emb, "embedding", cb)
        .select($"embedding".cast("array<double>"), $"_pq")
        .collect()
      rows.map { r =>
        val v = r.getSeq[Double](0).toArray
        val rec = Quantization.pqDecodeLocal(r.getSeq[Int](1), cb)
        v.zip(rec).map { case (a, b) => (a - b) * (a - b) }.sum / v.length
      }.sum / rows.length
    }
    val cb0 = Quantization.pqTrain(emb, "embedding", "vec_id", m = 8, k = 16, iters = 0)
    val cb2 = Quantization.pqTrain(emb, "embedding", "vec_id", m = 8, k = 16, iters = 2)
    val (e0, e2) = (mse(cb0), mse(cb2))
    assert(e2 < e0, s"training must reduce reconstruction MSE: $e0 -> $e2")
    // deterministic: same corpus → same codebooks → same codes
    val cb2b = Quantization.pqTrain(emb, "embedding", "vec_id", m = 8, k = 16, iters = 2)
    assert(
      cb2.centroids.flatten.flatten.toSeq === cb2b.centroids.flatten.flatten.toSeq,
      "training is stride-seeded + fixed iterations — must be deterministic"
    )
  }

  test("PQ ADC search: exact self-NN via codes only, recall vs exact knn (s04 gate)") {
    import graft.operators.Quantization
    val emb = Tables.embeddings(spark, SparkTestSession.sfDir)
    val cb = Quantization.pqTrain(emb, "embedding", "vec_id", m = 16, k = 32, iters = 2)
    val encoded = Quantization.pqEncode(emb, "embedding", cb)
    // a query vector taken FROM the corpus must retrieve its own code row
    // first when not excluded (ADC distance to itself is the quantization
    // floor — sanity that the LUT/code arithmetic lines up)
    val q0 = emb.filter($"vec_id" === 0L)
      .select($"embedding".cast("array<double>")).head().getSeq[Double](0).toArray
    val self = Quantization
      .pqSearchEncoded(encoded, "vec_id", q0, cb, k = 1, excludeId = None)
      .collect().head
    assert(self.getLong(0) === 0L, s"self-NN failed: ${self}")
    // recall@10 vs exact euclidean knn over a few queries. The fixture is
    // ~random gaussian — PQ's worst case (no cluster structure) — so the
    // floor is the measured fixture value (deterministic: 0.48 at m=16/
    // k=32), pinned with margin; the gate catches arithmetic regressions,
    // not tuning
    val recalls = Seq(0L, 1L, 2L).map { qid =>
      val qv = emb.filter($"vec_id" === qid)
        .select($"embedding".cast("array<double>")).head().getSeq[Double](0).toArray
      val exact = emb.filter($"vec_id" =!= qid)
        .select($"vec_id", graft.functions.VectorFunctions
          .sqDist($"embedding", array(qv.map(lit): _*)).as("d"))
        .orderBy($"d".asc, $"vec_id".asc).limit(10)
        .collect().map(_.getLong(0)).toSet
      val pq = Quantization
        .pqSearchEncoded(encoded, "vec_id", qv, cb, k = 10, excludeId = Some(qid))
        .collect().map(_.getLong(0)).toSet
      (exact intersect pq).size / 10.0
    }
    val mean = recalls.sum / recalls.length
    assert(mean >= 0.4, s"mean recall@10 $mean below the fixture floor (got $recalls)")
  }

  test("IVF-PQ: pruned residual-ADC search matches exhaustive PQ recall (s05 gate)") {
    import graft.operators.Quantization
    val emb = Tables.embeddings(spark, SparkTestSession.sfDir)
    val idx = Quantization.ivfPqBuild(
      emb, "embedding", "vec_id",
      nCentroids = 16, refineIters = 1, m = 16, k = 32, iters = 2)
    // deterministic build: coarse lists partition the corpus
    val n = emb.count()
    assert(idx.encoded.count() === n)
    assert(idx.encoded.select($"_centroid").distinct().count() <= 16L)
    // recall@10 vs exact, scoring only nProbe=6 of 16 lists — residual
    // quantization must hold the exhaustive-PQ floor (measured 0.48 on
    // the fixture, same as full-scan PQ at the same code budget)
    val recalls = Seq(0L, 1L, 2L, 3L, 4L).map { qid =>
      val qv = emb.filter($"vec_id" === qid)
        .select($"embedding".cast("array<double>")).head().getSeq[Double](0).toArray
      val exact = emb.filter($"vec_id" =!= qid)
        .select($"vec_id", graft.functions.VectorFunctions
          .sqDist($"embedding", array(qv.map(lit): _*)).as("d"))
        .orderBy($"d".asc, $"vec_id".asc).limit(10)
        .collect().map(_.getLong(0)).toSet
      val got = Quantization
        .ivfPqSearch(idx, qv, 10, nProbe = 6, excludeId = Some(qid))
        .collect().map(_.getLong(0)).toSet
      (exact intersect got).size / 10.0
    }
    val mean = recalls.sum / recalls.length
    assert(mean >= 0.4, s"mean recall@10 $mean below the fixture floor (got $recalls)")
  }

  test("IVF-PQ re-ranking lifts recall toward exact (IVFADC+R)") {
    import graft.operators.Quantization
    val emb = Tables.embeddings(spark, SparkTestSession.sfDir)
    val idx = Quantization.ivfPqBuild(
      emb, "embedding", "vec_id",
      nCentroids = 16, refineIters = 1, m = 16, k = 32, iters = 2)
    val (plain, reranked) = Seq(0L, 1L, 2L, 3L, 4L).map { qid =>
      val qv = emb.filter($"vec_id" === qid)
        .select($"embedding".cast("array<double>")).head().getSeq[Double](0).toArray
      val exact = emb.filter($"vec_id" =!= qid)
        .select($"vec_id", graft.functions.VectorFunctions
          .sqDist($"embedding", array(qv.map(lit): _*)).as("d"))
        .orderBy($"d".asc, $"vec_id".asc).limit(10)
        .collect().map(_.getLong(0)).toSet
      val p = Quantization
        .ivfPqSearch(idx, qv, 10, nProbe = 6, excludeId = Some(qid))
        .collect().map(_.getLong(0)).toSet
      val r = Quantization
        .ivfPqSearchReranked(idx, emb, "embedding", qv, 10,
          nProbe = 6, refine = 4, excludeId = Some(qid))
        .collect().map(_.getLong(0)).toSet
      ((exact intersect p).size / 10.0, (exact intersect r).size / 10.0)
    }.unzip
    val (mp, mr) = (plain.sum / plain.length, reranked.sum / reranked.length)
    // exact rescoring of the over-fetched set can only fix ADC ranking
    // errors, never introduce them — and on the fixture it must show a
    // real lift over code-only ranking
    assert(mr >= mp, s"re-ranked recall $mr below plain ADC $mp")
    assert(mr >= mp + 0.1, s"re-ranking shows no lift: plain $mp, reranked $mr")
    graft.CacheUtil.release(idx.encoded)
  }

  test("written IVF-PQ index probes as a partition-pruned scan of codes (s05 scale shape)") {
    import graft.operators.Quantization
    val emb = Tables.embeddings(spark, SparkTestSession.sfDir)
    val idx = Quantization.ivfPqBuild(
      emb, "embedding", "vec_id",
      nCentroids = 8, refineIters = 1, m = 16, k = 32, iters = 1)
    val path = s"${SparkTestSession.tmpRoot}/ivfpq_index"
    Quantization.ivfPqWrite(idx, path)
    val loaded = Quantization.ivfPqRead(spark, path, "vec_id")
    // round-trip: codebooks and coarse centroids come back bit-identical
    assert(loaded.coarse.flatten.toSeq === idx.coarse.flatten.toSeq)
    assert(loaded.cb.centroids.flatten.flatten.toSeq ===
      idx.cb.centroids.flatten.flatten.toSeq)
    assert(loaded.encoded.count() === emb.count())
    val qv = emb.filter($"vec_id" === 0L)
      .select($"embedding".cast("array<double>")).head().getSeq[Double](0).toArray
    val probe = Quantization.ivfPqSearch(loaded, qv, 5, nProbe = 2, excludeId = Some(0L))
    val plan = probe.queryExecution.executedPlan.toString
    assert(
      plan.contains("PartitionFilters") && plan.contains("_centroid"),
      s"probe scan is not partition-pruned:\n${plan.take(3000)}"
    )
    // the probe must read codes only — the float vectors are not in the
    // written table at all, so ADC-off-codes is structural, not assumed
    assert(!loaded.encoded.columns.contains("embedding"))
    assert(probe.collect().length === 5)
    // written-index search == in-memory-index search (same codebooks)
    val mem = Quantization.ivfPqSearch(idx, qv, 5, nProbe = 2, excludeId = Some(0L))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    val disk = probe.collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(mem === disk)
  }

  // -------------------------------------------------------- multimodal

  test("decodeVideo: real AVI walk + per-frame PNG decode matches the closed-form fixture") {
    val ids = Seq(0L, 1L, 5L, 62L, 149L, 150L, 1234L)
    val docs = ids.map(i => (i, s"doc$i")).toDF("doc_id", "text")
    val media = Multimodal.syntheticVideoMedia(spark, docs)
    // payloads are REAL AVIs: RIFF....AVI<space> signature
    val sigs = media.select($"payload").collect()
      .map(_.getAs[Array[Byte]](0)).map(b => (new String(b.take(4)), new String(b.slice(8, 12))))
    assert(sigs.forall(_ === (("RIFF", "AVI "))))
    val got = Multimodal.decodeVideo(spark, media, batchSize = 2)
      .collect().map(d => d.doc_id -> d).toMap
    ids.foreach { id =>
      val (w, h, n, base) = Multimodal.videoParams(id)
      val d = got(id)
      assert(d.fourcc === "MPNG")
      assert((d.width, d.height, d.n_frames) === ((w, h, n)))
      val expect = n.toLong * (w.toLong * h * base + h.toLong * (w - 1) * w / 2 +
        w.toLong * (h - 1) * h / 2) + 7L * w * h * (n - 1) * n / 2
      assert(d.pix_sum === expect, s"clip $id sample sum")
    }
  }

  test("decodeVideo: the same parser+codec path handles Motion-JPEG (MJPG fourcc)") {
    // JPEG is lossy, so no closed-form sum — the gate is dims, frame
    // count, fourcc, and that every frame actually decoded (pix_sum of a
    // mid-gray clip must land near the ideal, far from 0 or saturation)
    val w = 16; val h = 12; val n = 3
    val jpegFrames = (0 until n).map { _ =>
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      val r = img.getRaster
      (0 until h).foreach(y => (0 until w).foreach(x => r.setSample(x, y, 0, 128)))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", bos)
      bos.toByteArray
    }
    val avi = Multimodal.muxAvi("MJPG", w, h, jpegFrames)
    // frames must be real JPEGs (SOI marker), not PNGs
    assert((jpegFrames.head(0) & 0xff) === 0xff && (jpegFrames.head(1) & 0xff) === 0xd8)
    val media = Seq((7L, "video/avi", avi)).toDF("doc_id", "kind", "payload")
    val d = Multimodal.decodeVideo(spark, media).collect().head
    assert((d.fourcc, d.width, d.height, d.n_frames) === (("MJPG", w, h, n)))
    val ideal = 128L * w * h * n
    assert(math.abs(d.pix_sum - ideal) < ideal / 10, s"pix_sum ${d.pix_sum} vs ~$ideal")
  }

  test("parseAvi rejects malformed containers loudly") {
    val e1 = intercept[IllegalArgumentException] {
      Multimodal.parseAvi("not a riff file at all".getBytes)
    }
    assert(e1.getMessage.contains("not a RIFF"))
    // a real RIFF that is not an AVI form (RIFF WAVE)
    val wav = Multimodal.renderWav(3L)
    val e2 = intercept[IllegalArgumentException](Multimodal.parseAvi(wav))
    assert(e2.getMessage.contains("not an AVI form"))
    // truncated AVI: chop a valid clip mid-movi
    val avi = Multimodal.renderAvi(5L)
    val e3 = intercept[IllegalArgumentException] {
      Multimodal.parseAvi(java.util.Arrays.copyOfRange(avi, 0, avi.length / 2))
    }
    assert(e3.getMessage.contains("truncated"))
  }

  test("parseAvi rejects a chunk size that wraps past 2 GiB instead of looping") {
    // a crafted u32 size >= 2^31 goes negative after .toInt; without the
    // size >= 0 guard the walker's `off += 8 + size` steps BACKWARDS and
    // spins forever — the guard must fire loudly at every walk level
    val avi = Multimodal.renderAvi(3L)
    // top-level walker: the first chunk after the 12-byte RIFF header has
    // its size field at bytes 16..19
    val top = avi.clone()
    top(16) = 0xf0.toByte; top(17) = 0xff.toByte
    top(18) = 0xff.toByte; top(19) = 0xff.toByte
    val e1 = intercept[IllegalArgumentException](Multimodal.parseAvi(top))
    assert(e1.getMessage.contains("beyond 2 GiB"))
    // movi walker: patch the first frame chunk ('00dc') the same way
    val movi = avi.clone()
    val dc = "00dc".getBytes
    val dcAt = movi.indices.indexWhere(i =>
      i + 4 <= movi.length && movi.slice(i, i + 4).sameElements(dc))
    assert(dcAt > 0, "fixture has no 00dc chunk")
    movi(dcAt + 4) = 0xf0.toByte; movi(dcAt + 5) = 0xff.toByte
    movi(dcAt + 6) = 0xff.toByte; movi(dcAt + 7) = 0xff.toByte
    val e2 = intercept[IllegalArgumentException](Multimodal.parseAvi(movi))
    assert(e2.getMessage.contains("beyond 2 GiB"))
  }

  test("muxAvi word-aligns odd-sized frame chunks per the RIFF rule") {
    // an odd-length frame payload forces a pad byte; the parser must
    // still step to the next chunk and recover BOTH frames intact
    val f1 = Array[Byte](1, 2, 3) // odd
    val f2 = Array[Byte](4, 5, 6, 7)
    val avi = Multimodal.muxAvi("MPNG", 4, 4, Seq(f1, f2))
    val s = Multimodal.parseAvi(avi)
    assert(s.frames.length === 2)
    assert(s.frames(0).toSeq === f1.toSeq)
    assert(s.frames(1).toSeq === f2.toSeq)
  }

  test("decodeImages: real PNG codec round-trip matches the closed-form fixture oracle") {
    val ids = Seq(0L, 1L, 62L, 199L, 200L, 1234L)
    val docs = ids.map(i => (i, s"doc$i")).toDF("doc_id", "text")
    val media = Multimodal.syntheticImageMedia(spark, docs)
    // payloads are REAL PNGs: magic bytes \x89PNG
    val magic = media.select($"payload").collect()
      .map(_.getAs[Array[Byte]](0).take(4).toSeq)
    assert(magic.forall(_ === Seq[Byte](0x89.toByte, 'P', 'N', 'G')))
    val got = Multimodal.decodeImages(spark, media, batchSize = 2)
      .collect().map(d => d.doc_id -> d).toMap
    ids.foreach { id =>
      val (w, h, base) = Multimodal.imageDims(id)
      val d = got(id)
      assert((d.width, d.height, d.channels) === ((w, h, 1)), s"dims for $id")
      val want = w.toLong * h * base + h.toLong * (w - 1) * w / 2 +
        w.toLong * (h - 1) * h / 2
      assert(d.pix_sum === want, s"pix_sum for $id")
    }
  }

  test("decodeAudio: real WAV codec round-trip matches the closed-form fixture oracle") {
    val ids = Seq(0L, 1L, 49L, 50L, 999L, 1000L, 1234L)
    val docs = ids.map(i => (i, s"doc$i")).toDF("doc_id", "text")
    val media = Multimodal.syntheticAudioMedia(spark, docs)
    // payloads are REAL RIFF/WAVE containers: magic bytes "RIFF"
    val magic = media.select($"payload").collect()
      .map(_.getAs[Array[Byte]](0).take(4).map(_.toChar).mkString)
    assert(magic.forall(_ === "RIFF"), s"not WAV containers: ${magic.toSeq}")
    val got = Multimodal.decodeAudio(spark, media, batchSize = 2)
      .collect().map(a => a.doc_id -> a).toMap
    ids.foreach { id =>
      val (c, n, base) = Multimodal.audioParams(id)
      val a = got(id)
      assert((a.sample_rate, a.channels, a.n_frames) === ((8000, c, n.toLong)),
        s"format for $id")
      // sum over frames i < n, channels ch < c of (base + 3i + ch)
      val want = c.toLong * n * base + 3L * c * (n - 1) * n / 2 +
        n.toLong * (c - 1) * c / 2
      assert(a.sample_sum === want, s"sample_sum for $id")
    }
    // a passthrough cannot fake the sum: corrupting ONE payload byte in
    // the data chunk changes the decoded sum
    val bytes = Multimodal.renderWav(7L)
    bytes(bytes.length - 2) = (bytes(bytes.length - 2) ^ 0x01).toByte
    val corrupted = Seq(MediaRow(7L, "audio/wav", bytes)).toDF()
    val cGot = Multimodal.decodeAudio(spark, corrupted).collect().head
    val (c7, n7, b7) = Multimodal.audioParams(7L)
    val clean = c7.toLong * n7 * b7 + 3L * c7 * (n7 - 1) * n7 / 2 +
      n7.toLong * (c7 - 1) * c7 / 2
    assert(cGot.sample_sum !== clean, "corrupted payload decoded to the clean sum")
  }

  test("resizeImages: NN subsample of the decoded raster; output re-decodes") {
    val docs = Seq((5L, "a"), (13L, "b"), (200L, "c")).toDF("doc_id", "text")
    val media = Multimodal.syntheticImageMedia(spark, docs)
    val got = Multimodal.resizeImages(spark, media, factor = 2)
      .collect().map(r => r.doc_id -> r).toMap
    got.foreach { case (id, r) =>
      val (w, h, base) = Multimodal.imageDims(id)
      val (wo, ho) = ((w + 1) / 2, (h + 1) / 2)
      assert((r.w_in, r.h_in, r.w_out, r.h_out) === ((w, h, wo, ho)))
      // out(x,y) = base + 2x + 2y
      val want = wo.toLong * ho * base + ho.toLong * (wo - 1) * wo +
        wo.toLong * (ho - 1) * ho
      assert(r.pix_sum === want, s"resized pix_sum for $id")
      // the stored payload is itself a decodable PNG with the same sum
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.png))
      assert(img != null && img.getWidth === wo && img.getHeight === ho)
    }
    // factor 1 is the identity on dims and sum
    val id1 = Multimodal.resizeImages(spark, media, factor = 1)
      .collect().map(r => r.doc_id -> r).toMap
    val dec = Multimodal.decodeImages(spark, media)
      .collect().map(d => d.doc_id -> d).toMap
    id1.foreach { case (id, r) =>
      assert((r.w_out, r.h_out, r.pix_sum) ===
        ((dec(id).width, dec(id).height, dec(id).pix_sum)))
    }
  }

  test("binaryFile ingestion round-trips the corpus: files == toMedia, byte-for-byte") {
    // the real entry point a 100 TB asset pipeline starts from: write the
    // fixture corpus as one file per doc, read it back via the binaryFile
    // source, and require the media frame to match the in-table stand-in
    val docs = Tables.documents(spark, SparkTestSession.sfDir).limit(50)
    val dir = s"${SparkTestSession.tmpRoot}/binfiles_rt"
    Multimodal.writeTextCorpusAsFiles(docs, "doc_id", "text", dir)
    val fromFiles = Multimodal.mediaFromBinaryFiles(spark, dir)
      .select($"doc_id", $"kind", $"payload".cast("string").as("t"))
      .collect().map(r => (r.getLong(0), r.getString(2))).toMap
    val fromTable = Multimodal.toMedia(docs)
      .select($"doc_id", $"payload".cast("string").as("t"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(fromFiles === fromTable)
    // and the downstream transforms consume it unchanged
    val decoded = Multimodal
      .metadata(Multimodal.mediaFromBinaryFiles(spark, dir))
      .collect()
    assert(decoded.length === fromTable.size)
  }

  test("mediaFromBinaryFiles rejects files without a numeric id prefix") {
    val dir = s"${SparkTestSession.tmpRoot}/binfiles_bad"
    val p = java.nio.file.Paths.get(dir)
    org.apache.commons.io.FileUtils.deleteQuietly(p.toFile)
    java.nio.file.Files.createDirectories(p)
    java.nio.file.Files.write(p.resolve("noid.bin"), "x".getBytes)
    val e = intercept[Exception] {
      Multimodal.mediaFromBinaryFiles(spark, dir).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("no numeric id prefix")), s"unexpected: $e")
  }

  test("frameSample: counts follow ceil arithmetic") {
    val df = Seq(Doc(1, "x" * 130)).toDS.toDF // 130 bytes, 64-byte frames → 3 frames
    val got = Multimodal.frameSample(Multimodal.toMedia(df), frameBytes = 64, every = 2)
      .select($"n_frames", size($"sampled_frames")).collect().head
    assert(got.getInt(0) === 3)
    assert(got.getInt(1) === 2) // frames 0 and 2
  }

  test("frameSample: empty payload yields zero frames (m03 oracle edge)") {
    val df = Seq(Doc(1, "")).toDS.toDF
    val got = Multimodal.frameSample(Multimodal.toMedia(df), frameBytes = 64, every = 2)
      .select($"n_frames", size($"sampled_frames")).collect().head
    assert(got.getInt(0) === 0)
    assert(got.getInt(1) === 0)
  }

  // -------------------------------------------------------------- ops

  test("aggAllNumeric equals per-column manual aggregation") {
    val df = Seq((1, 2.0, "a"), (3, 4.0, "a"), (5, 6.0, "b")).toDF("x", "y", "g")
    val got = Ops.aggAllNumeric(df, Seq("g")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got("a") === ((4L, 6.0)))
    assert(got("b") === ((5L, 6.0)))
  }

  test("unionWithId tags provenance; topK takes ordered head") {
    val a = Seq((1, "x")).toDF("k", "v")
    val b = Seq((2, "y")).toDF("k", "v")
    val u = Ops.unionWithId(Seq("A" -> a, "B" -> b), "src").collect()
      .map(r => (r.getInt(0), r.getString(2))).toSet
    assert(u === Set((1, "A"), (2, "B")))
    val t = Ops.topK(Seq(3, 1, 2).toDF("k"), 2, col("k").desc).collect().map(_.getInt(0))
    assert(t === Array(3, 2))
  }
}

object OperatorsSpec extends org.scalatest.Assertions {
  /** Every SF directory a DuckDB oracle compare can run at: the
    * driver's Verify compare uses sf0.01, the dev loop sf0.001. The
    * recall-band guards loop over BOTH so pointing Verify at either
    * fixture stays guarded; sf0.1 is bench-only (never compared) and
    * brute all-pairs there is a minutes-class job.
    */
  val oracleComparedSfDirs: Seq[String] =
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")

  /** Assert the expected number of over-threshold pairs a
    * (bands × rows) minhash banding would miss is below `budget`:
    * Σ_pairs (1 − j^rows)^bands — the exact quantity an exact-set
    * oracle's soundness rests on. Per-pair probabilities are the
    * standard LSH S-curve; summing them is the expected missed-pair
    * count (union bound on the miss probability). `pairs` must carry a
    * `jacc` column of the true jaccard of every pair ≥ the operator's
    * threshold (the [[graft.operators.Dedup.jaccardPairsBrute]] shape).
    */
  def assertLshMissBudget(
      pairs: org.apache.spark.sql.DataFrame,
      bands: Int,
      rows: Int,
      what: String,
      budget: Double = 1e-6
  ): Unit = {
    import org.apache.spark.sql.functions._
    val agg = pairs
      .agg(
        coalesce(sum(pow(lit(1.0) - pow(col("jacc"), rows), bands)), lit(0.0))
          .as("miss"),
        count(lit(1)).as("n"),
        min(col("jacc")).as("lo"))
      .collect()(0)
    val miss = agg.getDouble(0)
    val detail =
      if (agg.getLong(1) == 0) "no pairs ≥ threshold"
      else f"${agg.getLong(1)} pair(s) ≥ threshold, lowest jaccard ${agg.getDouble(2)}%.3f"
    assert(
      miss < budget,
      s"$what: expected missed pairs $miss ≥ $budget under ${bands}×$rows banding " +
        s"($detail) — the exact-set oracle is no longer recall-safe; regenerate " +
        "the fixture without mid-band pairs or demote the oracle to rows-only")
  }
}
