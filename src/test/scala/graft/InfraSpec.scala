package graft

import graft.sources.Sources
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

/** Async fan-out (A3/A5), observability (A26), scalar simplification
  * (B27), source round-trips (B20).
  */
class InfraSpec extends AnyFunSuite {

  test("bench batching: solo heavy probes become singleton batches, families never mix") {
    val tokens = Seq(
      "q01_global_agg", "q02_group_year",
      "d01_dedup_exact", "d08_incremental_dedup", "d09_incremental_simhash",
      "d10_decontaminate", "d11_contamination_report", "d13_incremental_lsh",
      "m01_binary_meta",
      "d04_jaccard_pairs@sf0.01", "d06_dup_clusters@sf0.01",
      "d12_near_dedup@sf0.01", "s07_ann_audit@sf0.01")
    val batches = Bench.batchesOf(tokens)
    // partition: every token exactly once
    assert(batches.flatten.sorted === tokens.sorted)
    // the heavy incremental probes ride alone
    for (solo <- Seq("d08_incremental_dedup", "d09_incremental_simhash", "d13_incremental_lsh"))
      assert(batches.contains(Seq(solo)), s"$solo not a singleton batch: $batches")
    // batches never mix families, never mix fixtures (a small-fixture
    // token sharing a JVM with a target-SF neighbor would lose the
    // min-of-3 protocol — r15 verdict ask #4), and d-batches stay ≤ 4
    def fam(s: String) = s.takeWhile(!_.isDigit)
    for (b <- batches) {
      assert(b.map(fam).distinct.size === 1, s"mixed-family batch: $b")
      assert(b.map(_.endsWith("@sf0.01")).distinct.size === 1,
        s"mixed-fixture batch: $b")
      if (fam(b.head) == "d") assert(b.size <= 4)
    }
  }
  test("bench lists cover the registry exactly — no silently unbenched rows") {
    // s24 landed in the registry benched-nowhere for half a session
    // because nothing tied Bench.headline/smallFixture to
    // SparkEntry.queries: a new row that misses both lists is simply
    // never timed, and the artifact looks complete. Partition contract:
    // every registry key in exactly one list, no phantom bench keys.
    val benched = Bench.headline ++ Bench.smallFixture
    val registry = SparkEntry.queries.keySet
    val unbenched = registry -- benched.toSet
    val phantom = benched.toSet -- registry
    assert(unbenched.isEmpty, s"registry rows missing from the bench lists: $unbenched")
    assert(phantom.isEmpty, s"bench keys not in the registry: $phantom")
    assert(benched.distinct.size == benched.size,
      s"duplicated bench keys: ${benched.diff(benched.distinct)}")
  }
  test("bench compact artifact line fits the driver's 2000-char output tail") {
    // every BENCH_r1-r15 official artifact read parsed:null because the
    // full per-query line (~4.5 KB) never fit the driver's 2000-char
    // tail window; the compact twin must fit with margin at full
    // registry scale, stay valid JSON, and keep the floor evidence
    val results = (1 to 140).map(i => f"q$i%03d_some_long_query_name" -> (i * 0.37))
    val floors = (1 to 9).map(i => s"st0${i}_stream_whatever" -> (i * 1.5)).toMap
    val line = Bench.renderCompactLine(
      results, failed = Seq("q999_failed_query"), calibSec = 0.25,
      calibRefSec = 0.22, contended = false,
      contendedQueries = Seq("q998_contended"), leakedBlocks = 0,
      sfDir = "/root/testdata/sf0.1", isolation = "fresh-jvm-batches",
      batches = 36, batchesDone = 36, isolatedFloor = floors,
      floorSkipped = Seq("st09_stream_sink"),
      floorContended = Seq("d13_incremental_lsh"),
      floorFailed = Seq("st12_stream_join"))
    assert(line.length <= 1800, s"compact line is ${line.length} chars")
    assert(!line.contains("\n"))
    // shape: the driver needs metric/value/queries and the floor keys
    assert(line.contains("\"metric\":\"total\""))
    assert(line.contains("\"isolated_floor\":{"))
    assert(line.contains("\"floor_skipped\":[\"st09_stream_sink\"]"))
    // r17 verdict ask #2: contended floors must be accounted, not vanish
    assert(line.contains("\"floor_contended\":[\"d13_incremental_lsh\"]"))
    // r18 ADVICE #1: crashed/timing-less floor children get a fourth
    // bucket so live + skipped + contended + failed sums to the set
    assert(line.contains("\"floor_failed\":[\"st12_stream_join\"]"))
    assert(line.contains("\"queries_omitted\":"))
    // the kept queries are the most expensive ones
    assert(line.contains("q140_some_long_query_name"))
    assert(!line.contains("\"q001_some_long_query_name\""))
  }

  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("fireAndCollect: parallel actions == sequential results; failures isolated (A3/A5)") {
    val a = Seq(1, 2, 3).toDF("x")
    val b = Seq(10, 20).toDF("x")
    // fails at RUNTIME (assert_true), not analysis — the async path must
    // carry execution failures back as values, like rscl.collect's try
    val bad = Seq(1).toDF("x").select(expr("assert_true(x > 5)").as("x"))
    val results = AsyncOps.fireAndCollect(Seq(a, b, bad), 2.minutes)
    assert(results(0).get.map(_.getInt(0)).sorted === Array(1, 2, 3))
    assert(results(1).get.map(_.getInt(0)).sorted === Array(10, 20))
    assert(results(2).isFailure) // one dead node still lets others report
  }

  test("QueryLog captures success with rows/duration and failure with error (A26)") {
    val log = Observability.attach(spark)
    try {
      log.clear()
      Seq(1, 2, 3).toDF("x").filter($"x" > 1).collect()
      // listener callbacks are async — wait briefly
      var tries = 0
      while (log.entries.isEmpty && tries < 50) { Thread.sleep(100); tries += 1 }
      val ok = log.entries.find(_.status == "success")
      assert(ok.nonEmpty)
      assert(ok.get.durationNs > 0)
      // in_rows: Catalyst folds the filter into the LocalRelation
      // (ConvertToLocalRelation), so the leaf itself emits the 2
      // surviving rows — in_rows reflects the post-pushdown scan
      assert(ok.get.inputRows === Some(2L))
    } finally Observability.detach(spark, log)
  }

  test("QueryLog in_rows equals the fixture row count for a parquet scan (A26)") {
    val df = Tables.lineitem(spark, SparkTestSession.sfDir)
    val expected = df.count()
    val log = Observability.attach(spark)
    try {
      log.clear()
      df.agg(sum($"l_quantity")).collect()
      var tries = 0
      while (log.entries.isEmpty && tries < 50) { Thread.sleep(100); tries += 1 }
      val ok = log.entries.find(_.status == "success")
      assert(ok.nonEmpty)
      assert(ok.get.inputRows === Some(expected))
      assert(ok.get.outputRows.isDefined)
    } finally Observability.detach(spark, log)
  }

  test("perPartitionScalar: one scalar per node, node-indexed (B27)") {
    val bdt = BigDataTable.fromLocal(
      spark,
      (1 to 100).map(i => GenTestRow(2011, "a", i.toDouble)),
      "t_pps",
      numShards = 4
    )
    val counts = bdt.perPartitionScalar(count(lit(1)))
    assert(counts.map(_._2.asInstanceOf[Long]).sum === 100L)
    assert(counts.map(_._1) === counts.map(_._1).sorted)
  }

  test("assign broadcasts a value visible in tasks (A4)") {
    val b = Cluster.assign(spark, Map("factor" -> 2))
    val got = spark.range(4).rdd.map(i => i * b.value("factor")).collect().sorted
    assert(got === Array(0L, 2L, 4L, 6L))
    b.destroy()
  }

  test("keyBy produces key-pure, within-shard-sorted partitions (B22)") {
    val rows = scala.util.Random.shuffle(
      (1 to 200).map(i => GenTestRow(2011 + i % 4, s"s$i", i.toDouble))
    )
    val bdt = BigDataTable.fromLocal(spark, rows, "t_keyby").keyBy("year")
    val sortedWithin = bdt.perPartition() { it =>
      val years = it.map(_.getInt(0)).toSeq
      Iterator(years == years.sorted)
    }.collect()
    assert(sortedWithin.forall(identity))
    assert(bdt.partitionBy === Seq("year"))
  }

  test("seeded sampling is reproducible; stratified sampleBy honors fractions (B24)") {
    val df = Tables.lineitem(spark, SparkTestSession.sfDir)
    val a = df.sample(withReplacement = false, 0.1, seed = 42).count()
    val b = df.sample(withReplacement = false, 0.1, seed = 42).count()
    assert(a === b) // same seed → same sample
    val total = df.count()
    assert(math.abs(a.toDouble / total - 0.1) < 0.03)
    val strat = df.stat
      .sampleBy("l_returnflag", Map("N" -> 0.5, "A" -> 0.0, "R" -> 0.0), 42L)
    assert(strat.select("l_returnflag").distinct().collect().map(_.getString(0)).toSet === Set("N"))
  }

  test("q36 global sort plans as Sort over range partitioning (order not hashed by driver)") {
    val df = SparkEntry.queries("q36_global_sort")(spark, SparkTestSession.sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Sort "), s"no Sort in plan:\n$plan")
    assert(
      plan.contains("rangepartitioning") || plan.contains("RangePartitioning"),
      s"no range partitioning in plan:\n$plan"
    )
    // and the output really is sorted end-to-end
    val prices = df.select("o_totalprice").collect().map(_.getDouble(0))
    assert(prices.zip(prices.tail).forall { case (a, b) => a >= b })
  }

  test("dedup pair joins stay distinct-free: no aggregate/exchange above the bucket join") {
    // the round-5/6 headline fix: lowest-matching-chunk/band/table emission
    // generates every pair exactly once, so the plan above the self-join
    // must be a bare Project — a distinct() creeping back would reintroduce
    // an Exchange + two HashAggregates that grow with the candidate count
    val docs = Tables.documents(spark, SparkTestSession.sfDir)
    val emb = Tables.embeddings(spark, SparkTestSession.sfDir)
    val plans = Seq(
      "minHashCandidates" ->
        graft.operators.Dedup.minHashCandidates(docs, "text", "doc_id"),
      "simHashNearDups" ->
        graft.operators.Dedup.simHashNearDups(docs, "text", "doc_id", maxHamming = 10),
      "lshNearDups" ->
        graft.operators.Similarity
          .lshNearDups(emb, "embedding", "vec_id", threshold = 0.3)
    )
    plans.foreach { case (name, df) =>
      val plan = df.queryExecution.executedPlan.toString
      assert(
        plan.contains("Join") || plan.contains("join"),
        s"$name: no join in plan:\n${plan.take(2000)}"
      )
      assert(
        !plan.contains("HashAggregate"),
        s"$name: aggregate above the pair join (distinct came back?):\n${plan.take(2000)}"
      )
      graft.CacheUtil.release(df)
    }
  }

  test("saltedAgg == direct groupBy for decomposable aggregates (skew path)") {
    val df = Tables.lineitem(spark, SparkTestSession.sfDir)
    val direct = df.groupBy($"l_returnflag")
      .agg(sum($"l_quantity").as("s"), count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    val salted = graft.operators.Ops.saltedAgg(df, Seq("l_returnflag"), 8)(
      partial = Seq(sum($"l_quantity").as("_s"), count(lit(1)).as("_n")),
      finalAgg = Seq(sum($"_s").as("s"), sum($"_n").as("n"))
    ).collect().map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(salted.keySet === direct.keySet)
    salted.foreach { case (k, (sv, nv)) =>
      assert(nv === direct(k)._2)
      assert(math.abs(sv - direct(k)._1) < 1e-6)
    }
  }

  test("sql() resolves against the registered view") {
    val bdt = BigDataTable.fromLocal(
      spark, (1 to 10).map(i => GenTestRow(2011, "a", i.toDouble)), "t_sql")
    val n = bdt.sql("SELECT count(*) AS n FROM t_sql WHERE value > 5").head().getLong(0)
    assert(n === 5L)
  }

  test("hive-partitioned write → read prunes partitions (scale: partition pruning)") {
    val path = s"${SparkTestSession.tmpRoot}/pruned"
    Tables.orders(spark, SparkTestSession.sfDir)
      .withColumn("status", $"o_orderstatus")
      .write.mode("overwrite").partitionBy("status").parquet(path)
    val pruned = spark.read.parquet(path).filter($"status" === "F")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("status"), plan.take(2000))
    val full = spark.read.parquet(path)
    assert(pruned.count() > 0 && pruned.count() < full.count())
  }

  test("CSV and JSON round-trips preserve data (B20)") {
    val df = Seq((1, "a", 1.5), (2, "b", -2.25)).toDF("k", "s", "v")
    for (fmt <- Seq("csv", "json", "parquet")) {
      val back = Sources.roundTrip(df, s"${SparkTestSession.tmpRoot}/rt_$fmt", fmt)
      val got = back
        .collect()
        .map(r => (r.get(back.columns.indexOf("k")).toString.toInt,
          r.getString(back.columns.indexOf("s")),
          r.get(back.columns.indexOf("v")).toString.toDouble))
        .sortBy(_._1)
      assert(got === Array((1, "a", 1.5), (2, "b", -2.25)), s"format $fmt")
    }
  }

  test("filters and projections reach the parquet scan (pushdown + column pruning)") {
    // q09: the `i` filter must appear as PushedFilters on the scan, not
    // as a post-scan Filter only — at 100 TB the difference is reading
    // row groups vs skipping them on statistics
    val q09 = SparkEntry.queries("q09_filter")(spark, SparkTestSession.sfDir)
    val p09 = q09.queryExecution.executedPlan.toString
    assert(
      p09.contains("PushedFilters: [") && !p09.contains("PushedFilters: []"),
      s"q09 scan has no pushed filters:\n${p09.take(2000)}"
    )
    // q13: a 3-column projection of the 9-column part table must prune
    // the scan schema — reading all columns for a narrow projection is
    // wrong
    val q13 = SparkEntry.queries("q13_projection")(spark, SparkTestSession.sfDir)
    val p13 = q13.queryExecution.executedPlan.toString
    val readSchema = p13.linesIterator
      .find(_.contains("ReadSchema"))
      .getOrElse(fail(s"no ReadSchema in q13 plan:\n${p13.take(2000)}"))
    val struct = readSchema
      .substring(readSchema.indexOf("struct<") + "struct<".length)
      .takeWhile(_ != '>')
    val ncols = struct.count(_ == ':')
    assert(
      ncols <= q13.columns.length,
      s"q13 scan reads $ncols columns for a ${q13.columns.length}-column projection: $struct"
    )
  }

  test("writeCompacted bounds the output file count by target size (small-files remedy)") {
    val li = Tables.lineitem(spark, SparkTestSession.sfDir)
      .repartition(64) // simulate a fragmented upstream stage
    val path = s"${SparkTestSession.tmpRoot}/compacted"
    graft.sources.Sources.writeCompacted(li, path, targetFileMB = 16)
    val parts = new java.io.File(path)
      .listFiles()
      .count(f => f.getName.startsWith("part-"))
    // the fixture is well under one 16 MB target file — 64 input
    // partitions must collapse to 1 part file, and the data round-trips
    assert(parts === 1, s"expected 1 compacted file, got $parts")
    assert(spark.read.parquet(path).count() === li.count())
  }

  test("bucketed tables join shuffle-free across jobs (B22 scale: no Exchange)") {
    // the durable analogue of the reference's key-partitioned node shards
    // (R/as.big.data.table.R:9-10): bucket both sides by the join key once,
    // then every later job's equi-join plans with zero Exchange
    val orders = Tables.orders(spark, SparkTestSession.sfDir)
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
    val lines = Tables.lineitem(spark, SparkTestSession.sfDir)
      .select($"l_orderkey", $"l_quantity")
    Sources.writeBucketed(orders, "bkt_orders", "o_orderkey", buckets = 8)
    Sources.writeBucketed(lines, "bkt_lineitem", "l_orderkey", buckets = 8)
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // forbid broadcast so the shuffle-free claim is tested on the
      // sort-merge path a 100 TB fact-fact join would take
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = Sources.readBucketed(spark, "bkt_orders")
        .join(
          Sources.readBucketed(spark, "bkt_lineitem"),
          $"o_orderkey" === $"l_orderkey"
        )
        .groupBy($"o_orderkey")
        .agg(org.apache.spark.sql.functions.sum($"l_quantity").as("qty"))
      assert(joined.count() > 0)
      val plan = joined.queryExecution.executedPlan.toString
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
      // bucketed join itself must be exchange-free; the only repartition
      // allowed is the post-join groupBy's (and it is key-aligned, so
      // Catalyst elides it too — assert zero overall)
      assert(exchanges === 0, s"expected no shuffle, plan:\n${plan.take(3000)}")
      assert(plan.contains("SortMergeJoin"), plan.take(1500))
      assert(
        plan.contains("Bucketed: true"),
        s"scan did not use bucket layout:\n${plan.take(3000)}"
      )
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      spark.sql("DROP TABLE IF EXISTS bkt_orders")
      spark.sql("DROP TABLE IF EXISTS bkt_lineitem")
    }
  }
}
