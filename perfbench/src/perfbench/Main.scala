package perfbench

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.{Cluster, Observability}
import org.apache.spark.sql.SparkSession

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.util.control.NonFatal

/** One benchmark workload: a closed loop of rounds, one client, each op
  * issued when the last returned.
  */
trait Workload {

  /** Load the inputs and create the tables and indexes the first op
    * needs. Timed as part of `setup_s`.
    */
  def setup(spark: SparkSession, run: Run): Unit

  /** Untimed work after the last setup, e.g. values the oracles need. */
  def prepare(spark: SparkSession, run: Run): Unit = ()

  /** One round of ops, each timed through `run.op`. */
  def round(spark: SparkSession, run: Run): Unit

  /** What the oracles check, written to the result file. */
  def outputs: Map[String, Any]

  /** Workload-specific per-layer figures of the traced run. */
  def layers(spark: SparkSession, run: Run, timed: Seq[Op]): Map[String, Double]
}

/** State of one benchmark run: the op clock, the tracer, and the op log. */
final class Run(val tracer: Tracer, val slots: Int) {
  val ops = mutable.ArrayBuffer[Op]()
  private var nextId = 0
  private var spark: SparkSession = _
  var persistedBase = 0
  var persistedMax = 0

  def bind(s: SparkSession): Unit = spark = s

  /** Time one op; everything a workload does between ops is untimed. An
    * op that throws is logged, recorded as failed and yields None.
    */
  def op[T](kind: String, counted: Boolean, docs: Int = 0)(f: => T): Option[T] = {
    val id = nextId
    nextId += 1
    tracer.opId = id
    val s = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val r = try Some(f) catch {
      case NonFatal(err) =>
        System.err.println(s"op $id ($kind) failed")
        err.printStackTrace()
        None
    }
    val n1 = System.nanoTime()
    val e = System.currentTimeMillis()
    tracer.opId = -1
    ops += Op(id, kind, (n1 - n0) / 1e9, counted, docs, s, e, failed = r.isEmpty)
    persistedMax = math.max(
      persistedMax, spark.sparkContext.getPersistentRDDs.size - persistedBase)
    r
  }
}

object Main {
  val mapper: JsonMapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val cfg = mapper.readValue(new File(a("config")), classOf[Map[String, Any]])
    val out = a("out")
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    def setting(k: String): Int = cfg(k).toString.toInt
    val setups = setting("setups")
    val warmRounds = setting("warmup_rounds")
    val slots = math.min(Runtime.getRuntime.availableProcessors(), setting("slots"))

    val wl: Workload = cfg("workload") match {
      case "bdt_query"   => new BdtQuery(cfg)
      case "fold_stream" => new FoldStream(cfg)
      case "dedup_batch" => new DedupBatch(cfg)
    }
    val tracer = new Tracer(trace)
    val run = new Run(tracer, slots)
    val res = mutable.LinkedHashMap[String, Any]()
    val phases = mutable.LinkedHashMap[String, Double]()
    val m0 = System.nanoTime()
    def mark(name: String): Unit = phases(name) = (System.nanoTime() - m0) / 1e9

    // ---- set-up, several times; the last one's session is kept
    var spark: SparkSession = null
    val setupS = mutable.ArrayBuffer[Double]()
    val openS = mutable.ArrayBuffer[Double]()
    for (k <- 1 to setups) {
      if (spark != null) Cluster.close(spark)
      val conf = Map(
        "spark.sql.warehouse.dir" -> s"$out/setup$k/warehouse",
        "spark.local.dir" -> s"$out/setup$k/local")
      val t0 = System.nanoTime()
      spark = Cluster.open(nodes = slots, appName = "perfbench",
        shufflePartitions = setting("shuffle_partitions"), extraConf = conf)
      val t1 = System.nanoTime()
      run.bind(spark)
      wl.setup(spark, run)
      val t2 = System.nanoTime()
      openS += (t1 - t0) / 1e9
      setupS += (t2 - t0) / 1e9
      if (k == 1)
        res("jvm_start_to_ready_s") =
          (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    }
    res("setup_s") = setupS.toSeq
    res("open_s") = openS.toSeq
    mark("setup")
    wl.prepare(spark, run)
    mark("prepare")

    // ---- warm-up: a fixed number of whole rounds, so every run is timed
    // at the same point of the warm-up curve
    val warm = (1 to warmRounds).map { _ =>
      val before = run.ops.size
      val jit0 = Jvm.jitMillis
      wl.round(spark, run)
      (run.ops.drop(before).map(_.seconds).sum, (Jvm.jitMillis - jit0) / 1000.0)
    }
    res("warmup_rounds_s") = warm.map(_._1)
    res("warmup_jit_s") = warm.map(_._2)
    mark("warmup")
    run.ops.clear()

    // ---- timed window
    val heap = mutable.ArrayBuffer[Double]()
    val storageBase = storageUsed(spark)
    Jvm.liveHeapMb() // start the window from a collected heap
    var forcedGcMs = 0L
    run.persistedBase = spark.sparkContext.getPersistentRDDs.size
    tracer.attach(spark)
    val qlog = if (trace) Some(Observability.attach(spark)) else None
    val jit0 = Jvm.jitMillis
    val gc0 = Jvm.gcMillis
    val roundsS = mutable.ArrayBuffer[Double]()
    val t0 = System.nanoTime()
    while ((System.nanoTime() - t0) / 1e9 < seconds) {
      val before = run.ops.size
      wl.round(spark, run)
      roundsS += run.ops.drop(before).map(_.seconds).sum
      settle(spark, storageBase)
      val (mb, ms) = Jvm.liveHeapMb()
      heap += mb
      forcedGcMs += ms
    }
    val elapsed = (System.nanoTime() - t0) / 1e9
    mark("timed")
    val jit = (Jvm.jitMillis - jit0) / 1000.0
    val gc = (Jvm.gcMillis - gc0 - forcedGcMs) / 1000.0
    val timed = run.ops.toSeq
    val counted = timed.filter(_.counted)

    res("timed_elapsed_s") = elapsed
    res("rounds_s") = roundsS.toSeq
    res("ops") = timed.map(o =>
      Map("kind" -> o.kind, "seconds" -> o.seconds, "counted" -> o.counted, "docs" -> o.docs,
        "failed" -> o.failed))
    res("heap_live_mb") = heap.toSeq
    res("jit_s") = jit
    res("gc_s") = gc

    if (trace) {
      Thread.sleep(1500) // let the listener bus deliver the last events
      tracer.detach(spark)
      val perOp = counted.map(o => o -> tracer.jobsOf(o))
      val n = math.max(counted.size, 1).toDouble
      val log = qlog.get.entries
      val rowsIn = log.flatMap(_.inputRows).sum.toDouble
      val rowsOut = log.flatMap(_.outputRows).sum.toDouble
      val common = Map(
        "cluster.open_s" -> median(openS.toSeq),
        "jvm.start_to_ready_s" -> res("jvm_start_to_ready_s").asInstanceOf[Double],
        "spark.jobs_per_op" -> perOp.map(_._2.size).sum / n,
        "spark.tasks_per_op" -> perOp.map(_._2.map(_.tasks).sum).sum / n,
        "spark.driver_gap_s" -> perOp.map { case (o, js) =>
          math.max(o.seconds - Tracer.unionSeconds(js), 0.0)
        }.sum / n,
        "spark.shuffle_bytes_per_op" -> perOp.map(_._2.map(_.shuffleBytes).sum).sum / n,
        "scan.rows_in_per_row_out" -> (if (rowsOut > 0) rowsIn / rowsOut else 0.0),
        "cache.persisted_rdds" -> run.persistedMax.toDouble,
        "jvm.gc_s_per_op" -> gc / n,
        "jvm.jit_s" -> jit)
      res("layers") = common ++ wl.layers(spark, run, timed)
      res("frames") = perOp.flatMap(_._2.map(_.frame)).groupBy(identity)
        .map { case (f, fs) => f -> fs.size }
      mapper.writeValue(new File(s"$out/spans.json"), tracer.spans.toSeq)
    }
    mark("layers")
    res("phases") = phases
    res("outputs") = wl.outputs
    mapper.writeValue(new File(s"$out/result.json"), res)
    Cluster.close(spark)
  }

  private def storageUsed(spark: SparkSession): Long =
    spark.sparkContext.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum

  /** Wait (at most a second) until blocks released without blocking have
    * left the block manager, so the heap sample sees what the program
    * keeps, not what it is still dropping.
    */
  private def settle(spark: SparkSession, base: Long): Unit = {
    val end = System.nanoTime() + 1000000000L
    while (storageUsed(spark) > base && System.nanoTime() < end) Thread.sleep(20)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}
