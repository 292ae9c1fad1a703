package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed operation of a workload. `counted` ops are the ones the
  * latency and throughput metrics are about; the others (a replayed
  * micro-batch, a compaction) only add to the timed wall. `failed` ops
  * threw. Times are wall-clock milliseconds so they line up with Spark
  * listener events.
  */
final case class Op(
    id: Int,
    kind: String,
    seconds: Double,
    counted: Boolean,
    docs: Int,
    startMs: Long,
    endMs: Long,
    failed: Boolean)

/** Spark job as seen by the listener: interval, size, and the program
  * frame it was submitted from.
  */
final case class Job(
    id: Int,
    startMs: Long,
    var endMs: Long,
    var tasks: Int,
    var shuffleBytes: Long,
    executionId: String,
    frame: String)

/** A span around one call into the program, recorded from outside it. */
final case class Span(op: Int, name: String, startMs: Long, endMs: Long)

/** Per-layer recording for the traced run: spans kept in memory, a
  * listener that attributes each job to the first `graft.*` frame of
  * the stack that submitted it, and counters read at layer boundaries.
  * With tracing off every method is a pass-through.
  */
final class Tracer(val on: Boolean) {
  val spans = mutable.ArrayBuffer[Span]()
  val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageToJob = mutable.HashMap[Int, Int]()

  /** Id of the op in progress; spans and jobs are attributed to it. */
  @volatile var opId: Int = -1

  def span[T](name: String)(f: => T): T =
    if (!on) f
    else {
      val t0 = System.currentTimeMillis()
      try f
      finally spans.synchronized {
        spans += Span(opId, name, t0, System.currentTimeMillis())
      }
    }

  // SQL execution id -> (program frame of the thread that started it,
  // root execution id)
  private val execs = mutable.HashMap[String, (String, String)]()

  private def firstGraft(lines: Iterator[String]): String =
    lines.map(_.trim).find(_.startsWith("graft.")).getOrElse("")

  val listener: SparkListener = new SparkListener {
    override def onJobStart(js: SparkListenerJobStart): Unit = jobs.synchronized {
      val exec = Option(js.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .getOrElse("")
      jobs(js.jobId) = Job(js.jobId, js.time, js.time, 0, 0L, exec,
        firstGraft(js.stageInfos.iterator.flatMap(_.details.split('\n').iterator)))
      js.stageIds.foreach(s => stageToJob(s) = js.jobId)
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit = jobs.synchronized {
      jobs.get(je.jobId).foreach(_.endMs = je.time)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => jobs.synchronized {
        val id = s.executionId.toString
        execs(id) = (firstGraft(s.details.split('\n').iterator),
          s.rootExecutionId.fold(id)(_.toString))
      }
      case _ => ()
    }
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = jobs.synchronized {
      stageToJob.get(te.stageId).flatMap(jobs.get).foreach { j =>
        j.tasks += 1
        if (te.taskMetrics != null)
          j.shuffleBytes += te.taskMetrics.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  def attach(spark: SparkSession): Unit =
    if (on) spark.sparkContext.addSparkListener(listener)

  def detach(spark: SparkSession): Unit =
    if (on) spark.sparkContext.removeSparkListener(listener)

  /** Jobs submitted while `op` ran. A job submitted from a thread the
    * program does not own (an adaptive query stage, a broadcast build)
    * has no program frame of its own; it takes the frame of the thread
    * that started its SQL execution, or else of the root execution.
    */
  def jobsOf(op: Op): Seq[Job] = jobs.synchronized {
    def execFrame(e: String) = execs.get(e).map(_._1).getOrElse("")
    jobs.values.filter(j => j.startMs >= op.startMs && j.startMs <= op.endMs).toSeq.map { j =>
      if (j.frame.nonEmpty) j
      else {
        val own = execFrame(j.executionId)
        val root = execs.get(j.executionId).map(x => execFrame(x._2)).getOrElse("")
        j.copy(frame = if (own.nonEmpty) own else root)
      }
    }
  }
}

object Tracer {

  /** Length of the union of the jobs' intervals, in seconds. */
  def unionSeconds(js: Seq[Job]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    js.map(j => (j.startMs, math.max(j.endMs, j.startMs))).sortBy(_._1).foreach {
      case (s, e) =>
        if (s > curE) {
          if (curE > curS) total += curE - curS
          curS = s; curE = e
        } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total / 1000.0
  }

  def busySeconds(js: Seq[Job]): Double =
    js.map(j => math.max(j.endMs - j.startMs, 0L)).sum / 1000.0
}

/** JVM counters read at the edges of the timed window. */
object Jvm {
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val jit = ManagementFactory.getCompilationMXBean

  def gcMillis: Long = gcs.map(g => math.max(g.getCollectionTime, 0L)).sum
  def jitMillis: Long = jit.getTotalCompilationTime

  /** Heap in use right after a full collection, in MB; the collections'
    * own time is returned too, so callers can keep it out of the
    * window's GC figure. Two collections with a pause between them: the
    * first lets Spark's cleaner see what became unreachable, the second
    * frees what the cleaner then dropped.
    */
  def liveHeapMb(): (Double, Long) = {
    val g0 = gcMillis
    System.gc()
    Thread.sleep(100)
    System.gc()
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    (used / (1024.0 * 1024.0), gcMillis - g0)
  }
}
