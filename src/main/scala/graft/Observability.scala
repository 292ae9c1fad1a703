package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** Query-execution logging ≈ the reference's logR integration (A26,
  * R/big.data.table.R:156-175): per-call records with expression text,
  * output rows, timing and status — captured from Spark's own execution
  * callbacks instead of a Postgres round-trip (the reference pays 10 DB
  * hits per query, README.md:262-264; this pays none).
  */
object Observability {

  /** in_rows ≈ the reference logR's per-call input-row count (reference
    * tests/tests-08-logging.R:88-96): sum of rows produced by the plan's
    * leaf scan nodes. Under AQE the scans are buried inside materialized
    * query stages, which present as leaves — recurse through them (and
    * through the AdaptiveSparkPlanExec wrapper, also a leaf node).
    */
  private[graft] def leafScanRows(
      p: org.apache.spark.sql.execution.SparkPlan
  ): Seq[Long] =
    p.collectLeaves().flatMap {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        leafScanRows(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        leafScanRows(q.plan)
      // ReusedExchangeExec shares its metrics with the original exchange,
      // whose stage is already counted — recursing would double-count
      case _: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
        Seq.empty
      case leaf => leaf.metrics.get("numOutputRows").map(_.value).toSeq
    }

  /** out_rows: the query's result cardinality ≈ numOutputRows of the
    * topmost counting operator. Wrappers (AQE plan/stages, whole-stage
    * codegen, projections) carry no row metric — pre-order search for the
    * first node that does.
    */
  private[graft] def topOutputRows(
      p: org.apache.spark.sql.execution.SparkPlan
  ): Option[Long] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      topOutputRows(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      topOutputRows(q.plan)
    case _ =>
      p.metrics
        .get("numOutputRows")
        .map(_.value)
        .orElse(
          p.children.iterator
            .map(topOutputRows)
            .collectFirst { case Some(v) => v }
        )
  }

  final case class QueryRecord(
      funcName: String,
      planDigest: String,
      durationNs: Long,
      inputRows: Option[Long],
      outputRows: Option[Long],
      status: String,
      error: Option[String]
  )

  /** In-memory log handle; `entries` is safe to read concurrently. */
  final class QueryLog extends QueryExecutionListener {
    private val queue = new ConcurrentLinkedQueue[QueryRecord]()

    override def onSuccess(
        funcName: String,
        qe: QueryExecution,
        durationNs: Long
    ): Unit = {
      val rows = Observability.topOutputRows(qe.executedPlan)
      val leafRows = Observability.leafScanRows(qe.executedPlan)
      val inRows = if (leafRows.nonEmpty) Some(leafRows.sum) else None
      queue.add(
        QueryRecord(
          funcName,
          qe.analyzed.simpleString(3),
          durationNs,
          inRows,
          rows,
          "success",
          None
        )
      )
    }

    override def onFailure(
        funcName: String,
        qe: QueryExecution,
        exception: Exception
    ): Unit =
      queue.add(
        QueryRecord(
          funcName,
          qe.analyzed.simpleString(3),
          0L,
          None,
          None,
          "error",
          Some(exception.getMessage)
        )
      )

    def entries: Seq[QueryRecord] = queue.asScala.toSeq
    def clear(): Unit = queue.clear()
  }

  /** Attach a fresh log to the session; caller keeps the handle. */
  def attach(spark: SparkSession): QueryLog = {
    val log = new QueryLog
    spark.listenerManager.register(log)
    log
  }

  def detach(spark: SparkSession, log: QueryLog): Unit =
    spark.listenerManager.unregister(log)

  /** Generated classes Janino has compiled in this JVM so far: the count
    * of Spark's codegen compile-time histogram, updated once per compile
    * (a generated-class cache hit compiles nothing). Host load cannot
    * move it. A compile completes before the action that needed it
    * returns — on the driver or on a task of that action's jobs — so a
    * difference of two reads around an action is exact with no listener
    * and no wait. JVM-wide: concurrent actions share the count.
    */
  def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
