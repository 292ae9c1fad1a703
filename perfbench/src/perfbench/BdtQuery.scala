package perfbench

import graft.{BigDataTable, OuterAgg}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}

import scala.collection.mutable

/** `bdt_query`: a fixed, seeded mix of the BigDataTable surface over the
  * generated `lineitem` and `orders` tables. Each op is one entry of the
  * mix; a round issues the whole mix in order.
  */
final class BdtQuery(cfg: Map[String, Any]) extends Workload {
  private val dir = cfg("inputs").toString
  private val mix = cfg("mix").asInstanceOf[Seq[Map[String, Any]]]
  private var li: BigDataTable = _
  private var ord: BigDataTable = _

  /** Distinct results seen per mix entry (doubles may differ in the last
    * bits between executions, since partial sums are combined in
    * arrival order); the oracle checks every one of them.
    */
  private val results = Array.fill(mix.size)(mutable.LinkedHashMap[String, Any]())
  private val maxDistinct = 8
  // build / plan / execute seconds of each counted op
  private val split = mutable.ArrayBuffer[(Double, Double, Double)]()

  private sealed trait Step { def name: String }
  private final case class Df(name: String, build: () => DataFrame) extends Step
  private final case class Act(name: String, run: () => Any) extends Step

  def setup(spark: SparkSession, run: Run): Unit = {
    li = BigDataTable.fromParquet(spark, s"$dir/lineitem", "lineitem")
    ord = BigDataTable.fromParquet(spark, s"$dir/orders", "orders")
  }

  private def date(p: Map[String, Any], k: String): Column =
    lit(java.sql.Date.valueOf(p(k).toString))
  private def num(p: Map[String, Any], k: String): Double = p(k).toString.toDouble
  private val n = count(lit(1)).as("n")

  private def steps(p: Map[String, Any]): Seq[Step] = p("kind") match {
    case "q1_by" => Seq(Df("query", () => li.query(
      i = col("l_shipdate") <= date(p, "ship_le"),
      j = Seq(sum("l_quantity").as("sum_qty"), sum("l_extendedprice").as("sum_price"),
        avg("l_discount").as("avg_disc"), n),
      by = Seq(col("l_returnflag"), col("l_linestatus")))))
    case "keyby_query" => Seq(Df("query", () => ord.query(
      i = col("o_orderdate") >= date(p, "date_lo") &&
        col("o_orderdate") < date_add(date(p, "date_lo"), num(p, "days").toInt),
      j = Seq(n, sum("o_totalprice").as("total")),
      keyBy = Seq(col("o_orderpriority")))))
    case "pernode_q6" => Seq(Df("query", () => li.query(
      i = col("l_shipdate") >= date(p, "date_lo") && col("l_shipdate") < date(p, "date_hi") &&
        col("l_discount").between(num(p, "disc_lo"), num(p, "disc_hi")) &&
        col("l_quantity") < num(p, "qty_lt"),
      j = Seq(sum(col("l_extendedprice") * col("l_discount")).as("revenue"), n),
      outer = OuterAgg.PerNode)))
    case "fn_outer" => Seq(Df("query", () => li.query(
      i = col("l_quantity") >= num(p, "qty_ge"),
      j = Seq(sum("l_quantity").as("s"), n),
      by = Seq(col("l_returnflag")),
      outer = OuterAgg.Fn(_.groupBy("l_returnflag").agg(sum("s").as("s"), sum("n").as("n"))))))
    case "copartition_join" => Seq(Df("query", () => {
      val l = li.partitionByKeys("l_orderkey")
      val o = ord.partitionByKeys("o_orderkey")
      l.df.join(o.df, col("l_orderkey") === col("o_orderkey"))
        .filter(col("o_orderdate") < date(p, "date") && col("l_shipdate") > date(p, "date"))
        .groupBy("o_orderpriority")
        .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"), n)
    }))
    case "pp_scalar" => Seq(Act("perPartitionScalar", () =>
      li.perPartitionScalar(sum("l_quantity")).map { case (node, v) => Seq(node, v) }))
    case "dims" => Seq(Act("dims", () => { val (r, c) = li.dims; Seq(Seq(r, c)) }))
    case "newvar" =>
      var d: BigDataTable = null
      Seq(
        Act("newVar", () => {
          d = li.newVar(li.query(
            i = col("l_shipdate") >= date(p, "ship_ge"),
            j = Seq(sum("l_extendedprice").as("rev"), n),
            by = Seq(col("l_suppkey"))), "li_by_supp")
          null
        }),
        Df("count", () => d.query(
          i = col("rev") > num(p, "rev_gt"), j = Seq(count(lit(1)).as("n_supp"), sum("n").as("n")))),
        Df("top", () => d.query(j = Seq(max("rev").as("max_rev"), sum("rev").as("sum_rev")))),
        Act("unpersist", () => { d.df.unpersist(blocking = true); null }))
    case "update_query" => Seq(Df("query", () =>
      li.update("l_net", col("l_extendedprice") * (lit(1) - col("l_discount")))
        .query(j = Seq(sum("l_net").as("net"), n), by = Seq(col("l_linestatus")))))
    case "distinct_by" => Seq(Df("query", () => ord.query(
      i = col("o_totalprice") > num(p, "price_gt"),
      by = Seq(col("o_orderstatus"), col("o_orderpriority")))))
    case "keyby_table" => Seq(Df("query", () => ord.keyBy("o_custkey").query(
      i = col("o_custkey").between(num(p, "cust_lo").toLong, num(p, "cust_hi").toLong),
      j = Seq(n, max("o_totalprice").as("mx")),
      by = Seq(col("o_custkey")))))
    case "select_filter" => Seq(Df("query", () => li
      .filter(col("l_orderkey").between(num(p, "key_lo").toLong, num(p, "key_hi").toLong))
      .select("l_orderkey", "l_linenumber", "l_quantity")
      .toLocalDF()))
  }

  private def rowsOf(rs: Array[Row]): Seq[Seq[Any]] = rs.toSeq.map(_.toSeq)

  def round(spark: SparkSession, run: Run): Unit =
    mix.zipWithIndex.foreach { case (p, k) =>
      val kind = p("kind").toString
      var b, pl, ex = 0.0
      val out = run.op(kind, counted = true) {
        steps(p).map {
          case Df(name, build) =>
            val t0 = System.nanoTime()
            val df = run.tracer.span(s"bdt.$kind.$name")(build())
            val t1 = System.nanoTime()
            run.tracer.span("spark.plan")(df.queryExecution.executedPlan)
            val t2 = System.nanoTime()
            val rows = run.tracer.span("spark.exec")(df.collect())
            val t3 = System.nanoTime()
            b += (t1 - t0) / 1e9; pl += (t2 - t1) / 1e9; ex += (t3 - t2) / 1e9
            name -> Map("columns" -> df.columns.toSeq, "rows" -> rowsOf(rows))
          case Act(name, f) =>
            val t0 = System.nanoTime()
            val v = run.tracer.span(s"bdt.$kind.$name")(f())
            ex += (System.nanoTime() - t0) / 1e9
            name -> v
        }.filter(_._2 != null).toMap
      }
      split += ((b, pl, ex))
      out.foreach { o =>
        val key = o.toString
        if (!results(k).contains(key) && results(k).size < maxDistinct) results(k)(key) = o
      }
    }

  def outputs: Map[String, Any] = Map(
    "results" -> results.toSeq.map(_.values.toSeq))

  def layers(spark: SparkSession, run: Run, timed: Seq[Op]): Map[String, Double] = {
    val s = split.takeRight(timed.count(_.counted))
    val k = math.max(s.size, 1).toDouble
    Map(
      "bdt.build_s" -> s.map(_._1).sum / k,
      "spark.plan_s" -> s.map(_._2).sum / k,
      "spark.exec_s" -> s.map(_._3).sum / k)
  }
}
