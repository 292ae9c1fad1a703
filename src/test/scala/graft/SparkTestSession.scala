package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (SURVEY.md §5: `local[4]` as
  * the 4-node fixture).
  */
object SparkTestSession {
  lazy val spark: SparkSession = Cluster.open(
    nodes = 4,
    appName = "graft-test",
    shufflePartitions = 4
  )
  val sfDir = "/root/testdata/sf0.001"

  /** Scratch root for tests and probes that write fixed dirs: under the
    * working directory, so runs from two checkouts never share one.
    */
  val tmpRoot = s"${sys.props("user.dir")}/target/tmp"
}
