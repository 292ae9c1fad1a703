package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = Cluster.open(nodes = cpus, appName = "graft-verify", shufflePartitions = cpus)
    new java.io.File(outDir).mkdirs()
    // dev-loop filter: SPARK_GRAFT_ONLY=q01_agg,t14_canonicalize runs a
    // subset (oracle_sql.json still contains every oracle; check.py only
    // compares result dirs that exist). Unset → full run (driver mode).
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter(kv => names(kv._1))
      case None        => SparkEntry.queries
    }
    selected.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        // free any localCheckpoint blocks in the result's lineage —
        // without this a full 117-query run accumulates every
        // checkpoint-heavy query's blocks in one JVM
        CacheUtil.release(df)
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Registry-derived coverage counts — the single source the
    // COVERAGE.md header is generated from (round-10 verdict #6:
    // hand-maintained header counts drifted three rounds running).
    // Always written from the FULL registry, even on SPARK_GRAFT_ONLY
    // subset runs. Stitch with: python3 dev/sync_coverage_header.py
    val allNames = SparkEntry.queries.keys.toSeq.sorted
    val rowsOnly = allNames.filterNot(SparkEntry.oracleSql.contains)
    val counts =
      s"""{"registry_total": ${allNames.size},
         | "oracle_full": ${SparkEntry.oracleSql.size},
         | "rows_only": ${rowsOnly.size},
         | "rows_only_names": [${rowsOnly.map(q).mkString(", ")}]}""".stripMargin
    Files.writeString(Paths.get(s"$outDir/coverage_counts.json"), counts)
    spark.stop()
  }
}
