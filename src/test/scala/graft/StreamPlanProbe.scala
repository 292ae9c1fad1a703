package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Test-scoped plan dump for the stateful streaming rows (st12/14/16):
  * builds the st12 interval-join query on the real fixture, runs it to
  * completion, and prints the executed micro-batch physical plan —
  * once with the session-default shuffle partitions ("before") and once
  * under [[graft.streaming.Streams.statefulShufflePartitions]]
  * ("after"), so the Exchange/state-store partition counts are visible
  * evidence. `sbt "Test/runMain graft.StreamPlanProbe [sfDir]"`.
  */
object StreamPlanProbe {
  def main(args: Array[String]): Unit = {
    val d = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def runOnce(label: String, sized: Boolean): Unit = {
      val ev = Tables.events(spark, d)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      val srcDir = s"${SparkTestSession.tmpRoot}/stplan_src"
      val schema = streaming.Streams.writeTsOrderedChunks(ev, "ts", srcDir, n = 3)
      val raw = spark.readStream
        .schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(srcDir)
      val joined = streaming.Streams.intervalJoin(
        left = raw.filter(col("event_type") === "error")
          .select(col("event_id").as("err_id"), col("user_id"), col("ts").as("err_ts")),
        right = raw.filter(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts")),
        key = "user_id", leftTs = "err_ts", rightTs = "click_ts",
        window = "1 hour", watermark = "2 hours")
      val n =
        if (sized)
          streaming.Streams.statefulShufflePartitions(
            spark, streaming.Streams.dirBytes(spark, srcDir))
        else spark.conf.get("spark.sql.shuffle.partitions").toInt
      streaming.Streams.withShufflePartitions(spark, n) {
        val q = joined
          .select(col("err_id"), col("click_id"))
          .writeStream
          .format("memory")
          .queryName(s"stplan_$label")
          .outputMode("append")
          .start()
        try {
          q.processAllAvailable()
          println(s"==== $label (shuffle partitions = $n) ====")
          q.explain(extended = false)
        } finally q.stop()
      }
      spark.catalog.dropTempView(s"stplan_$label")
    }

    runOnce("before", sized = false)
    runOnce("after", sized = true)
    spark.stop()
  }
}
