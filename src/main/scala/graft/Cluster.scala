package graft

import org.apache.spark.sql.SparkSession

/** Cluster lifecycle + catalog surface.
  *
  * Mirrors the reference's `rscl` connection-list handle
  * (reference: R/rscl.R:13-40 `rscl.connect`, R/rscl.R:45-47 `rscl.close`,
  * R/rscl.R:112-118 `is.rscl`, R/rscl.R:124-137 `rscl.ls`/`rscl.ls.str`,
  * R/rscl.R:145-158 `rscl.require`). In Spark the cluster handle is the
  * `SparkSession`: one session subsumes connect/close/validate, and the
  * catalog subsumes the per-node `.GlobalEnv` listing.
  */
object Cluster {

  /** Entries of Spark's generated-class cache
    * (`spark.sql.codegen.cache.maxEntries`, Spark's default 100) — see
    * [[open]].
    */
  val CodegenCacheEntries: Int = 3000

  /** Open a session ≈ `rscl.connect` (reference R/rscl.R:13-40).
    * `nodes` maps to local threads here; on a real cluster the same code
    * runs unchanged under spark-submit with `--master yarn/k8s`.
    *
    * Every session of the program comes from here, so this is where the
    * generated-class cache is sized: [[CodegenCacheEntries]] entries.
    * Whole-stage codegen turns each plan into Java source that Janino
    * compiles; the cache, keyed by that source, lets a plan shape that
    * recurs pay the compile once. It is an LRU, and a workload that
    * cycles through more distinct classes than it holds misses on every
    * access — each class is evicted just before its next use — so at
    * Spark's default of 100 the repeating workloads below recompiled
    * every class in every round. Distinct classes per steady cycle,
    * counted with [[Observability.codegenCompiles]]:
    *  - 106 for a perfbench `bdt_query` round;
    *  - 179 for a perfbench `fold_stream` pass (MinHash and SimHash
    *    folds, a replay, a compaction);
    *  - 2390 for one `graft.Bench` pass over the 151 registry rows at
    *    sf0.1 in one JVM. At 1000 entries its second pass recompiled
    *    2426 classes; at 3000, 660, all but 16 of them in the streaming
    *    rows, whose generated code differs from run to run and compiles
    *    anew at any size.
    * A tier-1 run (403 tests, one JVM) compiles 6819 classes in all.
    * 3000 is the smallest round number that holds the largest cycle with
    * headroom. Each cached class keeps its bytecode on the heap, about
    * 35 KB: after two registry passes the live heap was 210.5 MB at 3000
    * entries against 162.0 MB at 1000. The perfbench workloads never
    * fill 1000 entries, so their heap does not depend on the size.
    *
    * The cache is JVM-wide and sized ONCE per JVM: Spark reads the value
    * from the active session's conf at the first compile in the JVM and
    * never again. It is a static SQL conf, so it only takes effect on
    * the builder before `getOrCreate` creates the `SparkContext`; when
    * a `SparkContext` already exists, Spark ignores it with a warning.
    */
  def open(
      nodes: Int = Runtime.getRuntime.availableProcessors(),
      appName: String = "graft",
      shufflePartitions: Int = 32,
      extraConf: Map[String, String] = Map.empty
  ): SparkSession = {
    val b = SparkSession
      .builder()
      .master(s"local[$nodes]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // the events fixture stores TIMESTAMP(NANOS), which the vectorized
      // parquet reader rejects — read nanos as long, session-wide, so
      // loaders stay side-effect-free (Tables.events truncates to micros)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
    extraConf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** ≈ `rscl.close` (reference R/rscl.R:45-47). */
  def close(spark: SparkSession): Unit = spark.stop()

  /** ≈ `is.rscl` (reference R/rscl.R:112-118): handle validity. */
  def isValid(spark: SparkSession): Boolean =
    spark != null && !spark.sparkContext.isStopped

  /** ≈ `rscl.ls` (reference R/rscl.R:124-126): the names visible to
    * queries — temp views + catalog tables.
    */
  def ls(spark: SparkSession): Seq[String] =
    spark.catalog.listTables().collect().map(_.name).toSeq.sorted

  /** ≈ `rscl.ls.str` (reference R/rscl.R:131-137): name → structure. */
  def lsStr(spark: SparkSession): Map[String, String] =
    ls(spark).map(n => n -> spark.table(n).schema.treeString).toMap

  /** ≈ `rscl.assign` (reference R/rscl.R:80-89): make one value visible
    * to every node. In Spark that is a broadcast variable — shipped once
    * per executor, torrent-distributed, not once per task.
    */
  def assign[T: scala.reflect.ClassTag](
      spark: SparkSession,
      value: T
  ): org.apache.spark.broadcast.Broadcast[T] =
    spark.sparkContext.broadcast(value)

  /** ≈ `rscl.require` (reference R/rscl.R:145-158). The engine is
    * compiled into the application jar, so per-node package loading is a
    * no-op; kept for API parity and returns whether the class is present.
    */
  def require(spark: SparkSession, className: String): Boolean =
    try { Class.forName(className); true }
    catch { case _: ClassNotFoundException => false }
}
