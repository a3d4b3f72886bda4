package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * The local master sizes itself to its host ([[cores]]), and the
  * settings below are the ones we would ship on a real cluster too:
  * AQE on (runtime re-planning, skew-join splitting), shuffle partitions
  * sized to the parallelism actually available rather than the 200 default.
  *
  * ANSI mode is deliberately left OFF for the engine's own sessions: the
  * reference pipeline coerces unparseable values to NULL-then-0
  * (`pd.to_numeric(errors='coerce')`, reference main.py:276-277) and Spark's
  * non-ANSI cast reproduces that. All `SparkEntry.queries` nevertheless use
  * `try_cast`/guarded expressions only, so they stay correct under a
  * default-ANSI Spark 4 session created by someone else (e.g. the driver's
  * Verify session).
  */
object GraftSession {

  /** Local cores: `SPARK_GRAFT_CPUS` when set and non-empty, else every
    * processor the JVM sees — a session sizes itself to its host instead
    * of assuming one.
    */
  def cores(env: Map[String, String]): Int =
    env.get("SPARK_GRAFT_CPUS").map(_.trim).filter(_.nonEmpty)
      .fold(Runtime.getRuntime.availableProcessors)(_.toInt)

  def local(cores: Int = GraftSession.cores(sys.env), appName: String = "graft"): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName(appName)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "8m")
      // The generated-code cache defaults to 100 entries — a single
      // pair-mining + iterative-CC mega-plan (x44/x14/x71) emits enough
      // codegen units to evict ITSELF, so every execution re-Janinos and
      // HotSpot re-JITs ~86 classes (~3.4 s/rep measured).
      // 4096 entries lets a repeated plan hit (misses drop to ~5, x44
      // wall 4.8 → 3.9 s); the cost is bounded driver-side class
      // retention, negligible against a 122-query engine's footprint.
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      // The cache key includes the class loader, and with artifact
      // isolation on (the default) every cloned session — each streaming
      // query runs on one — gets its own executor class loader. Every
      // cron tick then missed the cache and compiled its ~31 units again,
      // and the JIT compiled the new classes again too. graft adds no
      // session artifacts (`SparkSession.addArtifact`, Spark Connect
      // uploads), so all sessions can share one loader. Revisit this if
      // session artifacts are ever added: without isolation they would be
      // visible to every session of the application.
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
