package graft.core

import org.apache.spark.sql.SparkSession

/** The one way to build the engine's session: every main and the test
  * suite start here, so a tool times the same plan as `graft.Bench`.
  */
object Session {

  /** `SPARK_GRAFT_CPUS`, else every core the JVM sees. */
  def defaultCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(v => v.trim.toIntOption.filter(_ > 0)
      .getOrElse(throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'")))
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `local[cores]` with the graft extensions, one shuffle partition per
    * core and a UTC clock. Callers add their own settings to the returned
    * builder before `getOrCreate`.
    */
  def builder(cores: Int = defaultCores): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // multi-phase similarity plans truncate lineage at staged
      // checkpoints; a 60s periodic driver GC lets the ContextCleaner
      // reap each phase's shuffle files BEFORE the next phase writes —
      // peak scratch becomes max-over-phases instead of sum-over-job
      // (the default 30min interval never fires inside one query)
      .config("spark.cleaner.periodicGC.interval", "60s")
      .config("spark.ui.enabled", "false")

  /** [[builder]]'s session at the default core count, logging at `logLevel`. */
  def start(logLevel: String = "WARN"): SparkSession = {
    val spark = builder().getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
