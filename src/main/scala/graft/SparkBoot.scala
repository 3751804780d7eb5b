package graft

import org.apache.spark.sql.SparkSession

/** One place for the local session every driver-facing main boots
  * and the test suites share (round-16 review: this block had drifted
  * into inline copies, and a config change missed in one of them makes
  * that caller's measurements silently non-comparable to the others').
  *
  * The settings themselves: one shuffle partition per core (the
  * 100 TB analogue is partitions ~= 2-3x total executor cores —
  * local[n] models that as n), UTC so timestamp renders match the
  * DuckDB oracle, `nanosAsLong` because events.parquet carries
  * TIMESTAMP(NANOS) which Spark's reader only surfaces as a
  * nano-count long, UI off for headless runs.
  */
object SparkBoot {

  /** Cores from SPARK_GRAFT_CPUS (driver contract) over `default`. */
  def cpus(default: Int = 32): String =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", default.toString)

  /** Build the standard local session.
    *
    * @param cores              local[n] parallelism
    * @param shufflePartitions  defaults to `cores`
    * @param logLevel           sparkContext log level after boot
    */
  def session(cores: String, shufflePartitions: Option[String] = None,
      logLevel: String = "WARN"): SparkSession = {
    // Plan-string render cap (round-21 profiling, guide §7.3): Spark
    // renders the FULL plan string for listener events on every action
    // start AND every AQE plan update — and a plan that scans persisted
    // intermediates re-renders each InMemoryRelation's whole lineage
    // every time. With the UI off and no event log those strings go
    // nowhere, yet an in-process stack sampler showed them DOMINATING
    // cache-heavy queries (jaccard stage-2: 33 s -> 6 s once capped).
    // The cost is per plan NODE, not per data byte, so the cap is just
    // as right on a 100 TB cluster driver as on local[n]; anything
    // needing full plans (plan dumps, plan-regression specs) must raise
    // `spark.sql.maxPlanStringLength` for the render, or
    // SPARK_GRAFT_MAX_PLAN_STR for its whole session.
    val maxPlanStr =
      sys.env.getOrElse("SPARK_GRAFT_MAX_PLAN_STR", "8192")
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions",
        shufflePartitions.getOrElse(cores))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.maxPlanStringLength", maxPlanStr)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel(logLevel)
    s
  }
}
