package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import graft.SparkBoot

/** Connector-sync benchmark: how fast and how cheaply does a
  * recommendation sync get user payloads to the destination?
  *
  * One JVM, Spark `local[cores]`, one closed-loop client: the next sync
  * starts only when the previous one has finished, like a scheduled job.
  * Inputs are generated from `--seed` before timing starts. The timed
  * loop runs with tracing off; `--trace 1` adds one traced run per
  * workload after it and reports per-layer metrics instead.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --work <dir> --cores <n> [--trace-out <file>]
  * The last stdout line is the JSON result; exit status 1 on any failed
  * output check.
  */
object Main {

  /** Sizes per workload. The timed loop runs whole operations, so a run
    * takes set-up plus at least `MinSamples` operations.
    */
  val RiSizes = Gen.RiSpec(queryItems = 1000, recs = 25, catalog = 20000,
    userPool = 50000, hotFrac = 0.01, hotMin = 200, hotMax = 500,
    coldMax = 6, errFrac = 0.01, missFrac = 0.01, extraMapped = 250,
    files = 4)
  val UpSizes = Gen.UpSpec(users = 8000, recs = 25, catalog = 20000,
    changeFrac = 0.05, departFrac = 0.01, newFrac = 0.01, errFrac = 0.005,
    files = 4)
  val FanSizes = Gen.FanSpec(users = 8000, recs = 25, catalog = 20000,
    missingIdFrac = 0.01, emptyRecsFrac = 0.01, files = 8)
  val FailOneIn = 20

  val SetupReps = 3
  val MinSamples = 3

  val Workloads = Seq("ri_cold_sync", "up_keyed_resync", "fanout_delivery")

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  private def json(metrics: Seq[(String, Double, String)], correct: Boolean,
      attempted: Int, failed: Int): String = {
    val ms = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${if (v.isNaN || v.isInfinite) 0.0 else v}, "unit": "$u"}"""
    }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def arg(k: String) = opt.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    val workload = arg("--workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seed = arg("--seed").toLong
    val seconds = arg("--seconds").toDouble
    val trace = arg("--trace") == "1"
    val work = Paths.get(arg("--work")).toAbsolutePath
    val cores = arg("--cores").toInt
    Files.createDirectories(work)

    val (spark, boot) = Probe.time(
      SparkBoot.session(cores.toString, logLevel = "ERROR"))
    val exit =
      try run(spark, workload, seed, seconds, trace, work, cores, boot,
        opt.get("--trace-out").map(Paths.get(_)))
      finally spark.stop()
    sys.exit(exit)
  }

  private def run(spark: org.apache.spark.sql.SparkSession, workload: String,
      seed: Long, seconds: Double, trace: Boolean, work: Path, cores: Int,
      boot: Double, traceOut: Option[Path]): Int = {
    val w: Workload = workload match {
      case "ri_cold_sync" => new RiColdSync(spark, work, seed, RiSizes)
      case "up_keyed_resync" => new UpKeyedResync(spark, work, seed, UpSizes)
      case "fanout_delivery" =>
        new FanoutDelivery(spark, work, seed, FanSizes, FailOneIn)
    }
    // set-up = session boot + median of the repeated preparations + one
    // checked warm-up operation
    val preps = (1 to SetupReps).map(_ => Probe.time(w.prepare())._2)
    val warm = Probe.time(w.warmUp())._2
    val setupS = boot + median(preps) + warm
    log(f"$workload seed=$seed boot=$boot%.3fs prepare=${preps.map(s => f"$s%.3f").mkString(",")} warm-up=$warm%.3fs")

    // timed loop, tracing off
    val outs = ArrayBuffer.empty[Outcome]
    var failed = 0
    val t0 = System.nanoTime()
    while (outs.size + failed < MinSamples ||
        (System.nanoTime() - t0) / 1e9 < seconds) {
      try {
        val o = w.runOnce(outs.size + failed + 1)
        if (o.failures.nonEmpty) {
          failed += 1
          log(s"check failed: ${o.failures.mkString("; ")}")
        } else outs += o
        log(f"op ${outs.size + failed}: wall=${o.wall}%.3fs cpu=${o.cpu}%.2fs records=${o.records} bytes=${o.bytes} heap=${o.heapMb}%.0fMB")
      } catch {
        case e: Exception =>
          failed += 1
          log(s"operation threw: $e")
      }
    }
    val attempted = outs.size + failed
    val walls = outs.map(_.wall).toSeq
    val syncS = median(walls)
    val half = walls.size / 2
    val drift =
      if (half == 0) 0.0
      else median(walls.drop(walls.size - half)) / median(walls.take(half)) - 1
    log(f"$workload: ${outs.size} ok of $attempted, sync_s median=$syncS%.3f drift=$drift%+.3f walls=${walls.map(x => f"$x%.3f").mkString(",")}")

    if (!trace) {
      val metrics = EndToEnd.map { case (n, u) =>
        val v = n match {
          case "setup_s" => setupS
          case "sync_s" => syncS
          case "records_per_s" => median(outs.map(o => o.records / o.wall).toSeq)
          case "cpu_s" => median(outs.map(_.cpu).toSeq)
          case "bytes_written_per_record" =>
            median(outs.map(o => o.bytes.toDouble / o.records).toSeq)
        }
        (n, v, u)
      }
      println(json(metrics, failed == 0, attempted, failed))
      if (failed == 0) 0 else 1
    } else {
      val tr = new Tracer(spark)
      tr.start()
      val res =
        try w.traced(tr, cores)
        finally tr.stop()
      res.failures.foreach(f => log(s"traced check failed: $f"))
      traceOut.foreach { p =>
        Files.createDirectories(p.toAbsolutePath.getParent)
        Files.writeString(p, tr.spansJson)
        log(s"spans written to $p")
      }
      val tracedFailed = if (res.failures.isEmpty) 0 else 1
      val allFailed = failed + tracedFailed
      val allAttempted = attempted + res.passes
      val layer = Main.PerLayer.map { case (n, u) =>
        val v = n match {
          case "tracing_overhead_frac" => res.tracedWall / syncS - 1
          case "sync_drift_frac" => drift
          case "peak_heap_mb" => median(outs.map(_.heapMb).toSeq)
          case "ops_failed_frac" => allFailed.toDouble / allAttempted
          case _ => res.metrics.getOrElse(n, 0.0)
        }
        (n, v, u)
      }
      println(json(layer, allFailed == 0, allAttempted, allFailed))
      if (allFailed == 0) 0 else 1
    }
  }

  /** The end-to-end metrics (`--trace 0`) with their units, as declared
    * in BENCHMARK.json.
    */
  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s",
    "sync_s" -> "s", "records_per_s" -> "1/s", "cpu_s" -> "s",
    "bytes_written_per_record" -> "B")

  /** Every per-layer metric (`--trace 1`) with its unit, as declared in
    * BENCHMARK.json; a layer a workload never calls reports 0.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "readers.scan_s" -> "s", "readers.records_in" -> "count",
    "readers.bytes_in" -> "B", "readers.input_scans" -> "count",
    "ops.mapusers_rows_out" -> "count", "ops.mapusers_max_task_s" -> "s",
    "ops.explode_rows" -> "count", "ops.decorate_miss_frac" -> "frac",
    "ops.assemble_s" -> "s", "ops.shuffle_bytes" -> "B",
    "ops.spill_bytes" -> "B", "ops.delta_s" -> "s",
    "ops.delta_emit_frac" -> "frac",
    "jobs.spark_jobs" -> "count", "jobs.tasks" -> "count",
    "jobs.core_util" -> "frac", "jobs.gc_s" -> "s",
    "state.read_s" -> "s", "state.rows_scanned_per_live_row" -> "frac",
    "state.append_s" -> "s", "state.versions_after" -> "count",
    "state.bytes_written" -> "B",
    "writers.output_s" -> "s", "writers.state_snapshot_s" -> "s",
    "writers.errors_s" -> "s", "writers.files" -> "count",
    "writers.bytes" -> "B", "writers.rows" -> "count",
    "relay.s" -> "s", "relay.files" -> "count",
    "relay.microbatches" -> "count", "relay.msgs" -> "count",
    "sinks.queue_sends" -> "count", "sinks.drain_s" -> "s",
    "sinks.dequeue_s" -> "s", "sinks.rest_posts" -> "count",
    "sinks.rest_post_success_frac" -> "frac", "sinks.dead_letters" -> "count",
    "tracing_overhead_frac" -> "frac", "sync_drift_frac" -> "frac",
    "peak_heap_mb" -> "MB", "ops_failed_frac" -> "frac")
}
