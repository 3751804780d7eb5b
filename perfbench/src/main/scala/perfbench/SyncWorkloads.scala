package perfbench

import java.nio.file.{Files, Path}
import java.time.LocalDateTime

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.config.JobConfig
import graft.io.StateTable
import graft.jobs.{JobResult, Jobs}

/** The two sync workloads: one `Jobs.run` per timed operation, each on a
  * fresh job root restored from the pristine pre-state.
  */
abstract class SyncWorkload(spark: SparkSession, work: Path, seed: Long)
    extends Workload {

  protected def spec: Jobs.JobSpec
  protected def tag: String
  /** Writes the job's config JSON into `root`; the program parses it. */
  protected def configJson(root: Path): String
  /** Link the pre-state (inputs, plus prior state if any) into `root`. */
  protected def restore(root: Path): Unit
  protected def check(root: Path, res: JobResult): Seq[Check]
  /** Batch-inference records one sync processes. */
  protected def records: Long
  /** Live state rows before the sync (0 without prior state). */
  protected def liveBefore: Long

  protected val gen: Path = work.resolve("gen")
  protected val JobName = "bench_sync"
  protected val Clock: LocalDateTime = LocalDateTime.of(2026, 1, 2, 3, 4, 5)
  private var roots = 0

  protected def freshRoot(): Path = {
    roots += 1
    val r = work.resolve(s"root-$roots")
    Fs.deleteTree(r)
    restore(r)
    r
  }

  protected def config(root: Path): JobConfig = {
    val f = root.resolve("config.json")
    Files.writeString(f, configJson(root))
    JobConfig.parse(Files.readString(f))
  }

  private def persisted(root: Path): Long =
    Fs.bytes(root.resolve("output")) + Fs.bytes(root.resolve("errors"))

  protected def sync(root: Path): (JobResult, Outcome) = {
    val cfg = config(root)
    val before = persisted(root)
    val (res, wall, cpu, heap) = Probe.measure(
      Jobs.run(spark, spec, Probe.path(root), JobName, cfg, Clock))
    val bytes = persisted(root) - before
    (res, Outcome(wall, cpu, records, bytes, heap,
      Check.failures(check(root, res))))
  }

  def runOnce(i: Int): Outcome = {
    val root = freshRoot()
    try sync(root)._2 finally Fs.deleteTree(root)
  }

  protected def stateDir(root: Path): Path =
    root.resolve(s"output/${Gen.Connector}/state_keyed")

  private def sameText(a: String, b: String): Boolean = {
    val x = spark.read.text(a)
    val y = spark.read.text(b)
    x.exceptAll(y).isEmpty && y.exceptAll(x).isEmpty
  }

  /** Staged and plain outputs agree file-content-wise: connector output,
    * errors, and state (snapshot text or latest keyed rows).
    */
  private def sameOutputs(a: Path, b: Path, res: JobResult): Seq[String] = {
    val rel = (p: String) => a.toAbsolutePath.relativize(
      java.nio.file.Paths.get(p).toAbsolutePath).toString
    val dirs = res.connectors.map(c => rel(c.outputDir)) ++
      res.errorsDir.map(rel) ++
      res.connectors.map(c => s"output/${c.connector}/state")
        .filter(d => Files.exists(a.resolve(d)))
    val textDiffs = dirs.filterNot(d =>
      Files.exists(b.resolve(d)) &&
        sameText(Probe.path(a.resolve(d)), Probe.path(b.resolve(d))))
    val keyedDiff =
      if (!Files.exists(stateDir(a))) Nil
      else {
        val la = StateTable.readLatest(spark, Probe.path(stateDir(a)),
          spec.groupKeys)
        val lb = StateTable.readLatest(spark, Probe.path(stateDir(b)),
          spec.groupKeys)
        if (la.exceptAll(lb).isEmpty && lb.exceptAll(la).isEmpty) Nil
        else Seq("state_keyed")
      }
    (textDiffs ++ keyedDiff).map(d => s"staged output differs from Jobs.run: $d")
  }

  def traced(tr: Tracer, cores: Int): TraceResult = {
    val runTag = s"$tag-$seed"
    // pass 1: plain Jobs.run under the listeners
    val a = freshRoot()
    val b = work.resolve("staged")
    try {
      val cfgA = config(a)
      val stateBefore = Fs.bytes(stateDir(a))
      tr.clearQueries()
      val gc0 = Probe.gcSeconds()
      val (res, wall) = Probe.time(tr.span("jobs.run", s"$runTag-jobs")(
        Jobs.run(spark, spec, Probe.path(a), JobName, cfgA, Clock)))
      val gc = Probe.gcSeconds() - gc0
      val jobs = tr.tasks(_ == "jobs.run")
      val scans = tr.scans()
      val stateAfter = Fs.bytes(stateDir(a))
      val versions = StateTable.versions(spark, Probe.path(stateDir(a))).size
      val failA = Check.failures(check(a, res))

      // pass 2: the same dataflow one layer at a time
      Fs.deleteTree(b)
      restore(b)
      val counts = tr.span("staged", s"$runTag-staged")(Staged.run(spark,
        tr, s"$runTag-staged", spec, Probe.path(b), JobName, config(b), Clock))
      val same = sameOutputs(a, b, res)

      def self(p: String => Boolean) = tr.selfTime(p)
      val ops = tr.tasks(_.startsWith("ops."))
      val writtenFiles = counts.writtenDirs.flatMap(d =>
        Fs.dataFiles(java.nio.file.Paths.get(d)))
      val frac = (n: Long, d: Long) => if (d == 0) 0.0 else n.toDouble / d
      val m = Map(
        "readers.scan_s" -> self(_.startsWith("readers.")),
        "readers.records_in" -> counts.recordsIn.toDouble,
        "readers.bytes_in" -> tr.tasks(_.startsWith("readers.")).inBytes.toDouble,
        "readers.input_scans" ->
          scans.get("input").fold(0.0)(_.scans.toDouble),
        "ops.mapusers_rows_out" -> counts.mappedRows.toDouble,
        "ops.mapusers_max_task_s" ->
          tr.tasks(_ == "ops.map_users").maxTaskMs / 1000.0,
        "ops.explode_rows" -> counts.explodedRows.toDouble,
        "ops.decorate_miss_frac" -> frac(counts.decorateMisses, counts.recRows),
        "ops.assemble_s" -> self(_ == "ops.assemble"),
        "ops.shuffle_bytes" -> ops.shuffleWrite.toDouble,
        "ops.spill_bytes" -> ops.spill.toDouble,
        "ops.delta_s" -> self(_ == "ops.delta_check"),
        "ops.delta_emit_frac" -> frac(counts.deltaEmitted, counts.deltaChecked),
        "jobs.spark_jobs" -> jobs.jobs.toDouble,
        "jobs.tasks" -> jobs.tasks.toDouble,
        "jobs.core_util" -> jobs.runMs / 1000.0 / (wall * cores),
        "jobs.gc_s" -> gc,
        "state.read_s" -> self(_ == "state.read"),
        "state.rows_scanned_per_live_row" ->
          frac(scans.get("state").fold(0L)(_.rows), liveBefore),
        "state.append_s" -> self(_ == "state.append"),
        "state.versions_after" -> versions.toDouble,
        "state.bytes_written" -> (stateAfter - stateBefore).toDouble,
        "writers.output_s" -> self(_ == "writers.output"),
        "writers.state_snapshot_s" -> self(_ == "writers.state_snapshot"),
        "writers.errors_s" -> self(_ == "writers.errors"),
        "writers.files" -> writtenFiles.size.toDouble,
        "writers.bytes" -> writtenFiles.map(Files.size).sum.toDouble,
        "writers.rows" -> counts.rowsWritten.toDouble)
      TraceResult(m, wall, 2, failA ++ same)
    } finally { Fs.deleteTree(a); Fs.deleteTree(b) }
  }
}

/** `ri_cold_sync`: related-items first sync, no prior state. */
final class RiColdSync(spark: SparkSession, work: Path, seed: Long,
    sizes: Gen.RiSpec) extends SyncWorkload(spark, work, seed) {
  protected val spec = Jobs.RelatedItems
  protected val tag = "ri_cold_sync"
  private var expect: Gen.RiExpect = _

  def prepare(): Unit = {
    Fs.deleteTree(gen)
    expect = Gen.writeRi(gen, seed, sizes)
  }

  protected def restore(root: Path): Unit =
    Fs.linkTree(gen.resolve("input"), root.resolve("input"))

  protected def configJson(root: Path): String =
    s"""{"batchInferencePath":"${Probe.path(root.resolve("input/batch_inference"))}",
       |"performDeltaCheck":false,"saveBatchInferenceErrors":true,
       |"writeStateAfterSync":true,"stateFormat":"snapshot","connectors":{
       |"braze":{"itemMetadataFields":["name","category","price"],
       |  "attributePrefix":"ri_","otherAttributes":{"channel":"email"}},
       |"segment":{"itemMetadataFields":["brand","color","rating"],
       |  "attributePrefix":"seg_"}}}""".stripMargin

  protected def records: Long = expect.inputLines
  protected def liveBefore: Long = 0L

  protected def check(root: Path, res: JobResult): Seq[Check] =
    Check("connectors", 2, res.connectors.size) +:
      res.connectors.flatMap { c =>
        val out = JsonlCounts.of(java.nio.file.Paths.get(c.outputDir))
        Seq(Check(s"${c.connector}.rows", expect.outputRows, c.rowsWritten),
          Check(s"${c.connector}.lines", expect.outputRows, out.lines),
          Check(s"${c.connector}.decorate_misses", expect.decorateMisses,
            out.bareMisses),
          Check(s"${c.connector}.undecorated_hits", 0, out.bareHits))
      } :+ Check("error_lines", expect.errorLines,
        JsonlCounts.of(root.resolve("errors")).lines)
}

/** `up_keyed_resync`: user-personalization resync over keyed state with
  * the delta check, against a pristine primed pre-state.
  */
final class UpKeyedResync(spark: SparkSession, work: Path, seed: Long,
    sizes: Gen.UpSpec) extends SyncWorkload(spark, work, seed) {
  protected val spec = Jobs.UserPersonalization
  protected val tag = "up_keyed_resync"
  private var expect: Gen.UpExpect = _
  private val PrimeClock = LocalDateTime.of(2026, 1, 1, 3, 4, 5)

  private def linkInput(gen1: Boolean, root: Path): Unit = {
    Fs.linkTree(gen.resolve(if (gen1) "gen1" else "gen0"),
      root.resolve("input/batch_inference"))
    Fs.linkTree(gen.resolve("item_metadata"),
      root.resolve("input/item_metadata"))
  }

  def prepare(): Unit = {
    Fs.deleteTree(gen)
    expect = Gen.writeUp(gen, seed, sizes)
    val prime = work.resolve("prime")
    Fs.deleteTree(prime)
    linkInput(gen1 = false, prime)
    val res = Jobs.run(spark, spec, Probe.path(prime), JobName,
      config(prime), PrimeClock)
    val versions = StateTable.versions(spark, Probe.path(stateDir(prime)))
    val bad = Check.failures(Seq(
      Check("prime.rows", expect.users, res.connectors.map(_.rowsWritten).sum),
      Check("prime.versions", 1, versions.size)))
    require(bad.isEmpty, s"$tag priming: ${bad.mkString("; ")}")
    Files.move(stateDir(prime), gen.resolve("state_keyed"))
    Fs.deleteTree(prime)
  }

  protected def restore(root: Path): Unit = {
    linkInput(gen1 = true, root)
    Fs.linkTree(gen.resolve("state_keyed"), stateDir(root))
  }

  protected def configJson(root: Path): String =
    s"""{"batchInferencePath":"${Probe.path(root.resolve("input/batch_inference"))}",
       |"performDeltaCheck":true,"saveBatchInferenceErrors":true,
       |"writeStateAfterSync":true,"stateFormat":"keyed","connectors":{
       |"braze":{"itemMetadataFields":["name","category"],
       |  "attributePrefix":"recommendation_"}}}""".stripMargin

  protected def records: Long = expect.gen1Lines
  protected def liveBefore: Long = expect.users

  protected def check(root: Path, res: JobResult): Seq[Check] = {
    val dir = Probe.path(stateDir(root))
    val versions = StateTable.versions(spark, dir)
    val rows = res.connectors.map(_.rowsWritten).sum
    val lines = res.connectors.map(c =>
      JsonlCounts.of(java.nio.file.Paths.get(c.outputDir)).lines).sum
    val tombstones =
      if (versions.size < 2) -1L
      else spark.read.parquet(s"$dir/v=${versions.last}")
        .where(col(StateTable.DeletedCol) === true).count()
    Seq(Check("rows_emitted", expect.emitted, rows),
      Check("lines", expect.emitted, lines),
      Check("versions", 2, versions.size),
      Check("tombstones", expect.departed, tombstones),
      Check("live_after",
        expect.liveAfter, StateTable.readLatest(spark, dir, spec.groupKeys).count()),
      Check("error_lines", expect.errorLines,
        JsonlCounts.of(root.resolve("errors")).lines))
  }
}
