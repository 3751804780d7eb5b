package graft.io

import java.time.LocalDateTime
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.DataFrame

/** Sink operators K1/K2 (SURVEY.md §2.2).
  *
  * The reference writes JSONL to
  * `output/<connector>/year=YYYY/month=MM/day=DD/time=HHMMSS/` with the
  * partition values computed FROM THE JOB RUN TIME into the path — not
  * Hive `partitionBy` on data columns (`related_items_etl.py:301-315`,
  * `partitionKeys=[]`). We reproduce that layout exactly; parallelism is
  * preserved (one file per task — never `coalesce(1)` here).
  */
object Writers {

  private val pathFmt = DateTimeFormatter.ofPattern("yyyy/MM/dd/HHmmss")

  /** Render `year=YYYY/month=MM/day=DD/time=HHMMSS` from an injected run
    * time (F4; reference `related_items_etl.py:119,303` uses
    * `%Y/%m/%d/%H%M%S` then labels the segments).
    */
  def runTimePartition(runTime: LocalDateTime): String = {
    val Array(y, m, d, t) = pathFmt.format(runTime).split('/')
    s"year=$y/month=$m/day=$d/time=$t"
  }

  /** Glob of every [[runTimePartition]] under a connector's output root:
    * the connector output the queue relay reads, without the state dirs
    * beside it.
    */
  def runPartitions(connectorRoot: String): String =
    s"$connectorRoot/year=*/month=*/day=*/time=*"

  /** K1: connector output sink — plain JSON Lines, one `part-*.json`
    * file per task (the reference writes plain JSONL per connector,
    * `related_items_etl.py:301-315`), in the run partition the queue relay
    * ([[graft.streaming.FileRelay.relayToQueue]]) picks up.
    */
  def connectorOutput(df: DataFrame, outputRoot: String, connector: String,
      runTime: LocalDateTime): String = {
    val dir = s"$outputRoot/$connector/${runTimePartition(runTime)}"
    df.write.mode("append").json(dir)
    dir
  }

  /** K2: error sink — written only when enabled and non-empty
    * (reference `related_items_etl.py:114-133`). Returns the path if
    * anything was written.
    *
    * Without `knownCount` the gate is `isEmpty` (pushed limit 1): cheap
    * when errors exist, a full pass when none do. [[graft.jobs.Jobs.run]]
    * runs it over its pinned parsed batch, so that pass fills the cache
    * the connectors read next instead of scanning the input again.
    *
    * @param knownCount error-row count the caller already measured; the
    *   gate is then a driver-side comparison. Only the benchmark's staged
    *   pass (`perfbench/.../Staged.scala`) passes it.
    */
  def errors(df: DataFrame, errorRoot: String, jobType: String,
      runTime: LocalDateTime, enabled: Boolean,
      knownCount: Option[Long] = None): Option[String] =
    if (enabled && knownCount.fold(!df.isEmpty)(_ > 0)) {
      val dir = s"$errorRoot/$jobType/${runTimePartition(runTime)}"
      df.write.mode("append").json(dir)
      Some(dir)
    } else None

  /** State snapshot write-back (declared but unimplemented in the
    * reference — `README.md:150` TODO; SURVEY.md §2.13#4). Overwrite
    * semantics: state is "the last successful sync", not a log.
    */
  def state(df: DataFrame, outputRoot: String, connector: String): String = {
    val dir = s"$outputRoot/$connector/state"
    df.write.mode("overwrite").json(dir)
    dir
  }
}
