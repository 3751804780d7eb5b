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

  /** Idempotent connector output — the exactly-once upgrade SURVEY
    * §2.11 leaves open in the reference (its enqueue can double-send a
    * payload on a Lambda retry because nothing remembers what was
    * already delivered). A key MANIFEST (a [[StateTable]] of the sink
    * key columns — userId + runDateTime in the reference's terms)
    * records every delivered key; a retried or overlapping batch
    * anti-joins the manifest first, so each key's payload reaches the
    * output exactly once no matter how many times the batch replays.
    *
    * Scale shape: the manifest holds KEYS only (never payloads), the
    * dedup is a key-only left-anti join, and the manifest append is
    * O(new keys) — the [[StateTable]] O(delta) pattern. Periodic
    * manifest compaction comes free from
    * [[StateTable.maybeCompact]].
    *
    * In-batch duplicates: rows sharing a key WITHIN one batch are
    * collapsed to a single delivery too (`dropDuplicates(keyCols)`
    * before the write — ADVICE r10: the manifest alone only absorbs
    * cross-batch replays, it cannot see twins inside the batch it is
    * about to record). When in-batch twins carry byte-identical
    * payloads — the replay/retry case this sink exists for — the
    * collapse is exact; twins with DIFFERING payloads under one key
    * deliver an arbitrary representative, so callers for whom payload
    * identity matters must resolve conflicts upstream (the key is the
    * delivery contract, not the payload).
    *
    * Failure window: the output write and the manifest append are two
    * operations — a crash between them re-delivers that batch once on
    * retry (at-least-once within the window, exactly-once after the
    * manifest lands). That matches object-store reality: without
    * transactional multi-file commits there is no stronger guarantee,
    * and downstream consumers keyed on the same columns stay
    * idempotent.
    *
    * @return the new (previously undelivered) rows actually written —
    *   returned STILL PERSISTED (the write + manifest append already
    *   materialized them), so a consuming action (`count`, re-write)
    *   reads the cache instead of recomputing the manifest anti-join
    *   from scratch. The caller owns the handle: call `.unpersist()`
    *   when done (ADVICE r14 — the old `finally unpersist` made every
    *   downstream action pay the state read twice).
    */
  def idempotentConnectorOutput(df: DataFrame, outputRoot: String,
      connector: String, runTime: LocalDateTime,
      keyCols: Seq[String], manifestDir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val spark = df.sparkSession
    val once = df.dropDuplicates(keyCols)
    val fresh =
      if (StateTable.versions(spark, manifestDir).isEmpty) once
      else once.join(
        StateTable.readLatest(spark, manifestDir, keyCols),
        keyCols, "left_anti")
    val pinned = fresh.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // a throwing write/append must release the cache itself — the
    // caller never receives the handle, and a long-lived session
    // retrying delivery would otherwise strand one pinned copy of the
    // batch per failed attempt (round-15 review)
    try {
      if (!pinned.isEmpty) {
        connectorOutput(pinned, outputRoot, connector, runTime)
        StateTable.append(
          pinned.select(keyCols.map(col): _*).distinct(), manifestDir)
      }
    } catch { case e: Throwable => pinned.unpersist(); throw e }
    pinned
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
