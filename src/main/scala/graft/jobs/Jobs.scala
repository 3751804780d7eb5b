package graft.jobs

import java.time.LocalDateTime
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.types.StringType
import org.apache.spark.storage.StorageLevel

import graft.config.JobConfig
import graft.etl.Ops
import graft.io.{Readers, StateTable, Writers}
import graft.schema.Schemas

/** Result of one connector sync within a job run. */
final case class ConnectorResult(connector: String, outputDir: String,
    rowsWritten: Long)

/** Result of a whole job run. */
final case class JobResult(jobName: String, runDateTime: String,
    errorsDir: Option[String], connectors: Seq[ConnectorResult])

/** The two ETL jobs (reference `src/glue/related_items_etl.py` and
  * `user_personalization_etl.py`) as one parameterized dataflow:
  *
  *   read -> split errors -> explode -> decorate -> assemble
  *        -> [fan out to users] -> [delta check] -> stamp -> write
  *        [-> state]
  *
  * Differences handled by [[JobSpec]]: related-items fans each query
  * item's list out to the users a user-item mapping gives it and keys
  * groups by (queryItemId, userId); user-personalization has no mapping
  * and keys by queryUserId alone. Explode, decorate and assemble run once
  * per query key: the reference joins the mapping first and repeats them
  * for every mapped user (`related_items_etl.py:159-172`, then
  * `:202-214`); [[graft.etl.Ops.fanOutToUsers]] gives the same rows.
  * [[assemble]] is the one definition of decorate -> assemble -> [fan
  * out]; every caller of that dataflow goes through it.
  * Reference quirks fixed, not replicated (SURVEY.md §2.13): paths derive
  * from the job's own type (#1), the decorate routine is shared so the
  * wrong-window-key bug can't recur (#2), `performDeltaCheck` accepts both
  * scopes (#3), and state IS written back after a sync (#4). The parsed
  * batch and the aggregated mapping are persisted across the errors write
  * and the connector loop, and decorate+assemble+fan-out is memoized per
  * metadata field list, so the errors write and N connectors cost ONE scan
  * of the batch input and ONE of the mapping (#5).
  *
  * The delta check is one path in both state formats: the last sync's
  * state is read ONCE per connector and [[graft.etl.Ops.keyedChanges]]
  * joins it against the assembled rows into changed rows and tombstones
  * (the reference's EXCEPT, `related_items_etl.py:262-266`, gives the
  * same rows barring a 64-bit hash collision). The output gets the changed
  * rows; a keyed state append gets all of it, with or without the check.
  * `stateFormat` decides only where the state lives: which reader gives
  * the last state and which call commits the new one. Every persisted
  * frame is unpersisted when the run ends.
  */
object Jobs {

  /** Serialized into `jobInfo.runDateTime` (SURVEY.md §7.4#4); partition
    * paths and the stamp share one injected clock.
    */
  val runDateTimeFmt: DateTimeFormatter =
    DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS")

  sealed trait JobSpec {
    def jobType: String
    def queryKeyPath: String
    def queryKeyAlias: String
    def groupKeys: Seq[String]
    def usesMapping: Boolean
  }
  case object RelatedItems extends JobSpec {
    val jobType = "related_items"
    val queryKeyPath = "input.itemId"
    val queryKeyAlias = "queryItemId"
    val groupKeys = Seq("queryItemId", "userId")
    val usesMapping = true
  }
  case object UserPersonalization extends JobSpec {
    val jobType = "user_personalization"
    val queryKeyPath = "input.userId"
    val queryKeyAlias = "queryUserId"
    val groupKeys = Seq("queryUserId")
    val usesMapping = false
  }

  /** Decorate `exploded` ([[graft.etl.Ops.explodeRecs]] keyed by
    * `keyAlias`, nothing carried), assemble one list per key, then fan
    * the lists out to the users in `pairs`
    * ([[graft.etl.Ops.mappingPairCounts]]) when given. Called by [[run]]
    * and `Queries.riPipeline`/`upPipeline`.
    */
  def assemble(exploded: DataFrame, keyAlias: String,
      metadata: Option[DataFrame], fields: Seq[String],
      pairs: Option[DataFrame]): DataFrame = {
    val perKey = Ops.assembleRecommendations(
      Ops.decorate(exploded, metadata, fields), Seq(keyAlias))
    pairs.fold(perKey)(Ops.fanOutToUsers(perKey, _))
  }

  /** Run a job end-to-end against a root directory laid out like the
    * reference's `etl_jobs/<job>/` prefix (input/, output/, errors/).
    *
    * @param clock injected run time — an input, not a side effect
    *   (SURVEY.md §7.4#5)
    */
  def run(spark: SparkSession, spec: JobSpec, jobRoot: String,
      jobName: String, config: JobConfig, clock: LocalDateTime): JobResult = {
    val runDateTime = runDateTimeFmt.format(clock)

    val schema = spec match {
      case RelatedItems => Schemas.relatedItemsBatchInference
      case UserPersonalization => Schemas.userPersonalizationBatchInference
    }
    // A line that does not parse goes to errors, not to the connectors.
    val raw = Ops.markMalformed(Readers.jsonl(spark, config.batchInferencePath,
      schema.add(Ops.CorruptRecord, StringType)))

    // Item metadata is optional and open-schema (existence-gated read,
    // reference `related_items_etl.py:175-189`).
    val metadata = Readers.jsonlInferIfExists(spark,
      s"$jobRoot/input/item_metadata")

    val outputRoot = s"$jobRoot/output"
    // Every persisted frame goes through `pin` and is unpersisted when the
    // run ends, however it ends.
    val pinned = scala.collection.mutable.ListBuffer.empty[DataFrame]
    def pin(df: DataFrame): DataFrame = {
      pinned += df
      df.persist(StorageLevel.MEMORY_AND_DISK)
    }
    try {
      // The parsed batch is pinned and split once. Errors are written
      // before any connector output, as in the reference
      // (`related_items_etl.py:111-136`): a connector that fails later
      // leaves the diagnostics on disk, and an errors-sink failure fails
      // the run. The errors write and every connector read the same
      // pinned frame, so N connectors cost ONE scan of the batch input.
      val (ok, errs) = Ops.splitErrors(pin(raw))
      val errorsDir = Writers.errors(errs, s"$jobRoot/errors", spec.jobType,
        clock, config.saveBatchInferenceErrors)
      // Every connector consumes the same exploded frame and the same
      // aggregated mapping, and connectors that request the same metadata
      // field list share one decorate+assemble+fan-out subtree (the
      // reference re-runs the whole Glue dataflow per connector).
      val exploded = Ops.explodeRecs(ok, spec.queryKeyPath,
        spec.queryKeyAlias, Nil)
      val pairs = Option.when(spec.usesMapping)(pin(Ops.mappingPairCounts(
        Readers.csv(spark, s"$jobRoot/input/user_item_mapping",
          Schemas.userItemMapping))))
      val assembledByFields =
        scala.collection.mutable.Map.empty[Seq[String], DataFrame]
      val results = config.connectors.toSeq.sortBy(_._1).map {
        case (connector, cc) =>
          val assembled = assembledByFields.getOrElseUpdate(
            cc.itemMetadataFields, pin(assemble(exploded, spec.queryKeyAlias,
              metadata, cc.itemMetadataFields, pairs)))
          val deltaOn = config.deltaCheckFor(connector)
          val writeState = config.writeStateAfterSync
          // The state format decides only where state lives: where the
          // last sync's state is read from here, and how this sync's is
          // committed below. A keyed commit tombstones the keys that left,
          // so it reads the state even without the delta check; a snapshot
          // commit rewrites it whole.
          val keyed = config.stateFormat == "keyed"
          val stateDir =
            if (keyed) s"$outputRoot/$connector/state_keyed"
            else s"$outputRoot/$connector/state"
          val state =
            if (keyed)
              Option.when((deltaOn || writeState) &&
                StateTable.versions(spark, stateDir).nonEmpty)(
                StateTable.readLatest(spark, stateDir, spec.groupKeys))
            else
              Option.when(deltaOn && Readers.pathExists(spark, stateDir))(
                Readers.jsonl(spark, stateDir, assembled.schema))
          // Either state is read ONCE: one join against the current rows
          // gives the changed rows and the tombstones. When the output
          // write and a keyed append both consume them, they are pinned
          // (the output write materializes them).
          val changes =
            state.map(Ops.keyedChanges(assembled, _, spec.groupKeys))
          if (keyed && deltaOn && writeState) changes.foreach(pin)
          val afterDelta =
            if (deltaOn) changes.fold(assembled)(Ops.changedRows)
            else assembled

          val stamped = Ops.stampJobInfo(afterDelta, jobName, runDateTime,
            Some((cc.attributePrefix, cc.otherAttributes)))

          // Count rows AS they are written (Dataset.observe piggybacks a
          // free aggregate on the write job) — never re-read the output to
          // count it, which at 100 TB is a second full pass per connector.
          val obs = Observation(s"rows_${connector}_$runDateTime")
          val observed = stamped.observe(obs, count(lit(1)).as("rows"))
          val outDir = Writers.connectorOutput(observed, outputRoot,
            connector, clock)
          val rows = obs.get("rows").asInstanceOf[Long]

          if (writeState) {
            if (keyed) {
              // O(delta) state maintenance, with or without the check:
              // the changed rows upsert and the keys that left tombstone
              // (a cold sync appends every row). An unchanged key already
              // holds the same payload, so merge-on-read gives the
              // reference's full-snapshot semantics without rewriting it.
              StateTable.append(changes.getOrElse(assembled), stateDir)
              // bound merge-on-read cost; amortized across syncs
              StateTable.maybeCompact(spark, stateDir, spec.groupKeys,
                maxVersions = 16)
            } else
              // State = the full (pre-delta) assembled snapshot, so the
              // next run's delta sees everything synced so far.
              Writers.state(assembled, outputRoot, connector)
          }

          ConnectorResult(connector, outDir, rows)
      }
      JobResult(jobName, runDateTime, errorsDir, results)
    } finally pinned.foreach(_.unpersist())
  }
}
