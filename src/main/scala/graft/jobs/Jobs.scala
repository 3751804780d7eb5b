package graft.jobs

import java.time.LocalDateTime
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit}
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
  * scopes (#3), and state IS written back after a sync (#4). The exploded
  * frame and the aggregated mapping are persisted across the connector
  * loop and decorate+assemble+fan-out is memoized per metadata field
  * list, so N connectors cost ONE scan of the batch input and ONE of the
  * mapping (#5). A keyed-state resync reads its state ONCE per connector:
  * [[graft.etl.Ops.keyedChanges]] joins it against the assembled rows
  * into changed rows and tombstones; that frame is persisted for the
  * output write (its changed rows) and the state append (all of it), and
  * unpersisted with the others when the run ends.
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
    * ([[graft.etl.Ops.mappingPairCounts]]) when given. Called by [[run]],
    * `Queries.riPipeline`/`upPipeline` and
    * [[graft.streaming.StreamingJob.runIncremental]].
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
    val raw = Readers.jsonl(spark, config.batchInferencePath, schema)

    // Error count piggybacks on the first connector write: the observe
    // node sits BELOW the split's filters, so the action that
    // materializes the persisted exploded frame flows every raw row
    // through it and counts non-null `error`s for free. The errors sink
    // then gates on that driver-side count — a clean run never scans the
    // input again just to prove there were no errors (the old `isEmpty`
    // probe was a full extra input pass on every clean run at 100 TB).
    // The errs lineage deliberately comes from the UN-observed raw so
    // the errors write is a second, independent query.
    val observeErrors =
      config.saveBatchInferenceErrors && config.connectors.nonEmpty
    val errObs = Observation(
      s"errcnt_${java.util.UUID.randomUUID().toString.take(8)}")
    val observedRaw =
      if (observeErrors)
        raw.observe(errObs, count(col("error")).as("errors"))
      else raw
    val (ok, _) = Ops.splitErrors(observedRaw)
    val (_, errs) = Ops.splitErrors(raw)

    // Explode, decorate and assemble per query key; related-items jobs
    // fan the per-item lists out to their users only after assembly.
    val exploded = Ops.explodeRecs(ok, spec.queryKeyPath,
      spec.queryKeyAlias, Nil)

    // Item metadata is optional and open-schema (existence-gated read,
    // reference `related_items_etl.py:175-189`).
    val metadata = Readers.jsonlInferIfExists(spark,
      s"$jobRoot/input/item_metadata")

    val outputRoot = s"$jobRoot/output"
    // Shared upstream: every connector consumes the same exploded frame
    // and the same aggregated mapping, and connectors that request the
    // same metadata field list share one decorate+assemble+fan-out
    // subtree — N connectors cost ONE scan of the batch input and ONE of
    // the mapping, not N (the reference re-runs the whole Glue dataflow
    // per connector).
    val persistedExploded = exploded.persist(StorageLevel.MEMORY_AND_DISK)
    val persistedPairs: Option[DataFrame] =
      if (spec.usesMapping)
        Some(Ops.mappingPairCounts(Readers.csv(spark,
          s"$jobRoot/input/user_item_mapping", Schemas.userItemMapping))
          .persist(StorageLevel.MEMORY_AND_DISK))
      else None
    val assembledByFields =
      scala.collection.mutable.Map.empty[Seq[String], DataFrame]
    def assembledFor(fields: Seq[String]): DataFrame =
      assembledByFields.getOrElseUpdate(fields,
        assemble(persistedExploded, spec.queryKeyAlias, metadata, fields,
          persistedPairs).persist(StorageLevel.MEMORY_AND_DISK))
    // Error diagnostics must survive a mid-loop connector failure (the
    // reference writes errors BEFORE any connector send,
    // `related_items_etl.py:114-132`): the write fires as soon as the
    // observed count resolves — immediately after the FIRST connector
    // write — and the failure path falls back to the probe-gated write,
    // so a crashed run still persists the records needed to debug it.
    // Deliberate consequence: an errors-SINK failure aborts the
    // remaining connectors, exactly as in the reference (where the
    // errors write precedes every connector and its failure fails the
    // whole job) — diagnostics are part of the run's contract, not
    // best-effort.
    val persistedChanges = scala.collection.mutable.ListBuffer.empty[DataFrame]
    var errorsDir: Option[String] = None
    var errorsWritten = false
    def writeErrors(known: Option[Long]): Unit =
      if (!errorsWritten) {
        errorsDir = Writers.errors(errs, s"$jobRoot/errors", spec.jobType,
          clock, config.saveBatchInferenceErrors, knownCount = known)
        errorsWritten = true
      }
    try {
      val results = config.connectors.toSeq.sortBy(_._1).map {
        case (connector, cc) =>
          val assembled = assembledFor(cc.itemMetadataFields)
          val keyed = config.stateFormat == "keyed"
          val stateDir =
            if (keyed) s"$outputRoot/$connector/state_keyed"
            else s"$outputRoot/$connector/state"
          // Previous state is needed for the delta check AND — in keyed
          // format — for tombstoning keys that left the snapshot. Reading
          // it only under deltaCheck would mean keyed state with the check
          // disabled never deletes anything (silent divergence from the
          // snapshot format, which rewrites state wholesale).
          val deltaOn = config.deltaCheckFor(connector)
          val needState = deltaOn || (keyed && config.writeStateAfterSync)
          val state: Option[DataFrame] =
            if (!needState) None
            else if (keyed) {
              if (StateTable.versions(spark, stateDir).nonEmpty)
                Some(StateTable.readLatest(spark, stateDir, spec.groupKeys))
              else None
            } else if (Readers.pathExists(spark, stateDir))
              Some(Readers.jsonl(spark, stateDir, assembled.schema))
            else None
          // Keyed format reads the state ONCE: one join of the current rows
          // against it gives the changed rows and the tombstones. With the
          // delta check and the state write both on, the output write and
          // the state append each consume it, so it is persisted here (the
          // output write materializes it) and unpersisted in the finally.
          val changes =
            if (keyed) state.map(Ops.keyedChanges(assembled, _, spec.groupKeys))
            else None
          if (deltaOn && config.writeStateAfterSync)
            changes.foreach(ch =>
              persistedChanges += ch.persist(StorageLevel.MEMORY_AND_DISK))
          val afterDelta = (state, changes) match {
            case (Some(_), _) if !deltaOn => assembled
            case (_, Some(ch)) => Ops.changedRows(ch)
            case (Some(st), None) => Ops.deltaCheck(assembled, st)
            case (None, _) => assembled
          }

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

          // The first connector write has completed, so the observed
          // error count is available — persist errors NOW, before any
          // further connector/state write gets a chance to fail.
          writeErrors(
            if (observeErrors) Some(errObs.get("errors").asInstanceOf[Long])
            else None)

          if (config.writeStateAfterSync) {
            if (keyed) {
              // O(delta) state maintenance: the changed rows upsert, and
              // keys that left the snapshot tombstone — merge-on-read
              // then reconstructs exactly the reference's full-snapshot
              // semantics without ever rewriting unchanged state. Without
              // the delta check every current row is re-written, and only
              // the tombstones come from the changes.
              val delta = changes.fold(assembled)(ch =>
                if (deltaOn) ch
                else assembled.unionByName(
                  ch.where(col(StateTable.DeletedCol)),
                  allowMissingColumns = true))
              StateTable.append(delta, stateDir)
              // bound merge-on-read cost; amortized across syncs
              StateTable.maybeCompact(spark, stateDir, spec.groupKeys,
                maxVersions = 16)
            } else
              // State = the full (pre-delta) assembled snapshot, so the
              // next run's EXCEPT sees everything synced so far.
              Writers.state(assembled, outputRoot, connector)
          }

          ConnectorResult(connector, outDir, rows)
      }
      // Connector-less job: no write to piggyback on — probe-gated.
      writeErrors(None)
      JobResult(jobName, runDateTime, errorsDir, results)
    } catch {
      case e: Throwable =>
        // The failing action may BE the first connector write, in which
        // case the observation never resolves — use the probe fallback.
        try writeErrors(None)
        catch { case e2: Throwable => e.addSuppressed(e2) }
        throw e
    } finally {
      assembledByFields.values.foreach(_.unpersist())
      persistedExploded.unpersist()
      persistedPairs.foreach(_.unpersist())
      persistedChanges.foreach(_.unpersist())
    }
  }
}
