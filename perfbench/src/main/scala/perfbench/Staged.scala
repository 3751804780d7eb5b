package perfbench

import java.time.LocalDateTime

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.storage.StorageLevel

import graft.config.JobConfig
import graft.etl.Ops
import graft.io.{Readers, StateTable, Writers}
import graft.jobs.Jobs
import graft.schema.Schemas

/** Counts the staged pass observes while it materializes each layer. */
final case class StagedCounts(recordsIn: Long, mappedRows: Long,
    explodedRows: Long, recRows: Long, decorateMisses: Long,
    deltaChecked: Long, deltaEmitted: Long, rowsWritten: Long,
    writtenDirs: Seq[String])

/** `Jobs.run`'s dataflow called one layer at a time, in its order, for
  * the branches the benchmark's sync workloads take (snapshot state
  * without delta check, keyed state with delta check). Every span's
  * output is persisted and counted inside the span, so a span's self time
  * is the cost of that layer alone. The caller checks that the files this
  * pass writes equal those of `Jobs.run` on the same input and clock.
  */
object Staged {

  def run(spark: SparkSession, tr: Tracer, runId: String,
      spec: Jobs.JobSpec, jobRoot: String, jobName: String,
      config: JobConfig, clock: LocalDateTime): StagedCounts = {
    def span[T](name: String)(f: => T): T = tr.span(name, runId)(f)
    val pinned = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def mat(df: DataFrame): (DataFrame, Long) = {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      pinned += p
      (p, p.count())
    }
    val written = scala.collection.mutable.ArrayBuffer.empty[String]
    val runDateTime = Jobs.runDateTimeFmt.format(clock)
    val schema = spec match {
      case Jobs.RelatedItems => Schemas.relatedItemsBatchInference
      case Jobs.UserPersonalization => Schemas.userPersonalizationBatchInference
    }
    try {
      val (raw, rawN) = span("readers.batch_inference")(
        mat(Readers.jsonl(spark, config.batchInferencePath, schema)))
      val (ok, errs, errN) = span("ops.split_errors") {
        val (o, e) = Ops.splitErrors(raw)
        val (ep, en) = mat(e)
        (mat(o)._1, ep, en)
      }
      val (mapped, mappedN) =
        if (spec.usesMapping) {
          val (mapping, _) = span("readers.mapping")(mat(Readers.csv(spark,
            s"$jobRoot/input/user_item_mapping", Schemas.userItemMapping)))
          span("ops.map_users")(mat(Ops.mapUsers(ok, mapping)))
        } else (ok, 0L)
      val carry =
        if (spec.usesMapping) Seq("USER_ID" -> "userId") else Nil
      val (exploded, explodedN) = span("ops.explode")(mat(
        Ops.explodeRecs(mapped, spec.queryKeyPath, spec.queryKeyAlias,
          carry)))
      val metadata = span("readers.metadata")(
        Readers.jsonlInferIfExists(spark, s"$jobRoot/input/item_metadata")
          .map(mat(_)._1))

      var recRows, misses = -1L
      val assembledByFields =
        scala.collection.mutable.Map.empty[Seq[String], DataFrame]
      def assembledFor(fields: Seq[String]): DataFrame =
        assembledByFields.getOrElseUpdate(fields, {
          val (decorated, _) = span("ops.decorate")(
            mat(Ops.decorate(exploded, metadata, fields)))
          if (recRows < 0) {
            // a miss keeps its id and gets null metadata
            val probe = fields.headOption.orElse(
              metadata.flatMap(_.columns.find(_ != "id")))
            val recs = decorated.where(col("recItem").isNotNull)
            recRows = recs.count()
            misses = probe.fold(0L)(f =>
              recs.where(col(s"recItem.$f").isNull).count())
          }
          span("ops.assemble")(
            mat(Ops.assembleRecommendations(decorated, spec.groupKeys)))._1
        })

      val outputRoot = s"$jobRoot/output"
      var checked, emitted, rows = 0L
      var errorsWritten = false
      config.connectors.toSeq.sortBy(_._1).foreach { case (connector, cc) =>
        val assembled = assembledFor(cc.itemMetadataFields)
        val keyed = config.stateFormat == "keyed"
        val stateDir =
          if (keyed) s"$outputRoot/$connector/state_keyed"
          else s"$outputRoot/$connector/state"
        val delta = config.deltaCheckFor(connector)
        val needState = delta || (keyed && config.writeStateAfterSync)
        val state: Option[DataFrame] =
          if (!needState) None
          else if (keyed) span("state.read") {
            if (StateTable.versions(spark, stateDir).nonEmpty)
              Some(mat(StateTable.readLatest(spark, stateDir,
                spec.groupKeys))._1)
            else None
          } else span("readers.state") {
            if (Readers.pathExists(spark, stateDir))
              Some(mat(Readers.withBackfill(
                spark.read.option("recursiveFileLookup", "true")
                  .schema(assembled.schema).json(stateDir),
                assembled.schema))._1)
            else None
          }
        val afterDelta = state match {
          case Some(st) if delta =>
            checked += assembled.count()
            val (d, n) = span("ops.delta_check")(mat(
              if (keyed) Ops.deltaCheckKeyed(assembled, st, spec.groupKeys)
              else Ops.deltaCheck(assembled, st)))
            emitted += n
            d
          case _ => assembled
        }
        val (stamped, n) = span("ops.stamp")(mat(Ops.stampJobInfo(
          afterDelta, jobName, runDateTime,
          Some((cc.attributePrefix, cc.otherAttributes)))))
        rows += n
        written += span("writers.output")(
          Writers.connectorOutput(stamped, outputRoot, connector, clock))
        if (!errorsWritten) {
          span("writers.errors")(Writers.errors(errs, s"$jobRoot/errors",
            spec.jobType, clock, config.saveBatchInferenceErrors,
            knownCount = Some(errN))).foreach(written += _)
          rows += errN
          errorsWritten = true
        }
        if (config.writeStateAfterSync) {
          if (keyed) span("state.append") {
            val tombstones = state.map(
              _.join(assembled, spec.groupKeys, "left_anti")
                .withColumn(StateTable.DeletedCol, lit(true)))
            val d = tombstones.fold(afterDelta)(t =>
              afterDelta.unionByName(t, allowMissingColumns = true))
            StateTable.append(d, stateDir)
            StateTable.maybeCompact(spark, stateDir, spec.groupKeys,
              maxVersions = 16)
          } else {
            written += span("writers.state_snapshot")(
              Writers.state(assembled, outputRoot, connector))
            rows += assembled.count()
          }
        }
      }
      StagedCounts(rawN, mappedN, explodedN, recRows max 0L, misses max 0L,
        checked, emitted, rows, written.toSeq)
    } finally pinned.foreach(_.unpersist())
  }
}
