package graft.streaming

import java.time.LocalDateTime

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{StringType, StructType}

import graft.etl.Ops
import graft.io.Writers
import graft.jobs.Jobs

/** Incremental connector sync: the batch job's operator chain (split ->
  * explode -> decorate -> assemble -> stamp -> write) applied per
  * micro-batch of newly arrived batch-inference files. The file-source
  * checkpoint gives the reference's job-bookmark semantics (each input
  * file processed exactly once across runs); every relational operator
  * runs unchanged inside `foreachBatch` — the streaming face of the
  * engine is the same engine.
  */
object StreamingJob {

  /** Process all newly arrived batch-inference files under `inputPath`
    * into run-time-partitioned connector output. Each micro-batch
    * writes its own `time=` partition (clock advanced by batch id, so
    * reruns of the same wall-clock never collide).
    *
    * @return number of micro-batches processed in this invocation
    */
  def runIncremental(spark: SparkSession, inputPath: String,
      schema: StructType, checkpointDir: String, outputRoot: String,
      connector: String, metadata: Option[DataFrame],
      metadataFields: Seq[String], queryKeyPath: String,
      queryKeyAlias: String, jobName: String, clock: LocalDateTime)
      : Long = {
    var batches = 0L
    FileRelay.processNewFiles(spark, inputPath,
        schema.add(Ops.CorruptRecord, StringType), checkpointDir) {
      (batch, id) =>
        val (ok, _) = Ops.splitErrors(Ops.markMalformed(batch))
        val exploded = Ops.explodeRecs(ok, queryKeyPath, queryKeyAlias, Nil)
        val assembled = Jobs.assemble(exploded, queryKeyAlias, metadata,
          metadataFields, None)
        val runTime = clock.plusSeconds(id)
        val stamped = Ops.stampJobInfo(assembled, jobName,
          Jobs.runDateTimeFmt.format(runTime), None)
        Writers.connectorOutput(stamped, outputRoot, connector, runTime)
        batches += 1
    }
    batches
  }
}
