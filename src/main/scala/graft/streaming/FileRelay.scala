package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import graft.connector.Sinks

/** Streaming/incremental layer (SURVEY.md §2.11).
  *
  * The reference has two incremental mechanisms, both coarser than
  * Structured Streaming: Glue job bookmarks (skip already-processed input
  * files, `template.yaml:201`) and an S3-event -> Lambda -> SQS fan-out of
  * new output files (`template.yaml:310-320`, `enqueue.py:34-67`). Both
  * are file-arrival semantics, which is exactly Spark's file stream
  * source + checkpoint: each file is processed exactly once across runs,
  * and `Trigger.AvailableNow` gives run-to-completion batches like a Glue
  * job run.
  */
object FileRelay {

  /** Bookmark-equivalent incremental read: stream new JSONL files under
    * `path`, tracked by `checkpointDir`, handing each micro-batch to
    * `process`. Returns when all currently-available files are consumed.
    * The reference's key-regex gate (`braze_enqueue_function/main.py:19`)
    * becomes `pathGlobFilter`.
    */
  def processNewFiles(spark: SparkSession, path: String, schema: StructType,
      checkpointDir: String, globFilter: Option[String] = None)(
      process: (DataFrame, Long) => Unit): Unit = {
    val reader = spark.readStream.schema(schema)
      .option("recursiveFileLookup", "true")
    val src = globFilter.fold(reader)(g => reader.option("pathGlobFilter", g))
      .json(path)
    val q = src.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, id: Long) => process(batch, id) }
      .start()
    q.awaitTermination()
  }

  /** S3-event -> enqueue equivalence: relay new connector-output files to
    * a queue sink, at-least-once per file with exactly-once file tracking
    * (strictly stronger than the reference's S3-event + Lambda-retry
    * at-least-once). A micro-batch in which the transport reports any
    * failed id throws, so its files stay uncommitted in the checkpoint
    * and the next run replays them whole (ids that did go through are
    * sent again — the at-least-once half of the contract). Only
    * `*.json` files relay, the name [[graft.io.Writers.connectorOutput]]
    * writes; sends go out [[Sinks.QueueBatchSize]] messages at a time.
    */
  def relayToQueue(spark: SparkSession, outputPath: String,
      schema: StructType, checkpointDir: String,
      transport: Sinks.QueueTransport, userIdCol: String): Unit =
    processNewFiles(spark, outputPath, schema, checkpointDir,
      globFilter = Some("*.json")) { (batch, id) =>
      val failed = spark.sparkContext.collectionAccumulator[String]
      Sinks.queueSink(batch, transport, userIdCol, failed)
      if (!failed.isZero) throw new java.io.IOException(
        s"relay micro-batch $id: ${failed.value.size} message(s) failed " +
          s"to send (e.g. ${failed.value.get(0)}); left uncommitted " +
          "for replay")
    }
}
