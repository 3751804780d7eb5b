package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import graft.connector.Sinks
import graft.io.Writers

/** Output relay (SURVEY.md §2.11).
  *
  * The reference relays each new connector-output file through an
  * S3-event -> Lambda -> SQS fan-out (`template.yaml:310-320`,
  * `enqueue.py:34-67`). That is file-arrival semantics, which is exactly
  * Spark's file stream source + checkpoint: each file is relayed once
  * across runs, and `Trigger.AvailableNow` runs to completion like a
  * Lambda drain.
  */
object FileRelay {

  /** S3-event -> enqueue equivalence: relay new connector-output files to
    * a queue sink, at-least-once per file with exactly-once file tracking
    * (strictly stronger than the reference's S3-event + Lambda-retry
    * at-least-once). A micro-batch in which the transport reports any
    * failed id throws, so its files stay uncommitted in the checkpoint
    * and the next run replays them whole (ids that did go through are
    * sent again — the at-least-once half of the contract). Only the run
    * partitions under the connector root `outputPath` relay
    * ([[graft.io.Writers.runPartitions]], the reference's key-regex gate,
    * `braze_enqueue_function/main.py:19`), so the state the sync keeps
    * next to them never reaches the queue; sends go out
    * [[Sinks.QueueBatchSize]] messages at a time. Returns when every
    * file available at the start is relayed.
    */
  def relayToQueue(spark: SparkSession, outputPath: String,
      schema: StructType, checkpointDir: String,
      transport: Sinks.QueueTransport, userIdCol: String): Unit =
    spark.readStream.schema(schema)
      .option("recursiveFileLookup", "true")
      .json(Writers.runPartitions(outputPath))
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val failed = spark.sparkContext.collectionAccumulator[String]
        Sinks.queueSink(batch, transport, userIdCol, failed)
        if (!failed.isZero) throw new java.io.IOException(
          s"relay micro-batch $id: ${failed.value.size} message(s) failed " +
            s"to send (e.g. ${failed.value.get(0)}); left uncommitted " +
            "for replay")
      }
      .start()
      .awaitTermination()
}
