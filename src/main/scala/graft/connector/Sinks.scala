package graft.connector

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.util.CollectionAccumulator

/** Fan-out sinks K3/K4 (SURVEY.md §2.2).
  *
  * The reference fans output files to a queue (SQS, <=10 msgs/batch,
  * `enqueue.py:49-67`) and drains the queue to a REST endpoint (Braze
  * `users/track`, <=75 attribute objects/POST,
  * `braze_dequeue_function/main.py:35-45,85-90`). Here both are
  * `foreachPartition` writers over a pluggable transport so tests inject
  * stubs; failures flow to a dead-letter collector instead of an SQS DLQ
  * (`template.yaml:334-337`).
  */
object Sinks {

  /** Messages per queue send: SQS's batch limit (`enqueue.py:19`). */
  val QueueBatchSize = 10

  /** Attribute objects per REST call (`braze_dequeue_function/main.py:18`). */
  val RestMaxAttributes = 75

  /** Tries per REST batch: the queue's 5 receives (`template.yaml:337`). */
  val RestMaxAttempts = 5

  /** One enqueued message: an idempotency id and the JSON payload.
    * Reference message id is `"{n}-{userId}"` per batch (`enqueue.py:58`),
    * which is NOT idempotent across retries; we key by (userId, seq-in-
    * partition) which is stable for a deterministic upstream.
    */
  final case class QueueMessage(id: String, body: String)

  /** Transport contracts. Implementations must be Serializable (executed
    * inside tasks). `send` returns the ids that FAILED.
    */
  trait QueueTransport extends Serializable {
    def send(batch: Seq[QueueMessage]): Seq[String]
  }
  trait RestTransport extends Serializable {
    /** POST one request of <=[[RestMaxAttributes]] user-attribute JSON
      * objects; returns true on success.
      */
    def post(attributeObjects: Seq[String]): Boolean
  }

  /** In-memory queue usable from local[*] tests: messages land in a
    * static concurrent queue keyed by name (single-JVM only — the unit
    * tests' stand-in for SQS/Kafka).
    */
  object InMemoryQueues {
    private val queues =
      new java.util.concurrent.ConcurrentHashMap[String,
        ConcurrentLinkedQueue[QueueMessage]]()
    def queue(name: String): ConcurrentLinkedQueue[QueueMessage] =
      queues.computeIfAbsent(name,
        _ => new ConcurrentLinkedQueue[QueueMessage]())
    def drain(name: String): Seq[QueueMessage] = {
      val q = queue(name)
      val out = ArrayBuffer.empty[QueueMessage]
      var m = q.poll()
      while (m != null) { out += m; m = q.poll() }
      out.toSeq
    }
  }
  final case class InMemoryQueueTransport(name: String)
      extends QueueTransport {
    def send(batch: Seq[QueueMessage]): Seq[String] = {
      val q = InMemoryQueues.queue(name)
      batch.foreach(q.add)
      Nil
    }
  }

  /** K3: queue sink. Serializes each row to a JSON line and sends in
    * batches of [[QueueBatchSize]]. Failed ids are collected into
    * `deadLetters` — the engine-side stand-in for SQS redelivery+DLQ.
    * The collector is required: a send that fails must be visible to the
    * caller, who decides whether to retry, replay or fail.
    */
  def queueSink(df: DataFrame, transport: QueueTransport,
      userIdCol: String, deadLetters: CollectionAccumulator[String]): Unit = {
    val json = df.select(col(userIdCol).cast("string").as("__uid"),
      to_json(struct(df.columns.map(col).toIndexedSeq: _*)).as("__body"))
    json.foreachPartition { (rows: Iterator[Row]) =>
      rows.zipWithIndex
        .map { case (r, i) =>
          QueueMessage(s"$i-${r.getString(0)}", r.getString(1)) }
        .grouped(QueueBatchSize)
        .foreach(batch => transport.send(batch.toSeq).foreach(deadLetters.add))
    }
  }

  /** Dequeue-side user-id resolution: `queryUserId` falling back to
    * `userId`, whichever columns exist (the reference accepts both
    * spellings because the two ETL jobs key their output differently —
    * `braze_dequeue_function/main.py:57`, `enqueue.py:53-55`). Empty
    * strings count as missing, matching Python's `if not user_id`.
    */
  def resolvedUserId(df: DataFrame): Column = {
    val present = Seq("queryUserId", "userId")
      .filter(df.columns.contains).map(c => col(c).cast("string"))
    val uid = present.reduceOption(coalesce(_, _))
      .getOrElse(lit(null).cast("string"))
    when(uid === "", lit(null).cast("string")).otherwise(uid)
  }

  /** Dequeue-side row validation (reference
    * `braze_dequeue_function/main.py:57-65`): a row must resolve a user id
    * ([[resolvedUserId]]) and carry a non-empty `recommendations` array.
    * Returns (valid rows with `external_id` resolved, rejected rows).
    * The reference logs-and-ignores rejects; callers here should route the
    * rejected side to the dead-letter collector (or an errors sink) so bad
    * rows are observable rather than silently dropped.
    */
  def validateDequeue(df: DataFrame): (DataFrame, DataFrame) = {
    val uid = resolvedUserId(df)
    val recsOk =
      if (df.columns.contains("recommendations"))
        coalesce(size(col("recommendations")) > 0, lit(false))
      else lit(false)
    val ok = uid.isNotNull && recsOk
    (df.where(ok).withColumn("external_id", uid), df.where(!ok))
  }

  /** K4 front door: validate, dead-letter the rejects, post the rest.
    * `pivot` maps the validated rows (with `external_id` resolved) to the
    * flat attribute objects the endpoint expects — typically
    * `Ops.pivotAttributes`. When a dead-letter collector is given the
    * operator runs TWO actions (reject scan + REST post), so it pins
    * the input for its own span — one upstream evaluation, released in
    * a finally — rather than pushing the persist burden onto callers.
    * An input the caller already persisted is left untouched.
    */
  def dequeueToRest(df: DataFrame, transport: RestTransport,
      pivot: DataFrame => DataFrame,
      deadLetters: Option[CollectionAccumulator[String]] = None): Unit = {
    val spanPersist = deadLetters.nonEmpty &&
      df.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    val pinned = if (spanPersist)
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else df
    try {
      val (valid, rejected) = validateDequeue(pinned)
      deadLetters.foreach { acc =>
        rejected
          .select(to_json(struct(rejected.columns.map(col).toIndexedSeq: _*))
            .as("__body"))
          .foreach((r: Row) => acc.add(r.getString(0)))
      }
      restSink(pivot(valid), transport, deadLetters)
    } finally if (spanPersist) pinned.unpersist()
  }

  /** K4: REST sink with the U2 pivot applied upstream — takes rows that
    * are already flat attribute objects, posts them in groups of
    * [[RestMaxAttributes]], tries each batch up to [[RestMaxAttempts]]
    * times, then dead-letters the whole batch.
    */
  def restSink(df: DataFrame, transport: RestTransport,
      deadLetters: Option[CollectionAccumulator[String]] = None): Unit = {
    val json = df.select(
      to_json(struct(df.columns.map(col).toIndexedSeq: _*)).as("__body"))
    json.foreachPartition { (rows: Iterator[Row]) =>
      rows.map(_.getString(0)).grouped(RestMaxAttributes).foreach { batch =>
        val ok = (1 to RestMaxAttempts).exists(_ => transport.post(batch.toSeq))
        if (!ok) deadLetters.foreach(acc => batch.foreach(acc.add))
      }
    }
  }

  /** Drain a queue into a DataFrame of message bodies (the dequeue side's
    * input relation) — test/local helper.
    */
  def drainToDF(spark: org.apache.spark.sql.SparkSession, name: String)
      : Dataset[String] = {
    import spark.implicits._
    InMemoryQueues.drain(name).map(_.body).toDS()
  }
}
