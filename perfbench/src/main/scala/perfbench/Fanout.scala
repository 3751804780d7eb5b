package perfbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{ArrayType, StringType, StructField,
  StructType}

import graft.connector.Sinks
import graft.etl.Ops
import graft.streaming.FileRelay

/** `fanout_delivery`: pre-written connector output relayed file by file
  * to a queue, drained, validated, pivoted and posted to a REST stub —
  * the S3-event -> enqueue -> dequeue -> REST path.
  */
final class FanoutDelivery(spark: SparkSession, work: Path, seed: Long,
    sizes: Gen.FanSpec, failOneIn: Int) extends Workload {

  private val gen = work.resolve("gen")
  private var expect: Gen.FanExpect = _
  private var passes = 0

  private val str = StringType
  val schema: StructType = StructType(Seq(
    StructField("queryUserId", str),
    StructField("recommendations", ArrayType(StructType(Seq(
      StructField("itemId", str), StructField("name", str),
      StructField("category", str))))),
    StructField("jobInfo", StructType(Seq(
      StructField("name", str), StructField("runDateTime", str)))),
    StructField("syncDirectives", StructType(Seq(
      StructField("attributePrefix", str), StructField("channel", str))))))

  def prepare(): Unit = {
    Fs.deleteTree(gen)
    expect = Gen.writeFan(gen, seed, sizes)
  }

  /** Counters of one pass, read after it ends. */
  private final case class Pass(wall: Double, cpu: Double, heap: Double,
      queue: Stubs.QueueCounters, rest: Stubs.RestCounters, dead: Long,
      microbatches: Int, checkpointBytes: Long)

  private def pass(tr: Option[Tracer]): Pass = {
    passes += 1
    val root = work.resolve(s"root-$passes")
    val name = s"fanout-$seed-$passes"
    def span[T](n: String)(f: => T): T =
      tr.fold(f)(_.span(n, s"fanout_delivery-$seed")(f))
    Fs.deleteTree(root)
    Fs.linkTree(gen.resolve("output"), root.resolve("output"))
    val ckpt = root.resolve("checkpoint")
    val dead = spark.sparkContext.collectionAccumulator[String](s"$name-dead")
    try {
      val (_, wall, cpu, heap) = Probe.measure {
        span("relay")(FileRelay.relayToQueue(spark,
          Probe.path(root.resolve(s"output/${Gen.Connector}")), schema,
          Probe.path(ckpt), Stubs.CountingQueue(name), "queryUserId"))
        val drained = span("sinks.drain")(
          spark.read.schema(schema).json(Sinks.drainToDF(spark, name)))
        span("sinks.dequeue")(Sinks.dequeueToRest(drained,
          Stubs.FlakyRest(name, seed, failOneIn),
          v => Ops.pivotAttributes(v, "external_id",
            Seq("itemId", "name", "category"), "recommendation_",
            Map("channel" -> "email")),
          deadLetters = Some(dead)))
      }
      val commits = ckpt.resolve("commits").toFile.list()
      Pass(wall, cpu, heap, Stubs.queue(name), Stubs.rest(name),
        dead.value.size.toLong,
        Option(commits).fold(0)(_.count(!_.startsWith("."))),
        Fs.bytes(ckpt))
    } finally {
      Stubs.release(name)
      Sinks.InMemoryQueues.drain(name)
      Fs.deleteTree(root)
    }
  }

  private def check(p: Pass): Seq[Check] = Seq(
    Check("queue_msgs", expect.lines, p.queue.msgs.sum()),
    Check("delivered_users", expect.validUsers, p.rest.delivered.size.toLong),
    Check("dead_letters", expect.invalidRows, p.dead))

  private def outcome(p: Pass): Outcome =
    Outcome(p.wall, p.cpu, p.rest.delivered.size.toLong,
      p.checkpointBytes + p.queue.bytes.sum(), p.heap,
      Check.failures(check(p)))

  def runOnce(i: Int): Outcome = outcome(pass(None))

  def traced(tr: Tracer, cores: Int): TraceResult = {
    val gc0 = Probe.gcSeconds()
    val p = pass(Some(tr))
    val gc = Probe.gcSeconds() - gc0
    val all = tr.tasks(_ => true)
    val posts = p.rest.posts.sum()
    val self = (n: String) => tr.selfTime(_ == n)
    val m = Map(
      "relay.s" -> self("relay"),
      "relay.files" -> expect.files.toDouble,
      "relay.microbatches" -> p.microbatches.toDouble,
      "relay.msgs" -> p.queue.msgs.sum().toDouble,
      "sinks.queue_sends" -> p.queue.sends.sum().toDouble,
      "sinks.drain_s" -> self("sinks.drain"),
      "sinks.dequeue_s" -> self("sinks.dequeue"),
      "sinks.rest_posts" -> posts.toDouble,
      "sinks.rest_post_success_frac" ->
        (if (posts == 0) 0.0 else p.rest.okPosts.sum().toDouble / posts),
      "sinks.dead_letters" -> p.dead.toDouble,
      "jobs.spark_jobs" -> all.jobs.toDouble,
      "jobs.tasks" -> all.tasks.toDouble,
      "jobs.core_util" -> all.runMs / 1000.0 / (p.wall * cores),
      "jobs.gc_s" -> gc)
    TraceResult(m, p.wall, 1, outcome(p).failures)
  }
}
