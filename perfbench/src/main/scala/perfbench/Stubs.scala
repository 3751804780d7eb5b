package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import scala.util.hashing.MurmurHash3

import graft.connector.Sinks

/** Deterministic transport stubs for the fan-out path. They live here,
  * not in `connector/Sinks.scala`, because their only job is to make the
  * benchmark's delivered and dead-letter counts repeat exactly.
  *
  * Tasks deserialize their own copy of a transport, so the counters sit
  * in a JVM-wide registry keyed by the stub's name (the benchmark runs
  * Spark in local mode: one JVM).
  */
object Stubs {

  final class QueueCounters {
    val sends = new LongAdder
    val msgs = new LongAdder
    val bytes = new LongAdder
  }

  final class RestCounters {
    val posts = new LongAdder
    val okPosts = new LongAdder
    val delivered: java.util.Set[String] = ConcurrentHashMap.newKeySet()
    val failedOnce: java.util.Set[String] = ConcurrentHashMap.newKeySet()
  }

  private val queues = new ConcurrentHashMap[String, QueueCounters]()
  private val rests = new ConcurrentHashMap[String, RestCounters]()

  def queue(name: String): QueueCounters =
    queues.computeIfAbsent(name, _ => new QueueCounters)
  def rest(name: String): RestCounters =
    rests.computeIfAbsent(name, _ => new RestCounters)
  def release(name: String): Unit = { queues.remove(name); rests.remove(name) }

  /** Counts every send, then hands the batch to the program's in-memory
    * queue unchanged.
    */
  final case class CountingQueue(name: String) extends Sinks.QueueTransport {
    private val inner = Sinks.InMemoryQueueTransport(name)
    def send(batch: Seq[Sinks.QueueMessage]): Seq[String] = {
      val c = queue(name)
      c.sends.increment()
      c.msgs.add(batch.size)
      batch.foreach(m => c.bytes.add(m.body.length))
      inner.send(batch)
    }
  }

  /** The user id of one posted attribute object
    * (`{"external_id":"u0000001",...}`), or null.
    */
  def externalId(obj: String): String = {
    val key = "\"external_id\":\""
    val i = obj.indexOf(key)
    if (i < 0) null
    else obj.substring(i + key.length, obj.indexOf('"', i + key.length))
  }

  /** A user fails transiently when its seeded hash lands in 1-in-N. */
  def flaky(userId: String, seed: Long, oneIn: Int): Boolean =
    userId != null &&
      Math.floorMod(MurmurHash3.stringHash(userId, seed.toInt), oneIn) == 0

  /** REST endpoint stub. A post fails if it carries a flaky user that has
    * not failed before; the retry then succeeds. Failures key on user id,
    * never on batch composition (which depends on queue-drain order), so
    * the set of users delivered repeats exactly and no batch ever runs out
    * of attempts.
    */
  final case class FlakyRest(name: String, seed: Long, oneIn: Int)
      extends Sinks.RestTransport {
    def post(attributeObjects: Seq[String]): Boolean = {
      val c = rest(name)
      c.posts.increment()
      val ids = attributeObjects.map(externalId)
      // every first-time flaky user in the batch is marked, so one retry
      // clears them all
      val firstFailures =
        ids.count(id => flaky(id, seed, oneIn) && c.failedOnce.add(id))
      if (firstFailures > 0) false
      else {
        c.okPosts.increment()
        ids.foreach(id => if (id != null) c.delivered.add(id))
        true
      }
    }
  }
}
