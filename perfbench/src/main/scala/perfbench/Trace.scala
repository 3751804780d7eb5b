package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec,
  QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced call: `parent` is -1 at the top; spans of one pass share
  * `run`.
  */
final case class Span(id: Int, name: String, parent: Int, run: String,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Task metrics summed over the Spark jobs a span submitted. */
final class TaskTotals {
  var jobs, tasks, runMs, maxTaskMs, shuffleWrite, spill, inBytes = 0L

  def add(o: TaskTotals): TaskTotals = {
    jobs += o.jobs; tasks += o.tasks; runMs += o.runMs
    maxTaskMs = math.max(maxTaskMs, o.maxTaskMs)
    shuffleWrite += o.shuffleWrite; spill += o.spill; inBytes += o.inBytes
    this
  }
}

/** File scans that ran, by input category (see [[Tracer.category]]). */
final case class ScanTotals(scans: Int, rows: Long)

/** Span recorder plus the two listeners that attribute Spark work to the
  * active span. Before each traced call the span name is set as a Spark
  * local property, which every job submitted from the calling thread
  * carries; task metrics are summed per span name. Query executions are
  * kept so the scans that actually ran can be counted per input path.
  * Spans live in memory and are written out when the benchmark ends.
  *
  * Registered only for the traced passes, never during timed runs.
  */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  private val sc = spark.sparkContext
  private val Prop = "perfbench.span"
  private val done = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  private val totals = new ConcurrentHashMap[String, TaskTotals]()
  private val queries = new ConcurrentLinkedQueue[QueryExecution]()

  def start(): Unit = {
    sc.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def stop(): Unit = {
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def span[T](name: String, run: String)(f: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    val outer = sc.getLocalProperty(Prop)
    sc.setLocalProperty(Prop, name)
    stack = id :: stack
    val t0 = System.nanoTime()
    try f
    finally {
      done += Span(id, name, parent, run, t0, System.nanoTime())
      stack = stack.tail
      sc.setLocalProperty(Prop, outer)
    }
  }

  def spans: Seq[Span] = done.toSeq.sortBy(_.id)

  /** Span duration minus the time its child spans cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - done.filter(_.parent == s.id).map(_.seconds).sum

  /** Summed self time of every span whose name satisfies `p`. */
  def selfTime(p: String => Boolean): Double =
    done.filter(s => p(s.name)).map(selfSeconds).sum

  /** Task totals over every span name satisfying `p`. */
  def tasks(p: String => Boolean): TaskTotals = {
    PerfbenchBus.drain(sc)
    totals.asScala.collect { case (n, t) if p(n) => t }
      .foldLeft(new TaskTotals)((a, t) => t.synchronized(a.add(t)))
  }

  /** Forget collected query executions (start of a counted pass). */
  def clearQueries(): Unit = { PerfbenchBus.drain(sc); queries.clear() }

  /** File scans that ran in the query executions seen since
    * [[clearQueries]], by category. A cached plan is shared by every query
    * that reads the cache, so scans are deduplicated by metric id.
    */
  def scans(): Map[String, ScanTotals] = {
    PerfbenchBus.drain(sc)
    val seen = scala.collection.mutable.HashSet.empty[Long]
    val acc = scala.collection.mutable.Map.empty[String, ScanTotals]
    def visit(p: SparkPlan): Unit = {
      p match {
        case f: FileSourceScanExec =>
          val files = f.metrics.get("numFiles").map(_.value).getOrElse(0L)
          f.metrics.get("numOutputRows").foreach { rows =>
            if ((rows.value > 0 || files > 0) && seen.add(rows.id)) {
              val c = Tracer.category(
                f.relation.location.rootPaths.map(_.toString))
              val t = acc.getOrElse(c, ScanTotals(0, 0L))
              acc(c) = ScanTotals(t.scans + 1, t.rows + rows.value)
            }
          }
        case a: AdaptiveSparkPlanExec => visit(a.executedPlan)
        case q: QueryStageExec => visit(q.plan)
        case m: InMemoryTableScanExec => visit(m.relation.cachedPlan)
        case c: CommandResultExec => visit(c.commandPhysicalPlan)
        case _ =>
      }
      p.children.foreach(visit)
      p.subqueries.foreach(visit)
    }
    queries.asScala.foreach(q => visit(q.executedPlan))
    acc.toMap
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val name = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
      .getOrElse("untraced")
    e.stageIds.foreach(stageSpan.put(_, name))
    val t = totals.computeIfAbsent(name, _ => new TaskTotals)
    t.synchronized(t.jobs += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val t = totals.computeIfAbsent(
        stageSpan.getOrDefault(e.stageId, "untraced"), _ => new TaskTotals)
      t.synchronized {
        t.tasks += 1
        t.runMs += m.executorRunTime
        t.maxTaskMs = math.max(t.maxTaskMs, e.taskInfo.duration)
        t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        t.inBytes += m.inputMetrics.bytesRead
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = queries.add(qe)
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = queries.add(qe)

  /** Spans as a JSON array, one object per line. */
  def spansJson: String = spans.map { s =>
    f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"run":"${s.run}","start_s":${s.startNs / 1e9}%.6f,"end_s":${s.endNs / 1e9}%.6f,"self_s":${selfSeconds(s)}%.6f}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

object Tracer {
  /** Which input a scan read, from its root paths. */
  def category(paths: Seq[String]): String = {
    val p = paths.mkString(",")
    if (p.contains("/input/batch_inference")) "input"
    else if (p.contains("/state")) "state"
    else if (p.contains("/input/user_item_mapping")) "mapping"
    else if (p.contains("/input/item_metadata")) "metadata"
    else "other"
  }
}
