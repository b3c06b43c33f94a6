package perfbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable.ArrayBuffer

/** Spark work caused by one span: counted from the listener events of
  * every job that ran while the span was the innermost open one.
  */
final class Work {
  var jobs, tasks, taskNs, taskMaxNs = 0L
  var shuffleRead, shuffleWrite, spill = 0L
  var exchanges, broadcastExchanges = 0L

  def add(o: Work): Unit = {
    jobs += o.jobs; tasks += o.tasks; taskNs += o.taskNs
    taskMaxNs = math.max(taskMaxNs, o.taskMaxNs)
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
    spill += o.spill
    exchanges += o.exchanges; broadcastExchanges += o.broadcastExchanges
  }
}

final class Span(val id: Int, val parent: Int, val name: String, val startNs: Long) {
  var endNs = 0L
  val own = new Work
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans recorded around the benchmark's calls into each layer (name,
  * start, end, parent) and the Spark work each caused. Spans live in
  * memory and are written out by [[write]] when the run ends. When
  * disabled, [[span]] runs its body and records nothing, so untraced runs
  * pay no listener cost.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc: SparkContext = spark.sparkContext
  private val Key = "perfbench.span"
  private val spans = ArrayBuffer.empty[Span]
  private var open = -1
  private val stageSpan = new ConcurrentHashMap[Int, Span]
  private val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(Key))).foreach { id =>
        val s = spans.synchronized(spans(id.toInt))
        s.own.synchronized(s.own.jobs += 1)
        e.stageIds.foreach(stageSpan.put(_, s))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = stageSpan.get(e.stageId)
      if (s != null && e.taskMetrics != null) s.own.synchronized {
        val w = s.own
        val m = e.taskMetrics
        val ns = e.taskInfo.duration * 1000000L
        w.tasks += 1; w.taskNs += ns; w.taskMaxNs = math.max(w.taskMaxNs, ns)
        w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
  private val planListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
      plans.add(qe.executedPlan)
    override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
  }
  if (enabled) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(planListener)
  }

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      // A new root span: plans queued since the last one come from
      // untraced work (set-up, untraced iterations) and are dropped.
      if (open < 0) { org.apache.spark.ListenerDrain(sc); plans.clear() }
      val s = spans.synchronized {
        val s = new Span(spans.size, open, name, System.nanoTime()); spans += s; s
      }
      val prev = open
      open = s.id
      sc.setLocalProperty(Key, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        open = prev
        sc.setLocalProperty(Key, if (prev < 0) null else prev.toString)
      }
    }

  /** Delivers pending listener events, then charges the plans of the
    * queries that finished since the last call to the span `id`.
    */
  def settle(id: Int): Unit = if (enabled) {
    org.apache.spark.ListenerDrain(sc)
    val s = spans.synchronized(spans(id))
    var p = plans.poll()
    while (p != null) {
      s.own.exchanges += PlanShape.count(p) { case _: ShuffleExchangeLike => true }
      s.own.broadcastExchanges += PlanShape.count(p) { case _: BroadcastExchangeLike => true }
      p = plans.poll()
    }
  }

  def lastId: Int = spans.synchronized(spans.size - 1)

  def all: Seq[Span] = spans.synchronized(spans.toList)

  /** Work of `s` and every span below it. */
  def inclusive(s: Span): Work = {
    val w = new Work
    val kids = all.groupBy(_.parent)
    def go(x: Span): Unit = { w.add(x.own); kids.getOrElse(x.id, Nil).foreach(go) }
    go(s)
    w
  }

  def named(name: String): Seq[Span] = all.filter(_.name == name)

  def close(): Unit = if (enabled) {
    org.apache.spark.ListenerDrain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(planListener)
  }

  /** One JSON object per span: id, parent, name, start/end seconds from
    * the first span, self time (duration minus the time its children
    * cover) and the span's own listener counters.
    */
  def write(path: java.nio.file.Path): Unit = {
    val ss = all
    val t0 = ss.headOption.map(_.startNs).getOrElse(0L)
    val kids = ss.groupBy(_.parent)
    val lines = ss.map { s =>
      val covered = kids.getOrElse(s.id, Nil).map(k => k.endNs - k.startNs).sum
      val w = s.own
      Json.obj(Seq(
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_s" -> (s.startNs - t0) / 1e9, "end_s" -> (s.endNs - t0) / 1e9,
        "self_s" -> (s.endNs - s.startNs - covered) / 1e9,
        "jobs" -> w.jobs, "tasks" -> w.tasks, "task_s" -> w.taskNs / 1e9,
        "task_max_s" -> w.taskMaxNs / 1e9, "shuffle_read_bytes" -> w.shuffleRead,
        "shuffle_write_bytes" -> w.shuffleWrite, "spill_bytes" -> w.spill,
        "exchanges" -> w.exchanges, "broadcast_exchanges" -> w.broadcastExchanges))
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("[\n", ",\n", "\n]\n").getBytes("UTF-8"))
  }
}

/** Operator counts over an executed plan, adaptive query stages included. */
object PlanShape extends AdaptiveSparkPlanHelper {
  def count(p: SparkPlan)(f: PartialFunction[SparkPlan, Boolean]): Long =
    collectWithSubqueries(p) { case n if f.isDefinedAt(n) && f(n) => 1L }.sum
}
