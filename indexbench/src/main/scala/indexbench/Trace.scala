package indexbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spans around the benchmark's calls into the library, plus Spark job,
  * stage and task counters attributed to the innermost open span.
  *
  * A span records its name, start, end, parent and trace id. While a
  * span is open its id is the thread's Spark local property
  * [[Tracer.Prop]], so every job the call submits carries it; a
  * listener maps each job's stages to the span and sums the task
  * metrics there. Spans stay in memory and are written as JSONL when
  * the run ends. A disabled tracer runs each body and records nothing.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  private val epoch = System.nanoTime()
  private val ids = new AtomicLong
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]
  private val open = new ThreadLocal[List[Span]] { override def initialValue(): List[Span] = Nil }
  private val counters = new ConcurrentHashMap[Long, Counters]
  private val stageSpan = new ConcurrentHashMap[Int, Long]

  private def countersOf(id: Long): Counters = counters.computeIfAbsent(id, _ => new Counters)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(Prop))).foreach { s =>
        val id = s.toLong
        countersOf(id).jobs.increment()
        e.stageIds.foreach(stageSpan.put(_, id))
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach(id => countersOf(id).stages.increment())
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (id <- Option(stageSpan.get(e.stageId)); m <- Option(e.taskMetrics)) {
        val c = countersOf(id)
        c.tasks.increment()
        c.taskMs.add(m.executorRunTime)
        c.bytesRead.add(m.inputMetrics.bytesRead)
        c.recordsRead.add(m.inputMetrics.recordsRead)
        c.shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
        c.spill.add(m.diskBytesSpilled)
      }
  }
  if (enabled) spark.sparkContext.addSparkListener(listener)

  private val suspended = new ThreadLocal[Boolean] { override def initialValue(): Boolean = false }

  /** Run `body` with this thread's spans switched off. */
  def untraced[T](body: => T): T = {
    val was = suspended.get
    suspended.set(true)
    try body finally suspended.set(was)
  }

  /** Run `body` inside a span named `name` ("layer.call"). */
  def span[T](name: String)(body: => T): T =
    if (!enabled || suspended.get) body
    else {
      val stack = open.get
      val parent = stack.headOption
      val id = ids.incrementAndGet()
      val s = new Span(id, name, parent.map(_.id).getOrElse(0L), parent.map(_.trace).getOrElse(id),
        Thread.currentThread.getName, System.nanoTime() - epoch)
      val sc = spark.sparkContext
      open.set(s :: stack)
      sc.setLocalProperty(Prop, id.toString)
      try body
      finally {
        s.end = System.nanoTime() - epoch
        open.set(stack)
        sc.setLocalProperty(Prop, parent.map(_.id.toString).orNull)
        spans.add(s)
      }
    }

  /** The spans finished so far with their counters folded in, once
    * every queued listener event has been delivered. */
  def finishedSoFar(): Seq[Span] = {
    if (!enabled) return Nil
    org.apache.spark.BenchBridge.drainListeners(spark.sparkContext)
    val all = spans.asScala.toVector.sortBy(_.start)
    val children = all.groupBy(_.parent)
    all.foreach { s =>
      Option(counters.get(s.id)).foreach(c => s.own = c.snapshot)
      s.selfNs = (s.end - s.start) - covered(s, children.getOrElse(s.id, Vector.empty))
    }
    // a span's totals include its descendants' counters
    def total(s: Span): Map[String, Long] =
      children.getOrElse(s.id, Vector.empty).map(total).foldLeft(s.own)(addCounts)
    all.foreach(s => s.total = total(s))
    all
  }

  def close(): Unit = if (enabled) spark.sparkContext.removeSparkListener(listener)

  def writeJsonl(path: Path, all: Seq[Span]): Unit = {
    Files.createDirectories(path.getParent)
    val w = Files.newBufferedWriter(path, UTF_8)
    try all.foreach { s =>
      w.write(Json.render(Json.Obj(Seq(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "trace" -> s.trace,
        "thread" -> s.thread, "start_ms" -> s.start / 1e6, "end_ms" -> s.end / 1e6,
        "self_ms" -> s.selfNs / 1e6, "counters" -> s.total))))
      w.write('\n')
    } finally w.close()
  }
}

object Tracer {
  val Prop = "indexbench.span"

  final class Span(val id: Long, val name: String, val parent: Long, val trace: Long,
      val thread: String, val start: Long) {
    @volatile var end: Long = start
    var own: Map[String, Long] = Map.empty
    var total: Map[String, Long] = Map.empty
    var selfNs: Long = 0
    def ms: Double = (end - start) / 1e6
    def layer: String = name.takeWhile(_ != '.')
    def count(k: String): Long = total.getOrElse(k, 0L)
  }

  private final class Counters {
    val jobs, stages, tasks, taskMs, bytesRead, recordsRead, shuffleWrite, spill = new LongAdder
    def snapshot: Map[String, Long] = Map(
      "jobs" -> jobs.sum, "stages" -> stages.sum, "tasks" -> tasks.sum, "task_ms" -> taskMs.sum,
      "bytes_read" -> bytesRead.sum, "records_read" -> recordsRead.sum,
      "shuffle_write_bytes" -> shuffleWrite.sum, "spill_bytes" -> spill.sum)
  }

  private def addCounts(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
    (a.keySet ++ b.keySet).iterator.map(k => k -> (a.getOrElse(k, 0L) + b.getOrElse(k, 0L))).toMap

  /** Nanoseconds of `s` covered by the union of its children's intervals. */
  private def covered(s: Span, kids: Seq[Span]): Long = {
    var total, reach = 0L
    reach = s.start
    kids.map(k => (math.max(k.start, s.start), math.min(k.end, s.end))).sortBy(_._1).foreach {
      case (a, b) =>
        val from = math.max(a, reach)
        if (b > from) { total += b - from; reach = b }
    }
    total
  }

  /** Spans named `name`. */
  def named(all: Seq[Span], name: String): Seq[Span] = all.filter(_.name == name)

  /** Median duration in ms of the spans named `name`. */
  def medianMs(all: Seq[Span], name: String): Double = Stats.median(named(all, name).map(_.ms))

  /** Mean per span of a counter (descendants included). */
  def perSpan(all: Seq[Span], name: String, counter: String): Double = {
    val ss = named(all, name)
    if (ss.isEmpty) Double.NaN else ss.map(_.count(counter)).sum.toDouble / ss.size
  }

  /** Self time in seconds of every span of each layer. */
  def selfSecondsByLayer(all: Seq[Span]): Map[String, Double] =
    all.groupBy(_.layer).map { case (l, ss) => l -> ss.map(_.selfNs).sum / 1e9 }
}
