package indexbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What one workload run needs: the session, its seed, its measuring
  * window, a private working directory and the tracer. A `brief` run
  * (a traced run's other workloads) also warms up less. */
final class Ctx(
    val spark: SparkSession,
    val seed: Long,
    val seconds: Double,
    val work: Path,
    val tracer: Tracer,
    brief: Boolean) {
  val corpus = new Corpus(seed)
  def cores: Int = spark.sparkContext.defaultParallelism
  def dir(name: String): Path = work.resolve(name)
  def span[T](name: String)(body: => T): T = tracer.span(name)(body)
  /** How many times to repeat a set-up: a traced run reports no set-up
    * time, so it sets up once. */
  def setups(n: Int): Int = if (tracer.enabled) 1 else n
  /** How many untimed calls to warm up with: a quarter in a brief run. */
  def warmups(n: Int): Int = if (brief) math.max(1, n / 4) else n
  def phase(name: String): Unit = Watchdog.phase = name
  /** The heap still in use after a full collection, in MB: what the
    * workload's state (stores, frames, queries, Spark's own) holds. The
    * pause between two collections lets Spark's cleaner drop the
    * broadcasts and shuffles that the first one found unreachable. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }
}

/** The result of one workload run. `p50Ms` and `perS` are the two
  * generic end-to-end numbers (see the README for what they mean on
  * each workload); `liveHeapMb` is [[Ctx.liveHeapMb]] at the end of the
  * measuring window; `detail` holds the workload's named metrics with
  * their sample counts; `layers` the per-layer metrics of a traced run. */
final case class Outcome(
    workload: String,
    setupS: Seq[Double],
    p50Ms: Double,
    perS: Double,
    liveHeapMb: Double,
    attempted: Long,
    failed: Long,
    detail: Seq[(String, Any)],
    layers: Seq[(String, Double, String)] = Nil,
    samplesMs: Seq[Double] = Nil) {
  def correct: Boolean = failed == 0
}

/** Counts attempts and failures; a failed operation is never timed. */
final class Ledger(name: String) {
  private val attemptedN = new java.util.concurrent.atomic.AtomicLong
  private val failedN = new java.util.concurrent.atomic.AtomicLong
  def attempted: Long = attemptedN.get
  def failed: Long = failedN.get

  /** Run one checked operation: `op` returns its timed result, `check`
    * says what is wrong with it (None when correct). Returns the op's
    * wall milliseconds when it succeeded. */
  def attempt[T](op: => T)(check: T => Option[String]): Option[Double] = {
    attemptedN.incrementAndGet()
    val t0 = System.nanoTime()
    val res = try Right(op) catch { case e: Exception => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    val ms = (System.nanoTime() - t0) / 1e6
    res.flatMap(r => check(r).toLeft(ms)) match {
      case Right(v) => Some(v)
      case Left(why) => fail(why); None
    }
  }

  /** Count `n` operations whose failures are reported through [[fail]]. */
  def count(n: Long): Unit = attemptedN.addAndGet(n)

  def fail(why: String): Unit = {
    if (failedN.incrementAndGet() <= 5) System.err.println(s"indexbench: $name: failed operation: ${why.take(500)}")
  }
}

object Io {
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Regular files under `dir` (recursively) whose names satisfy `keep`. */
  def files(dir: Path, keep: String => Boolean = _ => true): Seq[Path] =
    if (!Files.exists(dir)) Nil
    else {
      val s = Files.walk(dir)
      try s.iterator.asScala.filter(p => Files.isRegularFile(p) && keep(p.getFileName.toString)).toVector
      finally s.close()
    }

  def bytes(dir: Path, keep: String => Boolean = _ => true): Long = files(dir, keep).map(Files.size).sum

  def dataFile(name: String): Boolean = !name.startsWith(".") && !name.startsWith("_")

  def deleteTree(dir: Path): Unit =
    if (Files.exists(dir)) {
      val s = Files.walk(dir)
      try s.iterator.asScala.toVector.reverse.foreach(Files.deleteIfExists) finally s.close()
    }
}

/** Fails the run with a message naming the phase it was in, instead of
  * letting an outer timeout kill it silently. */
object Watchdog {
  private val t0 = System.nanoTime()
  @volatile private var current = "start"
  def phase: String = current
  /** Enter a phase; its name and start time go to stderr. */
  def phase_=(name: String): Unit = {
    current = name
    System.err.println(f"indexbench: ${(System.nanoTime() - t0) / 1e9}%7.2f s  $name")
  }

  def arm(budgetSeconds: Double, what: String): Unit = {
    val t = new Thread(() => {
      try {
        Thread.sleep((budgetSeconds * 1000).toLong)
        System.err.println(
          f"indexbench: $what exceeded its $budgetSeconds%.0f s budget in phase '$phase'; aborting")
        System.err.flush()
        Runtime.getRuntime.halt(3)
      } catch { case _: InterruptedException => }
    }, "indexbench-watchdog")
    t.setDaemon(true)
    t.start()
  }
}
