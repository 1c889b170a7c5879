package indexbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Runs one workload and prints its result as the last line of stdout:
  * `{"correct", "attempted", "failed", "metrics"}`.
  *
  * Untraced (`--trace 0`), the metrics are the end-to-end ones. Traced
  * (`--trace 1`), every workload runs traced (the named one for the
  * full window, the others for a quarter of it) so that every layer is
  * measured, and the metrics are the per-layer ones, the tracing
  * overhead among them. The line before the result holds the run's
  * configuration and each workload's named metrics with their sample
  * counts.
  */
object Main {
  val Workloads: ListMap[String, (Ctx => Outcome, Seq[(String, Any)])] = ListMap(
    "bulk_build" -> (BulkBuild.run _, BulkBuild.sizes),
    "serve_mix" -> (ServeMix.run _, ServeMix.sizes),
    "upload_stream" -> (UploadStream.run _, UploadStream.sizes),
    "curate_batch" -> (CurateBatch.run _, CurateBatch.sizes))

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean)

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val out = Paths.get(sys.props.getOrElse("indexbench.out", "target")).toAbsolutePath
    val work = out.resolve(s"work-${ProcessHandle.current.pid}")
    Watchdog.arm(sys.props.getOrElse("indexbench.budget_s", "170").toDouble, s"workload ${args.workload}")
    val code = try {
      Watchdog.phase = "spark start-up"
      val (spark, startupS) = Io.seconds(session(work))
      try {
        val result = if (args.trace) traced(spark, args, work, out) else untraced(spark, args, work)
        println(Json.render(Json.Obj(Seq("indexbench" -> Json.Obj(config(spark, args) ++
          Seq("startup_s" -> startupS) ++ result._1)))))
        println(Json.render(result._2))
        0
      } finally spark.stop()
    } catch {
      case e: Throwable =>
        System.err.println(s"indexbench: workload ${args.workload} failed in phase '${Watchdog.phase}': $e")
        e.printStackTrace(System.err)
        1
    } finally Io.deleteTree(work)
    System.out.flush()
    sys.exit(code)
  }

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String): String = m.getOrElse(k, usage(s"missing --$k"))
    val w = need("workload")
    if (!Workloads.contains(w)) usage(s"unknown workload '$w'")
    Args(w, need("seed").toLong, need("seconds").toInt, need("trace") == "1")
  }

  private def usage(why: String): Nothing = {
    System.err.println(s"indexbench: $why\nusage: --workload ${Workloads.keys.mkString("|")} " +
      "--seed N --seconds S --trace 0|1")
    sys.exit(2)
  }

  def session(work: Path): SparkSession = {
    val cores = sys.props.get("indexbench.cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("indexbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      // the status store keeps every job, stage, task and SQL execution
      // up to these limits (1000, 1000, 100000, 1000 by default); kept
      // small, its size stops growing with the number of calls made, and
      // the live heap measures the workload's own state
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.sql.ui.explainMode", "simple")
      .config("spark.sql.session.timeZone", "UTC")
      // the library's own session settings (see graft.Bench)
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "10000000")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** A traced run's other workloads run brief: a quarter of the window. */
  private def ctx(spark: SparkSession, args: Args, work: Path, w: String, traced: Boolean): Ctx = {
    val brief = traced && w != args.workload
    new Ctx(spark, args.seed, if (brief) args.seconds / 4.0 else args.seconds,
      work.resolve(s"$w-${if (traced) "traced" else "plain"}"), new Tracer(spark, traced), brief)
  }

  private def run(c: Ctx, w: String): Outcome = {
    Memory.resetPeaks()
    val o = Workloads(w)._1(c)
    Io.deleteTree(c.work)
    o
  }

  /** End-to-end numbers of one untraced workload run. */
  private def untraced(spark: SparkSession, args: Args, work: Path): (Seq[(String, Any)], Json.Obj) = {
    val o = run(ctx(spark, args, work, args.workload, traced = false), args.workload)
    val metrics = Seq(
      ("setup_s", Stats.median(o.setupS), "s"),
      ("live_heap_mb", o.liveHeapMb, "MB"),
      ("op_p50_ms", o.p50Ms, "ms"),
      ("throughput_per_s", o.perS, "1/s"))
    (Seq("detail" -> describe(o)), result(o.correct, o.attempted, o.failed, metrics))
  }

  /** Per-layer numbers of every workload, traced: the named workload
    * for the full window, the others for a quarter of it. */
  private def traced(spark: SparkSession, args: Args, work: Path, out: Path): (Seq[(String, Any)], Json.Obj) = {
    val gc0 = gcMs()
    var heapPeakMb = 0.0
    val runs = Workloads.keys.toSeq.map { w =>
      val c = ctx(spark, args, work, w, traced = true)
      val o = run(c, w)
      heapPeakMb = math.max(heapPeakMb, Memory.heapPeakMb())
      val spans = c.tracer.finishedSoFar()
      c.tracer.close()
      c.tracer.writeJsonl(out.resolve("traces").resolve(s"$w-seed${args.seed}.jsonl"), spans)
      (o, spans)
    }
    val self = Tracer.selfSecondsByLayer(runs.flatMap(_._2))
    val metrics = runs.flatMap(_._1.layers) ++
      Seq("sources", "core", "index", "store", "stream", "ops").map(l => (s"$l.self_s", self.getOrElse(l, 0.0), "s")) ++
      Seq(
        ("jvm.gc_ms", (gcMs() - gc0).toDouble, "ms"),
        ("jvm.heap_peak_mb", heapPeakMb, "MB"))
    val all = runs.map(_._1)
    (Seq("traced" -> all.map(describe)),
      result(all.forall(_.correct), all.map(_.attempted).sum, all.map(_.failed).sum, metrics))
  }

  private def describe(o: Outcome): Json.Obj = Json.Obj(Seq(
    "workload" -> o.workload, "sizes" -> Json.Obj(Workloads(o.workload)._2),
    "setup_s" -> o.setupS, "op_p50_ms" -> o.p50Ms, "throughput_per_s" -> o.perS, "live_heap_mb" -> o.liveHeapMb,
    "attempted" -> o.attempted, "failed" -> o.failed) ++ o.detail :+
    ("samples_ms" -> o.samplesMs.map(x => math.round(x * 10) / 10.0)))

  /** The result object. Every metric must be a finite number: a metric
    * without a value fails the run instead of printing a null. */
  private def result(correct: Boolean, attempted: Long, failed: Long,
      metrics: Seq[(String, Double, String)]): Json.Obj = {
    val missing = metrics.collect { case (n, v, _) if v.isNaN || v.isInfinite => n }
    if (missing.nonEmpty) throw new IllegalStateException(s"metrics without a value: ${missing.mkString(", ")}")
    Json.Obj(Seq(
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> Json.Obj(metrics.map { case (n, v, u) => n -> Json.Obj(Seq("value" -> v, "unit" -> u)) })))
  }

  private def config(spark: SparkSession, args: Args): Seq[(String, Any)] = Seq(
    "workload" -> args.workload, "seed" -> args.seed, "seconds" -> args.seconds, "trace" -> args.trace,
    "cores" -> spark.sparkContext.defaultParallelism,
    "nproc" -> Runtime.getRuntime.availableProcessors,
    "mem_total_mb" -> memTotalMb(),
    "heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
    "spark" -> spark.version, "java" -> System.getProperty("java.version"))

  /** Peak used heap, from the peaks the JVM keeps per memory pool. */
  private object Memory {
    private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
    def resetPeaks(): Unit = heapPools.foreach(_.resetPeakUsage())
    /** The sum of each heap pool's peak used bytes since the last
      * reset, in MB. */
    def heapPeakMb(): Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1e6
  }

  private def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def procField(file: String, key: String): Option[Double] = {
    val p = Paths.get(file)
    if (!Files.exists(p)) None
    else Files.readAllLines(p).asScala.find(_.startsWith(key + ":"))
      .map(_.drop(key.length + 1).trim.takeWhile(_.isDigit).toDouble)
  }

  private def memTotalMb(): Double = procField("/proc/meminfo", "MemTotal").map(_ / 1024).getOrElse(Double.NaN)
}
