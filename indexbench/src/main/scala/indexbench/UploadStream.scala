package indexbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.{Random, Try}

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.index.InvertedIndex
import graft.sources.TextCorpus
import graft.streaming.CorpusWatcher

/** The paper's own metric: how long an upload takes to become
  * queryable. `CorpusWatcher.start(availableNow = false)` ingests a
  * backlog in set-up; then uploads arrive open loop at [[Rate]] per
  * second (written aside, then renamed into the watched directory),
  * each carrying a unique marker token. One reader polls the whole time
  * with `CorpusWatcher.currentIndex` + `InvertedIndex.booleanSearch`
  * over the pending markers; an upload's freshness runs from the time
  * it was DUE to the end of the first poll that sees it. */
object UploadStream {
  val Backlog = 200
  val MedianTokens = 120
  val UploadTokens = 40
  /** Uploads per second. A one-file batch takes ~0.8 s on a 4-core
    * host, so at every rate from 1/s to 8/s the watcher was busy
    * (`idle_share` 0.04-0.12); 4/s is the lowest rate that still gives
    * the 20 uploads in a 7 s window that a median needs. */
  val Rate = 4.0
  val Setups = 3
  val DrainSeconds = 30.0

  def sizes: Seq[(String, Any)] = Seq("backlog_files" -> Backlog, "median_tokens" -> MedianTokens,
    "upload_tokens" -> UploadTokens, "uploads_per_s" -> Rate, "readers" -> 1)

  private final class Upload(val name: String, val marker: String, val text: String, val dueNs: Long) {
    @volatile var writtenNs = 0L
  }

  private final case class Batch(durations: Map[String, Long], snapshotBytes: Long)

  /** Batch progress from Spark's public streaming listener, and (with
    * `snapshotSizes`) the size of the snapshot each batch published. */
  private final class Progress(indexDir: Path, snapshotSizes: Boolean) extends StreamingQueryListener {
    @volatile private var since = 0L
    @volatile var onNs = 0L
    /** Record batches only between `on = true` and `on = false`. */
    def on: Boolean = since != 0L
    def on_=(v: Boolean): Unit =
      if (v) since = System.nanoTime() else if (on) { onNs += System.nanoTime() - since; since = 0L }
    val batches = new ConcurrentLinkedQueue[Batch]
    /** The share of the recorded wall time in which no batch ran. */
    def idleShare: Double =
      1.0 - batches.asScala.map(_.durations.getOrElse("triggerExecution", 0L)).sum / (onNs / 1e6)
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (on && e.progress.numInputRows > 0) {
        val snap = if (!snapshotSizes) None else Try(new String(Files.readAllBytes(indexDir.resolve("LATEST")), UTF_8).trim).toOption
        val bytes = snap.flatMap(s => Try(Io.bytes(indexDir.resolve(s), Io.dataFile)).toOption).getOrElse(0L)
        batches.add(Batch(e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap, bytes))
      }
  }

  def run(ctx: Ctx): Outcome = {
    import ctx.spark
    val ledger = new Ledger("upload_stream")
    val write = (dir: Path, name: String, text: String) => Files.write(dir.resolve(name), text.getBytes(UTF_8))
    val rng = new Random(ctx.seed * 131 + 7)
    val backlog = (0 until Backlog).map(j => f"b$j%06d.txt" -> ctx.corpus.upload(rng, ctx.corpus.marker('b', j), MedianTokens))
    val sentinel = ctx.corpus.marker('b', 0)
    val sentinelDoc = backlog.head._1

    ctx.phase("upload_stream setup")
    val nSetups = ctx.setups(Setups)
    // records the last watcher's batches while measuring
    val progress = new Progress(ctx.dir(s"stream/s${nSetups - 1}/index"), snapshotSizes = ctx.tracer.enabled)
    spark.streams.addListener(progress)
    // the backlog files are written outside the timed part: only the
    // watcher's start and its ingest of the backlog are timed
    val setups = (0 until nSetups).map { k =>
      val base = ctx.dir(s"stream/s$k")
      Files.createDirectories(base.resolve("watch"))
      backlog.foreach { case (n, t) => write(base.resolve("watch"), n, t) }
      val (query, s) = Io.seconds {
        val q = CorpusWatcher.start(spark, base.resolve("watch").toString, base.resolve("index").toString,
          base.resolve("checkpoint").toString, availableNow = false)
        q.processAllAvailable()
        q
      }
      if (k < nSetups - 1) query.stop()
      (base, query, s)
    }
    val (base, query, _) = setups.last
    val watch = base.resolve("watch")
    val stage = Files.createDirectories(base.resolve("stage"))
    val indexDir = base.resolve("index").toString

    try {
      // uploads written and not yet seen, by file name
      val pending = mutable.LinkedHashMap.empty[String, Upload]
      val pollMs = Vector.newBuilder[Double]
      var backlogMax = 0
      /** One reader poll: resolve the current snapshot, search the
        * pending markers (plus a backlog sentinel, so the query is never
        * empty and the backlog is checked to stay visible). Returns the
        * uploads it saw for the first time. */
      def poll(): Seq[Upload] = {
        var seen = Seq.empty[Upload]
        val ms = ledger.attempt {
          ctx.span("stream.read") {
            val idx = ctx.span("stream.read.resolve")(CorpusWatcher.currentIndex(spark, indexDir))
            val terms = sentinel +: pending.valuesIterator.map(_.marker).toSeq
            ctx.span("stream.read.exec")(InvertedIndex.booleanSearch(idx, terms, requireAll = false).collect())
          }
        } { rows =>
          val hits = rows.map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSeq
          val problems = hits.collect {
            case (d, m, c) if m != 1 || c != 1 => s"$d matched $m markers $c times"
            case (d, _, _) if d != sentinelDoc && !pending.contains(d) => s"$d is visible again or unknown"
          }
          val verdict =
            if (!hits.exists(_._1 == sentinelDoc)) Some(s"backlog document $sentinelDoc is no longer visible")
            else problems.headOption
          if (verdict.isEmpty) seen = hits.flatMap { case (d, _, _) => pending.get(d) }
          verdict
        }
        ms.foreach(pollMs += _)
        seen.foreach(u => pending.remove(u.name))
        seen
      }
      def upload(u: Upload): Unit = {
        write(stage, u.name, u.text)
        Files.move(stage.resolve(u.name), watch.resolve(u.name), StandardCopyOption.ATOMIC_MOVE)
        u.writtenNs = System.nanoTime()
      }

      /** Uploads at [[Rate]] for `seconds`, polled until each is seen or
        * the drain ends: the uploads, their freshness in ms, and the
        * reader polls that ended within the window with the time the
        * last of them ended. */
      def window(kind: Char, seconds: Double): (Seq[Upload], Vector[Double], Int, Double) = {
        val n = (seconds * Rate).toInt
        val texts = (0 until n).map { i =>
          val m = ctx.corpus.marker(kind, i)
          m -> ctx.corpus.upload(rng, m, UploadTokens)
        }
        val t0 = System.nanoTime()
        val end = t0 + (seconds * 1e9).toLong
        val uploads = texts.zipWithIndex.map { case ((m, text), i) =>
          new Upload(f"$kind$i%06d.txt", m, text, t0 + (i / Rate * 1e9).toLong)
        }
        val generator = new Thread(() => uploads.foreach { u =>
          val wait = u.dueNs - System.nanoTime()
          if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
          upload(u)
        }, "indexbench-uploader")
        generator.start()
        val fresh = Vector.newBuilder[Double]
        var admitted = 0
        var polls = 0
        var lastPollEnd = t0
        val drainEnd = end + (DrainSeconds * 1e9).toLong
        while ((admitted < n || pending.nonEmpty) && System.nanoTime() < drainEnd) {
          while (admitted < n && uploads(admitted).writtenNs > 0) {
            pending(uploads(admitted).name) = uploads(admitted)
            admitted += 1
          }
          backlogMax = math.max(backlogMax, pending.size)
          val seen = poll()
          val now = System.nanoTime()
          if (now < end) { polls += 1; lastPollEnd = now }
          seen.foreach(u => fresh += (now - u.dueNs) / 1e6)
        }
        generator.join()
        ledger.count(n)
        pending.keys.foreach(d => ledger.fail(s"upload $d never became visible within $DrainSeconds s of the window's end"))
        pending.clear()
        (uploads, fresh.result(), polls, (lastPollEnd - t0) / 1e9)
      }

      // untimed: the same open loop, so the measured one runs on
      // compiled code
      ctx.phase("upload_stream warm-up")
      val (warm, _, _, _) = window('w', ctx.seconds)
      pollMs.clear()
      backlogMax = 0

      ctx.phase("upload_stream measure")
      progress.on = true
      val (uploads, freshMs, polls, pollingS) = window('u', ctx.seconds)
      progress.on = false
      val liveMb = ctx.liveHeapMb()
      query.stop()

      ctx.phase("upload_stream final check")
      val all = (backlog.map { case (d, _) => d } ++ warm.map(_.name) ++ uploads.map(_.name)).zip(
        (0 until Backlog).map(ctx.corpus.marker('b', _)) ++ warm.map(_.marker) ++ uploads.map(_.marker))
      ledger.attempt {
        val idx = CorpusWatcher.currentIndex(spark, indexDir)
        val rows = idx.filter(col("word").isin(all.map(_._2): _*)).select("word", "doc_id", "cnt").collect()
        val firstLast = Seq(uploads.head, uploads.last).map(u =>
          u -> InvertedIndex.lookup(idx, u.marker).collect().map(r => (r.getString(0), r.getLong(1))).toSeq)
        (rows.map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet, rows.length, firstLast)
      } { case (rows, count, firstLast) =>
        val want = all.map { case (d, m) => (m, d, 1L) }.toSet
        if (count != want.size || rows != want) Some(s"final index holds ${rows.size} marker postings, expected ${want.size}")
        else firstLast.collectFirst { case (u, got) if got != Seq(u.name -> 1L) => s"lookup of ${u.marker} gave $got" }
      }

      val reads = pollMs.result()
      val lateMs = uploads.map(u => (u.writtenNs - u.dueNs) / 1e6)
      val layers = if (!ctx.tracer.enabled) Nil else layerMetrics(ctx, progress, base, uploads.map(_.text.getBytes(UTF_8).length.toLong).sum,
        backlogMax, watch.resolve(uploads.head.name))
      Outcome("upload_stream", setups.map(_._3), Stats.median(freshMs), polls / pollingS, liveMb,
        ledger.attempted, ledger.failed,
        Seq(
          "fresh_p50_s" -> Stats.median(freshMs) / 1e3,
          "fresh_p90_s" -> (if (Stats.supports(freshMs.size, 0.9)) Stats.quantile(freshMs, 0.9) / 1e3 else null),
          "uploads" -> freshMs.size,
          "stream_read_p50_ms" -> Stats.median(reads),
          "polls" -> reads.size,
          "generator_late_p50_ms" -> Stats.median(lateMs),
          "generator_late_max_ms" -> lateMs.max,
          "batches" -> progress.batches.size,
          "idle_share" -> progress.idleShare),
        layers, freshMs)
    } finally {
      setups.foreach(_._2.stop())
      spark.streams.removeListener(progress)
    }
  }

  private def layerMetrics(ctx: Ctx, p: Progress, base: Path, uploadBytes: Long,
      backlogMax: Int, oneUpload: Path): Seq[(String, Double, String)] = {
    import ctx.spark
    ctx.phase("upload_stream layer probes")
    // one upload's delta merged into the final snapshot, into noop
    val idx = CorpusWatcher.currentIndex(spark, base.resolve("index").toString)
    val delta = InvertedIndex.build(TextCorpus.readDocuments(spark, oneUpload.toString))
    (1 to 3).foreach(_ => ctx.span("index.upsert")(Io.noop(InvertedIndex.upsertDocs(idx, delta))))
    val spans = ctx.tracer.finishedSoFar()
    val bs = p.batches.asScala.toVector
    def d(b: Batch, k: String): Double = b.durations.getOrElse(k, 0L).toDouble
    val add = bs.map(d(_, "addBatch"))
    Seq(
      ("index.upsert_s", Tracer.medianMs(spans, "index.upsert") / 1e3, "s"),
      ("index.read_bytes_per_poll", Tracer.perSpan(spans, "stream.read", "bytes_read"), "B"),
      ("stream.batch_ms", Stats.median(bs.map(d(_, "triggerExecution"))), "ms"),
      ("stream.list_ms", Stats.median(bs.map(b => d(b, "latestOffset") + d(b, "getBatch"))), "ms"),
      ("stream.add_batch_ms", Stats.median(add), "ms"),
      ("stream.add_batch_slope_ms", Stats.slope(add), "ms"),
      ("stream.snapshot_mb_per_batch", bs.map(_.snapshotBytes).sum / 1e6 / math.max(1, bs.size), "MB"),
      ("stream.write_amplification", bs.map(_.snapshotBytes).sum.toDouble / uploadBytes, "ratio"),
      ("stream.backlog_max_files", backlogMax.toDouble, "count"),
      ("stream.idle_share", p.idleShare, "ratio"),
      ("stream.read.resolve_ms", Tracer.medianMs(spans, "stream.read.resolve"), "ms"),
      ("stream.read.exec_ms", Tracer.medianMs(spans, "stream.read.exec"), "ms"))
  }
}
