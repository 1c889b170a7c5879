package indexbench

import java.nio.file.Path

import org.apache.spark.sql.functions.{col, explode}

import graft.core.TextNorm
import graft.index.{IndexStore, InvertedIndex}
import graft.sources.TextCorpus

/** The paper's batch job: a directory of `.txt` files goes through
  * `TextCorpus.readDocuments` -> `InvertedIndex.build` ->
  * `IndexStore.save`, repeated and timed one build at a time. Three
  * corpora are generated in set-up and used in turn. */
object BulkBuild {
  val Docs = 1000
  val MedianTokens = 120
  val Corpora = 3

  private final case class Input(dir: Path, ref: Reference.Index, bytes: Long)

  def sizes: Seq[(String, Any)] = Seq("docs_per_build" -> Docs, "median_tokens" -> MedianTokens)

  def run(ctx: Ctx): Outcome = {
    import ctx.spark
    val ledger = new Ledger("bulk_build")
    ctx.phase("bulk_build setup")
    val (inputs, setupS) = (0 until math.max(2, ctx.setups(Corpora))).map { k =>
      val (docs, s) = Io.seconds(ctx.corpus.writeFiles(ctx.dir(s"bulk/c$k"), Docs, MedianTokens, stream = k))
      Input(ctx.dir(s"bulk/c$k"), new Reference.Index(docs),
        docs.map(_._2.getBytes("UTF-8").length.toLong).sum) -> s
    }.unzip

    def buildAndSave(in: Input, out: Path): Unit = ctx.span("op.bulk_build") {
      val docs = ctx.span("sources.readDocuments")(TextCorpus.readDocuments(spark, in.dir.toString))
      val index = ctx.span("index.build")(InvertedIndex.build(docs))
      ctx.span("store.save")(IndexStore.save(index, out.toString))
    }
    def check(in: Input, out: Path): Option[String] = {
      val got = IndexStore.load(spark, out.toString).collect().foldLeft(Reference.Digest.empty) {
        (acc, r) => acc + Reference.Digest.row(r.getString(0), r.getString(1), r.getLong(2))
      }
      if (got == in.ref.digest) None else Some(s"index digest $got != expected ${in.ref.digest}")
    }
    def once(i: Int): Option[Double] = {
      val in = inputs(i % inputs.size)
      val out = ctx.dir(s"bulk/store${i % 2}")
      ledger.attempt(buildAndSave(in, out))(_ => check(in, out))
    }

    ctx.phase("bulk_build warm-up")
    once(0)
    ctx.phase("bulk_build measure")
    val ms = Vector.newBuilder[Double]
    var bytes = 0L
    val end = System.nanoTime() + (ctx.seconds * 1e9).toLong
    var i = 0
    while (System.nanoTime() < end) {
      once(i).foreach { t => ms += t; bytes += inputs(i % inputs.size).bytes }
      i += 1
    }
    val samples = ms.result()
    val liveMb = ctx.liveHeapMb()
    val opS = samples.sum / 1e3
    val layers = if (ctx.tracer.enabled) probeLayers(ctx, inputs.head.dir, inputs.head.bytes) else Nil
    Outcome("bulk_build", setupS, Stats.median(samples), Docs * samples.size / opS, liveMb,
      ledger.attempted, ledger.failed,
      Seq("build_mb_per_s" -> bytes / 1e6 / opS, "build_ms_p50" -> Stats.median(samples),
        "builds" -> samples.size, "input_mb_per_build" -> inputs.map(_.bytes).sum / 1e6 / inputs.size),
      layers, samples)
  }

  /** Each layer of the build alone, into a `noop` sink:
    * the scan, the tokenizer over cached documents, the build over
    * cached documents and the store writer over a cached index. */
  private def probeLayers(ctx: Ctx, dir: Path, inBytes: Long): Seq[(String, Double, String)] = {
    import ctx.spark
    ctx.phase("bulk_build layer probes")
    ctx.span("sources.read_docs")(Io.noop(TextCorpus.readDocuments(spark, dir.toString)))
    val cached = TextCorpus.readDocuments(spark, dir.toString).cache()
    cached.count()
    ctx.span("core.tokenize")(Io.noop(cached.select(explode(TextNorm.tokens(col("text"))))))
    ctx.span("index.build_only")(Io.noop(InvertedIndex.build(cached)))
    val built = InvertedIndex.build(cached).cache()
    val postings = built.count()
    val out = ctx.dir("bulk/probe_store")
    ctx.span("store.save_only")(IndexStore.save(built, out.toString))
    built.unpersist(); cached.unpersist()
    val spans = ctx.tracer.finishedSoFar()
    val readS = Tracer.medianMs(spans, "sources.read_docs") / 1e3
    val storeBytes = Io.bytes(out, Io.dataFile)
    Seq(
      ("sources.read_docs_s", readS, "s"),
      ("sources.files_per_s", Docs / readS, "1/s"),
      ("sources.scan_tasks", Tracer.perSpan(spans, "sources.read_docs", "tasks"), "count"),
      ("core.tokenize_mb_per_s", inBytes / 1e6 / (Tracer.medianMs(spans, "core.tokenize") / 1e3), "MB/s"),
      ("index.build_s", Tracer.medianMs(spans, "index.build_only") / 1e3, "s"),
      ("index.build_shuffle_mb", Tracer.perSpan(spans, "index.build_only", "shuffle_write_bytes") / 1e6, "MB"),
      ("index.postings", postings.toDouble, "count"),
      ("store.save_s", Tracer.medianMs(spans, "store.save_only") / 1e3, "s"),
      ("store.files_written", Io.files(out, n => n.endsWith(".parquet")).size.toDouble, "count"),
      ("store.bytes_per_input_byte", storeBytes.toDouble / inBytes, "ratio"))
  }
}
