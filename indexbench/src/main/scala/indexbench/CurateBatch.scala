package indexbench

import org.apache.spark.sql.DataFrame

import graft.ops.{Curation, Dedup}
import graft.sources.TextCorpus

/** The curation chain: `Curation.curate(docs, evalDocs)` over a JSONL
  * corpus with planted exact duplicates, near-duplicates and eval
  * overlaps, read and cleaned into cached frames in set-up, then
  * repeated and timed one call at a time. It uses no index
  * code, so it alone measures `ops` and the native MinHash and shingle
  * functions under it. */
object CurateBatch {
  val Docs = 600
  val Setups = 5
  /** Untimed calls before the window: after two, the timed calls of a
    * fresh JVM still fell from 2.6 s to 2.0 s one after another. */
  val WarmCalls = 4

  def sizes: Seq[(String, Any)] = Seq("docs" -> Docs, "eval_docs" -> 60, "planted_share_each" -> 0.03)

  def run(ctx: Ctx): Outcome = {
    import ctx.spark
    val ledger = new Ledger("curate_batch")
    // the corpus is generated and written once; set-up reads and cleans
    // it with the library into cached frames, Setups times, and only
    // that is timed. The curation calls then run over the last frames
    ctx.phase("curate_batch setup")
    val cc = CurateCorpus.generate(ctx.corpus, Docs, stream = 0)
    val (docsPath, evalPath) = (ctx.dir("curate/docs.jsonl"), ctx.dir("curate/eval.jsonl"))
    CurateCorpus.write(cc, docsPath, evalPath)
    val ids = cc.ids
    def readCached(): (DataFrame, DataFrame) = {
      val docs = TextCorpus.cleanJsonl(TextCorpus.readJsonl(spark, docsPath.toString, Seq("source STRING"))).cache()
      val evalDocs = TextCorpus.cleanJsonl(TextCorpus.readJsonl(spark, evalPath.toString)).cache()
      docs.count() + evalDocs.count()
      (docs, evalDocs)
    }
    // each earlier copy is dropped before the next read, which would
    // otherwise find the plan cached already
    val earlierS = (1 until ctx.setups(Setups)).map { _ =>
      val ((d, e), s) = Io.seconds(readCached())
      d.unpersist(blocking = true)
      e.unpersist(blocking = true)
      s
    }
    val ((docs, evalDocs), lastS) = Io.seconds(readCached())
    val setupS = earlierS :+ lastS

    var kept = 0L
    def once(): Option[Double] = ledger.attempt {
      ctx.span("ops.curate")(Curation.curate(docs, evalDocs).collect())
    } { rows =>
      val got = rows.map(_.getAs[Long]("doc_id")).toSeq
      val keptSet = got.toSet
      kept = got.size
      if (keptSet.size != got.size) Some("manifest repeats a doc id")
      else if (!keptSet.subsetOf(ids)) Some(s"manifest holds ids not in the input: ${(keptSet -- ids).take(5)}")
      else cc.exactPairs.collectFirst { case (a, b) if keptSet(a) && keptSet(b) => s"exact duplicates $a and $b both kept" }
        .orElse(cc.contaminated.find(keptSet).map(d => s"contaminated doc $d kept"))
    }

    ctx.phase("curate_batch warm-up")
    (1 to ctx.warmups(WarmCalls)).foreach(_ => once())
    ctx.phase("curate_batch measure")
    val ms = Vector.newBuilder[Double]
    val end = System.nanoTime() + (ctx.seconds * 1e9).toLong
    while (System.nanoTime() < end) once().foreach(ms += _)
    val samples = ms.result()
    val liveMb = ctx.liveHeapMb()
    val keptRatio = kept.toDouble / Docs
    val layers = if (ctx.tracer.enabled) probeLayers(ctx, docs, evalDocs, keptRatio) else Nil
    Outcome("curate_batch", setupS, Stats.median(samples), Docs * samples.size / (samples.sum / 1e3), liveMb,
      ledger.attempted, ledger.failed,
      Seq("curate_docs_per_s" -> Docs * samples.size / (samples.sum / 1e3), "curate_ms_p50" -> Stats.median(samples),
        "calls" -> samples.size, "kept_ratio" -> keptRatio, "input_mb" -> cc.textBytes / 1e6),
      layers, samples)
  }

  /** Counters of the chain, then its three costly stages alone, each
    * into a `noop` sink. */
  private def probeLayers(ctx: Ctx, docs: DataFrame, evalDocs: DataFrame, keptRatio: Double): Seq[(String, Double, String)] = {
    ctx.phase("curate_batch layer probes")
    (1 to 2).foreach { _ =>
      ctx.span("ops.gate")(Io.noop(Curation.applyGate(docs, Curation.QualityGate())))
      ctx.span("ops.dedup")(Io.noop(Dedup.dropNearDuplicates(docs)))
      ctx.span("ops.decontam")(Io.noop(Dedup.decontaminate(docs, evalDocs)))
    }
    val spans = ctx.tracer.finishedSoFar()
    val curate = Tracer.named(spans, "ops.curate")
    val busy = curate.map(_.count("task_ms")).sum / (curate.map(_.ms).sum * ctx.cores)
    Seq(
      ("ops.curate.jobs", Tracer.perSpan(spans, "ops.curate", "jobs"), "count"),
      ("ops.curate.stages", Tracer.perSpan(spans, "ops.curate", "stages"), "count"),
      ("ops.curate.tasks", Tracer.perSpan(spans, "ops.curate", "tasks"), "count"),
      ("ops.curate.shuffle_mb", Tracer.perSpan(spans, "ops.curate", "shuffle_write_bytes") / 1e6, "MB"),
      ("ops.curate.spill_mb", Tracer.perSpan(spans, "ops.curate", "spill_bytes") / 1e6, "MB"),
      ("ops.curate.busy_share", busy, "ratio"),
      ("ops.gate_s", Tracer.medianMs(spans, "ops.gate") / 1e3, "s"),
      ("ops.dedup_s", Tracer.medianMs(spans, "ops.dedup") / 1e3, "s"),
      ("ops.decontam_s", Tracer.medianMs(spans, "ops.decontam") / 1e3, "s"),
      ("ops.kept_ratio", keptRatio, "ratio"))
  }
}
