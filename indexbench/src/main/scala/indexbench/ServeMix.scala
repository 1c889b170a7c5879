package indexbench

import java.nio.file.Path
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._
import scala.util.Random

import graft.index.{IndexStore, InvertedIndex}
import graft.sources.TextCorpus

/** The paper's read query, served from a store built in set-up: a
  * closed loop of [[Clients]] clients calling
  * `IndexStore.lookup(word).collect()` with words drawn Zipf over the
  * vocabulary (5% absent). Nothing is built while measuring. A traced
  * run also builds the ranked page's stores and times a few
  * `IndexStore.searchPage(q, k = 10).collect()` calls with 2-3 term
  * queries. */
object ServeMix {
  val Docs = 800
  val MedianTokens = 120
  val Clients = 2
  val Searches = 2
  val AbsentShare = 0.05
  val K = 10
  val Setups = 3
  /** Untimed lookups per client before the window: after one window of
    * them (~11 per client), lookups still got faster through the next. */
  val WarmLookups = 20
  val OverheadPairs = 6

  def sizes: Seq[(String, Any)] = Seq("docs" -> Docs, "median_tokens" -> MedianTokens,
    "clients" -> Clients, "absent_share" -> AbsentShare, "traced_searches" -> Searches, "k" -> K)

  /** The serving stores of one generated corpus: the lookup store,
    * and the ranked page's stores that a traced run builds. */
  private final class Stores(val corpus: Path, val flat: String, base: Path, docs: Seq[(String, String)]) {
    val ref = new Reference.Index(docs)
    def page: String = base.resolve("page").toString
    def docStore: String = base.resolve("docs").toString
  }

  def run(ctx: Ctx): Outcome = {
    import ctx.spark
    val ledger = new Ledger("serve_mix")
    val vocab = ctx.corpus.vocab

    val rowsReturned = new AtomicLong
    def lookup(st: Stores, word: String): Option[Double] = ledger.attempt {
      ctx.span("store.lookup") {
        val df = ctx.span("store.lookup.plan")(IndexStore.lookup(spark, st.flat, word))
        ctx.span("store.lookup.exec")(df.collect())
      }
    } { rows =>
      val got = rows.iterator.map(r => (r.getString(0), r.getLong(1))).toVector
      val want = st.ref.postings.getOrElse(word, Vector.empty)
      rowsReturned.addAndGet(got.size)
      if (got == want) None else Some(s"lookup '$word': ${got.size} postings, expected ${want.size} (or order differs)")
    }
    def search(st: Stores, terms: Seq[String]): Option[Double] = ledger.attempt {
      ctx.span("store.search") {
        val df = ctx.span("store.search.rank")(IndexStore.searchPage(spark, st.page, st.docStore, terms.mkString(" "), K))
        ctx.span("store.search.fetch")(df.collect())
      }
    } { rows =>
      val ids = rows.map(_.getAs[String]("doc_id")).toSeq
      if (ids.size > K) Some(s"search $terms: ${ids.size} rows > k")
      else if (ids.distinct.size != ids.size) Some(s"search $terms: repeated doc ids")
      else if (ids.isEmpty) Some(s"search $terms: no rows, but every term is indexed")
      else ids.find(d => !st.ref.docHasAny(d, terms)).map(d => s"search $terms: $d holds no query term")
    }
    /** Indexed words after the top ten, in vocabulary rank order. */
    def queryWords(st: Stores): Vector[String] = vocab.words.iterator.drop(10).filter(st.ref.words).take(3000).toVector

    // the corpus is generated once; the lookup store is built from its
    // files Setups times, and only the library's calls are timed. The
    // first build also warms the JVM
    ctx.phase("serve_mix setup")
    val corpus = ctx.dir("serve/corpus")
    val docs = ctx.corpus.writeFiles(corpus, Docs, MedianTokens, stream = 100)
    val setupS = (0 until ctx.setups(Setups)).map { k =>
      Io.seconds(IndexStore.save(InvertedIndex.build(TextCorpus.readDocuments(spark, corpus.toString)),
        ctx.dir(s"serve/flat$k").toString))._2
    }
    val st = new Stores(corpus, ctx.dir(s"serve/flat${setupS.size - 1}").toString, ctx.dir("serve"), docs)
    val absent = {
      val rng = new Random(ctx.seed ^ 0xab5e47L)
      Iterator.continually(Vocab.pseudoWord(rng) + "q").filterNot(st.ref.words).take(200).toVector
    }
    def anyWord(rng: Random): String =
      if (rng.nextDouble() < AbsentShare) absent(rng.nextInt(absent.size)) else vocab.draw(rng)

    /** [[Clients]] closed-loop clients, each until `seconds` have passed
      * or it made `calls` lookups: the lookup latencies and the wall
      * seconds until the last one returned. */
    def clients(salt: Long, seconds: Double, calls: Int = Int.MaxValue): (Vector[Double], Double) = {
      val done = new ConcurrentLinkedQueue[Double]
      val t0 = System.nanoTime()
      val end = t0 + (seconds * 1e9).toLong
      val threads = (0 until Clients).map { c =>
        val t = new Thread(() => {
          val rng = new Random(ctx.seed * 31 + c + salt)
          var n = 0
          while (n < calls && System.nanoTime() < end) {
            lookup(st, anyWord(rng)).foreach(done.add(_))
            n += 1
          }
        }, s"indexbench-client-$c")
        t.start()
        t
      }
      threads.foreach(_.join())
      (done.asScala.toVector, (System.nanoTime() - t0) / 1e9)
    }

    // untimed: the same closed loop for a fixed number of calls, so the
    // measured one runs on compiled code
    ctx.phase("serve_mix warm-up")
    clients(salt = 1000, seconds = 120, calls = ctx.warmups(WarmLookups))
    ctx.phase("serve_mix measure")
    val (lookups, wallS) = clients(salt = 0, seconds = ctx.seconds)
    val liveMb = ctx.liveHeapMb()
    val layers = if (!ctx.tracer.enabled) Nil else {
      // the ranked page, alone: its stores, then a few 2-3 term queries
      ctx.phase("serve_mix search probe")
      val docsDf = TextCorpus.readDocuments(spark, st.corpus.toString)
      IndexStore.saveSearchPageStore(docsDf, st.page)
      IndexStore.saveDocStore(docsDf, st.docStore)
      val words = queryWords(st)
      val rng = new Random(ctx.seed + 5)
      (1 to Searches).foreach(_ =>
        search(st, Seq.fill(2 + rng.nextInt(2))(words(math.min(vocab.rank(rng), words.size - 1))).distinct))
      // tracing overhead: the same lookups with spans on and off, in
      // alternating order
      ctx.phase("serve_mix tracing overhead")
      val ab = (0 until OverheadPairs).flatMap { i =>
        val w = anyWord(rng)
        val on = () => lookup(st, w).map(true -> _)
        val off = () => ctx.tracer.untraced(lookup(st, w)).map(false -> _)
        (if (i % 2 == 0) Seq(on, off) else Seq(off, on)).flatMap(_())
      }
      val (traced, plain) = ab.partition(_._1)
      layerMetrics(ctx.tracer.finishedSoFar(), rowsReturned.get) :+
        (("trace.overhead_pct", (Stats.median(traced.map(_._2)) / Stats.median(plain.map(_._2)) - 1) * 100, "%"))
    }
    Outcome("serve_mix", setupS, Stats.median(lookups), lookups.size / wallS, liveMb,
      ledger.attempted, ledger.failed,
      Seq(
        "lookup_p50_ms" -> Stats.median(lookups),
        "lookup_p90_ms" -> (if (Stats.supports(lookups.size, 0.9)) Stats.quantile(lookups, 0.9) else null),
        "lookups" -> lookups.size,
        "serve_ops_per_s" -> lookups.size / wallS),
      layers, lookups)
  }

  private def layerMetrics(spans: Seq[Tracer.Span], rowsReturned: Long): Seq[(String, Double, String)] = {
    val exec = Tracer.named(spans, "store.lookup.exec")
    Seq(
      ("store.lookup.plan_ms", Tracer.medianMs(spans, "store.lookup.plan"), "ms"),
      ("store.lookup.exec_ms", Tracer.medianMs(spans, "store.lookup.exec"), "ms"),
      ("store.lookup.tasks", Tracer.perSpan(spans, "store.lookup", "tasks"), "count"),
      ("store.lookup.bytes_read", Tracer.perSpan(spans, "store.lookup", "bytes_read"), "B"),
      ("store.lookup.rows_read_per_row_returned",
        exec.map(_.count("records_read")).sum.toDouble / math.max(1L, rowsReturned), "ratio"),
      ("store.search.rank_ms", Tracer.medianMs(spans, "store.search.rank"), "ms"),
      ("store.search.fetch_ms", Tracer.medianMs(spans, "store.search.fetch"), "ms"),
      ("store.search.jobs", Tracer.perSpan(spans, "store.search", "jobs"), "count"),
      ("store.search.bytes_read", Tracer.perSpan(spans, "store.search", "bytes_read"), "B"))
  }
}
