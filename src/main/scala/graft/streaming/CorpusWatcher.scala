package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.index.{IndexStore, InvertedIndex}

/** Streaming ingest: watch a directory for new text documents and keep
  * the inverted index up to date — the Spark-native replacement for the
  * reference's GCS object-finalize trigger + master re-run
  * (`filladdtrigger/main.py:5-22` fan-out, `main/app.py:15-40`
  * freshness poll).
  *
  * Structured Streaming's file source already does what the trigger
  * hand-rolls: it tracks which files have been seen (checkpointed),
  * turns each new arrival into a batch, and serializes batches — which
  * also fixes the reference's lost-update race when two uploads land
  * concurrently (`master/main.py:107-126` read-modify-write, SURVEY
  * §7.5.5).
  *
  * Deployment note: run streaming sessions with
  * `spark.sql.ui.explainMode=simple`. Every action posts a UI event
  * carrying a plan description EVEN WITH THE UI DISABLED, and the
  * default `formatted` mode's operator-ID walk is super-linear on the
  * deep staged/cached plan trees a full-stack batch builds — a
  * measured multi-minute single-thread stall per batch at 16-stage
  * depth, invisible in CPU load. `simple` keeps it linear.
  *
  * Index persistence is a versioned-snapshot swap: each batch writes a
  * full merged snapshot to `snap-<id>`, then writes the one-line
  * `LATEST` pointer aside and renames it over the old one, then
  * deletes superseded snapshots (never the one `LATEST` names) —
  * readers never observe a half-written index. The swap is
  * [[ArtifactVersions]]' publish code (the `.current_version` pointer
  * of the versioned artifact roots), so every step goes through the
  * Hadoop FileSystem of the index dir's own scheme and the watcher
  * works on any Hadoop filesystem. On a real deployment this
  * `foreachBatch` body is one Delta Lake `MERGE`; plain parquet keeps
  * the library dependency-free.
  * The merge itself is [[InvertedIndex.upsertDocs]] (re-uploading a
  * document replaces its postings — the corrected semantics; pass
  * `parityAdd = true` for the reference's additive double-counting).
  */
object CorpusWatcher {

  private val Latest = "LATEST"
  private val Snapshot = "^snap-(\\d+)$".r
  // the sum-safe compaction's hidden fold dir and intent record
  private val StatsTmp = ".compact_tmp"
  private val StatsMarker = ".compact_marker"

  /** Read the current index snapshot (empty index if none yet; the
    * empty frame's schema follows the watcher's index shape — flat or
    * positional — so batch 0's upsert unions cleanly either way). The
    * snapshot's schema comes from one parquet footer read on the
    * driver, so building the frame runs no Spark job. */
  def currentIndex(
      spark: SparkSession, indexDir: String, positional: Boolean = false): DataFrame =
    ArtifactVersions.readFile(spark, indexDir, Latest) match {
      case Some(snap) => IndexStore.storedTable(spark, s"$indexDir/$snap")
      case None =>
        import org.apache.spark.sql.types._
        val base = Seq(
          StructField("word", StringType),
          StructField("doc_id", StringType))
        val tail =
          if (positional) Seq(
            StructField("positions", ArrayType(IntegerType)),
            StructField("cnt", LongType))
          else Seq(StructField("cnt", LongType))
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], StructType(base ++ tail))
    }

  /** Start watching `watchDir` for `*.txt` documents (doc identity =
    * base filename, as in the reference `mapper/main.py:63`); each
    * batch merges into the snapshot at `indexDir`.
    *
    * @param availableNow process what's there, then stop — the
    *   batch-per-arrival semantics of the reference trigger; false for
    *   a continuously running watcher.
    * @param finalJsonPath when set, every batch also re-exports the
    *   merged index as the reference's single pretty-printed
    *   `final_results.json` (`master/main.py:123-126` rewrites it per
    *   upload) — completing the reference's end-to-end upload→artifact
    *   flow. Leave None at scale; the snapshot is the real store.
    * @param retainSnapshots how many newest `snap-*` dirs to keep after
    *   each pointer swap. Use ≥ 2 whenever concurrent readers exist: a
    *   reader that resolved the PREVIOUS pointer must finish its scan
    *   before that snapshot is deleted. `1` is accepted but is only
    *   safe single-process (tests, availableNow batch runs with no
    *   reader between batches) — it reintroduces the read-after-delete
    *   race for anyone else. The snapshot LATEST currently names is
    *   never deleted regardless of this value.
    *   The reference deletes its own intermediates every run
    *   (`master/main.py:128-133`, SURVEY §2 #23); without this a
    *   continuously-running watcher accumulates one full index copy per
    *   arrival batch — unbounded storage on a 100 TB index.
    */
  def start(
      spark: SparkSession,
      watchDir: String,
      indexDir: String,
      checkpointDir: String,
      parityAdd: Boolean = false,
      availableNow: Boolean = true,
      finalJsonPath: Option[String] = None,
      retainSnapshots: Int = 2): StreamingQuery = {
    require(retainSnapshots >= 1, s"retainSnapshots=$retainSnapshots must be >= 1")
    val docs = spark.readStream
      .format("text")
      .load(watchDir)
      .select(
        regexp_extract(input_file_name(), "[^/]+$", 0).as("doc_id"),
        col("value").as("text"))

    val writer = docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val session = batch.sparkSession
        val delta = InvertedIndex.build(batch, idCol = "doc_id")
        val old = currentIndex(session, indexDir)
        val merged =
          if (parityAdd) InvertedIndex.add(old, delta)
          else InvertedIndex.upsertDocs(old, delta)
        val snap = swapSnapshot(merged, indexDir, batchId, retainSnapshots)
        finalJsonPath.foreach { p =>
          // same discipline as the pointer swap: write aside, then move
          // atomically — a polling reader never sees a truncated
          // artifact, and a mid-write crash keeps the previous one
          val tmpJson = s"$p.tmp"
          InvertedIndex.exportSingleFileJson(IndexStore.storedTable(session, s"$indexDir/$snap"), tmpJson)
          ArtifactVersions.replace(session, tmpJson, p)
        }
        ()
      }
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer).start()
  }

  /** The first stage after parse — which re-crawled URLs a batch drops
    * before any content work: the identity gate ([[UrlIdentityGate]],
    * drop every re-crawl) or the change-aware one ([[RecrawlGate]],
    * drop only unchanged re-crawls). Only the identity gate can carry a
    * [[Frontier]]: its URL-key history IS the frontier's seen set. */
  sealed trait UrlGate

  /** URL-identity gate: the FIRST stage after parse —
    * [[graft.ops.Crawl.canonicalizeUrl]] keys each row's `url` field
    * (absent/NULL/non-canonical URLs always pass), rows whose key the
    * accumulated history under `dir` holds are dropped before any
    * content work, the within-batch minimum doc_id wins each canonical
    * group, and the admitted keys append as this batch's `batch_id=N`
    * partition. A re-crawled URL costs one 16-byte key — never an
    * extraction, quality score, or signature. History holds md5 keys
    * only — never URLs — and shares the semi-join compaction. */
  final case class UrlIdentityGate(dir: String, frontier: Option[Frontier] = None)
    extends UrlGate

  /** Change-aware URL gate: the RECRAWL mode of the same first stage —
    * a re-fetched URL is dropped only when its content hash matches a
    * version already ADMITTED for that URL (`(url_key, content_hash)`
    * pair membership), so changed pages flow through to re-extraction
    * and (with URL-stable doc ids) replace their stale index rows,
    * while unchanged re-fetches cost one 32-byte pair probe. Within a
    * batch one VERSION per url_key is admitted (max `content_hash`,
    * then min `doc_id` — the identity gate's single-winner discipline
    * one level up: URL-stable doc ids mean two same-batch versions
    * share a doc_id, and admitting both would merge both versions'
    * postings into one document).
    *
    * The gate's PROBE SET and the fetch LOG are separate stores with
    * different growth laws: `dir` itself is the raw append-only fetch
    * log — EVERY observed pair, every batch, provenance partitions
    * (`batch_id` = fetch time in batch units) that [[recrawlDue]]
    * derives backoff schedules from; it is exempt from compaction
    * because folding partitions would erase fetch provenance. The
    * gate's anti-join instead probes the sibling `<dir>.gate` dir
    * ([[recrawlGateDir]]) holding the DISTINCT admitted pairs only —
    * key-sized rows whose consumer is a semi-join, so it compacts
    * under [[compactHistory]] like the URL and band histories, and
    * per-batch gate cost stays FLAT as total fetches grow (the raw log
    * is never scanned by the gate; only [[recrawlDue]] — an
    * operator-invoked report, not a per-batch stage — reads it). A
    * pre-split log (no gate dir) migrates automatically: the first
    * batch folds the log's distinct pairs into the gate's initial
    * compacted generation. */
  final case class RecrawlGate(dir: String) extends UrlGate

  /** Streaming frontier under `dir`: the crawl loop's OUTPUT leg — each
    * batch extracts its admitted pages' outlinks
    * ([[graft.ops.Crawl.extractLinks]], row-local), drops targets the
    * URL-key history already holds (every page ever admitted, this
    * batch included) or an earlier frontier partition already queued,
    * and appends the remainder as a `batch_id=N` work list
    * `(url_key, link_url, link_host, n_refs, src, src_doc_id)` —
    * `src`/`src_doc_id` are the row's PROVENANCE: which discovery kind
    * named it (`link` | `sitemap`; sitemap outranks when both did) and
    * the smallest naming doc's id, so fetched URLs attribute to the
    * link page or sitemap chain that produced them. Where the batch
    * face ([[graft.ops.Crawl.crawlFrontier]]) re-derives the seen set
    * from ALL pages on every call, the stream pays one row-local
    * extraction plus two 16-byte-key anti-joins per batch — flat as
    * history grows. A fetch worker consumes a partition, feeds
    * responses back into `watchDir`, and the fetched keys land in the
    * history, closing the daily-crawl loop end to end. Pass a stored
    * [[graft.ops.Robots.robotsRules]] table as `rules` to enforce
    * politeness at QUEUE time — disallowed targets never enter the
    * work list (broadcast rule table, row-local fold). Pass stored
    * [[graft.ops.Robots.crawlDelays]] / [[graft.ops.Crawl.crawlBudget]]
    * tables as `delays` / `budgets` and each partition becomes a fetch
    * SCHEDULE: per-host rank (`pos`, bounded heap capped at
    * `perHostCap` — never a window), `fetch_offset = (pos−1)·delay`
    * seconds into the host's wave (`defaultDelay` for undeclared
    * hosts), and a per-host budget slice — the batch
    * [[graft.ops.Crawl.politeFrontier]] faces at the stream boundary,
    * so a fetch worker consumes WHEN and HOW MANY, not just WHAT. With
    * `sitemapDiscovery` the stage also SEEDS from sitemaps: an arriving
    * body matching the sitemap grammar queues its unseen locs — content
    * entries as fetch work, index entries as the child sitemaps to
    * fetch, whose bodies arrive later and queue THEIR locs in turn —
    * the [[graft.ops.Crawl.sitemapTree]] fixpoint realized
    * incrementally, with every loc riding the same history/queued
    * anti-joins, robots filter, cap and schedule as link candidates. */
  final case class Frontier(
      dir: String,
      rules: Option[DataFrame] = None,
      delays: Option[DataFrame] = None,
      budgets: Option[DataFrame] = None,
      perHostCap: Int = 100,
      defaultDelay: Double = 1.0,
      sitemapDiscovery: Boolean = false)

  /** Distribution drift under `dir`: the streaming face of
    * [[graft.ops.TextAnalysis.tokenDrift]] — each batch appends one row
    * (`batch KL/JS vs the accumulated index`, 1024 hash buckets) to
    * `dir/batch_id=N`, answering "is today's feed the same distribution
    * as the corpus so far?" numerically, per batch. Both sides are what
    * the INDEX sees: the batch side is the post-filter post-mixture
    * survivors, the history side is the pre-merge snapshot's word
    * counts read DIRECTLY from the index — the accumulated corpus is
    * never re-tokenized, so the per-batch cost is one scan of the batch
    * text plus one scan of the index's count column, and the drift row
    * is computed BEFORE the swap (it describes the feed vs the
    * published history, and the old snapshot is guaranteed alive then
    * regardless of `retainSnapshots`). Batch 0 reports drift against
    * the empty index's uniform smoothing — high by construction; alert
    * on deltas, not absolutes. `refresh` acts on the row. */
  final case class Drift(dir: String, refresh: Option[Refresh] = None)

  /** Drift ACTED ON: each batch's [[Drift]] row against the declared
    * per-artifact `thresholds` → the refresh-due decisions, recorded
    * under `dir/batch_id=N` ([[refreshDecisions]]).
    *
    * Tokenizer refresh signals (`unkVocab`): the deployed WordPiece
    * vocabulary measures each batch's ADMITTED feed per source
    * ([[graft.ops.WordPiece.unkSignals]] — one tokenize scan, native
    * greedy encode), and the resulting `tokenizer:<source>` rows join
    * the `index` rows in the SAME refresh-decision partition — so a
    * streaming deployment's tokenizer-retrain trigger is recorded by
    * the stream itself, and [[TokenizerRefresher.retrainIfDue]] acts on
    * it with no hand-assembled signal plumbing. Declare per-source
    * thresholds as `(tokenizer:<source>, unk_rate, t)` rows in
    * `thresholds`.
    *
    * Classifier drift signals (`classifierDrift`, needs the watcher's
    * `classifierGate`): the serving gate measures its OWN behavior per
    * batch — each source's drop rate
    * ([[graft.ops.Curation.classifierDriftSignals]], computed from the
    * already-staged gate input/survivor frames, no new scan) — and the
    * resulting `classifier:<source>` rows join the same
    * refresh-decision partition. This closes the FOURTH artifact
    * family's loop: a frozen weight table whose feed moved shows up as
    * a climbing drop rate, the recorded decision triggers
    * [[ClassifierRefresher.retrainIfDue]] (retrain + re-sweep + version
    * + repoint), and the next stream bootstrap resolves the new weights
    * through [[ClassifierRefresher.servingGate]]. Declare per-source
    * thresholds as `(classifier:<source>, drop_rate, t)` rows in
    * `thresholds`. */
  final case class Refresh(
      dir: String,
      thresholds: DataFrame,
      unkVocab: Option[Seq[String]] = None,
      classifierDrift: Boolean = false)

  /** Watch a directory of JSONL corpus files (the interchange format
    * large text corpora ship in) and keep the inverted index up to
    * date — the [[start]] pipeline for `{"doc_id", "text"}` lines
    * instead of file-per-document blobs.
    *
    * Corrupt-line contract at the STREAMING boundary: a crawl feed
    * WILL contain malformed lines, and a streaming job that crashes on
    * them (FAILFAST) or silently nulls them loses either availability
    * or data. Each batch splits on [[graft.sources.TextCorpus.CorruptCol]]:
    * clean rows merge into the snapshot exactly like [[start]];
    * corrupt rows APPEND their raw line (plus batch id) to
    * `quarantineDir` as parquet for inspection/replay. Rows with a
    * null doc_id (parseable JSON, missing key) are quarantined too —
    * they cannot key an upsert.
    *
    * Incremental near-dup filtering (`dedupBandsDir`): the daily-crawl
    * composition — each batch signs its clean documents and drops the
    * ones sharing a MinHash band bucket with the ACCUMULATED history
    * ([[graft.ops.Dedup.dropDuplicatesAgainst]]), then appends the
    * SURVIVORS' bands only. Survivors-only is the correct state policy
    * because the index keeps only survivors: future batches must dedup
    * against the corpus that was KEPT, and appending a dropped doc's
    * bands would widen the filter with keys of text that is not in the
    * index (a dropped doc overlaps history in at least one band bucket,
    * not necessarily all of them). The band table is the only dedup
    * state: per-batch partition dirs (`batch_id=N`, overwrite) make the
    * append replay-idempotent, and a replayed batch EXCLUDES its own
    * partition from the history read — otherwise its docs would collide
    * with their own first-attempt bands and every one would be dropped.
    * The 100 TB property: each increment scans only its own text;
    * history participates as precomputed band keys in one semi-join
    * ([[graft.ops.Dedup.dropDuplicatesAgainst]]'s plan shape).
    *
    * Within-batch duplicates: `dropDuplicatesAgainst` filters only
    * against HISTORY — two near-dup docs arriving in the SAME batch
    * both survive it (and both band-append, under different doc_ids).
    * Set `dedupWithinBatch = true` to also run
    * [[graft.ops.Dedup.dropNearDuplicates]] inside each batch (keeps
    * each intra-batch cluster's minimum doc_id). Off by default: it
    * adds a connected-components pass per batch, and a feed that is
    * already unique-per-batch shouldn't pay for it.
    *
    * Crawl-front rewrites (`htmlExtract`, `c4Rules`): the streaming
    * faces of [[graft.ops.Html.htmlToText]] and
    * [[graft.ops.TextAnalysis.c4Clean]], applied to parsed rows
    * BEFORE every content gate — a raw-crawl feed carries markup, and
    * the quality/dedup ladder is specified over prose. Extraction
    * rewrites text and never drops rows; the C4 line rules drop
    * boilerplate lines and sub-floor pages (page drops are policy,
    * like the gates — not quarantined). Both are row-local (no new
    * shuffle, no state) and deterministic, so replay idempotence is
    * inherited; `source` passes through the rewrites.
    *
    * Quality gate (`qualityGate`): the streaming face of the batch
    * curation chain's row-parallel stages ([[graft.ops.Curation]]) —
    * each batch's clean rows pass the quality rule (≥ minTokens tokens,
    * ≥ 1 English stopword hit) and the language-ID keep set BEFORE any
    * dedup state or index merge sees them. Gate-dropped docs are
    * DISCARDED, not quarantined: they are well-formed lines the policy
    * rejects, not corrupt input to replay — same semantics as the batch
    * chain, where a filtered doc simply isn't in the output. Order
    * mirrors the batch chain too: the gate runs before the near-dup
    * filter, so band state and the index only ever accumulate docs
    * that passed it (a gated doc never widens the dedup filter).
    *
    * Classifier gate (`classifierGate`): the streaming face of
    * [[graft.ops.Curation.classifierScore]] — each batch's gated rows
    * are scored against a weight table and docs with `logit < bias`
    * are discarded (policy-dropped, like the quality gate — not
    * quarantined). Training never happens on the stream: the gate
    * serves a stored model, the train/serve split
    * [[graft.ops.Curation.classifierWeights]] establishes. Runs after
    * the quality gate (cheap predicates first) and before any dedup
    * state, so bands and the index only accumulate docs the model kept.
    * Per-batch cost: one tokenize scan of the batch + a broadcast join
    * against the model-sized weight table. The gate is a provider
    * re-invoked at EVERY batch: `_ => gate` serves a frozen gate for
    * the stream's lifetime, while
    * [[ClassifierRefresher.servingGateProvider]] makes the running
    * stream pick up a mid-stream [[ClassifierRefresher.retrainIfDue]]
    * repoint at its next batch — the provider re-reads the version
    * pointer (a metadata read) and reloads weights only when it moved.
    * Gate semantics, ordering, and replay idempotence are the same
    * either way — which gate version scored a batch is decided by the
    * pointer at that batch's (re-)execution, exactly like the
    * band/index history the batch joins against.
    *
    * Decontamination (`decontamShingles` + `decontamW`): the streaming
    * face of [[graft.ops.Dedup.decontaminate]] — docs sharing a
    * w-shingle with the FROZEN eval suite ([[graft.ops.Dedup
    * .evalShingles]] output; `decontamW` must equal its build width)
    * are dropped before any dedup state sees them. Per-doc-independent
    * (membership never depends on other training docs), so running it
    * ahead of the near-dup filter changes nothing about who is
    * contaminated — and it keeps a contaminated arrival from ever
    * widening the band filter: a later non-leaking near-duplicate of a
    * contaminated doc SHOULD survive, since the contaminated text never
    * reached the index. (The batch chain orders dedup first, where the
    * whole corpus is present at once and the kept manifest is the only
    * output; at the stream boundary the band-state policy — "bands
    * describe exactly the indexed corpus" — dominates.) Per-batch cost:
    * one shingle pass over the batch + one semi-join against the
    * precomputed eval shingles.
    *
    * Mixture sampling (`mixtureGate`): each batch's post-dedup
    * survivors are downsampled per source, at fixed or adaptive rates
    * — see [[graft.ops.Sampling.MixturePolicy]].
    *
    * Substring-level strip (`spanHistoryDir`): the streaming face of
    * [[graft.ops.Dedup.stripDuplicateSpansAgainst]] — regions the
    * accumulated anchor history has already seen (default k=24,
    * modP=8, gap=64; size modP with
    * [[graft.ops.Dedup.recommendModP]] on a batch sample rather than
    * guessing — short-span recall is corpus-dependent) are CUT OUT of
    * each batch's admitted docs before
    * indexing; the stripped survivors' own [[graft.ops.Dedup
    * .anchorSites]] append as this batch's `batch_id=N` partition
    * (post-strip, so an already-seen region is stored exactly once;
    * replay excludes the batch's own first attempt, the band-table
    * discipline). Runs LAST — after whole-doc dedup (which still
    * compares RAW text: bands describe admitted docs' original bytes,
    * exactly what a future raw arrival looks like) and after mixture
    * (rewrite only what is admitted). Doc counts are unchanged (it
    * rewrites, never drops), so the funnel needs no extra stage.
    * Within-batch self-repeats are [[graft.ops.Dedup.duplicateSpans]]'
    * job — compose it upstream if an increment can self-duplicate.
    *
    * Paragraph-level strip (`paraHistoryDir`): the same discipline one
    * granularity up — paragraphs (split at `paraBoundary`, default
    * `\n+` = line groups) whose NORMALIZED hash the accumulated
    * [[graft.ops.Dedup.paragraphHashes]] history holds are CUT from
    * each batch's admitted docs ([[graft.ops.Dedup
    * .stripParagraphsAgainst]]); the stripped survivors' own hashes
    * append as this batch's partition. Runs BEFORE the substring
    * strip (coarser unit first); both stages compose. History holds
    * 32-byte hashes only — never text.
    *
    * Sentence-span strip (`sentenceSpanHistoryDir`): C4's published
    * three-sentence rule as a streaming stage
    * ([[graft.ops.Dedup.stripSentenceSpansWithHashes]]) — sentences
    * covered by a span the accumulated
    * [[graft.ops.Dedup.sentenceSpanHashes]] history holds are CUT;
    * the survivors' own span keys append as this batch's partition.
    * Runs BETWEEN the paragraph and substring strips (the granularity
    * ladder coarse → fine); survivors rejoin with `". "` so the units
    * re-split identically next batch. All three strip histories hold
    * keys only — never text — and share the semi-join compaction.
    *
    * URL gate (`urlGate`): the FIRST stage after parse, dropping
    * re-crawled URLs before any content work — by identity
    * ([[UrlIdentityGate]], which may also queue the batch's outlinks
    * as a streaming [[Frontier]]) or by content change
    * ([[RecrawlGate]]).
    *
    * Positional snapshots (`positional`): the maintained index is
    * [[graft.index.InvertedIndex.buildPositional]]'s `(word, doc_id,
    * positions, cnt)` instead of the flat counts, so
    * [[graft.index.InvertedIndex.phraseSearch]] (and the served
    * [[graft.index.IndexStore.phraseSearch]], after a partitioned
    * save) answer phrase queries straight off `currentIndex` — an
    * incrementally-maintained phrase-searchable index. Upsert
    * semantics need no column arithmetic (replace-by-doc), so the
    * merge path is shared with the flat shape. Opt-in: each posting
    * row carries its positions list, so snapshots are larger and
    * per-batch merge writes proportionally more — pay it only when
    * phrase queries are the point.
    *
    * Per-batch funnel metrics (`metricsDir`): the streaming face of
    * [[graft.ops.Curation.funnel]] — each batch appends one row per
    * pipeline stage (`ingest, parsed, url_dedup, html_text, c4_lines,
    * quality_gate, classifier, decontaminated, dedup_history,
    * dedup_within, mixture, indexed` — surviving doc counts — plus
    * `frontier`, the batch's EMITTED frontier-URL count, 0 when the
    * stage is off) to
    * `metricsDir/batch_id=N`, the observability a production feed
    * needs ("batch 412 dropped 80% at the gate" is an incident; a
    * silent filter is not). Disabled stages report their input count
    * unchanged, so the schema is stable across configurations. Same
    * per-batch-overwrite replay idempotence as the quarantine; written
    * AFTER the snapshot swap so metrics never describe an unpublished
    * index. Opt-in because each stage count is an extra action over
    * that stage's (unmaterialized) frame — the micro-batch is re-read
    * once per enabled stage, acceptable for batch-sized increments but
    * not free.
    *
    * Distribution drift (`drift`): one KL/JS row per batch against the
    * accumulated index ([[Drift]]), optionally acted on as
    * refresh-due decisions for the index, tokenizer and classifier
    * ([[Refresh]]).
    *
    * Doc store (`docStoreDir`): the admitted corpus TEXT, exactly as
    * indexed (post-strip), appended per batch — the one serving
    * artifact the index cannot provide (snippets need text). With
    * `positional` on, the pair (index snapshot → [[graft.index
    * .IndexStore.saveSearchPageStoreFromIndex]], [[docStore]] →
    * `docsPath`) is EVERYTHING [[graft.index.IndexStore.searchPage]]
    * serves from: the stream maintains the complete served search
    * page. Per-batch overwrite replay idempotence; re-uploads resolve
    * latest-batch-wins at read ([[docStore]]), mirroring the index's
    * upsert. Text is stored once per admitted version — this is a
    * corpus-sized artifact by design (it IS the corpus), not a
    * key-history; exempt from [[compactHistory]] (folding would drop
    * the batch provenance the upsert reader resolves by).
    */
  def startJsonl(
      spark: SparkSession,
      watchDir: String,
      indexDir: String,
      checkpointDir: String,
      quarantineDir: String,
      availableNow: Boolean = true,
      retainSnapshots: Int = 2,
      dedupBandsDir: Option[String] = None,
      dedupWithinBatch: Boolean = false,
      qualityGate: Option[graft.ops.Curation.QualityGate] = None,
      classifierGate: Option[SparkSession => graft.ops.Curation.ClassifierGate] = None,
      decontamShingles: Option[DataFrame] = None,
      decontamW: Int = 3,
      mixtureGate: Option[graft.ops.Sampling.MixturePolicy] = None,
      paraHistoryDir: Option[String] = None,
      paraBoundary: String = "\\n+",
      compactEvery: Option[Int] = None,
      sentenceSpanHistoryDir: Option[String] = None,
      spanHistoryDir: Option[String] = None,
      positional: Boolean = false,
      metricsDir: Option[String] = None,
      drift: Option[Drift] = None,
      unicodeTokens: Boolean = false,
      htmlExtract: Boolean = false,
      c4Rules: Boolean = false,
      urlGate: Option[UrlGate] = None,
      distinctDir: Option[String] = None,
      lengthDir: Option[String] = None,
      honorDirectives: Boolean = false,
      docStoreDir: Option[String] = None): StreamingQuery = {
    import graft.ops.Sampling.{AdaptiveMixtureGate, MixtureGate}
    val frontier = urlGate.collect { case UrlIdentityGate(ud, Some(f)) => (ud, f) }
    val adaptiveGate = mixtureGate.collect { case g: AdaptiveMixtureGate => g }
    require(retainSnapshots >= 1, s"retainSnapshots=$retainSnapshots must be >= 1")
    compactEvery.foreach(n => require(n >= 1, s"compactEvery=$n must be >= 1"))
    frontier.foreach { case (_, f) =>
      require(f.perHostCap >= 1, s"frontier perHostCap=${f.perHostCap} must be >= 1")
      require(f.defaultDelay >= 0, s"frontier defaultDelay=${f.defaultDelay} must be >= 0")
    }
    require(!drift.flatMap(_.refresh).exists(_.classifierDrift) || classifierGate.isDefined,
      "classifierDrift measures the classifier gate's per-source drop rates " +
        "into refresh decisions: pass classifierGate with it")
    // the multilingual dial ([[graft.core.TextNorm.tokensUnicode]]):
    // switches every CONTENT-KEYED stage — band signatures (history +
    // within-batch + append), decontamination shingles, paragraph
    // hashes, the adaptive gate's token counts — so non-Latin arrivals
    // stop hashing to nothing and silently passing every gate. The
    // quality/classifier gates keep their own (stopword-family) token
    // semantics, and the index/drift artifacts keep §2 ASCII parity.
    // A history dir written under one setting must be served under the
    // same setting (hashes are tokenizer-dependent).
    val tok: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      if (unicodeTokens) graft.core.TextNorm.tokensUnicode else graft.core.TextNorm.tokens
    val C = graft.sources.TextCorpus.CorruptCol
    val docs = spark.readStream
      .format("json")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", C)
      .schema(s"doc_id BIGINT, text STRING, source STRING, url STRING, $C STRING")
      .load(watchDir)
    val writer = docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val session = batch.sparkSession
        // Per-batch stage ledger. Every enabled stage below is
        // REFERENCED 2-3x by its consumers (a gate's semi-join, a
        // dedup filter's bands side + anti-join side, the band append +
        // index merge) — without a materialization point those
        // references multiply: by the dedup stage the plan tree holds
        // ~12 copies of the parse+gate chain, and a 50k-doc batch pays
        // the tokenizer twelve times (the round-11 stream probe caught
        // it). The batch chain's "re-derive, don't cache text" argument
        // (Curation.curate) is a 100 TB-corpus tradeoff; a micro-batch
        // is batch-sized by definition, so materializing each stage
        // once per batch is the right side of that tradeoff here.
        //
        // EAGER localCheckpoint, NOT persist — the choice is about the
        // PRINTED plan, not execution: persist dedupes execution but
        // every InMemoryTableScan reference re-prints its full cached
        // lineage (innerChildren), so a 16-stage chain whose stages
        // branch 2-3x yields a plan STRING exponential in depth — and
        // Spark stringifies the plan per action for UI listener events
        // (and per AQE replan) even with the UI disabled. The r15
        // probe measured multi-minute single-thread explainString
        // stalls per batch. localCheckpoint cuts lineage at a
        // LogicalRDD leaf: every downstream action's plan is one stage
        // deep, printing is trivially linear, and the eager job per
        // stage costs what persist's first consumer paid anyway.
        // Blocks release via the ContextCleaner once the batch's
        // frames go unreferenced (the LocalCheckpoint lifecycle note
        // in graft.core.Materialize).
        // `eq`-guarded so a disabled stage (frame aliases its input)
        // is never double-checkpointed and re-staging a staged frame
        // is a no-op.
        val stagedFrames =
          scala.collection.mutable.ArrayBuffer.empty[(DataFrame, DataFrame)]
        def staged(df: DataFrame): DataFrame =
          stagedFrames.find(e => (e._1 eq df) || (e._2 eq df)).map(_._2)
            .getOrElse {
              val cp = df.localCheckpoint()
              stagedFrames += ((df, cp))
              cp
            }
        // quarantine: corrupt lines keep their raw text; null-doc_id
        // rows are reconstructed to a JSON line (they parsed — the raw
        // line is not retained by the reader for them)
        val bad = batch.filter(col(C).isNotNull || col("doc_id").isNull)
          .select(
            coalesce(col(C),
              to_json(struct(col("doc_id"), col("text"), col("source"),
                col("url")))).as("raw"))
        // per-batch dir + overwrite = replay-idempotent (a batch that
        // fails after this write and reruns overwrites the same path
        // instead of appending duplicates); the partition-style name
        // surfaces batch_id as a column when reading the parent dir
        bad.write.mode("overwrite").parquet(s"$quarantineDir/batch_id=$batchId")
        val parsed0 = batch.filter(col(C).isNull && col("doc_id").isNotNull)
          .select(col("doc_id").cast("string").as("doc_id"), col("text"),
            col("source"), col("url"))
        // URL-identity gate FIRST — it is the cheapest dedup a crawl
        // has (a 16-byte key per row, no content signature), so a
        // re-crawled URL never reaches the extract/quality/signature
        // ladder at all. Same append-only batch_id=N history
        // discipline as the band/anchor tables (replay-idempotent:
        // the history read excludes the replayed batch's own
        // first-attempt partition, the append overwrites it); rows
        // whose URL does not canonicalize (or feeds without a url
        // field at all — the column parses NULL) always pass. Within
        // the batch the minimum doc_id (string order — ids are opaque
        // here) wins its canonical-URL group, deterministically.
        val parsed1 = urlGate match {
          case Some(RecrawlGate(rd)) =>
            // Change-aware URL gate (`RecrawlGate`): where the identity
            // gate drops EVERY re-crawl, this one drops a re-crawl only
            // when it brings nothing new — the gate probes the ADMITTED
            // `(url_key, content_hash)` pair set (an unchanged re-fetch
            // dies against its own pair, a changed page passes — new
            // pair — and a page that later reverts to old content dies
            // again: that pair was processed). Pair-set membership keeps
            // the append-only key-history discipline — no per-key
            // latest-version bookkeeping. The probe set lives in the
            // compactable sibling gate dir; the raw fetch LOG (every
            // observation, per-batch provenance for [[recrawlDue]])
            // stays in the log dir `rd` and is never scanned here — the
            // split that keeps per-batch gate cost flat as total fetches
            // grow. If the feed keys doc_id by URL, the index upsert
            // REPLACES the stale version on change — the freshness loop
            // closed end to end.
            val gd = recrawlGateDir(rd)
            ensureCanonVersion(session, rd)
            // one-time migration for pre-split dirs: fold the existing
            // log's distinct pairs into the gate's initial compacted
            // generation (idempotent: skipped once the gate dir exists;
            // the replayed batch's own first-attempt log partition is
            // excluded, the accumulated-read rule)
            seedRecrawlGate(session, rd, gd, excludeBatchId = batchId)
            val keyed = staged(parsed0
              .withColumn("url_key", md5(graft.ops.Crawl.canonicalizeUrl(col("url"))))
              .withColumn("content_hash", md5(coalesce(col("text"), lit("")))))
            val freshVsHist =
              accumulatedPartitions(session, gd, excludeBatchId = batchId) match {
                case Some(h) =>
                  keyed.join(h.select("url_key", "content_hash"),
                    Seq("url_key", "content_hash"), "left_anti")
                case None => keyed
              }
            // one VERSION per url_key in-batch (max content_hash — a
            // URL-stable feed gives same-batch versions the SAME doc_id,
            // so pair-level winners alone would merge both versions'
            // postings into one document), then the min-doc_id winner
            // within the surviving version — the identity gate's
            // deterministic single-winner discipline
            val ver = freshVsHist.where(col("url_key").isNotNull)
              .groupBy("url_key").agg(max(col("content_hash")).as("_rc_ver"))
            val versioned = freshVsHist
              .join(ver, Seq("url_key"), "left")
              .where(col("url_key").isNull || col("content_hash") === col("_rc_ver"))
            val winners = versioned.where(col("url_key").isNotNull)
              .groupBy("url_key").agg(min(col("doc_id")).as("_rc_winner"))
            val kept = staged(versioned
              .join(winners, Seq("url_key"), "left")
              .where(col("url_key").isNull || col("doc_id") === col("_rc_winner"))
              .drop("_rc_ver", "_rc_winner"))
            // the LOG partition records every pair OBSERVED this batch
            // (from `keyed`, not `kept`): an unchanged re-fetch must
            // still appear in the fetch log — it is exactly the
            // observation the backoff counts
            keyed.where(col("url_key").isNotNull)
              .select("url_key", "content_hash").distinct()
              .write.mode("overwrite").parquet(s"$rd/batch_id=$batchId")
            // the GATE partition records only the ADMITTED pairs — the
            // set future anti-joins must hit (a version that lost the
            // within-batch race was never indexed, so a later re-fetch
            // of it must pass); distinct key-sized rows, compactable
            kept.where(col("url_key").isNotNull)
              .select("url_key", "content_hash").distinct()
              .write.mode("overwrite").parquet(s"$gd/batch_id=$batchId")
            kept.drop("url_key", "content_hash", "url")
          case Some(UrlIdentityGate(ud, f)) =>
            ensureCanonVersion(session, ud)
            // `url` survives the gate when the frontier stage (below)
            // still needs it as the link-resolution origin
            val keyed = staged {
              val k = parsed0.withColumn("url_key",
                md5(graft.ops.Crawl.canonicalizeUrl(col("url"))))
              if (f.isDefined) k else k.drop("url")
            }
            val freshVsHist =
              accumulatedPartitions(session, ud, excludeBatchId = batchId) match {
                case Some(h) =>
                  keyed.join(h.select("url_key"), Seq("url_key"), "left_anti")
                case None => keyed
              }
            val winners = freshVsHist.where(col("url_key").isNotNull)
              .groupBy("url_key").agg(min(col("doc_id")).as("_url_winner"))
            val kept = staged(freshVsHist
              .join(winners, Seq("url_key"), "left")
              .where(col("url_key").isNull || col("doc_id") === col("_url_winner"))
              .drop("_url_winner"))
            // post-gate keys append (a key is stored once, by its
            // first-admitted batch), replay-idempotent overwrite
            kept.where(col("url_key").isNotNull).select("url_key").distinct()
              .write.mode("overwrite").parquet(s"$ud/batch_id=$batchId")
            kept.drop("url_key")
          case None => parsed0.drop("url")
        }
        // Streaming frontier ([[Frontier]]): the daily-crawl loop's
        // OUTPUT leg — each batch's outlink targets that are neither
        // in the URL-key history (every page ever admitted, THIS
        // batch's partition included — it was appended just above)
        // nor already queued by an earlier frontier partition,
        // accumulate append-only as `batch_id=N` work lists of
        // `(url_key, link_url, link_host, n_refs, src, src_doc_id)`.
        // Per-batch cost is
        // one row-local link extraction over the batch plus two
        // anti-joins on 16-byte keys — FLAT as history grows (the
        // batch frontier re-derives the seen set from ALL pages every
        // call; here the stream already maintains it). Replay excludes
        // the batch's own first-attempt partition and overwrites it.
        // Consumers fetch a partition, feed the responses back into
        // `watchDir`, and the fetched URLs' keys land in the history —
        // a stale queued row then costs its anti-join key and nothing
        // more (re-check against the history at fetch time for
        // exactly-once fetching). Compaction folds frontier partitions
        // like every other history.
        // in-page REP directives (`honorDirectives`): noindex excludes
        // a fetched page from the INDEX build (its outlinks still
        // queue — noindex governs indexing, not discovery); nofollow
        // keeps the page but drops its outlinks from the frontier.
        // FLAGS-ONLY extraction (pageDirectiveFlags — the full
        // directive row also canonicalizes URLs and resolves the
        // canonical link, dead work this gate never reads), once from
        // the raw markup (pre-htmlExtract — the extractor strips the
        // tags the directives live in); staged because both consumers
        // semi-join it.
        val directiveFlags =
          if (!honorDirectives) None
          else Some(staged(graft.ops.Crawl.pageDirectiveFlags(parsed1)))
        var frontierF: Option[DataFrame] = None
        val parsed = frontier match {
          case None => parsed1
          case Some((ud, f)) =>
            val fd = f.dir
            ensureCanonVersion(session, fd)
            val linkSrc = directiveFlags match {
              case None => parsed1
              case Some(f) => parsed1.join(
                f.where(col("nofollow")).select("doc_id"), Seq("doc_id"), "left_anti")
            }
            val links = graft.ops.Crawl.extractLinks(linkSrc)
            // every candidate carries PROVENANCE: which kind of
            // discovery named it (src: link | sitemap) and the naming
            // doc's id — so a fetched URL is attributable to the link
            // page or the sitemap CHAIN that produced it (the batch
            // [[graft.ops.Crawl.sitemapTree]] columns, realized
            // incrementally: a child sitemap's row points at the index
            // doc that named it, its locs' rows point at the child)
            val linkCands = links.where(col("link_url").isNotNull)
              .select(md5(col("link_url")).as("url_key"),
                col("link_url"), col("link_host"),
                lit("link").as("src"), col("doc_id").as("src_doc_id"))
            // sitemap DISCOVERY (`f.sitemapDiscovery`): an arriving
            // sitemap body queues its unseen locs — content entries
            // as fetch work, index entries as the CHILD SITEMAPS to
            // fetch, whose bodies arrive in a later batch and queue
            // THEIR locs in turn: the [[graft.ops.Crawl.sitemapTree]]
            // fixpoint realized incrementally by the stream itself.
            // Detection is one row-local rlike against the STRICT
            // root-element pattern — a prose page merely quoting
            // '<urlset' is not a sitemap and must not queue its <loc>
            // decoys; locs then ride the same history/queued
            // anti-joins, per-host cap, robots filter and scheduling
            // every other candidate pays.
            val cands0 =
              if (!f.sitemapDiscovery) linkCands
              else linkCands.unionByName(
                graft.ops.Crawl.sitemapUrls(
                  parsed1.where(coalesce(col("text"), lit(""))
                    .rlike(graft.ops.Crawl.SitemapDocStrictPat)))
                  .where(col("url").isNotNull)
                  .select(md5(col("url")).as("url_key"),
                    col("url").as("link_url"), col("host").as("link_host"),
                    lit("sitemap").as("src"), col("doc_id").as("src_doc_id")))
            // politeness at QUEUE time (`f.rules`): a stored
            // robotsRules table filters candidates BEFORE they cost a
            // history probe or a queue slot — a disallowed URL should
            // never be scheduled, not merely skipped at fetch time.
            // Broadcast host-sized rule table, row-local HOF fold
            // (the Robots stance); rows pass 1:1
            val cands = f.rules match {
              case None => cands0
              case Some(r) => graft.ops.Robots.allowedOnly(cands0, r)
            }
            val unseen = accumulatedPartitions(
              session, ud, excludeBatchId = Long.MinValue) match {
              case Some(h) => cands.join(h.select("url_key"), Seq("url_key"), "left_anti")
              case None => cands
            }
            val fresh = accumulatedPartitions(session, fd, excludeBatchId = batchId) match {
              case Some(q) => unseen.join(q.select("url_key"), Seq("url_key"), "left_anti")
              case None => unseen
            }
            // one queued row per target, provenance folded: a URL
            // named by BOTH a link and a sitemap tags 'sitemap' (the
            // declared-by-the-host signal outranks incidental links),
            // src_doc_id = the smallest naming doc of the winning kind
            // — deterministic under replay
            val grouped = staged(fresh
              .groupBy(col("url_key"), col("link_url"), col("link_host"))
              .agg(count(lit(1)).as("n_refs"),
                min(when(col("src") === "sitemap", col("src_doc_id"))).as("_sm"),
                min(when(col("src") === "link", col("src_doc_id"))).as("_ln"))
              .select(col("url_key"), col("link_url"), col("link_host"),
                col("n_refs"),
                when(col("_sm").isNotNull, "sitemap").otherwise("link").as("src"),
                coalesce(col("_sm"), col("_ln")).as("src_doc_id")))
            // fetch SCHEDULING (`f.delays` / `f.budgets`):
            // the work list carries WHEN and HOW MANY, not just WHAT —
            // per-host rank via the bounded heap (never a window, the
            // topPerHost argument), `fetch_offset = (pos−1)·delay`
            // seconds into the host's wave from the stored
            // Robots.crawlDelays table, and an optional per-host
            // budget slice from a stored crawlBudget table — the
            // batch politeFrontier faces at the stream boundary, so a
            // consumer never re-implements politeness. Candidates
            // beyond the cap/budget are NOT queued and NOT remembered:
            // still-linked pages re-candidate next batch.
            val out = if (f.delays.isEmpty && f.budgets.isEmpty) grouped
            else {
              // the bounded-heap cap re-derives rows from (host, url);
              // provenance rejoins from the staged grouped table on
              // url_key (one row per key — batch-sized, AQE-broadcast)
              val capped = grouped
                .groupBy(col("link_host"))
                .agg(graft.functions.TopKByScore.topK(
                  col("n_refs"), col("link_url"), f.perHostCap).as("_tk"))
                .select(col("link_host"),
                  posexplode(col("_tk")).as(Seq("_p", "_e")))
                .select(md5(col("_e.id")).as("url_key"),
                  col("_e.id").as("link_url"), col("link_host"),
                  col("_e.score").as("n_refs"), (col("_p") + 1).as("pos"))
                .join(grouped.select(col("url_key"), col("src"), col("src_doc_id")),
                  Seq("url_key"))
              val withDelay = f.delays match {
                case Some(d) => capped.join(
                  broadcast(d.select(col("host").as("link_host"), col("crawl_delay"))),
                  Seq("link_host"), "left")
                case None => capped.withColumn("crawl_delay", lit(null).cast("double"))
              }
              val withOffset = withDelay.withColumn("fetch_offset",
                (col("pos") - 1).cast("double") *
                  coalesce(col("crawl_delay"), lit(f.defaultDelay)))
              val sliced = f.budgets match {
                case Some(b) => withOffset
                  .join(broadcast(b.select(col("node").as("link_host"), col("fetch_budget"))),
                    Seq("link_host"), "left")
                  .where(col("pos") <= coalesce(col("fetch_budget"),
                    lit(f.perHostCap.toLong)))
                  .drop("fetch_budget")
                case None => withOffset
              }
              staged(sliced.select(col("url_key"), col("link_url"), col("link_host"),
                col("n_refs"), col("src"), col("src_doc_id"),
                col("pos"), col("crawl_delay"), col("fetch_offset")))
            }
            out.write.mode("overwrite").parquet(s"$fd/batch_id=$batchId")
            frontierF = Some(out)
            parsed1.drop("url")
        }
        // crawl-front stages, BEFORE every content gate: a raw-markup
        // feed first extracts prose (row-local), then applies C4's
        // line rules (row-local, drops boilerplate lines + sub-floor
        // pages) — so the quality/dedup ladder sees what it was
        // designed for. Both rewrite faces pass `source` through.
        // the INDEX gate half of the directives: noindex losers leave
        // the content ladder here — AFTER the frontier stage above, so
        // their outlinks were already queued
        val indexable = directiveFlags match {
          case None => parsed
          case Some(f) => staged(parsed.join(
            f.where(col("noindex")).select("doc_id"), Seq("doc_id"), "left_anti"))
        }
        val pages =
          if (!htmlExtract) indexable
          else staged(graft.ops.Html.htmlToText(indexable))
        val prose =
          if (!c4Rules) pages
          // the line rules follow the session's tokenizer dial: under
          // unicodeTokens the terminal set/word floor/sentence floor
          // go multilingual, or a CJK feed would empty at this stage
          else staged(graft.ops.TextAnalysis.c4Clean(pages,
            unicode = unicodeTokens))
        val clean = qualityGate match {
          case None => prose
          case Some(g) => staged(graft.ops.Curation.applyGate(prose, g,
            // the adaptive gate's stats publish needs per-doc token
            // counts — ride the gate's tokenize pass instead of
            // paying a second one at stats time
            keepTokenCount = adaptiveGate.nonEmpty))
        }
        // model gate after the cheap predicate gate: score against the
        // frozen weight table, keep where logit >= the gate's bias —
        // scalar, or per-group operating points when the gate carries
        // groupBiases (the SAME keptIds implementation the batch chain
        // routes through, so stream and chain can never disagree)
        // a provider re-resolves the serving gate THIS batch (the live
        // drift-loop seam); a frozen gate serves as passed
        val batchGate = classifierGate.map(_(session))
        val scored = batchGate match {
          case None => clean
          case Some(g) =>
            staged(clean.join(g.keptIds(clean), Seq("doc_id"), "left_semi"))
        }
        // decontaminate BEFORE dedup state (see scaladoc: band-state
        // policy — a contaminated doc must not widen the filter)
        val uncontaminated = decontamShingles match {
          case None => scored
          case Some(es) =>
            staged(scored.join(
              graft.ops.Dedup.contaminatedIdsAgainst(scored, es, decontamW, tok),
              Seq("doc_id"), "left_anti"))
        }
        // history filter first, then within-batch (the order
        // dropDuplicatesAgainst's contract documents): a doc that
        // near-dups history is gone either way; the intra-batch pass
        // then keeps each remaining cluster's minimum doc_id.
        // With a band history on, the batch signs itself ONCE: the
        // staged band table feeds the history semi-join, the
        // within-batch pair graph, and the band append (a doc's
        // signature depends only on its own text, so an id-subset of
        // the band table IS that subset's band table) — the r12 stream
        // paid the tokenize+minhash scan up to three times here.
        // the two intermediate dedup frames, surfaced for the metrics
        // block's per-stage counts
        var afterHistoryF: DataFrame = uncontaminated
        var dedupedF: DataFrame = uncontaminated
        val kept = dedupBandsDir match {
          case None =>
            dedupedF =
              if (dedupWithinBatch)
                staged(graft.ops.Dedup.dropNearDuplicates(uncontaminated, tok = tok))
              else uncontaminated
            dedupedF
          case Some(bd) =>
            val bands0 = staged(graft.ops.Dedup.minhashBands(uncontaminated, tok = tok))
            val afterHistory = accumulatedPartitions(session, bd, excludeBatchId = batchId)
              .map(h => staged(
                graft.ops.Dedup.dropDuplicatesAgainstBands(uncontaminated, bands0, h)))
              .getOrElse(uncontaminated)
            afterHistoryF = afterHistory
            val deduped =
              if (dedupWithinBatch) {
                val bandsAfter =
                  if (afterHistory eq uncontaminated) bands0
                  else bands0.join(afterHistory.select("doc_id"), Seq("doc_id"), "left_semi")
                staged(afterHistory.join(
                  graft.ops.Dedup.nearDupLosersFromBands(bandsAfter),
                  Seq("doc_id"), "left_anti"))
              } else afterHistory
            dedupedF = deduped
            // survivors feed two actions (band append + index merge):
            // staged so the filter joins run once (eq-guard makes this
            // a no-op when the within-batch pass already persisted it)
            val survivors = staged(deduped)
            bands0.join(survivors.select("doc_id"), Seq("doc_id"), "left_semi")
              .write.mode("overwrite").parquet(s"$bd/batch_id=$batchId")
            survivors
        }
        // mixture AFTER the band append (see scaladoc: the dedup
        // candidate set is the post-gate corpus, mixture is admission
        // policy on top) — content-independent, so no state beyond the
        // adaptive gate's accumulated per-source token table
        val admitted = mixtureGate match {
          case Some(g: MixtureGate) =>
            graft.ops.Sampling.mixture(kept, "source", "doc_id", g.rates, g.defaultRate)
          case Some(g: AdaptiveMixtureGate) =>
            // 0. finish any interrupted stats compaction BEFORE reading
            //    or writing the table (one marker existence probe — the
            //    guarantee that no read here ever sees the crash state)
            recoverStats(session, g.statsDir)
            // 1. publish this batch's pre-mixture per-source stats.
            //    Computed BEFORE admission from the post-dedup stream,
            //    so they are a pure function of batch content: a
            //    replay overwrites identical rows, then reads the
            //    identical accumulated table — idempotent without the
            //    exclude-own-batch dance the band table needs.
            val keptStats = staged(kept)
            // token counts: reuse the quality gate's n_tok column when
            // it rode along (one tokenize pass per batch, not two);
            // identical by construction (n_tok = size(tokens(text)))
            val nTok =
              if (!unicodeTokens && keptStats.columns.contains("n_tok"))
                col("n_tok").cast("long") // the gate's ASCII tokenize pass
              else size(tok(col("text"))).cast("long")
            keptStats.groupBy("source")
              .agg(count(lit(1)).as("n_docs"), sum(nTok).as("n_tokens"))
              .coalesce(1)
              .write.mode("overwrite").parquet(s"${g.statsDir}/batch_id=$batchId")
            // 2. policy rates (temperature or UniMax budget) from the
            //    ACCUMULATED token mass (source-vocabulary-sized at
            //    any corpus scale)
            val acc = session.read.parquet(g.statsDir)
              .where(col("source").isNotNull)
              .groupBy("source").agg(sum("n_tokens").as("n_tokens"))
              .where(col("n_tokens") > 0)
            val rates = g.ratesFrom(acc)
            // 3. the same md5-bucket admission predicate as mixture():
            //    thresholds truncate to integer basis points exactly
            //    like mixtureKeep's `(r * 10000).toInt`, so the stream
            //    and the batch op admit identical sets at identical
            //    rates (floor ≡ toInt for the non-negative rates here);
            //    null/unseen sources fall to defaultRate
            val b = conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
              .cast("long") % 10000
            keptStats.join(broadcast(rates), Seq("source"), "left")
              .filter(b < floor(coalesce(col("rate"), lit(g.defaultRate)) * 10000))
              .select(keptStats.columns.map(col): _*)
          case None => kept
        }
        // substring-level strip LAST (rewrite only what is admitted):
        // regions the accumulated anchor history has seen are cut out;
        // the stripped survivors' OWN anchors append as this batch's
        // partition (post-strip, so already-seen regions are stored
        // once). Whole-doc dedup above still compares in RAW text
        // space — bands describe admitted docs' original text, exactly
        // what future raw arrivals look like.
        // paragraph-level strip BEFORE the substring strip (coarser
        // unit first): paragraphs the accumulated hash history has
        // seen are cut; the stripped survivors' OWN paragraph hashes
        // append as this batch's partition (post-strip, so a paragraph
        // is stored exactly once) — the span-history discipline one
        // granularity up
        val paraContent = paraHistoryDir match {
          case None => admitted
          case Some(pd) =>
            accumulatedPartitions(session, pd, excludeBatchId = batchId) match {
              case Some(h) =>
                // ONE paragraph scan for strip + history append (the
                // fused op): re-deriving survivor hashes from the
                // stripped text paid the per-paragraph normalize+md5
                // pass twice per batch — the round-12 stream's
                // dominant added cost
                val (strippedRaw, newHashes) =
                  graft.ops.Dedup.stripParagraphsWithHashes(admitted, h, paraBoundary,
                    unicode = unicodeTokens)
                val stripped = staged(strippedRaw.select(col("doc_id"), col("text")))
                newHashes.write.mode("overwrite").parquet(s"$pd/batch_id=$batchId")
                stripped
              case None =>
                val stripped = staged(admitted.select(col("doc_id"), col("text")))
                graft.ops.Dedup.paragraphHashes(stripped, paraBoundary,
                    unicode = unicodeTokens)
                  .write.mode("overwrite").parquet(s"$pd/batch_id=$batchId")
                stripped
            }
        }
        // C4's three-sentence-span rule between the paragraph and
        // substring strips (coarse -> fine); fused strip + key append
        // (untouched docs reuse their occurrence rows, only REWRITTEN
        // docs re-scan). Internally materialized -- not staged again.
        val sentenceContent = sentenceSpanHistoryDir match {
          case None => paraContent
          case Some(cd) =>
            accumulatedPartitions(session, cd, excludeBatchId = batchId) match {
              case Some(h) =>
                val (strippedRaw, newKeys) =
                  graft.ops.Dedup.stripSentenceSpansWithHashes(paraContent, h,
                    unicode = unicodeTokens)
                val stripped = strippedRaw.select(col("doc_id"), col("text"))
                newKeys.write.mode("overwrite").parquet(s"$cd/batch_id=$batchId")
                stripped
              case None =>
                val stripped = staged(paraContent.select(col("doc_id"), col("text")))
                graft.ops.Dedup.sentenceSpanHashes(stripped, unicode = unicodeTokens)
                  .write.mode("overwrite").parquet(s"$cd/batch_id=$batchId")
                stripped
            }
        }
        val content = spanHistoryDir match {
          case None => sentenceContent
          case Some(sd) =>
            accumulatedPartitions(session, sd, excludeBatchId = batchId) match {
              case Some(h) =>
                // fused strip + anchor append: one per-char-md5 scan
                // plus a rescan of only the REWRITTEN docs, instead of
                // two full scans (the paragraph-stage fusion at
                // substring granularity). NOT staged: the fused op
                // already materializes the stripped frame internally
                // (its rescan branch reads it), so a persist here would
                // store the batch text twice; downstream consumers read
                // the checkpoint blocks, which the ContextCleaner
                // reclaims after the batch like every op-internal
                // materialization
                val (strippedRaw, newAnchors) =
                  graft.ops.Dedup.stripDuplicateSpansWithAnchors(sentenceContent, h)
                val stripped = strippedRaw.select(col("doc_id"), col("text"))
                newAnchors.write.mode("overwrite").parquet(s"$sd/batch_id=$batchId")
                stripped
              case None =>
                val stripped = staged(sentenceContent.select(col("doc_id"), col("text")))
                graft.ops.Dedup.anchorSites(stripped)
                  .write.mode("overwrite").parquet(s"$sd/batch_id=$batchId")
                stripped
            }
        }
        val old = currentIndex(session, indexDir, positional)
        drift.foreach { case Drift(dd, refresh) =>
          // history side straight from the index's (word, cnt) — the
          // accumulated corpus is never re-tokenized; written before
          // the swap, while the old snapshot is guaranteed on disk
          val buckets = 1024
          val histCounts = old
            .select(graft.ops.TextAnalysis.bucketOf(col("word"), buckets).as("b"),
              col("cnt"))
            .groupBy("b").agg(sum("cnt").as("c"))
          graft.ops.TextAnalysis.driftFromCounts(
            graft.ops.TextAnalysis.bucketCounts(content, buckets),
            histCounts, buckets, session)
            .coalesce(1).write.mode("overwrite").parquet(s"$dd/batch_id=$batchId")
          // drift ACTED ON (`refresh`): the batch's divergence row
          // against declared per-artifact thresholds → the refresh-due
          // decision, recorded per batch with the same overwrite
          // replay idempotence as the drift row it consumes (read back
          // from disk — one row, never a recompute of the drift plan).
          // Cold-start caveat: batch 0 measures the feed against an
          // EMPTY history, so its decision says "everything is new",
          // not "the feed drifted" — schedulers should act from
          // batch 1 on ([[refreshDecisions]] exposes batch ids).
          refresh.foreach { r =>
            val idxSignals = graft.ops.TextAnalysis.driftRefreshSignals(
              session.read.parquet(s"$dd/batch_id=$batchId"), "index")
            // the TOKENIZER leg of the drift loop (`r.unkVocab`): the
            // deployed WordPiece vocab measures this batch's admitted
            // feed per source, and the resulting `tokenizer:<source>`
            // due-rows land in the SAME decision partition — the input
            // [[graft.streaming.TokenizerRefresher.retrainIfDue]] acts
            // on, so a streaming deployment's retrain trigger is
            // recorded by the stream itself, not hand-assembled. One
            // extra tokenize scan of the admitted batch (vocab is
            // model-sized; the encode is the native serving expression)
            val signals = r.unkVocab match {
              case None => idxSignals
              case Some(v) => idxSignals.unionByName(
                graft.ops.TextAnalysis.unkRefreshSignals(
                  graft.ops.WordPiece.unkSignals(admitted, v, tok = tok)))
            }
            // the CLASSIFIER leg (`r.classifierDrift`): this batch's
            // per-source drop rates under the serving gate —
            // `classifier:<source>` rows in the SAME decision
            // partition, the input [[ClassifierRefresher.retrainIfDue]]
            // acts on. Both frames are the batch's already-staged
            // stage ledger entries, so the cost is two source-keyed
            // aggregates over checkpointed blocks, no new scan.
            // Declare thresholds as `(classifier:<source>, drop_rate,
            // t)` rows in `r.thresholds`.
            val signals2 =
              if (!r.classifierDrift) signals
              else signals.unionByName(
                graft.ops.Curation.classifierDriftSignals(clean, scored))
            graft.ops.TextAnalysis.refreshDue(signals2, r.thresholds)
              .coalesce(1).write.mode("overwrite").parquet(s"${r.dir}/batch_id=$batchId")
          }
        }
        // doc store (`docStoreDir`): the admitted corpus TEXT, exactly
        // as indexed (post-strip), per-batch partitions — the serving
        // artifact the index alone cannot provide (snippets need
        // text). Replay overwrites its own partition; a re-uploaded
        // doc appears in two partitions and [[docStore]]'s
        // latest-batch-wins reader resolves it, mirroring the index's
        // upsert semantics.
        docStoreDir.foreach { ds =>
          content.select(col("doc_id"), col("text"))
            .write.mode("overwrite").parquet(s"$ds/batch_id=$batchId")
        }
        val delta =
          if (positional) InvertedIndex.buildPositional(content, idCol = "doc_id")
          else InvertedIndex.build(content, idCol = "doc_id")
        val merged = InvertedIndex.upsertDocs(old, delta)
        swapSnapshot(merged, indexDir, batchId, retainSnapshots)
        metricsDir.foreach { md =>
          // count only the frames a knob actually changed; pass-through
          // stages reuse the upstream count (no extra action)
          val nIngest = batch.count()
          val urlGateOn = urlGate.isDefined
          val nParsed = if (urlGateOn) parsed0.count() else parsed.count()
          val nUrl = if (urlGateOn) parsed.count() else nParsed
          // html extraction rewrites text but never drops rows — the
          // stage row reuses the url-gate count (no extra action)
          // UNLESS the directive gate sat between them (noindex drops
          // rows entering the html stage; count what the stage saw)
          val nHtml = if (honorDirectives) indexable.count() else nUrl
          val nC4 = if (c4Rules) prose.count() else nHtml
          val nGated = if (qualityGate.isDefined) clean.count() else nC4
          val nClf = if (batchGate.isDefined) scored.count() else nGated
          val nDecon = if (decontamShingles.isDefined) uncontaminated.count() else nClf
          val nHist = if (dedupBandsDir.isDefined) afterHistoryF.count() else nDecon
          val nWithin = if (dedupWithinBatch) dedupedF.count() else nHist
          val nKept = if (kept eq dedupedF) nWithin else kept.count()
          val nMix =
            if (mixtureGate.isDefined) admitted.count()
            else nKept
          // the frontier row counts EMITTED frontier URLs, not
          // surviving docs (the stage queues work, it never drops a
          // row); 0 when the stage is off — schema stays stable
          val nFrontier = frontierF.map(_.count()).getOrElse(0L)
          import session.implicits._
          Seq(
            (1, "ingest", nIngest), (2, "parsed", nParsed),
            (3, "url_dedup", nUrl),
            (4, "html_text", nHtml), (5, "c4_lines", nC4),
            (6, "quality_gate", nGated), (7, "classifier", nClf),
            (8, "decontaminated", nDecon), (9, "dedup_history", nHist),
            (10, "dedup_within", nWithin), (11, "mixture", nMix),
            (12, "indexed", nMix), (13, "frontier", nFrontier))
            .toDF("stage_idx", "stage", "n_docs")
            .coalesce(1).write.mode("overwrite").parquet(s"$md/batch_id=$batchId")
        }
        // lifetime-distinct observability (`distinctDir`): HLL register
        // tables over the PRE-GATE ingest — distinct URLs and distinct
        // content ever seen, the duplication-rate curve against the
        // funnel's per-batch counts. Registers make this the one
        // streaming statistic that needs NO protocol: per-batch
        // partitions hold ≤ m rows each, a replay overwrites identical
        // rows, the reader's per-bucket MAX absorbs duplicates and
        // partial folds alike ([[distinctEstimates]]), and cost per
        // batch is one combinable aggregate over the batch — FLAT
        // forever, with the accumulated table bounded at kinds × m
        // registers no matter how many URLs the crawl ever ingests.
        distinctDir.foreach { dd =>
          val p = staged(parsed0)
          graft.ops.Hll.sketch(p.where(col("url").isNotNull),
              col("url"), Seq(lit("url").as("kind")))
            .unionByName(graft.ops.Hll.sketch(p.where(col("text").isNotNull),
              col("text"), Seq(lit("content").as("kind"))))
            .coalesce(1).write.mode("overwrite").parquet(s"$dd/batch_id=$batchId")
        }
        // document-length distribution over the crawl's lifetime
        // (`lengthDir`): DDSketch bucket tables over the pre-gate
        // ingest, same no-protocol contract as the HLL registers above
        // — replay overwrites identical buckets, the reader SUMs, a
        // compaction fold preserves the multiset, and the accumulated
        // table is bounded by the length RANGE, never the row count.
        // Serving: [[lengthQuantiles]] — the drifting-length alarm
        // (a source switching to boilerplate shifts p50 long before
        // mean length moves).
        lengthDir.foreach { ld =>
          graft.ops.DdSketch.sketch(
              staged(parsed0).where(col("text").isNotNull),
              length(col("text")).cast("double"), Seq.empty)
            .coalesce(1).write.mode("overwrite").parquet(s"$ld/batch_id=$batchId")
        }
        // periodic history compaction — the operational face of
        // [[compactHistory]], run AFTER everything the batch publishes
        // is on disk. Safe mid-stream by the compaction contract (the
        // newest batch partition is never touched, ids are negative);
        // every (compactEvery)-th batch folds each history's older
        // partitions so file counts stay bounded at crawl cadence.
        // The adaptive gate's stats dir takes the SUM-SAFE protocol
        // ([[compactStats]] — marker-guarded swap, recovery replayed
        // before every stats read), never the semi-join one: its
        // consumer sums rows, so the plain crash window would
        // double-count token mass.
        compactEvery.foreach { n =>
          if (batchId % n == (n - 1).toLong) {
            val urlDirs = urlGate.toSeq.flatMap {
              case UrlIdentityGate(ud, f) => ud +: f.map(_.dir).toSeq
              case RecrawlGate(rd) => Seq(recrawlGateDir(rd)) // gate set only — never the raw fetch log
            }
            (dedupBandsDir.toSeq ++ spanHistoryDir ++ paraHistoryDir ++
              sentenceSpanHistoryDir ++ urlDirs ++
              distinctDir) // registers dedup-fold-safe (the reader MAXes)
              .foreach(dir => compactHistory(session, dir))
            adaptiveGate.foreach(g => compactStats(session, g.statsDir))
            // the length buckets are SUM-consumed, so they take the
            // marker-protocol fold with the READER'S aggregate — never
            // compactHistory, whose .distinct() would collapse
            // identical bucket rows from different batches and
            // permanently undercount the quantiles
            lengthDir.foreach(ld => compactStatsWith(session, ld)(
              _.groupBy("sgn", "idx").agg(sum("n").as("n"))))
          }
        }
        // every consumer (band/anchor appends, snapshot, metrics) is
        // on disk now — release the whole batch's stage ledger (a
        // long-running stream must not accumulate caches per batch)
        // release every stage's checkpoint blocks SYNCHRONOUSLY — a
        // long-running stream must not accumulate block storage per
        // batch while waiting on the ContextCleaner's GC-driven sweep
        stagedFrames.foreach { case (_, cp) =>
          cp.queryExecution.analyzed.collectLeaves().foreach {
            case lr: org.apache.spark.sql.execution.LogicalRDD =>
              lr.rdd.unpersist(blocking = false)
            case _ => ()
          }
        }
        stagedFrames.clear()
        ()
      }
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer).start()
  }

  /** The recrawl gate's SERVING face: run
    * [[graft.ops.Crawl.recrawlPolicy]] over the accumulated
    * `recrawlDir` fetch log — partitions are `(url_key, content_hash)`
    * per batch, `batch_id` is the fetch time in BATCH units (so
    * `baseInterval`/`maxInterval` are counted in batches, e.g. a
    * daily-batch feed's `baseInterval = 1` means "re-fetch changed
    * pages every day") — and keep the URLs due at `now` (current batch
    * id). The due list keys by `url` = the 16-byte url_key; join it
    * back to a URL table (or the frontier history) to get fetchable
    * URLs. One scan of the key-sized log, no text anywhere. */
  def recrawlDue(
      session: SparkSession,
      recrawlDir: String,
      now: Long,
      baseInterval: Long = 1L,
      maxInterval: Long = 30L): DataFrame =
    graft.ops.Crawl.recrawlPolicy(
      session.read.parquet(recrawlDir)
        .select(col("url_key").as("url"),
          col("batch_id").cast("long").as("fetch_ts"),
          col("content_hash"))
        // recrawlPolicy's (url, fetch_ts) uniqueness contract: a URL
        // observed with TWO content versions in one batch collapses
        // to the max hash (deterministic; multi-version-per-batch is
        // an edge the policy need not distinguish)
        .groupBy(col("url"), col("fetch_ts"))
        .agg(max(col("content_hash")).as("content_hash")),
      baseInterval, maxInterval)
      .where(col("next_fetch_at") <= now)

  /** Lifetime distinct estimates from a [[startJsonl]] `distinctDir`:
    * `(kind, n_buckets, est_distinct)` for kinds `url` and `content`.
    * The read is register algebra only — per-bucket MAX then the
    * [[graft.ops.Hll.estimate]] formula — so duplicates from replays,
    * partial compaction folds, or overlapping partitions can never
    * inflate the estimate, and the scan is bounded at kinds × m
    * registers per retained partition regardless of crawl lifetime. */
  def distinctEstimates(session: SparkSession, dir: String): DataFrame =
    graft.ops.Hll.estimate(
      graft.ops.Hll.merge(
        session.read.parquet(dir).select("kind", "bucket", "r"), Seq("kind")),
      Seq("kind"))

  /** Lifetime document-length quantiles from a [[startJsonl]]
    * `lengthDir`: `(q, est)` for the requested quantiles — DDSketch
    * merge (per-bucket SUM) then the cumulative-rank walk, all over
    * bucket tables bounded by the length range. The SUM consumer
    * makes this dir BATCH-ID-KEYED, like the adaptive gate's
    * statsDir: a crash replay re-runs the same batch id and
    * overwrites identical buckets (idempotent — the spec forces the
    * recovery path), and compaction takes the statsDir MARKER
    * protocol with the reader's own fold ([[compactStatsWith]] —
    * [[compactHistory]]'s `.distinct()` would collapse identical
    * bucket rows from different batches and permanently undercount);
    * reprocessing a whole feed into RETAINED output double-counts for
    * any summed table — unlike [[distinctEstimates]]' registers,
    * whose MAX absorbs even that. */
  def lengthQuantiles(
      session: SparkSession, dir: String,
      qs: Seq[Double] = Seq(0.5, 0.95, 0.99)): DataFrame = {
    recoverStats(session, dir) // finish any interrupted fold first
    graft.ops.DdSketch.quantiles(
      graft.ops.DdSketch.merge(
        session.read.parquet(dir).select("sgn", "idx", "n")
          .withColumn("g", lit(1)), Seq("g")),
      Seq("g"), qs).select("q", "est")
  }

  /** Refresh decisions from a [[startJsonl]] [[Refresh]] `dir`:
    * `(batch_id, artifact, metric, value, threshold, due)` — one
    * decision row per declared threshold per batch. Batch-id-keyed
    * and per-batch overwritten (replay idempotent); the latest batch's
    * rows are the CURRENT staleness verdict, the history is the drift
    * trajectory. Skip batch 0 when the stream started cold — its
    * comparison baseline was an empty index. */
  def refreshDecisions(session: SparkSession, dir: String): DataFrame =
    session.read.parquet(dir)
      .select(col("batch_id"), col("artifact"), col("metric"),
        col("value"), col("threshold"), col("due"))

  /** The CURRENT corpus text from a [[startJsonl]] `docStoreDir`:
    * `(doc_id, text)` with latest-batch-wins upsert semantics — a
    * re-uploaded doc's newest version serves, mirroring the index's
    * replace-by-document merge, so the pair (index snapshot, doc
    * store) stays mutually consistent. One doc_id-keyed combinable
    * `max_by` over key+text rows; this is the `docsPath` input the
    * served result page reads
    * ([[graft.index.IndexStore.searchPage]]), completing the
    * stream-to-serving loop: the stream maintains BOTH artifacts a
    * served search page needs. */
  def docStore(session: SparkSession, dir: String): DataFrame =
    session.read.parquet(dir)
      .groupBy("doc_id")
      .agg(max_by(col("text"), col("batch_id")).as("text"))

  /** Compact an append-only `batch_id=N`-partitioned history table
    * (dedup bands, anchor sites): rewrite every partition EXCEPT the
    * newest batch's into one, so the partition/file count stops
    * growing one-per-batch forever — at daily-crawl cadence the
    * file listing, not the data, becomes the history's bottleneck.
    * Returns the number of source partitions compacted (0 = nothing
    * to do).
    *
    * Safety contract, in order of importance:
    *
    *  - REPLAY: the newest batch partition is never touched. A
    *    restarted stream replays at most its last uncommitted batch,
    *    and [[accumulatedPartitions]] hides that batch's
    *    first-attempt rows by its `batch_id`; folding them into a
    *    compacted partition would un-hide them and make the replayed
    *    batch dedup against itself. Everything older is committed and
    *    can no longer replay.
    *  - ID SPACE: compacted partitions get FRESH NEGATIVE ids
    *    (`batch_id=-1, -2, …`). Streaming batch ids are non-negative,
    *    so a future batch can neither overwrite a compacted partition
    *    nor exclude it as its own replay; re-compaction folds older
    *    compacted partitions in and moves further down.
    *  - CRASH: write-then-delete. The combined partition lands under
    *    a fresh id first; only then are the sources deleted
    *    (individually idempotent). A crash between the two leaves
    *    DUPLICATE rows, which every INTENDED consumer tolerates — the
    *    band, anchor, and paragraph histories feed semi-joins, where
    *    multiplicity is invisible — and which the next compaction run
    *    clears FOR REAL: the compaction read is `.distinct()`
    *    (key-only tables, so row dedup is semantics-preserving), so
    *    crash-window duplicates — and ordinary cross-batch repeats of
    *    the same key — collapse instead of persisting in every future
    *    compacted generation. Do NOT auto-compact tables whose
    *    consumers SUM rows (the adaptive gate's stats dir): the crash
    *    window double-counts there; use [[compactStats]], whose
    *    re-aggregation + marker-file contract is sum-safe.
    *  - CONCURRENT APPEND: a batch landing mid-run gets a fresh
    *    higher id the listing never saw; it is simply not compacted
    *    this round.
    *
    * Scale shape: one read of the source partitions, one hash-only
    * `.distinct()` shuffle (rows are band/anchor/paragraph KEYS — the
    * text never entered the history), one write. Size `numFiles` to
    * the history's data volume (1 is right until a single partition's
    * rows stop fitting one task's write).
    */
  def compactHistory(session: SparkSession, dir: String, numFiles: Int = 1): Int = {
    require(numFiles >= 1, s"numFiles=$numFiles must be >= 1")
    foldPlan(session, dir) match {
      case None => 0
      case Some((sources, target)) =>
        session.read.parquet(sources.map(_.toString): _*)
          .distinct()
          .coalesce(numFiles)
          .write.mode("overwrite").parquet(s"$dir/batch_id=$target")
        val fs = fsOf(session, dir)
        sources.foreach(fs.delete(_, true))
        sources.size
    }
  }

  /** What a compaction run folds: every `batch_id=N` partition under
    * `dir` except the newest non-negative batch's, into a fresh
    * negative id below every existing one (see [[compactHistory]]'s
    * REPLAY and ID SPACE rules); None when fewer than two partitions
    * qualify. */
  private def foldPlan(session: SparkSession, dir: String): Option[(Seq[Path], Long)] = {
    val parts = batchPartitions(session, dir)
    val newestBatch = parts.map(_._1).filter(_ >= 0).maxOption
    val sources = parts.filterNot { case (id, _) => newestBatch.contains(id) }
    if (sources.size < 2) None
    else Some((sources.map(_._2), math.min(parts.map(_._1).min, 0L) - 1L))
  }

  /** SUM-SAFE compaction for the adaptive gate's per-source stats table
    * — the one history [[compactHistory]] must NOT touch: its consumer
    * SUMS rows, so the plain write-then-delete crash window (compacted
    * copy AND sources both visible) would double-count token mass and
    * silently skew every subsequent mixture rate. Without compaction
    * the stats dir grows one partition per micro-batch forever — the
    * same file-listing bottleneck the band history had.
    *
    * Protocol (write-hidden → marker → swap-in → delete → unmark):
    *
    *   1. [[recoverStats]] — finish any interrupted run FIRST (also
    *      called by the stream before every stats read, so no read in
    *      this process ever sees an unresolved crash state);
    *   2. aggregate every partition EXCEPT the newest non-negative
    *      batch's (replay overwrites its own partition — folding it in
    *      would double it on replay; the [[compactHistory]] rule) to
    *      one `(source, n_docs, n_tokens)` row set, written to the
    *      dot-prefixed `.compact_tmp` dir — INVISIBLE to partition
    *      discovery, so a crash here leaves the visible table intact;
    *   3. atomically (temp + rename) write `.compact_marker` naming
    *      the target id and the source partitions — the intent record;
    *   4. rename `.compact_tmp` into `batch_id=<fresh negative id>`;
    *   5. delete the sources; 6. delete the marker.
    *
    * Crash anywhere: sources are deleted only after the marker AND the
    * target are durable, the target becomes visible only via the
    * rename, and [[recoverStats]] replays the remaining steps from the
    * marker before the next read — so the visible table never
    * double-counts, and under-counts only between steps 5 and the
    * recovery that completes them (a window no reader in this process
    * can observe). Returns compacted source-partition count. */
  def compactStats(session: SparkSession, dir: String): Int =
    compactStatsWith(session, dir)(
      _.groupBy("source")
        .agg(sum("n_docs").as("n_docs"), sum("n_tokens").as("n_tokens")))

  /** [[compactStats]]' marker protocol with a pluggable FOLD — the
    * sum-safe compaction any SUM-consumed history needs with its own
    * aggregation shape (`lengthDir`'s DDSketch buckets fold by
    * `groupBy(sgn, idx).sum(n)`; the adaptive stats by source). The
    * fold must be exactly the reader's aggregate so folding changes
    * no reader-visible value. */
  def compactStatsWith(session: SparkSession, dir: String)(
      fold: DataFrame => DataFrame): Int = {
    val root = new Path(dir)
    val fs = fsOf(session, dir)
    recoverStats(session, dir)
    foldPlan(session, dir) match {
      case None => 0
      case Some((sources, target)) =>
        val tmp = new Path(root, StatsTmp)
        fs.delete(tmp, true)
        fold(session.read.parquet(sources.map(_.toString): _*))
          .coalesce(1)
          .write.mode("overwrite").parquet(tmp.toString)
        ArtifactVersions.writeFile(session, dir, StatsMarker,
          (s"batch_id=$target" +: sources.map(_.getName)).mkString("\n"))
        rename(fs, tmp, new Path(root, s"batch_id=$target"))
        sources.foreach(fs.delete(_, true))
        fs.delete(new Path(root, StatsMarker), false)
        sources.size
    }
  }

  /** Crash recovery for [[compactStats]]: replay the marker's remaining
    * steps. No marker → any stray `.compact_tmp` is pre-marker garbage
    * (sources all intact) and is deleted. Marker present → the tmp holds
    * (or the target already holds) the sources' exact sums: make the
    * target visible if it isn't, delete the named sources, drop the
    * marker. Only a DIRECTORY at the target name is a finished fold: a
    * stray file there fails the move loudly and keeps every source.
    * Idempotent — every step checks before acting. */
  def recoverStats(session: SparkSession, dir: String): Unit = {
    val root = new Path(dir)
    val fs = fsOf(session, dir)
    val tmp = new Path(root, StatsTmp)
    ArtifactVersions.readFile(session, dir, StatsMarker) match {
      case None =>
        fs.delete(tmp, true) // pre-marker crash: visible table intact
        fs.delete(new Path(root, s"$StatsMarker.tmp"), false)
      case Some(body) =>
        val lines = body.split("\n").toSeq
        val target = new Path(root, lines.head)
        def folded = fs.exists(target) && fs.getFileStatus(target).isDirectory
        if (!folded && fs.exists(tmp)) rename(fs, tmp, target)
        if (folded) {
          lines.tail.foreach(n => fs.delete(new Path(root, n), true))
          fs.delete(new Path(root, StatsMarker), false)
        }
      // marker without tmp or target cannot occur (tmp write precedes the
      // marker); if it somehow does, leave the marker for inspection
      // rather than guessing — sources are still intact, sums correct
    }
  }

  /** `FileSystem.rename` reports some failures — a file already at
    * `dst`, a missing parent — only through its result; fail loudly on
    * those, before the caller deletes anything the rename was meant to
    * replace. */
  private def rename(fs: FileSystem, src: Path, dst: Path): Unit =
    if (!fs.rename(src, dst))
      throw new java.io.IOException(s"could not rename $src to $dst")

  private def fsOf(session: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(session.sessionState.newHadoopConf())

  /** The recrawl gate's probe-set dir — the compactable sibling of
    * the raw fetch log (see [[RecrawlGate]]'s probe-set / log
    * split). Derived, not configured: the two stores are one
    * feature and must never point at each other. */
  def recrawlGateDir(recrawlDir: String): String =
    s"${recrawlDir.stripSuffix("/")}.gate"

  /** One-time migration of a pre-split `recrawlDir` (log doubling as
    * gate): fold the log's DISTINCT pairs — excluding a replayed
    * batch's own first-attempt partition — into the gate dir's
    * initial compacted generation (`batch_id=-1`). No-op once the
    * gate dir has any partition; overwrite keeps a crash-replay
    * idempotent. Under the OLD layout the gate set was "every
    * observed pair", so seeding from the log preserves exactly the
    * old admission decisions for old state. */
  private def seedRecrawlGate(
      session: SparkSession,
      logDir: String,
      gateDir: String,
      excludeBatchId: Long): Unit = {
    if (batchPartitions(session, gateDir).nonEmpty) return
    accumulatedPartitions(session, logDir, excludeBatchId).foreach { h =>
      h.select("url_key", "content_hash").distinct()
        .write.mode("overwrite").parquet(s"$gateDir/batch_id=-1")
    }
  }

  /** Stamp/verify [[graft.ops.Crawl.CanonVersion]] on a URL-keyed
    * history dir (a [[UrlIdentityGate]]'s, its [[Frontier]]'s, a
    * [[RecrawlGate]]'s log — the gate sibling shares its log's stamp):
    * the keys these dirs hold
    * are md5 of CANONICAL urls, so a canonicalization-rules upgrade
    * silently invalidates them (every URL whose key changed would be
    * re-admitted/re-queued once). The `_canon_version` marker —
    * underscore-prefixed, invisible to partition discovery — makes
    * the mismatch LOUD: a dir stamped under other rules fails the
    * batch with a rebuild instruction instead of silently degrading.
    * A pre-versioning dir (partitions, no marker) adopts the current
    * stamp — the one upgrade this cannot catch, documented in
    * [[graft.ops.Crawl.CanonVersion]]'s contract. */
  private def ensureCanonVersion(session: SparkSession, dir: String): Unit =
    ArtifactVersions.readFile(session, dir, "_canon_version") match {
      case Some(v) if v != graft.ops.Crawl.CanonVersion.toString =>
        throw new IllegalStateException(
          s"history dir $dir was written under URL-canonicalization rules v$v; " +
            s"this engine is v${graft.ops.Crawl.CanonVersion}. Keys no longer " +
            "match — rebuild the dir from raw inputs (or serve it with the " +
            "engine version that wrote it); serving mismatched keys silently " +
            "re-admits and re-queues previously seen URLs.")
      case Some(_) => ()
      case None => ArtifactVersions.writeFile(
        session, dir, "_canon_version", graft.ops.Crawl.CanonVersion.toString)
    }

  /** The `batch_id=N` partition dirs under `dir`, as (N, path);
    * empty when `dir` is absent. The probe goes through the Hadoop
    * FileSystem API — the histories live wherever Spark can write
    * (HDFS/object store on a cluster), so a local-disk check would
    * silently report "no history" forever on any non-local path and
    * turn every history filter into a no-op. */
  private[streaming] def batchPartitions(
      session: SparkSession, dir: String): Seq[(Long, Path)] = {
    val root = new Path(dir)
    val fs = fsOf(session, dir)
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch_id="))
      .flatMap(st =>
        st.getPath.getName.stripPrefix("batch_id=").toLongOption.map(_ -> st.getPath))
  }

  /** Any append-only `batch_id=N`-partitioned history table (bands,
    * anchor sites, URL keys, serving tables), EXCLUDING a replayed
    * batch's own first-attempt partition; None before any batch has
    * published (partition discovery cannot infer a schema from an
    * empty root). */
  private[streaming] def accumulatedPartitions(
      session: SparkSession,
      dir: String,
      excludeBatchId: Long): Option[DataFrame] =
    if (batchPartitions(session, dir).isEmpty) None
    else Some(session.read.parquet(dir).filter(col("batch_id") =!= excludeBatchId))

  /** Write the merged index to a new snapshot dir, swap the `LATEST`
    * pointer to it ([[ArtifactVersions.writeFile]]: write aside, rename
    * over), and GC superseded snapshots — the one publish discipline
    * both watchers share. Returns the snapshot name. */
  private def swapSnapshot(
      merged: DataFrame,
      indexDir: String,
      batchId: Long,
      retain: Int): String = {
    val session = merged.sparkSession
    // Snapshot ids are max(batchId, newest existing + 1), NOT the raw
    // batch id: an existing indexDir paired with a fresh checkpointDir
    // restarts batch ids at 0, and a raw-id name would collide with —
    // and overwrite — the very snapshot `merged` is lazily reading
    // (currentIndex resolves LATEST before this write executes).
    val newest = ArtifactVersions.numbered(session, indexDir, Snapshot).lastOption
    val snapId = math.max(batchId, newest.map(_._1 + 1L).getOrElse(0L))
    val snap = f"snap-$snapId%09d"
    merged.write.mode("overwrite").parquet(s"$indexDir/$snap")
    ArtifactVersions.writeFile(session, indexDir, Latest, snap)
    gcSnapshots(session, indexDir, retain)
    snap
  }

  /** Delete all but the newest `retain` snapshot dirs, ordered by the
    * PARSED numeric batch id (names are zero-padded, but a numeric sort
    * stays correct even past the pad width, where lexicographic order
    * would misclassify the newest snapshot as oldest). Runs AFTER the
    * pointer swap, and the snapshot LATEST currently names is NEVER in
    * the drop set — "newest by batch id" is not always the published
    * one (pair an existing indexDir with a fresh checkpointDir and
    * batch ids restart at 0, making the just-published snapshot the
    * numerically oldest; dropping it would leave LATEST dangling).
    * `retain >= 2` additionally leaves the previous snapshot for
    * in-flight readers. This is [[ArtifactVersions.prune]]'s rule with
    * `LATEST` as the pointer. Deletion failures are non-fatal (a stale
    * dir costs storage, not correctness) — the next batch retries.
    */
  private[graft] def gcSnapshots(session: SparkSession, indexDir: String, retain: Int): Unit =
    try ArtifactVersions.pruneNumbered(session, indexDir, Latest, Snapshot, retain)
    catch {
      case e: java.io.IOException =>
        System.err.println(s"[graft] CorpusWatcher: snapshot GC under $indexDir failed: $e")
    }
}
