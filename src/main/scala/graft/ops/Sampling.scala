package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling/splitting for training-data pipelines.
  *
  * Everything keys off a content-independent md5 of the row's id, so
  * (a) assignment is stable across runs, engines, and cluster layouts
  * (no rand(), no partition-dependent sampling), and (b) any engine
  * can reproduce the exact assignment — which is what the DuckDB
  * oracle checks. At 100 TB both operators are embarrassingly
  * parallel; stratified sampling shuffles once on the stratum key.
  */
object Sampling {

  /** Uniform bucket in [0, 100) from the id's md5 prefix (16 bits →
    * bias < 2^-9, identical hex/parse semantics in any engine). */
  private def hashBucket(id: Column): Column =
    conv(substring(md5(id.cast("string")), 1, 4), 16, 10).cast("long") % 100

  /** The split label of [[trainValTest]] as a reusable Column —
    * composed pipelines ([[Curation.curate]]) stamp it onto their final
    * projection without a second pass. */
  def splitCol(idCol: String, trainPct: Int = 80, valPct: Int = 10): Column =
    splitColOf(col(idCol), trainPct, valPct)

  /** Train/val/test split: deterministic md5-bucket assignment.
    * Fractions are integer percentages summing to <= 100 (remainder →
    * test). */
  def trainValTest(df: DataFrame, idCol: String, trainPct: Int = 80, valPct: Int = 10): DataFrame =
    df.withColumn("split", splitCol(idCol, trainPct, valPct))

  /** The streaming mixture stage of
    * [[graft.streaming.CorpusWatcher.startJsonl]] (`mixtureGate`),
    * fixed ([[MixtureGate]]) or adaptive ([[AdaptiveMixtureGate]]):
    * each batch's post-dedup survivors are downsampled per source
    * before indexing. Stage order mirrors the batch chain (dedup first,
    * mixture after), and the band append happens BEFORE the mixture
    * filter: the dedup candidate set must be the post-gate corpus —
    * exactly what [[Curation.curate]] deduplicates against — so a later
    * near-duplicate of a mixture-dropped doc is still dropped (rates
    * are per-source admission policy, not evidence the text is gone).
    * The predicate is [[mixture]]'s md5-bucket arithmetic, so batch and
    * stream admit the same rows. (Train/val/test split stamping has no
    * streaming face: [[splitCol]] is derivable from `doc_id` alone at
    * any later read, so persisting it per batch would add state for
    * nothing.) */
  sealed trait MixturePolicy

  /** [[mixture]]'s parameters packaged for per-batch streaming use
    * ([[graft.streaming.CorpusWatcher.startJsonl]]): the keep-rate per
    * source, and the rate for sources the map does not name (which
    * includes feeds that carry no `source` field at all — a null
    * source matches no map entry). The predicate is stateless and
    * content-independent, so the stream needs no mixture state. */
  final case class MixtureGate(
      rates: Map[String, Double], defaultRate: Double = 1.0) extends MixturePolicy {
    (rates.values.toSeq :+ defaultRate).foreach(r =>
      require(r >= 0.0 && r <= 1.0, s"rate $r outside [0,1]"))
  }

  /** Mixture sampling: deterministically downsample each source/domain
    * to its configured rate — how a training mix applies domain weights
    * ("keep 100% of wiki, 30% of web, 5% of logs"). A document is kept
    * iff its md5 bucket (out of 10_000) falls under the source's rate;
    * assignment is content-independent and stable, so re-running the
    * pipeline (or an independent engine) keeps exactly the same rows.
    * Unlisted sources fall back to `defaultRate`. Pure row-parallel
    * filter — no shuffle at any scale.
    */
  def mixture(
      df: DataFrame,
      sourceCol: String,
      idCol: String,
      rates: Map[String, Double],
      defaultRate: Double = 1.0): DataFrame =
    df.filter(mixtureKeep(sourceCol, idCol, rates, defaultRate))

  /** The keep-predicate of [[mixture]] as a reusable Column — composed
    * pipelines evaluate it alongside other per-row stage predicates in
    * one scan ([[Curation.funnel]]'s single-pass accounting). */
  def mixtureKeep(
      sourceCol: String,
      idCol: String,
      rates: Map[String, Double],
      defaultRate: Double = 1.0): Column = {
    (rates.values.toSeq :+ defaultRate).foreach(r =>
      require(r >= 0.0 && r <= 1.0, s"rate $r outside [0,1]"))
    // finer bucket than trainValTest's 100: rates often need basis points
    val b = conv(substring(md5(col(idCol).cast("string")), 1, 4), 16, 10)
      .cast("long") % 10000
    val threshold = rates.foldLeft(lit((defaultRate * 10000).toInt)) {
      case (acc, (src, r)) =>
        when(col(sourceCol) === src, lit((r * 10000).toInt)).otherwise(acc)
    }
    b < threshold
  }

  /** Temperature-scaled mixture rates — the multilingual/multi-domain
    * sampling rule (p_s^(1/T) renormalized; Conneau & Lample's XLM
    * recipe, UNIMAX-adjacent): compute, per source, the deterministic
    * keep-rate that reshapes the corpus's source distribution toward
    * uniform as T grows. With p_s = n_s / N, the target distribution is
    * q_s ∝ p_s^(1/T); sampling WITHOUT replacement realizes it as a
    * per-source keep-rate r_s ∝ q_s / p_s = p_s^(1/T − 1), normalized
    * so the largest rate is 1 (you cannot keep more than all of a
    * source without repetition — the SMALLEST source keeps everything
    * and larger sources are downsampled toward it). T = 1 keeps
    * everything; T → ∞ approaches uniform source mass.
    *
    * Output: `(source, n_docs, rate)` — rate rounded to 6dp (IEEE pow
    * then round, the [[TextAnalysis.lmBigramScore]] determinism
    * recipe). One groupBy(source) — the rate table is as small as the
    * source vocabulary at any corpus size, so downstream application
    * broadcasts it.
    */
  def temperatureRates(df: DataFrame, sourceCol: String, temperature: Double): DataFrame =
    temperatureRatesFromCounts(
      df.groupBy(col(sourceCol).as("source")).agg(count(lit(1)).as("n_docs")),
      temperature)

  /** [[temperatureRates]]' formula over a PRECOMPUTED `(source, <count>)`
    * table (the count column is the second column, whatever its name —
    * doc counts, token counts, an accumulated streaming stats table):
    * rate_s ∝ p_s^(1/T − 1), largest rate normalized to 1, rounded 6dp.
    * Counts must be positive — a zero-mass source has no well-defined
    * rate under the negative exponent; filter it out and let the
    * applier's default rate cover it. Output: the input columns plus
    * `rate`. */
  def temperatureRatesFromCounts(counts: DataFrame, temperature: Double): DataFrame = {
    require(temperature >= 1.0, s"temperature=$temperature must be >= 1 (T=1 keeps everything)")
    val Seq(srcCol, nCol) = counts.columns.take(2).toSeq
    val total = counts.agg(sum(nCol).as("n_total"))
    val raw = pow(col(nCol).cast("double") / col("n_total"), lit(1.0 / temperature - 1.0))
    val withRaw = counts.crossJoin(broadcast(total)).select(
      col(srcCol), col(nCol), raw.as("raw_rate"))
    val maxRaw = withRaw.agg(max("raw_rate").as("max_raw"))
    withRaw.crossJoin(broadcast(maxRaw))
      .select(col(srcCol), col(nCol),
        round(col("raw_rate") / col("max_raw"), 6).as("rate"))
  }

  /** The ADAPTIVE streaming mixture gate
    * ([[graft.streaming.CorpusWatcher.startJsonl]]): where
    * [[MixtureGate]] applies FIXED per-source rates, this one computes
    * temperature rates per batch from the ACCUMULATED per-source token
    * table under `statsDir` — ingestion is where a pipeline actually
    * applies temperature/budget policy, and the distribution it must
    * reshape is the whole feed so far, not one batch's sample.
    *
    * Mechanics (the band-table discipline): each batch OVERWRITES its
    * own `statsDir/batch_id=N` partition with its pre-mixture
    * per-source `(n_docs, n_tokens)` counts — stats describe the feed,
    * so they are computed BEFORE admission and are a pure function of
    * the batch content, which makes the overwrite replay-idempotent
    * WITHOUT the exclude-own-batch dance (a replay rewrites the
    * identical rows, then reads the identical accumulated table).
    * Rates are [[temperatureRatesFromCounts]] over the accumulated
    * token sums — or, when `unimaxBudget` is set, the UniMax
    * waterfilling allocation ([[unimaxAllocFromCounts]]) with
    * `rate_s = min(1, alloc_s / available_s)`: sources whose
    * accumulated mass already exceeds their uniform share of the
    * budget are throttled toward it, the epoch-cap covering the small
    * ones — the budget-policy face of the same gate. Admission is the
    * same content-independent md5-bucket predicate as [[mixture]], so
    * a document's fate is deterministic given (corpus-so-far,
    * doc_id). Sources with no accumulated tokens (and null-source
    * rows) take `defaultRate`.
    *
    * Partition growth: the stats dir gains one `batch_id=N` partition
    * per micro-batch; [[graft.streaming.CorpusWatcher.compactStats]]
    * (run by `compactEvery`, marker-guarded so the SUM consumer can
    * never observe a double-count crash state) folds the old ones, so
    * listing cost stays bounded at streaming cadence.
    */
  final case class AdaptiveMixtureGate(
      statsDir: String,
      temperature: Double = 2.0,
      defaultRate: Double = 1.0,
      unimaxBudget: Option[Long] = None,
      unimaxMaxEpochs: Double = 4.0) extends MixturePolicy {
    require(temperature >= 1.0, s"temperature=$temperature must be >= 1")
    require(defaultRate >= 0.0 && defaultRate <= 1.0, s"defaultRate $defaultRate outside [0,1]")
    unimaxBudget.foreach(b => require(b > 0, s"unimaxBudget=$b must be positive"))
    require(unimaxMaxEpochs > 0, s"unimaxMaxEpochs=$unimaxMaxEpochs must be positive")

    /** `(source, rate)` under this gate's policy, from an accumulated
      * `(source, n_tokens)` table. */
    private[graft] def ratesFrom(acc: DataFrame): DataFrame = unimaxBudget match {
      case None =>
        temperatureRatesFromCounts(acc, temperature).select(col("source"), col("rate"))
      case Some(b) =>
        unimaxAllocFromCounts(
          acc.select(col("source"), col("n_tokens").as("available_tokens")),
          b, unimaxMaxEpochs)
          .select(col("source"),
            round(least(lit(1.0),
              col("alloc_tokens").cast("double") / col("available_tokens")), 6).as("rate"))
    }
  }

  /** Apply [[temperatureRates]] as a deterministic per-row filter: a
    * document is kept iff its md5 bucket (out of 10,000 — the
    * [[mixture]] granularity) falls under its source's computed rate.
    * The rate table joins broadcast (it has one row per source); the
    * filter itself is row-parallel. */
  def mixtureTemperature(
      df: DataFrame, sourceCol: String, idCol: String, temperature: Double): DataFrame = {
    val rates = temperatureRates(df, sourceCol, temperature)
      .withColumnRenamed("source", sourceCol).drop("n_docs")
    val b = conv(substring(md5(col(idCol).cast("string")), 1, 4), 16, 10)
      .cast("long") % 10000
    df.join(broadcast(rates), Seq(sourceCol))
      .filter(b < col("rate") * 10000)
      .drop("rate")
  }

  /** Token-budget epoch planning — "how many passes over each source
    * does this training run take?" (the Chinchilla/LLaMA-style data
    * mixing worksheet, as a query): given per-source mixture weights
    * and a total token budget, report per source the available tokens,
    * the desired share of the budget, how much of it is actually
    * servable under the repetition cap, and the implied epoch count.
    *
    * desired_s = budget · w_s / Σw  (unlisted sources get weight 0);
    * planned_s = min(desired_s, available_s · maxEpochs);
    * epochs_s  = planned_s / available_s, rounded to 4dp;
    * truncated = the cap bit (desired > planned) — the "this source is
    * too small for its weight" warning a mixing config needs to surface.
    *
    * Integer-exact where it matters: token counts are exact longs
    * (one tokenize pass, one groupBy(source)); desired/planned are
    * floor'd to whole tokens. Output: `(source, available_tokens,
    * desired_tokens, planned_tokens, epochs, truncated)`, one row per
    * source present in the corpus OR named in `weights` — a weighted
    * source with no corpus rows (or only tokenless ones) still surfaces,
    * with available=planned=0, epochs=0.0 and truncated=true, so the
    * "source too small for its weight" warning fires precisely in the
    * most extreme case instead of vanishing with the missing row.
    */
  def epochPlan(
      docs: DataFrame,
      sourceCol: String,
      weights: Map[String, Double],
      tokenBudget: Long,
      maxEpochs: Double = 4.0): DataFrame = {
    require(tokenBudget > 0, s"tokenBudget=$tokenBudget must be positive")
    require(maxEpochs > 0, s"maxEpochs=$maxEpochs must be positive")
    weights.values.foreach(w => require(w >= 0, s"negative weight $w"))
    val wSum = weights.values.sum
    require(wSum > 0, "at least one source weight must be positive")
    val weightOf = weights.foldLeft(lit(0.0)) { case (acc, (src, w)) =>
      when(col("source") === src, lit(w)).otherwise(acc)
    }
    val avail = graft.core.Parallelism.ensure(docs)
      .select(col(sourceCol).as("source"),
        size(graft.core.TextNorm.tokens(col("text"))).as("n_tok"))
      .groupBy("source")
      .agg(sum("n_tok").as("available_tokens"))
    // full-outer against the weight keyset: weighted-but-absent sources
    // must appear (as 0-token rows) or their truncation warning is lost
    val wanted = docs.sparkSession
      .createDataFrame(weights.keys.toSeq.map(Tuple1.apply)).toDF("source")
    avail.join(wanted, Seq("source"), "full_outer")
      .select(col("source"),
        coalesce(col("available_tokens"), lit(0L)).as("available_tokens"))
      .select(col("source"), col("available_tokens"),
        floor(lit(tokenBudget.toDouble) * weightOf / wSum).cast("long").as("desired_tokens"))
      .select(col("source"), col("available_tokens"), col("desired_tokens"),
        least(col("desired_tokens"),
          floor(col("available_tokens") * maxEpochs).cast("long")).as("planned_tokens"))
      .select(col("source"), col("available_tokens"), col("desired_tokens"),
        col("planned_tokens"),
        when(col("available_tokens") > 0,
          round(col("planned_tokens").cast("double") / col("available_tokens"), 4))
          .otherwise(lit(0.0)).as("epochs"),
        (col("desired_tokens") > col("planned_tokens")).as("truncated"))
  }

  /** UniMax budget allocation (Chung et al., "UniMax: Fairer and More
    * Effective Language Sampling for Large-Scale Multilingual
    * Pretraining", 2023) — the weights-FREE counterpart to
    * [[epochPlan]]: distribute `tokenBudget` as uniformly as possible
    * across sources, subject to no source repeating more than
    * `maxEpochs` times. Small sources hit their repetition cap and
    * take everything they can; the remainder splits EQUALLY among the
    * sources big enough to absorb it — no temperature knob, no weight
    * table, provably minimal skew under the cap.
    *
    * Closed form (waterfilling over the k-row per-source table):
    * sort sources by capacity `cap_s = available_s · maxEpochs`
    * ascending; source i is capped iff
    * `cap_i ≤ (B − Σ_{j<i} cap_j) / (k − i + 1)` (the capped set is a
    * prefix of the ascending order, so the test is per-row); every
    * uncapped source gets the common level
    * `(B − Σ_capped cap_j) / n_uncapped`. Allocations floor to whole
    * tokens (Σ alloc can undershoot B by < k tokens — the same
    * integer discipline as [[epochPlan]]).
    *
    * Output: `(source, available_tokens, capacity, alloc_tokens,
    * epochs, capped)` — epochs = alloc/available rounded 4dp (0.0 for
    * empty sources, which sit at capacity 0, capped, alloc 0).
    *
    * Scale: one tokenize scan + one combinable groupBy(source); the
    * waterfilling runs over the source-count-sized table (windows over
    * k rows). */
  def unimaxPlan(
      docs: DataFrame,
      sourceCol: String,
      tokenBudget: Long,
      maxEpochs: Double = 4.0): DataFrame =
    unimaxAllocFromCounts(
      graft.core.Parallelism.ensure(docs)
        .select(col(sourceCol).as("source"),
          size(graft.core.TextNorm.tokens(col("text"))).cast("long").as("n_tok"))
        .groupBy("source")
        .agg(sum("n_tok").as("available_tokens")),
      tokenBudget, maxEpochs)
      .select(col("source"), col("available_tokens"), col("capacity"),
        col("alloc_tokens"),
        when(col("available_tokens") > 0,
          round(col("alloc_tokens").cast("double") / col("available_tokens"), 4))
          .otherwise(lit(0.0)).as("epochs"),
        col("capped"))

  /** [[unimaxPlan]]'s waterfilling over a PRECOMPUTED
    * `(source, available_tokens)` table (an accumulated streaming
    * stats table, a stored profile — anything already counted).
    * Output: `(source, available_tokens, capacity, alloc_tokens,
    * capped)`. */
  def unimaxAllocFromCounts(
      counts: DataFrame, tokenBudget: Long, maxEpochs: Double = 4.0): DataFrame = {
    require(tokenBudget > 0, s"tokenBudget=$tokenBudget must be positive")
    require(maxEpochs > 0, s"maxEpochs=$maxEpochs must be positive")
    import org.apache.spark.sql.expressions.Window
    val avail = counts
      .select(col("source"), col("available_tokens").cast("long").as("available_tokens"))
      .select(col("source"), col("available_tokens"),
        floor(col("available_tokens") * maxEpochs).cast("long").as("capacity"))
    val byCap = Window.orderBy(col("capacity"), col("source"))
    val ranked = avail
      .withColumn("rn", row_number().over(byCap))
      .withColumn("cum_prev",
        coalesce(sum("capacity").over(byCap.rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .withColumn("k", count(lit(1)).over(Window.partitionBy()))
      .withColumn("capped",
        col("capacity") <=
          (lit(tokenBudget.toDouble) - col("cum_prev")) / (col("k") - col("rn") + 1))
    val pool = ranked.agg(
      sum(when(col("capped"), col("capacity")).otherwise(lit(0L))).as("capped_total"),
      sum(when(!col("capped"), 1L).otherwise(0L)).as("n_uncapped"))
    ranked.crossJoin(broadcast(pool))
      .select(col("source"), col("available_tokens"), col("capacity"),
        when(col("capped"), col("capacity"))
          .otherwise(floor((lit(tokenBudget.toDouble) - col("capped_total"))
            / col("n_uncapped")).cast("long")).as("alloc_tokens"),
        col("capped"))
  }

  /** Sequence packing for training shards: assign each document a
    * (pack_bucket, shard_in_bucket) so that concatenating a bucket's
    * documents in doc_id order and cutting every `tokenBudget` tokens
    * puts each document's FIRST token in its assigned shard — the
    * GPT-style pack-and-split layout, computed without materializing
    * any concatenation.
    *
    * Scale shape: a single global running sum would be one unpartitioned
    * window (one task); instead documents are first md5-bucketed into
    * `buckets` independent streams (deterministic, engine-reproducible)
    * and the running token sum is windowed per bucket — buckets-way
    * parallel, which is how a multi-writer shard job runs anyway.
    */
  def packShards(docs: DataFrame, tokenBudget: Long, buckets: Int = 32): DataFrame =
    packShardsCounts(
      docs.select(col("doc_id"),
        size(graft.core.TextNorm.tokens(col("text"))).cast("long").as("n_tokens")),
      tokenBudget, buckets)

  /** [[packShards]] over a precomputed `(doc_id, n_tokens)` table, so
    * a real tokenizer's counts (e.g. [[graft.ops.Bpe.tokenCounts]])
    * budget the shards instead of the whitespace proxy — same packing
    * discipline, counts pluggable.
    */
  def packShardsCounts(counts: DataFrame, tokenBudget: Long, buckets: Int = 32): DataFrame = {
    require(tokenBudget > 0 && buckets > 0, s"bad packing params $tokenBudget/$buckets")
    import org.apache.spark.sql.expressions.Window
    val bucket = (conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
      .cast("long") % buckets).cast("int")
    val w = Window.partitionBy("pack_bucket").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    counts
      .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
        bucket.as("pack_bucket"))
      .withColumn("cum_tokens", sum("n_tokens").over(w))
      .select(col("doc_id"), col("n_tokens").cast("int").as("n_tokens"),
        col("pack_bucket"),
        floor((col("cum_tokens") - col("n_tokens")) / tokenBudget)
          .cast("int").as("shard_in_bucket"))
  }

  /** TRAINING-SEQUENCE packing with length-bucketed batching — the
    * padding-efficiency layout a sequence-model training job wants
    * (shards budget TOKENS; sequences budget the CONTEXT WINDOW, and
    * every token short of the window is padding the GPU computes over
    * anyway):
    *
    *  1. documents longer than `context` split into whole-context
    *     CHUNKS (`chunk_idx`, last chunk carries the remainder) —
    *     truncation throws data away, and one long doc must never
    *     monopolize a batch;
    *  2. each chunk falls into a LENGTH BIN (`ceil(tokens/binWidth)`)
    *     — batching similar lengths together is what keeps per-slot
    *     padding bounded by `binWidth − 1` instead of `context − 1`;
    *  3. within (pack_bucket, len_bin), chunks fill sequences in
    *     deterministic `(doc_id, chunk_idx)` order, `docsPerSeq =
    *     max(1, ⌊context / (len_bin·binWidth)⌋)` slots per sequence.
    *
    * Output: `(doc_id, chunk_idx, chunk_tokens, pack_bucket, len_bin,
    * seq_in_bin, pos_in_seq)` — the assignment a loader materializes.
    * Pure integer arithmetic end to end (engine-exact twin). The one
    * window runs per (bucket, bin) — buckets·bins balanced md5
    * streams, the [[packShardsCounts]] scale argument. */
  def packSequences(
      docs: DataFrame, context: Int, binWidth: Int, buckets: Int = 32): DataFrame =
    packSequencesCounts(
      graft.core.Parallelism.ensure(docs)
        .select(col("doc_id"),
          // sealed: n feeds the filter, the chunk-count bound and the
          // tail length — unsealed, collapse+pushdown re-inlines the
          // tokenizer once per reference (the engine-wide seal rule)
          graft.functions.PlanSeal.seal(
            size(graft.core.TextNorm.tokens(col("text"))).cast("long"))
            .as("n_tokens")),
      context, binWidth, buckets)

  /** [[packSequences]] over a precomputed `(doc_id, n_tokens)` table —
    * so a REAL tokenizer's counts (e.g. [[graft.ops.Bpe.tokenCounts]],
    * the [[packShardsCounts]] convention) budget the sequences
    * instead of the whitespace proxy; a training run packs on the
    * token count its model will actually see. */
  def packSequencesCounts(
      counts: DataFrame, context: Int, binWidth: Int, buckets: Int = 32): DataFrame = {
    require(context >= 1, s"context=$context must be >= 1")
    require(binWidth >= 1 && binWidth <= context,
      s"binWidth=$binWidth must be in [1, context=$context]")
    require(buckets >= 1, s"buckets=$buckets must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val bucket = (conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
      .cast("long") % buckets).cast("int")
    val chunks = counts
      .select(col("doc_id"), col("n_tokens").cast("long").as("n"),
        bucket.as("pack_bucket"))
      .where(col("n") > 0)
      .select(col("doc_id"), col("pack_bucket"), col("n"),
        explode(sequence(lit(0L),
          ceil(col("n").cast("double") / context).cast("long") - 1))
          .as("chunk_idx_l"))
      .select(col("doc_id"), col("pack_bucket"), col("n"),
        col("chunk_idx_l").cast("int").as("chunk_idx"))
      .select(col("doc_id"), col("pack_bucket"), col("chunk_idx"),
        least(lit(context.toLong),
          col("n") - col("chunk_idx").cast("long") * context).as("chunk_tokens"))
      .withColumn("len_bin",
        ceil(col("chunk_tokens").cast("double") / binWidth).cast("int"))
      .withColumn("dps",
        greatest(lit(1),
          floor(lit(context.toDouble) / (col("len_bin") * binWidth)).cast("int")))
    val w = Window.partitionBy("pack_bucket", "len_bin")
      .orderBy("doc_id", "chunk_idx")
    chunks
      .withColumn("rn", row_number().over(w))
      .select(col("doc_id"), col("chunk_idx"), col("chunk_tokens"),
        col("pack_bucket"), col("len_bin"),
        floor((col("rn") - 1).cast("double") / col("dps")).cast("int").as("seq_in_bin"),
        ((col("rn") - 1) % col("dps")).cast("int").as("pos_in_seq"))
  }

  /** The waste accounting over a [[packSequences]] layout — per
    * (pack_bucket, len_bin): chunk/sequence/token counts, total
    * context-window capacity, the padding the layout pays, and the
    * 6dp efficiency. THE number to compare binWidth choices on: one
    * giant bin degrades to pad-everything-to-context, bins of 1 pack
    * tightest but fragment batches. */
  def packingEfficiency(
      docs: DataFrame, context: Int, binWidth: Int, buckets: Int = 32): DataFrame =
    packSequences(docs, context, binWidth, buckets)
      .groupBy(col("pack_bucket"), col("len_bin"))
      .agg(count(lit(1)).as("n_chunks"),
        (max(col("seq_in_bin")) + 1).cast("long").as("n_seqs"),
        sum(col("chunk_tokens")).as("n_tokens"))
      .select(col("pack_bucket"), col("len_bin"), col("n_chunks"),
        col("n_seqs"), col("n_tokens"),
        (col("n_seqs") * context).as("capacity"),
        (col("n_seqs") * context - col("n_tokens")).as("pad_waste"),
        round(col("n_tokens").cast("double") / (col("n_seqs") * context), 6)
          .as("efficiency"))

  /** Per-doc content digest every shard writer/auditor hashes —
    * `md5(doc_id ":" text)`. One definition: the manifests, the disk
    * audits, and the DuckDB twins must never drift apart. */
  private def rowMd5: Column =
    md5(concat_ws(":", col("doc_id").cast("string"), col("text")))

  /** The manifest aggregation every shard writer/auditor shares: per
    * group, the doc count, token sum, and md5 over `row_md5` digests
    * joined in `orderCol` order. `rows` must carry the group columns,
    * `orderCol`, `n_tokens`, and `row_md5`. */
  private def manifestAgg(
      rows: DataFrame, groupCols: Seq[String], orderCol: String,
      docsName: String = "n_docs", tokensName: String = "n_tokens",
      md5Name: String = "content_md5"): DataFrame =
    rows.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as(docsName),
        sum("n_tokens").as(tokensName),
        md5(array_join(
          transform(sort_array(collect_list(struct(col(orderCol), col("row_md5")))),
            s => s.getField("row_md5")), "")).as(md5Name))

  /** Per-shard manifest of the [[packShards]] layout: for every shard,
    * its document count, token total, and a deterministic content
    * checksum — `md5` of the per-doc `md5(doc_id ":" text)` digests
    * concatenated in `doc_id` order, i.e. a digest of EXACTLY the rows
    * a shard file holds in the order [[writeShards]] writes them. The
    * artifact a training job checks its inputs against.
    *
    * Scale shape: one tokenize scan (the packing assignment), one
    * row-digest projection, one combinable groupBy(shard). Per-group
    * state is one shard's digest list — bounded by `tokenBudget` by
    * construction, never corpus-sized.
    */
  def shardManifest(docs: DataFrame, tokenBudget: Long, buckets: Int = 32): DataFrame =
    manifestAgg(
      packShards(docs, tokenBudget, buckets)
        .join(graft.core.Parallelism.ensure(docs)
          .select(col("doc_id"), rowMd5.as("row_md5")), "doc_id"),
      Seq("pack_bucket", "shard_in_bucket"), "doc_id")

  /** Materialize the [[packShards]] layout as the artifact a training
    * job consumes: parquet shard files under `outDir/shards/` (one
    * file per shard, rows in `doc_id` order, layout columns stored
    * alongside the payload) plus the certified manifest under
    * `outDir/manifest/`. Returns the manifest computed FROM THE
    * WRITTEN DATA — reading back what landed on disk, so the returned
    * checksums certify the artifact, not the plan; it equals
    * [[shardManifest]] of the input by construction (the spec pins
    * this round-trip).
    *
    * Scale shape: one shuffle co-locates each shard's rows
    * (`repartition` on the shard key), writers run shards-way
    * parallel, and the within-task sort covers (bucket, shard, doc)
    * so the partitioned write needs no second sort. The manifest is
    * one grouped pass over the written files. Shard size is bounded
    * by `tokenBudget`, so per-task memory is budget-sized at any
    * corpus scale.
    */
  def writeShards(
      docs: DataFrame, outDir: String, tokenBudget: Long, buckets: Int = 32): DataFrame = {
    graft.core.Parallelism.ensure(docs)
      .join(packShards(docs, tokenBudget, buckets)
        .select("doc_id", "n_tokens", "pack_bucket", "shard_in_bucket"), "doc_id")
      .repartition(col("pack_bucket"), col("shard_in_bucket"))
      .sortWithinPartitions("pack_bucket", "shard_in_bucket", "doc_id")
      .write.mode("overwrite")
      .partitionBy("pack_bucket", "shard_in_bucket")
      .parquet(s"$outDir/shards")
    val written = manifestAgg(
      docs.sparkSession.read.parquet(s"$outDir/shards")
        .select(col("doc_id"), col("n_tokens"), col("pack_bucket"),
          col("shard_in_bucket"), rowMd5.as("row_md5")),
      Seq("pack_bucket", "shard_in_bucket"), "doc_id")
    written.coalesce(1).write.mode("overwrite").parquet(s"$outDir/manifest")
    docs.sparkSession.read.parquet(s"$outDir/manifest")
  }

  /** [[writeShards]] in the JOIN-COLOCATED layout: the same doc-level
    * shard table (payload + `n_tokens, pack_bucket, shard_in_bucket`
    * layout columns) written as a [[graft.sources.BucketedStore]]
    * table bucketed on `doc_id` — so every downstream equi-join or
    * groupBy on `doc_id` (shards ⋈ eval tables, shards ⋈ per-doc
    * signal tables) plans WITHOUT an Exchange on this side, the
    * amortize-the-shuffle-at-write-time contract the analytics
    * consumers want. [[writeShards]] remains the training-loader
    * artifact (one file per shard, `doc_id` order inside);
    * this is the analytics artifact — same rows, different layout,
    * and the certified manifest (computed FROM the registered table)
    * is value-identical to [[writeShards]]'s because the manifest
    * digests are `doc_id`-ordered per shard regardless of file
    * layout (the spec pins both properties). Returns the manifest. */
  def writeShardsBucketed(
      docs: DataFrame, outDir: String, tableName: String, tokenBudget: Long,
      buckets: Int = 32, docBuckets: Int = 32): DataFrame = {
    val rows = graft.core.Parallelism.ensure(docs)
      .join(packShards(docs, tokenBudget, buckets)
        .select("doc_id", "n_tokens", "pack_bucket", "shard_in_bucket"), "doc_id")
    graft.sources.BucketedStore.write(
      rows, tableName, s"$outDir/shards_bucketed", "doc_id", docBuckets,
      sortCols = Seq("doc_id"))
    val written = manifestAgg(
      graft.sources.BucketedStore.table(docs.sparkSession, tableName)
        .select(col("doc_id"), col("n_tokens"), col("pack_bucket"),
          col("shard_in_bucket"), rowMd5.as("row_md5")),
      Seq("pack_bucket", "shard_in_bucket"), "doc_id")
    written.coalesce(1).write.mode("overwrite").parquet(s"$outDir/manifest")
    docs.sparkSession.read.parquet(s"$outDir/manifest")
  }

  /** [[shardManifest]] for the PRE-SHUFFLED layout: per
    * [[shuffleOrder]] shard, doc/token counts and the md5 over row
    * digests in `pos_in_shard` order — certifying exactly the byte
    * order [[writeShardsShuffled]] lays on disk. */
  def shuffledManifest(docs: DataFrame, shards: Int, seed: Long = 0L): DataFrame =
    manifestAgg(
      shuffleOrder(docs, "doc_id", shards, seed)
        .join(graft.core.Parallelism.ensure(docs)
          .select(col("doc_id"),
            size(graft.core.TextNorm.tokens(col("text"))).cast("long").as("n_tokens"),
            rowMd5.as("row_md5")), "doc_id"),
      Seq("shard"), "pos_in_shard")

  /** [[writeShards]] in TRAINING ORDER: the artifact a data loader
    * actually consumes is pre-shuffled (WebDataset-style), so rows
    * land on disk in the [[shuffleOrder]] permutation — one parquet
    * file per shard, rows in `pos_in_shard` order (a reader
    * interleaving the shard streams reproduces the seeded global
    * order bit-for-bit), `pos_in_shard` stored alongside the payload,
    * and the certified [[shuffledManifest]]-shaped manifest computed
    * from the written data under `outDir/manifest`. A new epoch is a
    * new `seed` (and a new artifact). Same plan shape as
    * [[writeShards]]: one co-locating shuffle, shards-way-parallel
    * writers, sort covered within the task. */
  def writeShardsShuffled(
      docs: DataFrame, outDir: String, shards: Int, seed: Long = 0L): DataFrame = {
    graft.core.Parallelism.ensure(docs)
      .join(shuffleOrder(docs, "doc_id", shards, seed)
        .select("doc_id", "shard", "pos_in_shard"), "doc_id")
      .repartition(col("shard"))
      .sortWithinPartitions("shard", "pos_in_shard")
      .write.mode("overwrite")
      .partitionBy("shard")
      .parquet(s"$outDir/shards")
    val written = manifestAgg(
      docs.sparkSession.read.parquet(s"$outDir/shards")
        .select(col("doc_id"), col("shard"), col("pos_in_shard"),
          size(graft.core.TextNorm.tokens(col("text"))).cast("long").as("n_tokens"),
          rowMd5.as("row_md5")),
      Seq("shard"), "pos_in_shard")
    written.coalesce(1).write.mode("overwrite").parquet(s"$outDir/manifest")
    docs.sparkSession.read.parquet(s"$outDir/manifest")
  }

  /** Audit a [[writeShards]] artifact: recompute every shard's
    * manifest row from the FILES ON DISK and diff it against the
    * stored manifest — the check a training job runs before trusting
    * its inputs (bit-rot, partial copies, a shard touched after
    * certification). Output: one row per shard present on EITHER side
    * — `(pack_bucket, shard_in_bucket, ok, stored_md5, actual_md5)`;
    * `ok` is false for any count/checksum mismatch, a manifest shard
    * missing on disk, or an on-disk shard the manifest never recorded.
    *
    * Scale: the same one grouped pass over the shard files the
    * manifest itself cost, plus a manifest-sized full join. */
  def verifyShards(
      session: org.apache.spark.sql.SparkSession, outDir: String): DataFrame = {
    val actual = manifestAgg(
      session.read.parquet(s"$outDir/shards")
        .select(col("doc_id"), col("n_tokens"), col("pack_bucket"),
          col("shard_in_bucket"), rowMd5.as("row_md5")),
      Seq("pack_bucket", "shard_in_bucket"), "doc_id",
      docsName = "a_docs", tokensName = "a_tokens", md5Name = "a_md5")
    val stored = session.read.parquet(s"$outDir/manifest")
      .select(col("pack_bucket"), col("shard_in_bucket"),
        col("n_docs").as("m_docs"), col("n_tokens").as("m_tokens"),
        col("content_md5").as("m_md5"))
    stored.join(actual, Seq("pack_bucket", "shard_in_bucket"), "full")
      .select(col("pack_bucket"), col("shard_in_bucket"),
        (col("m_docs") <=> col("a_docs") &&
          col("m_tokens") <=> col("a_tokens") &&
          col("m_md5") <=> col("a_md5")).as("ok"),
        col("m_md5").as("stored_md5"), col("a_md5").as("actual_md5"))
  }

  /** Deterministic global training order: a seeded pseudo-random
    * permutation of the corpus, realized as `shards` independent
    * streams — the "shuffle the dataset before each epoch" step of a
    * training run, reproducible bit-for-bit from (corpus, seed) with
    * no `rand()` and no engine-dependent partition order.
    *
    * Each row's shuffle key is `md5(id ":" seed)`; `shard` is a hash
    * slice of it, `pos_in_shard` ranks the full key within the shard
    * (ties by id), `interleave_pos = pos_in_shard * shards + shard` is
    * the global round-robin order a reader consuming the shard streams
    * in lockstep sees — unique across the corpus and strictly
    * increasing within every shard, with gaps only at the tails of
    * uneven shards. A new seed yields a fresh permutation; epoch k can
    * simply use seed + k.
    *
    * Scale shape: one shuffle on `shard`, then each shard sorts ONLY
    * its own keys — ids and 32-byte hashes, never document payloads —
    * so a 100 TB corpus shuffles as `shards`-way parallel narrow
    * sorts. Size `shards` so a shard's (id, key) stream fits a task
    * sort spill-free; readers join payloads back by id (keyed,
    * column-pruned).
    */
  def shuffleOrder(df: DataFrame, idCol: String, shards: Int, seed: Long = 0L): DataFrame = {
    require(shards > 0, s"shards=$shards must be positive")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("shard").orderBy(col("shuffle_key"), col(idCol))
    df.select(col(idCol),
        md5(concat_ws(":", col(idCol).cast("string"), lit(seed.toString))).as("shuffle_key"))
      .withColumn("shard",
        (conv(substring(col("shuffle_key"), 1, 8), 16, 10).cast("long") % shards).cast("int"))
      .withColumn("pos_in_shard", (row_number().over(w) - 1).cast("long"))
      .select(col(idCol), col("shard"),
        col("pos_in_shard"),
        (col("pos_in_shard") * shards + col("shard")).as("interleave_pos"))
  }

  /** Stratified deterministic sample: keep up to `perStratum` rows per
    * stratum, chosen by md5 order (a stable "random" order any engine
    * reproduces), ties broken by id. One shuffle on the stratum key. */
  def stratified(df: DataFrame, stratumCol: String, idCol: String, perStratum: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(stratumCol)
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    df.withColumn("sample_rank", row_number().over(w).cast("int"))
      .filter(col("sample_rank") <= perStratum)
  }

  /** [[stratified]] via the bounded-heap aggregate
    * [[graft.functions.TopKByScore]] — the 100 TB formulation of
    * per-group caps (domain caps: "at most n documents per source").
    * The window version shuffles and SORTS every stratum in full, and a
    * head stratum (one giant domain) lands on one task; here partial
    * aggregation forwards at most `perStratum` ids per stratum per map
    * task into the shuffle and nothing is ever sorted — the same
    * rewrite as `InvertedIndex.topK` → `topKAggregated`.
    *
    * Rank key: the id's md5 prefix truncated to 13 hex digits (52 bits
    * — exactly representable in the heap's long key and in any engine's
    * numeric type), ties by id. Equivalent to [[stratified]]'s
    * (full-md5, id) order unless two ids collide in their first 52
    * md5 bits (~n²/2^52 per stratum); the oracle pins the truncated
    * order exactly. Non-id columns are recovered by a join on
    * (stratum, id) — keyed, AQE-broadcast when the sample is small.
    */
  def stratifiedAggregated(
      df: DataFrame, stratumCol: String, idCol: String, perStratum: Int): DataFrame = {
    require(perStratum > 0, s"perStratum must be positive, got $perStratum")
    // score DESC in the heap = md5-prefix ASC via negation
    val key = -conv(substring(md5(col(idCol).cast("string")), 1, 13), 16, 10)
      .cast("long")
    val kept = df
      .groupBy(col(stratumCol))
      .agg(graft.functions.TopKByScore.topK(key, col(idCol), perStratum).as("top"))
      .select(col(stratumCol), posexplode(col("top")).as(Seq("i", "e")))
      .select(col(stratumCol), col("e.id").as(idCol),
        (col("i") + 1).cast("int").as("sample_rank"))
    df.join(kept, Seq(stratumCol, idCol))
      .select(df.columns.map(col) :+ col("sample_rank"): _*)
  }

  /** [[splitCol]] over an arbitrary key Column (not just a named id
    * column) — the building block [[leakageSafeSplit]] hashes its
    * cluster representative with. */
  def splitColOf(key: Column, trainPct: Int = 80, valPct: Int = 10): Column = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct <= 100,
      s"invalid split $trainPct/$valPct")
    val b = hashBucket(key)
    when(b < trainPct, "train")
      .when(b < trainPct + valPct, "val")
      .otherwise("test")
  }

  /** Leakage-safe train/val/test split: near-duplicate documents must
    * never straddle the split boundary — a test doc whose near-copy
    * sits in train inflates eval scores exactly the way benchmark
    * contamination does (the within-corpus face of the Lee et al. 2022
    * dedup argument). [[trainValTest]] hashes each doc independently,
    * so the members of a duplicate cluster scatter across splits; here
    * every doc hashes its CLUSTER REPRESENTATIVE (the canonical min
    * doc_id from [[Dedup.clusters]]) instead, so a whole near-dup
    * cluster lands on one side, deterministically. Docs in no cluster
    * (the overwhelming majority) hash their own id — for them the
    * assignment is IDENTICAL to [[trainValTest]], so turning the
    * leakage guard on only moves clustered docs.
    *
    * @param clusters `(doc_id, cluster_id)` — [[Dedup.clusters]]
    *   output (docs absent from it are singletons). Cluster-table-sized
    *   join: broadcast/AQE when the dup graph is small, keyed shuffle
    *   otherwise; the split itself stays row-parallel.
    * @return docs + `split_key` (the hashed representative) + `split`.
    */
  def leakageSafeSplit(
      docs: DataFrame,
      clusters: DataFrame,
      idCol: String = "doc_id",
      trainPct: Int = 80,
      valPct: Int = 10): DataFrame = {
    val reps = clusters.select(col("doc_id").as(idCol), col("cluster_id"))
    docs.join(reps, Seq(idCol), "left")
      .withColumn("split_key", coalesce(col("cluster_id"), col(idCol)))
      .withColumn("split", splitColOf(col("split_key"), trainPct, valPct))
      .drop("cluster_id")
  }

  /** Split-leakage AUDIT — the verification query for
    * [[leakageSafeSplit]]'s guarantee, runnable against ANY split
    * assignment: per near-dup cluster, how many distinct splits its
    * members landed in; summarized as
    * `(n_clusters, n_straddling, n_docs_in_straddling)`. A
    * [[leakageSafeSplit]] assignment audits to `n_straddling = 0` by
    * construction; a plain [[trainValTest]] over the same corpus shows
    * the leakage the guard exists for. Run it after any manual split
    * to certify eval integrity.
    *
    * Cost: cluster-table-sized join + two combinable aggregates —
    * never corpus-sized beyond the id/split projection.
    */
  def splitLeakageAudit(docsWithSplit: DataFrame, clusters: DataFrame): DataFrame =
    clusters.select(col("doc_id"), col("cluster_id"))
      .join(docsWithSplit.select(col("doc_id"), col("split")), Seq("doc_id"))
      .groupBy("cluster_id")
      .agg(countDistinct(col("split")).as("n_splits"), count(lit(1)).as("n_docs"))
      .agg(
        count(lit(1)).as("n_clusters"),
        sum(when(col("n_splits") > 1, 1L).otherwise(0L)).as("n_straddling"),
        sum(when(col("n_splits") > 1, col("n_docs")).otherwise(0L))
          .as("n_docs_in_straddling"))

  /** Token-budget mixture SELECTION — the manifest face of
    * [[epochPlan]]: given per-source mixture weights and a total token
    * budget, pick the actual documents. Per source, the budget share is
    * `floor(budget · w_s / Σw)` and docs are taken in deterministic
    * md5(doc_id) order (ties by id — the [[stratified]] order, so the
    * "random" fill is stable across runs and engines) until the share
    * is reached; the doc that crosses the boundary is included (budgets
    * are floors, not caps), tokenless docs are never selected (they
    * cannot fill a token budget), and unweighted sources contribute
    * nothing.
    *
    * Scale shape — the naive formulation is ONE window per source
    * (order every doc, running-sum the tokens), which serializes a head
    * source onto one task. Instead the md5 order is split at its own
    * prefix: `bucket` = the first 2 hex digits (so bucket-major,
    * full-hash-minor order IS the global md5 order — fixed-width
    * lowercase hex sorts identically as text and as a number), and
    *
    *   1. per (source, bucket) token sums → a `sources × 256` table
    *      (broadcastable at any corpus size),
    *   2. a prefix sum over that tiny table finds each bucket's
    *      starting cumulative count,
    *   3. interior buckets keep/drop WHOLESALE by a row-parallel
    *      predicate; only the single boundary bucket per source (~1/256
    *      of its docs) pays a window sort.
    *
    * @param counts `(doc_id, source, n_tokens)` — precomputed counts,
    *   so a real tokenizer's numbers ([[graft.ops.Bpe.tokenCounts]])
    *   can budget the mix (the [[packShardsCounts]] discipline).
    * @return the selected manifest `(source, doc_id, n_tokens)`.
    */
  def budgetedMixtureCounts(
      counts: DataFrame,
      weights: Map[String, Double],
      tokenBudget: Long): DataFrame = {
    require(tokenBudget > 0, s"tokenBudget=$tokenBudget must be positive")
    weights.values.foreach(w => require(w >= 0, s"negative weight $w"))
    val wSum = weights.values.sum
    require(wSum > 0, "at least one source weight must be positive")
    import org.apache.spark.sql.expressions.Window
    val desired = weights.foldLeft(lit(0L)) { case (acc, (src, w)) =>
      when(col("source") === src,
        lit(math.floor(tokenBudget.toDouble * w / wSum).toLong)).otherwise(acc)
    }
    // Materialize the narrow projection ONCE (doc ids, counts, hashes —
    // never text): it is referenced three times below (bucket sums,
    // interior branch, boundary branch), and without materialization
    // each reference re-runs the upstream tokenize scan — a plan audit
    // caught the corpus being tokenized 4x. Pluggable strategy, the
    // [[graft.core.Materialize]] contract.
    val rows = graft.core.Materialize(
      counts
        .select(col("doc_id"), col("source"), col("n_tokens").cast("long").as("n_tokens"),
          md5(col("doc_id").cast("string")).as("h"))
        .filter(col("n_tokens") > 0)
        .withColumn("desired", desired)
        .filter(col("desired") > 0)
        .withColumn("bucket", conv(substring(col("h"), 1, 2), 16, 10).cast("int")))
    // (source, bucket) token sums + prefix over the tiny per-source table
    val bw = Window.partitionBy("source").orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val bucketCum = rows.groupBy("source", "bucket")
      .agg(sum("n_tokens").as("bucket_tokens"))
      .withColumn("cum_before_bucket", sum("bucket_tokens").over(bw) - col("bucket_tokens"))
    val tagged = rows.join(broadcast(bucketCum), Seq("source", "bucket"))
    // interior buckets resolve row-parallel; only boundary buckets sort
    val keepAll = tagged
      .filter(col("cum_before_bucket") + col("bucket_tokens") <= col("desired"))
    val boundary = tagged
      .filter(col("cum_before_bucket") < col("desired") &&
        col("cum_before_bucket") + col("bucket_tokens") > col("desired"))
    val inBucket = Window.partitionBy("source", "bucket").orderBy(col("h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val boundaryKept = boundary
      .withColumn("cum_before",
        col("cum_before_bucket") + sum("n_tokens").over(inBucket) - col("n_tokens"))
      .filter(col("cum_before") < col("desired"))
    keepAll.select("source", "doc_id", "n_tokens")
      .unionByName(boundaryKept.select("source", "doc_id", "n_tokens"))
  }

  /** [[budgetedMixtureCounts]] from raw documents, counting with the
    * library's whitespace tokenizer (one tokenize scan). */
  def budgetedMixture(
      docs: DataFrame,
      sourceCol: String,
      weights: Map[String, Double],
      tokenBudget: Long): DataFrame =
    budgetedMixtureCounts(
      graft.core.Parallelism.ensure(docs)
        .select(col("doc_id"), col(sourceCol).as("source"),
          size(graft.core.TextNorm.tokens(col("text"))).cast("long").as("n_tokens")),
      weights, tokenBudget)

  /** GPT-style context packing plan — concatenate the token stream and
    * split it at fixed `ctxLen` boundaries, documents crossing a
    * boundary split with them (the standard causal-LM data layout, vs
    * [[packShards]]' never-split shard assignment). Output maps each
    * doc to its context span: `(doc_id, n_tokens, pack_bucket,
    * start_ctx, end_ctx, n_contexts, head_offset)` — which fixed-size
    * contexts the doc's tokens land in within its bucket's stream, and
    * at what offset inside the first one. Token-less docs occupy no
    * context (NULL span, n_contexts = 0).
    *
    * Scale shape — the [[packShards]] discipline: a single global
    * prefix sum would serialize on one window sort, so the stream is
    * bucketed by md5(doc_id) into `buckets` independent streams and
    * the running sum is a per-bucket window (each sorts ~1/buckets of
    * the DOC COUNT — three longs per doc, text never enters the
    * window). Within a bucket the order is doc_id — deterministic and
    * engine-agnostic. One tokenize scan, one bucket-keyed window, no
    * other shuffle.
    */
  def contextPlan(docs: DataFrame, ctxLen: Long, buckets: Int = 32): DataFrame =
    contextPlanCounts(
      graft.core.Parallelism.ensure(docs)
        .select(col("doc_id"),
          size(graft.core.TextNorm.tokens(col("text"))).cast("long").as("n_tokens")),
      ctxLen, buckets)

  /** Fill accounting for a [[contextPlan]] layout — the waste report a
    * training-infra owner reads before committing to a context length:
    * per bucket, the token volume, the context count it occupies
    * (`ceil(total / ctxLen)` — integer arithmetic, exact in any
    * engine), and the fill ratio (tokens / capacity, round 6; the
    * complement is padding waste in the last context). One combinable
    * groupBy over the counts — the plan's window never runs.
    */
  def contextPlanSummary(docs: DataFrame, ctxLen: Long, buckets: Int = 32): DataFrame = {
    require(ctxLen > 0 && buckets > 0, s"bad context-plan params $ctxLen/$buckets")
    val bucket = (conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
      .cast("long") % buckets).cast("int")
    graft.core.Parallelism.ensure(docs)
      .select(bucket.as("pack_bucket"),
        size(graft.core.TextNorm.tokens(col("text"))).cast("long").as("n_tokens"))
      .groupBy("pack_bucket")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("total_tokens"))
      .select(col("pack_bucket"), col("n_docs"), col("total_tokens"),
        (-floorDiv(-col("total_tokens"), ctxLen)).cast("long").as("n_contexts"),
        when(col("total_tokens") > 0,
          round(col("total_tokens").cast("double") /
            ((-floorDiv(-col("total_tokens"), ctxLen)) * ctxLen), 6)).as("fill_ratio"))
  }

  /** ceil-division via floor: `ceil(a/b) = -floor(-a/b)`. NOT integer
    * arithmetic — Spark promotes long/long `/` to IEEE-double division
    * (as does the DuckDB twin's `a / b`, so engine parity holds
    * regardless) — which is exact only while `a` stays well under 2^53
    * (~9e15 tokens PER BUCKET; raise `buckets` long before that).
    * Twinnable as the same expression in SQL. */
  private def floorDiv(a: Column, b: Long): Column = floor(a / b)

  /** [[contextPlan]] over a precomputed `(doc_id, n_tokens)` table, so
    * a trained tokenizer's counts ([[graft.ops.Bpe.tokenCounts]]) can
    * drive the layout instead of the whitespace proxy. */
  def contextPlanCounts(counts: DataFrame, ctxLen: Long, buckets: Int = 32): DataFrame = {
    require(ctxLen > 0 && buckets > 0, s"bad context-plan params $ctxLen/$buckets")
    import org.apache.spark.sql.expressions.Window
    val bucket = (conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
      .cast("long") % buckets).cast("int")
    val w = Window.partitionBy("pack_bucket").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    counts
      .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
        bucket.as("pack_bucket"))
      .withColumn("cum_tokens", sum("n_tokens").over(w))
      .select(col("doc_id"), col("n_tokens"), col("pack_bucket"),
        (col("cum_tokens") - col("n_tokens")).as("start_off"),
        (col("cum_tokens") - 1).as("end_off"))
      .select(col("doc_id"), col("n_tokens").cast("int").as("n_tokens"),
        col("pack_bucket"),
        when(col("n_tokens") > 0,
          floor(col("start_off") / ctxLen)).cast("int").as("start_ctx"),
        when(col("n_tokens") > 0,
          floor(col("end_off") / ctxLen)).cast("int").as("end_ctx"),
        when(col("n_tokens") > 0,
          floor(col("end_off") / ctxLen) - floor(col("start_off") / ctxLen) + 1)
          .otherwise(0L).cast("int").as("n_contexts"),
        when(col("n_tokens") > 0,
          (col("start_off") % ctxLen)).cast("int").as("head_offset"))
  }
}
