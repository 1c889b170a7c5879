package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.{Materialize, TextNorm}

/** End-to-end corpus curation: the composition a training-data team
  * actually ships, assembled from this library's proven stages —
  *
  *   quality filter → language filter → near-dedup → decontamination
  *   → mixture sampling → split assignment
  *
  * Each stage exists (and is oracle-gated) as a standalone operator in
  * [[TextAnalysis]] / [[Dedup]] / [[Sampling]]; this module is the glue
  * a user would otherwise write by hand, with two properties the naive
  * chain lacks:
  *
  *   - The two token-derived filters (quality, language-ID) are FUSED
  *     into one tokenization pass ([[rowFlags]]) instead of two scans
  *     plus a doc_id join — at 100 TB the raw-text scan is the dominant
  *     cost, and quality + language read the exact same token array.
  *   - [[funnel]] reports per-stage survivor counts (the loss
  *     accounting every production pipeline publishes) from ONE
  *     aggregate over a single annotated scan, not one job per stage.
  *
  * Stage order is deliberate and load-bearing:
  * cheap row-parallel predicates (quality, language) run first so the
  * shuffling stages (near-dedup's band join, decontamination's shingle
  * semi-join) only ever see survivors; near-dedup precedes
  * decontamination so contaminated-id lookup work isn't spent on docs
  * a dedup cluster would drop anyway; mixture (row-parallel again) is
  * last because its keep-rate is a knob users re-tune per run — putting
  * it after the expensive stages means a rate change replays only a
  * filter, not the dedup graph. Split assignment drops no rows (it
  * stamps a column), so it lives outside the funnel.
  *
  * Every stage keys off content or md5(doc_id) — no rand(), no
  * partition-dependence — so the whole composition is deterministic
  * and engine-reproducible; the DuckDB oracle replays it end to end
  * (SparkEntry `q_curate` / `q_curate_funnel`).
  *
  * Reference scope note: the reference engine stops at word-count
  * indexing (`mapper/main.py`, `master/main.py`); curation is part of
  * this library's training-data superset (SURVEY §2.12), composed from
  * the operators the reference-equivalent suites already gate.
  */
object Curation {

  /** How [[curate]]/[[curateWithFunnel]] stamp the manifest's `split`
    * column. */
  sealed trait SplitMode
  object SplitMode {
    /** Independent per-doc hash split ([[Sampling.splitCol]]) — the
      * default, and the historical behavior. */
    case object Hash extends SplitMode
    /** Cluster-representative split ([[Sampling.leakageSafeSplit]]
      * semantics) served from the chain's OWN near-dup cluster table —
      * the graph the dedup stage already computed, so certifying the
      * split against it costs zero extra graph builds (running
      * [[Sampling.leakageSafeSplit]] standalone after a curate pays
      * minhash→bands→pairs→clusters a second time).
      *
      * Honesty note the spec pins: because the chain's dedup stage
      * drops every non-canonical cluster member, each survivor IS its
      * cluster's representative, so on the manifest this assignment
      * COINCIDES with [[Hash]] — the mode's value is the certificate,
      * not a different answer: the returned
      * [[CurationResult.clusters]] table lets
      * [[Sampling.splitLeakageAudit]] prove `n_straddling = 0` (and
      * lets any OTHER table be split/audited against the same graph)
      * without re-running it, and the guard stays correct if the chain
      * is ever configured to keep duplicates. */
    case object LeakageSafe extends SplitMode
  }

  /** Per-row flags for the token-derived filters, one tokenization
    * pass: `q_keep` ([[TextAnalysis.qualityScore]]'s keep rule —
    * ≥ `minTokens` tokens and at least one English stopword hit) and
    * `pred_lang` ([[TextAnalysis.languageId]]'s stopword-argmax with
    * the same fixed tie order en, de, es, fr, zh), plus `n_tok` for
    * [[funnel]]'s token-weighted accounting. ALL input columns pass
    * through unchanged — the batch chain keeps `text` (downstream
    * shingle stages) and `source` (mixture), the streaming gate keeps
    * whatever its JSONL schema carries. Row-parallel, fully codegen'd,
    * no shuffle.
    *
    * PLAN-SHAPE CONTRACT — the seal. A plain two-step select does NOT
    * protect the tokenizer from the gate that follows:
    * `PushPredicateThroughNonJoin` substitutes the flag aliases into
    * `filter(q_keep && pred_lang…)` and pushes the condition below the
    * projection, inlining the interpreted tokenizer ~27× into one
    * per-row predicate (the round-11 stream probe caught it: 22 s for
    * a 50k-doc gate that costs ~2 s tokenized once). Alias
    * substitution never crosses [[graft.functions.PlanSeal]], so both
    * expensive layers are sealed: the tokenizer evaluates once into
    * `ts`, the six token-derived stats evaluate once into a struct,
    * and any predicate a caller stacks on `q_keep`/`pred_lang` is
    * pushed down only as far as cheap struct-field extractions above
    * the sealed projection. (Round 11 sealed with `explode(array(…))`
    * one-row Generates — same plan shape, but the Generate pair
    * priced at ~50 µs/doc in row copies; PlanSeal keeps the shape at
    * zero execution cost, measured in the round-12 A/B.)
    */
  private[graft] def rowFlags(
      docs: DataFrame, minTokens: Int, blocklist: Seq[String] = Nil,
      keepTokens: Boolean = false): DataFrame = {
    // isin, not array_contains(array(lits)): inside a higher-order
    // filter the lambda body is interpreted per token, and the In
    // predicate evaluates measurably cheaper there than
    // array_contains over a constructed array — a same-JVM sf1 A/B
    // (SURVEY §8) put the whole flags pass at 4.1 s vs 7.4 s warm,
    // i.e. stopword matching drops to ~free against the ~4 s
    // tokenizer floor, and this chain runs three flag passes
    def hits(words: Seq[String]): Column =
      size(filter(col("ts"), t => t.isin(words: _*)))
    val passThrough = docs.columns.toSeq.map(col)
    // the optional blocklist count rides the SAME struct (and so the
    // same tokenize pass) as the language scores — a third flag pass
    // would triple the chain's dominant scan cost for nothing
    val stats = Seq(
      size(col("ts")).as("n_tok"),
      hits(Stopwords.en).as("s_en"),
      hits(Stopwords.de).as("s_de"),
      hits(Stopwords.es).as("s_es"),
      hits(Stopwords.fr).as("s_fr"),
      hits(Stopwords.zh).as("s_zh")) ++
      (if (blocklist.isEmpty) Nil else Seq(hits(blocklist).as("s_bl")))
    // keepTokens (r20, guide §2.4): the chain's downstream scans
    // (minhash signing, decontamination shingles) re-derive the
    // survivor set from the source scan — paying THIS tokenize again —
    // and then tokenize a second time for their own expression. Keeping
    // the sealed token array in the output lets them consume `ts`
    // directly (tok = _ => col("ts")): one tokenize per consumer scan
    // instead of two. The column is plan-only — nothing materializes
    // it, and consumers that don't reference it have it pruned.
    val withTs = if (keepTokens) Seq(col("ts")) else Nil
    val scored = graft.core.Parallelism.ensure(docs)
      .select(passThrough :+ graft.functions.PlanSeal.seal(TextNorm.tokens(col("text"))).as("ts"): _*)
      .select(passThrough ++ withTs :+ graft.functions.PlanSeal.seal(struct(stats: _*)).as("fl"): _*)
    val best = greatest(col("fl.s_en"), col("fl.s_de"), col("fl.s_es"),
      col("fl.s_fr"), col("fl.s_zh"))
    scored.select(passThrough ++ withTs ++ Seq(
      col("fl.n_tok").as("n_tok"),
      (col("fl.n_tok") >= minTokens && col("fl.s_en") > 0).as("q_keep"),
      when(col("fl.s_en") === best, "en")
        .when(col("fl.s_de") === best, "de")
        .when(col("fl.s_es") === best, "es")
        .when(col("fl.s_fr") === best, "fr")
        .otherwise("zh").as("pred_lang"),
      (if (blocklist.isEmpty) lit(true) else col("fl.s_bl") === 0).as("b_keep")): _*)
  }

  /** Row-parallel quality/language gate — the [[curate]] chain's two
    * cheap predicates packaged for per-batch streaming use
    * ([[graft.streaming.CorpusWatcher.startJsonl]]). */
  final case class QualityGate(minTokens: Int = 10, keepLangs: Seq[String] = Seq("en"),
      blocklist: Seq[String] = Nil) {
    require(keepLangs.nonEmpty, "keepLangs must name at least one language")
  }

  /** A STORED classifier served as a gate — per-batch on the stream
    * ([[graft.streaming.CorpusWatcher.startJsonl]]) or as the optional
    * model-based stage of the batch chain ([[curate]]`(classifier =
    * Some(...))`): docs scoring `logit < bias` under the frozen
    * `(b, w)` weight table ([[classifierWeights]] output) are dropped.
    * `buckets` must equal the table's training-time bucket count —
    * [[classifierScore]]'s contract. `bias` is the operating point;
    * feed it from [[operatingPointBias]] over a [[thresholdSweep]] so
    * the gate thresholds on a VALIDATED precision/recall trade instead
    * of p = 0.5. The weight table is model-sized (KBs), broadcast into
    * every batch; training never happens on the stream.
    *
    * `groupBiases` upgrades the gate to PER-GROUP operating points
    * (the [[operatingPointsBy]] output, e.g.
    * `points.select($"lang", $"threshold".as("bias"))`): each doc
    * keeps at ITS `groupCol` value's validated threshold
    * ([[classifierScoreBiased]] semantics), with `bias` as the default
    * for groups absent from the table and NULL-group docs. The gated
    * frame must carry `groupCol` then.
    *
    * `precomputedLogits` (r19, guide §2.4): a caller that ALREADY
    * scored the corpus against these same weights/buckets — the
    * sweep→select→gate loop always has, it swept that very table —
    * passes the scored frame (`doc_id`, `logit`, plus `groupCol` when
    * `groupBiases` is set) and the gate thresholds IT instead of
    * re-running [[classifierScore]]'s tokenize scan over the gated
    * docs. Decisions are identical by construction (`logit` is a pure
    * per-doc function of the frozen weights; the threshold comparison
    * is the same column algebra), the table must COVER the gated docs
    * (score-everything producers do; absent docs would silently drop),
    * and the caller asserts the same-weights/same-buckets contract by
    * choosing the field. Caller checklist for `precomputedLogits`:
    *   - same weights and buckets as the gate;
    *   - `groupCol` present when `groupBiases` is set;
    *   - EVERY doc that can reach the gate is scored: a gated doc
    *     missing from the table is dropped with no error, so a chain
    *     whose earlier stages do not subset the scored frame loses rows.
    */
  final case class ClassifierGate(
      weights: DataFrame, buckets: Int = 1024, bias: Double = 0.0,
      groupBiases: Option[DataFrame] = None, groupCol: String = "source",
      precomputedLogits: Option[DataFrame] = None) {
    require(buckets >= 2, s"buckets=$buckets must be >= 2")

    /** The kept-id table for `docs` under this gate's policy — the one
      * implementation both the batch chain and the streaming gate
      * route through, so the two surfaces can never disagree. */
    private[graft] def keptIds(docs: DataFrame): DataFrame = precomputedLogits match {
      case Some(sc) =>
        val kept = groupBiases match {
          case None => sc.where(coalesce(col("logit") >= lit(bias), lit(false)))
          case Some(gb) =>
            val (bGrp, bBias) = resolveBiasCols(gb, groupCol)
            sc.join(broadcast(gb.select(col(bGrp).as(groupCol), col(bBias).as("_gb"))),
                Seq(groupCol), "left")
              .where(coalesce(
                col("logit") >= coalesce(col("_gb"), lit(bias)), lit(false)))
        }
        docs.select("doc_id").join(kept.select("doc_id"), Seq("doc_id"), "left_semi")
      case None => (groupBiases match {
        case None => classifierScore(docs, weights, buckets, bias)
        case Some(gb) => classifierScoreBiased(docs, weights, gb, groupCol, buckets, bias)
      }).where(col("keep")).select("doc_id")
    }
  }

  /** Objectives for [[operatingPoint]] — how to pick ONE threshold
    * from a [[thresholdSweep]]. */
  sealed trait OpObjective
  object OpObjective {
    /** The balanced pick: the swept threshold with the highest F1;
      * ties break to the LOWEST threshold (keeps more data — the
      * deterministic tiebreak every engine reproduces). */
    case object MaxF1 extends OpObjective
    /** The precision-constrained pick: among thresholds whose measured
      * precision is at least `minPrecision`, the one with the highest
      * recall; ties to the lowest threshold. No qualifying threshold →
      * an EMPTY result (an unmeetable floor must be visible, not
      * silently substituted). */
    final case class PrecisionFloor(minPrecision: Double) extends OpObjective {
      require(minPrecision > 0 && minPrecision <= 1,
        s"minPrecision=$minPrecision must be in (0, 1]")
    }
  }

  /** SELECT the operating point from a [[thresholdSweep]] — the step
    * that makes the calibration loop executable: sweep → select →
    * gate ([[ClassifierGate]]`(bias = …)`), instead of a report a
    * human reads. One row (the winning sweep row, tagged with the
    * objective): `(objective, threshold, n_kept, n_pos, tp, precision,
    * recall, f1)`; empty when no threshold qualifies (NULL-f1-only
    * sweep under [[OpObjective.MaxF1]], unmeetable floor under
    * [[OpObjective.PrecisionFloor]]).
    *
    * Deterministic by construction: the sweep's metrics are 6dp-exact,
    * and both objectives order by `(metric desc, threshold asc)` — a
    * total order, engine-reproducible. The sort is policy-sized
    * (|thresholds| rows), never data-sized. */
  def operatingPoint(
      sweep: DataFrame, objective: OpObjective = OpObjective.MaxF1): DataFrame = {
    val picked = objective match {
      case OpObjective.MaxF1 =>
        sweep.where(col("f1").isNotNull)
          .orderBy(col("f1").desc, col("threshold").asc)
          .limit(1).withColumn("objective", lit("max_f1"))
      case OpObjective.PrecisionFloor(p) =>
        sweep.where(col("precision").isNotNull && col("precision") >= p &&
            col("recall").isNotNull)
          .orderBy(col("recall").desc, col("threshold").asc)
          .limit(1).withColumn("objective", lit("precision_floor"))
    }
    picked.select(col("objective"), col("threshold"), col("n_kept"),
      col("n_pos"), col("tp"), col("precision"), col("recall"), col("f1"))
  }

  /** [[operatingPoint]] with HOLDOUT DISCIPLINE — select the threshold
    * on one split, certify its metrics on a DISJOINT split: sweeping
    * and selecting on the same rows overstates the selected point's F1
    * (the winner is the grid point that best fits that sample's
    * noise), so the number a pipeline publishes must come from data
    * the selection never saw. `scored` needs `logit`, `actualCol` and
    * `splitCol` (stamp it with [[Sampling.splitCol]] — deterministic
    * md5 assignment, so selection/certification membership is
    * engine-reproducible); rows outside the two named splits are
    * ignored.
    *
    * One row (empty when no threshold qualifies on the selection
    * split): `(objective, threshold, sel_precision, sel_recall,
    * sel_f1, n_kept, n_pos, tp, precision, recall, f1)` — `sel_*` are
    * the SELECTION split's metrics at the winning threshold (what the
    * optimizer saw), the unsuffixed columns are the CERTIFIED metrics:
    * the same threshold re-measured on the certification split. The
    * honest gap between `sel_f1` and `f1` is the point.
    *
    * Plan: ONE corpus scan — [[thresholdSweepBy]] keyed by the split
    * column over both splits at once, materialized
    * (policy-sized: |splits| × |thresholds| rows) so the winner pick
    * and the certification read the same tiny grid; the final join is
    * one row on threshold equality (both sides carry the caller's
    * exact literals). */
  def operatingPointCertified(
      scored: DataFrame,
      thresholds: Seq[Double],
      objective: OpObjective = OpObjective.MaxF1,
      splitCol: String = "split",
      selectSplit: String = "val",
      certifySplit: String = "test",
      actualCol: String = "actual"): DataFrame =
    operatingPointsCertified(scored, thresholds, Seq(objective), splitCol,
      selectSplit, certifySplit, actualCol)

  /** [[operatingPointCertified]] for SEVERAL objectives from ONE sweep
    * (r19): a caller publishing both the balanced point and a
    * precision-floor point was paying the corpus-wide sweep aggregate
    * once PER OBJECTIVE — but the sweep depends only on
    * (scored, thresholds, splits), so the materialized grid is built
    * once here and every objective's winner pick + certification join
    * reads the same policy-sized table. Output = the per-objective
    * outputs unioned in `objectives` order (identical rows to N
    * separate calls). */
  def operatingPointsCertified(
      scored: DataFrame,
      thresholds: Seq[Double],
      objectives: Seq[OpObjective],
      splitCol: String = "split",
      selectSplit: String = "val",
      certifySplit: String = "test",
      actualCol: String = "actual"): DataFrame = {
    require(objectives.nonEmpty, "operatingPointsCertified needs >= 1 objective")
    require(selectSplit != certifySplit,
      s"selectSplit and certifySplit must be disjoint, both are '$selectSplit' " +
        "— certifying on the selection data is the hole this face closes")
    val sw = Materialize(
      thresholdSweepBy(
        scored.where(col(splitCol).isin(selectSplit, certifySplit)),
        thresholds, splitCol, actualCol))
    objectives.map { objective =>
      val win = operatingPoint(sw.where(col(splitCol) === selectSplit).drop(splitCol),
          objective)
        .select(col("objective"), col("threshold"),
          col("precision").as("sel_precision"), col("recall").as("sel_recall"),
          col("f1").as("sel_f1"))
      win.join(sw.where(col(splitCol) === certifySplit).drop(splitCol),
          Seq("threshold"))
        .select(col("objective"), col("threshold"),
          col("sel_precision"), col("sel_recall"), col("sel_f1"),
          col("n_kept"), col("n_pos"), col("tp"),
          col("precision"), col("recall"), col("f1"))
    }.reduce(_.unionByName(_))
  }

  /** [[operatingPoint]]'s threshold as the driver-side Double a
    * [[ClassifierGate]] needs for `bias` — a one-row collect of a
    * policy-sized table (the model-table convention, never corpus
    * data). None when no threshold qualifies. */
  def operatingPointBias(
      sweep: DataFrame, objective: OpObjective = OpObjective.MaxF1): Option[Double] =
    operatingPoint(sweep, objective).collect().headOption
      .map(_.getAs[Double]("threshold"))

  /** Apply a [[QualityGate]]: keep docs passing the quality rule whose
    * predicted language is in the gate's keep set; output schema equals
    * the input schema (flag columns are internal). One tokenization
    * pass, no shuffle — safe to run inside every micro-batch.
    * `keepTokenCount = true` additionally keeps the pass's `n_tok`
    * column (= `size(TextNorm.tokens(text))`) so a downstream consumer
    * that needs token counts — the adaptive gate's stats publish —
    * reuses THIS tokenize pass instead of paying its own. */
  def applyGate(docs: DataFrame, gate: QualityGate,
      keepTokenCount: Boolean = false): DataFrame =
    rowFlags(docs, gate.minTokens, gate.blocklist)
      .filter(col("q_keep") && col("pred_lang").isin(gate.keepLangs: _*) && col("b_keep"))
      .select((docs.columns.toSeq.map(col) ++
        (if (keepTokenCount) Seq(col("n_tok")) else Nil)): _*)

  /** Run the full curation chain and return the kept training manifest:
    * `(doc_id, source, pred_lang, split)` — one row per surviving doc,
    * stamped with its deterministic train/val/test assignment.
    *
    * @param docs      training corpus with `doc_id`, `text`, `source`
    * @param evalDocs  held-out eval corpus (`doc_id`, `text`) to
    *                  decontaminate against
    * @param keepLangs predicted languages to keep
    * @param minTokens quality floor (tokens per doc)
    * @param rates     per-source mixture keep rates; `defaultRate` for
    *                  unlisted sources
    *
    * Scale shape: the filtered survivor set is NOT materialized — it
    * is re-derived from the source scan by each consumer (the band
    * signing pass, the survivor chain, the decontamination shingle
    * pass: three corpus scans total). The flags are cheap row-parallel
    * column algebra — an sf1 A/B put one full flags pass at ~4 s warm,
    * stopword matching ~free against the tokenizer floor (SURVEY §8) —
    * so re-deriving them per consumer costs a scan, while
    * checkpointing the survivors would copy the corpus TEXT into
    * executor storage, a copy that at 100 TB dwarfs three scans'
    * compute and pins storage the chain never reads again. Only
    * survivors' shingles enter the two keyed shuffles (band grouping,
    * shingle semi-join); the loser/contaminated id sets are small and
    * AQE broadcasts the anti-joins; mixture + split are shuffle-free
    * column algebra on the result. Doc text never shuffles anywhere —
    * bands, shingles and ids do. The near-dup pair table is usually
    * small: up to [[Dedup.LocalPairs]] pairs, [[Dedup.clusters]] labels
    * its components on the driver and returns a local relation whose
    * exact size lets the loser anti-join broadcast at plan time.
    *
    * `classifier` opts in the MODEL-BASED quality stage (the
    * FineWeb/DCLM recipe): the quality+language survivors are scored
    * against the gate's frozen weight table ([[classifierScore]] — one
    * tokenize scan of survivors, broadcast weight join, combinable
    * per-doc sum) and docs below the gate's `bias` drop BEFORE the
    * dedup graph sees them. The stage sits after the heuristic
    * predicates (they're cheaper — no join) and before the shuffling
    * stages (fewer docs enter the band graph); its `bias` should come
    * from [[operatingPointBias]] so the chain thresholds on the
    * VALIDATED operating point. The kept-id table is materialized
    * (it feeds the survivor chain and, in
    * [[curateWithFunnel]], the funnel and samples joins).
    */
  def curate(
      docs: DataFrame,
      evalDocs: DataFrame,
      keepLangs: Seq[String] = Seq("en"),
      minTokens: Int = 10,
      rates: Map[String, Double] = Map.empty,
      defaultRate: Double = 1.0,
      trainPct: Int = 80,
      valPct: Int = 10,
      sizeRatioFloor: Double = 0.0,
      split: SplitMode = SplitMode.Hash,
      evalShingles: Option[DataFrame] = None,
      blocklist: Seq[String] = Nil,
      classifier: Option[ClassifierGate] = None): DataFrame = {
    require(keepLangs.nonEmpty, "keepLangs must name at least one language")
    // keepTokens + tok = col("ts"): the signing and shingle scans each
    // re-derive the survivor set (one tokenize) and then consumed a
    // SECOND tokenize for their own expression — now they read the
    // flags pass's token array (r20, guide §2.4)
    val ts: Column => Column = _ => col("ts")
    val s1 = rowFlags(docs, minTokens, blocklist, keepTokens = true)
      .filter(col("q_keep") && col("pred_lang").isin(keepLangs: _*) && col("b_keep"))
    val s1c = clsSurvivors(s1, classifier)._1
    val cl = chainClusters(s1c, sizeRatioFloor, ts)
    val losers = losersOf(cl)
    val s2 = s1c.join(losers, Seq("doc_id"), "left_anti")
    val contam = contamOf(s2, evalDocs, evalShingles, ts)
    manifestFrom(s1c, losers, contam, rates, defaultRate, trainPct, valPct, split, cl)
  }

  /** Diff two curation manifests — the pipeline-versioning face: when
    * a knob changes (a rate, a threshold, a new stage), the question a
    * data team actually asks is "which documents did that add, remove,
    * or re-split?", not "what are the new counts". One row per doc_id
    * present in EITHER manifest: `(doc_id, status, split_a, split_b)`
    * with status `added` (only in B), `removed` (only in A), `moved`
    * (both, different split) or `unchanged`. Works on anything with
    * `(doc_id, split)` — [[curate]] outputs, stored manifests, a
    * manifest vs its re-run (drift check: all `unchanged`).
    *
    * Scale: one doc_id-keyed full-outer join of two id-sized tables —
    * a single co-partitioned exchange, no text, no windows. Summaries
    * are a `groupBy(status).count` away; the detail IS the artifact
    * (the rows you open to review a pipeline change). */
  def manifestDiff(a: DataFrame, b: DataFrame): DataFrame =
    a.select(col("doc_id"), col("split").as("split_a"))
      .join(b.select(col("doc_id"), col("split").as("split_b")), Seq("doc_id"), "full")
      .select(col("doc_id"),
        when(col("split_a").isNull, "added")
          .when(col("split_b").isNull, "removed")
          .when(col("split_a") =!= col("split_b"), "moved")
          .otherwise("unchanged").as("status"),
        col("split_a"), col("split_b"))

  /** [[manifestDiff]] with STAGE ATTRIBUTION — the "why", not just the
    * "what": each `removed` row carries the stage that dropped the doc
    * in run B (where it's now gone), each `added` row the stage that
    * dropped it in run A (where it used to be gone) — so "src1 lost
    * 1 200 docs" becomes "1 200 docs removed at stage 6 (mixture)" and
    * an operator knows WHICH knob moved them. `dropsA`/`dropsB` are
    * the runs' per-doc drop tables (`(doc_id, stage_idx, stage)` —
    * [[curateWithFunnel]]`(attribution = true)`'s `drops`, or
    * [[dropAttribution]] standalone). Output: `(doc_id, status,
    * split_a, split_b, stage_idx, stage)`; `unchanged`/`moved` rows —
    * and docs the other run never ingested (different inputs) — carry
    * NULL stage.
    *
    * Scale: [[manifestDiff]]'s full-outer join plus two doc_id-keyed
    * left joins of id-sized attribution tables — one co-partitioned
    * exchange family, no text, no windows. */
  def manifestDiffExplained(
      a: DataFrame, b: DataFrame, dropsA: DataFrame, dropsB: DataFrame): DataFrame =
    manifestDiff(a, b)
      .join(dropsB.select(col("doc_id"),
        col("stage_idx").as("_sib"), col("stage").as("_sb")), Seq("doc_id"), "left")
      .join(dropsA.select(col("doc_id"),
        col("stage_idx").as("_sia"), col("stage").as("_sa")), Seq("doc_id"), "left")
      .select(col("doc_id"), col("status"), col("split_a"), col("split_b"),
        when(col("status") === "removed", col("_sib"))
          .when(col("status") === "added", col("_sia")).as("stage_idx"),
        when(col("status") === "removed", col("_sb"))
          .when(col("status") === "added", col("_sa")).as("stage"))

  /** The classifier stage: survivors gated by the stored model, plus
    * the kept-id table the funnel/samples joins need (materialized —
    * id-sized, consumed by up to three downstream
    * joins). No gate → the identity, no extra table. */
  private def clsSurvivors(
      s1: DataFrame, classifier: Option[ClassifierGate]): (DataFrame, Option[DataFrame]) =
    classifier match {
      case None => (s1, None)
      case Some(g) =>
        val kept = Materialize(g.keptIds(s1))
        (s1.join(kept, Seq("doc_id"), "left_semi"), Some(kept))
    }

  /** The chain's contaminated-id table: the train/serve split of
    * decontamination. With `evalShingles` (a STORED
    * [[Dedup.evalShingles]] artifact — a frozen benchmark suite never
    * re-shingles), the eval corpus is not touched at all; otherwise the
    * eval docs are shingled in-plan, the historical behavior. */
  private def contamOf(
      s2: DataFrame, evalDocs: DataFrame, evalShingles: Option[DataFrame],
      tok: Column => Column = TextNorm.tokens): DataFrame =
    evalShingles match {
      case Some(sh) => Dedup.contaminatedIdsAgainst(s2, sh, tok = tok)
      // the eval side always tokenizes its own text (it never carries a
      // chain `ts` column); the train side rides the chain's tokens
      case None => Dedup.contaminatedIdsAgainst(s2, Dedup.evalShingles(evalDocs),
        tok = tok)
    }

  /** The chain's near-dup cluster table — exactly what
    * [[Dedup.nearDupLosers]] builds internally, computed here so the
    * manifest's [[SplitMode.LeakageSafe]] column, the loser drop set,
    * and the caller-facing [[CurationResult.clusters]] all share ONE
    * graph build. Materialized. */
  private def chainClusters(
      s1: DataFrame, sizeRatioFloor: Double,
      tok: Column => Column = TextNorm.tokens): DataFrame =
    Dedup.clusters(
      Dedup.minhashCandidatePairs(s1, sizeRatioFloor = sizeRatioFloor,
        tok = tok))

  /** Non-canonical members of each cluster — [[Dedup.nearDupLosers]]'
    * filter, over an already-built cluster table. */
  private def losersOf(cl: DataFrame): DataFrame =
    cl.filter(col("doc_id") =!= col("cluster_id")).select("doc_id")

  /** The manifest half of the chain, given the two precomputed drop-set
    * id tables (`losers` over the quality+language survivors, `contam`
    * over the dedup survivors — the contract [[curate]] establishes).
    * Anti-joins are id-table-sized (AQE broadcasts them); mixture +
    * split are shuffle-free column algebra. */
  private def manifestFrom(
      s1: DataFrame,
      losers: DataFrame,
      contam: DataFrame,
      rates: Map[String, Double],
      defaultRate: Double,
      trainPct: Int,
      valPct: Int,
      split: SplitMode,
      cl: DataFrame): DataFrame = {
    val kept = s1.join(losers, Seq("doc_id"), "left_anti")
      .join(contam, Seq("doc_id"), "left_anti")
      .filter(Sampling.mixtureKeep("source", "doc_id", rates, defaultRate))
    split match {
      case SplitMode.Hash =>
        kept.select(col("doc_id"), col("source"), col("pred_lang"),
          Sampling.splitCol("doc_id", trainPct, valPct).as("split"))
      case SplitMode.LeakageSafe =>
        // cluster-table-sized left join; split_key = the representative
        // ([[Sampling.leakageSafeSplit]] verbatim, minus its passthrough)
        kept.join(cl.select(col("doc_id"), col("cluster_id")), Seq("doc_id"), "left")
          .select(col("doc_id"), col("source"), col("pred_lang"),
            Sampling.splitColOf(coalesce(col("cluster_id"), col("doc_id")),
              trainPct, valPct).as("split"))
    }
  }

  /** Run the chain ONCE and get BOTH outputs — the call every
    * production run actually wants (the manifest to train on, the
    * funnel to publish). [[curate]] and [[funnel]] invoked separately
    * each re-derive the same two drop-set tables (the near-dedup band
    * graph is the chain's measured cost floor — SURVEY §8), paying the
    * dedup graph twice; here `nearDupLosers` and `contaminatedIds` are
    * computed once and feed both outputs.
    *
    * The loser table is backed by [[Dedup.clusters]]' materialized
    * label table, so its three consumers (manifest anti-join, the
    * contamination input set, the funnel accounting join) replay a
    * cheap filter, not the band graph; the contaminated-id table is a
    * lazy shingle semi-join consumed twice, so it is materialized here
    * (it is id-sized — rows, not text).
    */
  def curateWithFunnel(
      docs: DataFrame,
      evalDocs: DataFrame,
      keepLangs: Seq[String] = Seq("en"),
      minTokens: Int = 10,
      rates: Map[String, Double] = Map.empty,
      defaultRate: Double = 1.0,
      trainPct: Int = 80,
      valPct: Int = 10,
      sizeRatioFloor: Double = 0.0,
      split: SplitMode = SplitMode.Hash,
      evalShingles: Option[DataFrame] = None,
      blocklist: Seq[String] = Nil,
      samples: Int = 0,
      classifier: Option[ClassifierGate] = None,
      attribution: Boolean = false): CurationResult =
    curateWithFunnelVariants(docs,
      Seq(CurateVariant(evalDocs, rates, defaultRate, trainPct, valPct,
        split, evalShingles)),
      keepLangs, minTokens, sizeRatioFloor, blocklist, samples,
      classifier, attribution).head

  /** One run's VARIANT-SPECIFIC knobs for
    * [[curateWithFunnelVariants]]: the eval suite to decontaminate
    * against, the mixture rates, and the split stamping. Everything a
    * knob-diff run typically moves lives here; everything upstream of
    * it (quality/language flags, the classifier gate, the near-dedup
    * band graph) is variant-INDEPENDENT and shared. */
  final case class CurateVariant(
      evalDocs: DataFrame,
      rates: Map[String, Double] = Map.empty,
      defaultRate: Double = 1.0,
      trainPct: Int = 80,
      valPct: Int = 10,
      split: SplitMode = SplitMode.Hash,
      evalShingles: Option[DataFrame] = None)

  /** N chain runs that differ only in VARIANT knobs (eval suite,
    * mixture rates, split percentages), sharing every
    * variant-independent stage — the [[manifestDiff]] /
    * [[manifestDiffExplained]] execution shape (r19, guide §2.4:
    * remove whole duplicated subtrees, the biggest shuffle saving
    * available). Running [[curateWithFunnel]] once per knob setting
    * re-derives the quality flags, the classifier gate and the
    * near-dedup band graph — the chain's measured cost floor — once
    * PER RUN, even though none of those stages read a variant knob;
    * here they compute once and every variant's manifest/funnel/drops
    * are projections over the same materialized drop-set tables (the
    * DuckDB twin of q_manifest_diff has always shared them — one
    * survivor CTE feeding two mixture projections; this makes the
    * engine's plan match its oracle's). Each DISTINCT eval suite
    * shingles once. Suites are shared by DataFrame INSTANCE (`eq`), not
    * by content: callers must pass the same reference to share one
    * contaminated-id table (two structurally identical frames each
    * build their own — same rows, twice the work), and
    * independent suites' id-sized materializations overlap on the Par
    * pool (guide §2.6). Results are row-identical to N separate
    * [[curateWithFunnel]] calls: the shared stages see identical
    * inputs, and everything downstream of them is deterministic column
    * algebra over the variant's knobs. */
  def curateWithFunnelVariants(
      docs: DataFrame,
      variants: Seq[CurateVariant],
      keepLangs: Seq[String] = Seq("en"),
      minTokens: Int = 10,
      sizeRatioFloor: Double = 0.0,
      blocklist: Seq[String] = Nil,
      samples: Int = 0,
      classifier: Option[ClassifierGate] = None,
      attribution: Boolean = false): Seq[CurationResult] = {
    require(variants.nonEmpty, "curateWithFunnelVariants needs at least one variant")
    require(keepLangs.nonEmpty, "keepLangs must name at least one language")
    require(samples >= 0, s"samples=$samples must be >= 0 (0 = no sample output)")
    val langKeep = col("pred_lang").isin(keepLangs: _*)
    val ts: Column => Column = _ => col("ts") // see curate — one tokenize per scan
    val s1 = rowFlags(docs, minTokens, blocklist, keepTokens = true)
      .filter(col("q_keep") && langKeep && col("b_keep"))
    val (s1c, clsKept) = clsSurvivors(s1, classifier)
    // one contaminated-id table per DISTINCT (evalDocs, evalShingles)
    // pair, keyed by reference identity; the id-sized materializations
    // of independent suites are themselves independent jobs — overlap
    // them (guide §2.6 back-fill)
    val suites: Seq[(DataFrame, Option[DataFrame])] =
      variants.map(v => (v.evalDocs, v.evalShingles)).foldLeft(
        Seq.empty[(DataFrame, Option[DataFrame])]) { case (acc, s) =>
        if (acc.exists(a => (a._1 eq s._1) && (a._2 == s._2))) acc else acc :+ s
      }
    // contamination over s1c instead of s2 (r20): contaminated-id
    // membership is per-doc (a doc's own shingles vs the eval set), so
    // contam(s1c) = contam(s2) ∪ {contaminated losers} — and every
    // downstream consumer is invariant to those extra loser ids: the
    // manifest anti-joins losers FIRST (set minus commutes), and the
    // funnel/attribution predicates test near_dedup BEFORE
    // decontaminate (cumulative conds / first-fail when-chain), so a
    // contaminated loser still counts against near_dedup. Decoupling
    // contam from the cluster build lets the shingle semi-join scans
    // OVERLAP the whole band-graph chain (guide §2.6) instead of
    // queueing behind its final round.
    val (cl, contams) = graft.core.Par.both(
      chainClusters(s1c, sizeRatioFloor, ts),
      graft.core.Par.all(
        suites.map { case (e, sh) =>
          () => Materialize(contamOf(s1c, e, sh, ts))
        }: _*))
    val losers = losersOf(cl)
    def contamFor(v: CurateVariant): DataFrame =
      contams(suites.indexWhere(a => (a._1 eq v.evalDocs) && (a._2 == v.evalShingles)))
    variants.map { v =>
      val contam = contamFor(v)
      CurationResult(
        manifest = manifestFrom(s1c, losers, contam, v.rates, v.defaultRate,
          v.trainPct, v.valPct, v.split, cl),
        funnel = funnelFrom(docs, langKeep, losers, contam, minTokens, v.rates,
          v.defaultRate, blocklist, clsKept),
        clusters = cl,
        // the incident-report face rides the SAME losers/contam tables —
        // consuming all three outputs builds the dedup graph once
        samples = if (samples == 0) None
          else Some(samplesFrom(docs, langKeep, losers, contam, samples,
            minTokens, v.rates, v.defaultRate, blocklist, clsKept)),
        // the full per-doc attribution table (same drop sets again):
        // what [[manifestDiffExplained]] joins — lazily assembled, so a
        // run that never consumes it pays nothing
        drops = if (!attribution) None
          else Some(droppedWithStage(docs, langKeep, losers, contam,
            minTokens, v.rates, v.defaultRate, blocklist, clsKept)))
    }
  }

  /** The END of every curation run: [[curate]] straight into
    * [[Sampling.writeShards]] — the curated corpus materialized as the
    * artifact a training job consumes, one split at a time
    * (`outDir/train/…`, `outDir/val/…`, `outDir/test/…`, each with its
    * shard files and certified manifest). Returns the combined
    * manifest table with a `split` column; splits the manifest left
    * empty write nothing and contribute no rows.
    *
    * Plan shape: the chain runs ONCE (its manifest is materialized —
    * it feeds three split filters); each split's text is
    * recovered by one doc_id semi-join (manifest-sized, AQE-broadcast)
    * and handed to the writer. Doc text flows scan → one co-locating
    * shuffle → disk; it never enters the chain's own shuffles.
    *
    * `docIdBuckets` > 0 opts into the JOIN-COLOCATED layout instead:
    * each split writes via [[Sampling.writeShardsBucketed]], bucketed
    * on `doc_id` and registered as `<tablePrefix>_<split>`, so the
    * downstream analytics joins (curated split ⋈ per-doc signal
    * tables) plan exchange-free on the curated side. Manifest values
    * are identical either way — layout, not content.
    *
    * Catalog-name caveat: the registered names are SESSION-CATALOG
    * tables, and the writer drops-then-recreates on collision — a
    * second bucketed call in the same session with the same
    * `tablePrefix` silently re-points `curated_<split>` at the new
    * `outDir`. Give each corpus its own `tablePrefix` (deriving it
    * from `outDir` is the easy convention) when a session curates
    * more than one. */
  def curateToShards(
      docs: DataFrame,
      evalDocs: DataFrame,
      outDir: String,
      tokenBudget: Long,
      buckets: Int = 32,
      keepLangs: Seq[String] = Seq("en"),
      minTokens: Int = 10,
      rates: Map[String, Double] = Map.empty,
      defaultRate: Double = 1.0,
      trainPct: Int = 80,
      valPct: Int = 10,
      sizeRatioFloor: Double = 0.0,
      split: SplitMode = SplitMode.Hash,
      evalShingles: Option[DataFrame] = None,
      blocklist: Seq[String] = Nil,
      docIdBuckets: Int = 0,
      tablePrefix: String = "curated",
      classifier: Option[ClassifierGate] = None): DataFrame = {
    val manifest = Materialize(
      curate(docs, evalDocs, keepLangs, minTokens, rates, defaultRate,
        trainPct, valPct, sizeRatioFloor, split, evalShingles, blocklist,
        classifier))
    val written = Seq("train", "val", "test").flatMap { sp =>
      val ids = manifest.filter(col("split") === sp).select("doc_id")
      if (ids.isEmpty) None
      else Some({
        val splitDocs =
          docs.join(ids, Seq("doc_id"), "left_semi").select(col("doc_id"), col("text"))
        if (docIdBuckets > 0)
          Sampling.writeShardsBucketed(splitDocs, s"$outDir/$sp",
            s"${tablePrefix}_$sp", tokenBudget, buckets, docIdBuckets)
            .withColumn("split", lit(sp))
        else
          Sampling.writeShards(splitDocs, s"$outDir/$sp", tokenBudget, buckets)
            .withColumn("split", lit(sp))
      })
    }
    written.reduceOption(_ unionByName _).getOrElse {
      // schema-correct empty result (a bare emptyDataFrame would make
      // callers selecting the documented columns fail at analysis)
      import org.apache.spark.sql.types._
      docs.sparkSession.createDataFrame(
        docs.sparkSession.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(
          StructField("pack_bucket", IntegerType), StructField("shard_in_bucket", IntegerType),
          StructField("n_docs", LongType), StructField("n_tokens", LongType),
          StructField("content_md5", StringType), StructField("split", StringType))))
    }
  }

  /** The outputs of [[curateWithFunnel]]: the surviving training
    * manifest and the per-stage loss accounting, derived from one
    * computation of the chain's drop sets — plus the chain's near-dup
    * cluster table (`(doc_id, cluster_id)` over the quality+language
    * survivors, [[Dedup.clusters]] shape). The cluster table is the
    * expensive artifact a split-safety workflow needs next:
    * [[Sampling.splitLeakageAudit]] certifies the manifest against it,
    * and [[Sampling.leakageSafeSplit]] can stamp any other table from
    * it — neither re-runs minhash→bands→pairs→clusters. Backed by the
    * chain's materialization. `samples` (present when
    * `curateWithFunnel(samples = n)` was asked for) is the
    * [[funnelSamples]] table over the SAME drop sets — manifest,
    * funnel and samples from one computation of the chain. `drops`
    * (present under `attribution = true`) is the FULL per-doc
    * drop-stage table over those sets — the [[manifestDiffExplained]]
    * input, so diffing two runs with attribution costs the two chains
    * and nothing more. */
  final case class CurationResult(manifest: DataFrame, funnel: DataFrame,
      clusters: DataFrame, samples: Option[DataFrame] = None,
      drops: Option[DataFrame] = None)

  /** DSIR-style importance weights (Xie et al., NeurIPS '23 — "Data
    * Selection for Language Models via Importance Resampling"): score
    * each raw-corpus document by how target-like its hashed-bigram
    * profile is. Two bag-of-hashed-ngrams models — bigrams hashed into
    * `buckets` buckets — are fit by counting: `p_target` over
    * `targetDocs` (the domain you want more of), `p_raw` over `docs`
    * (what you have). A document's importance log-weight is
    *
    *   log w(d) = Σ_{bigram ∈ d} [ log p̂_target(b(bigram))
    *                              − log p̂_raw(b(bigram)) ]
    *
    * with add-one smoothing on both models. High weight = looks like
    * the target domain; selection keeps the top-weighted docs
    * ([[importanceTopK]]).
    *
    * Output: `(doc_id, n_feats, log_weight)` — one row per input doc;
    * docs with fewer than two tokens have `n_feats = 0` and a NULL
    * weight (no features ⇒ no evidence; they never rank in selection).
    *
    * Determinism (the tf-idf / [[TextAnalysis.lmBigramScore]] recipe):
    * bucket = first 8 md5 hex digits of `"w1 w2"` mod `buckets` —
    * integer-exact and engine-portable; each OBSERVED bucket's
    * log-ratio is two IEEE `ln`s rounded to 6dp and cast
    * DECIMAL(18,6), so the per-doc sum is order-independent exact
    * decimal addition.
    *
    * Plan at 100 TB: the raw corpus's (doc_id, bucket) stream is
    * materialized once (the tokenizer pass is the dominant
    * cost) and feeds both the raw model and the scoring side. Both
    * models are groupBy(bucket) with map-side partial aggregation —
    * the shuffle carries at most `buckets` rows per task, and the
    * ratio table is ≤ `buckets` rows total (corpus-independent, a
    * config knob), so scoring joins it BROADCAST: no occurrence-level
    * shuffle anywhere; the only full-width shuffle is the final
    * groupBy(doc_id), keyed and combinable. Raw text never leaves the
    * scan projection.
    */
  def importanceWeights(
      docs: DataFrame,
      targetDocs: DataFrame,
      buckets: Int = 1024): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(buckets >= 2, s"buckets=$buckets must be >= 2")
    // (…, bucket) stream: one row per bigram occurrence
    def bucketStream(d: DataFrame, keep: Seq[Column]): DataFrame =
      graft.core.Parallelism.ensure(d)
        .select(keep :+ TextNorm.tokens(col("text")).as("ts"): _*)
        .where(size(col("ts")) >= 2)
        .select(keep :+ explode(
          transform(sequence(lit(1), size(col("ts")) - 1),
            i => concat_ws(" ", element_at(col("ts"), i),
              element_at(col("ts"), i + 1)))).as("bgm"): _*)
        .select(keep :+ (conv(substring(md5(col("bgm")), 1, 8), 16, 10)
          .cast("long") % buckets).as("b"): _*)
    val rawStream = Materialize(bucketStream(docs, Seq(col("doc_id"))))
    val tgtStream = bucketStream(targetDocs, Seq.empty)
    val cr = rawStream.groupBy("b").agg(count(lit(1)).as("cr"))
    val ct = tgtStream.groupBy("b").agg(count(lit(1)).as("ct"))
    val nr = rawStream.agg(count(lit(1)).as("nr"))
    val nt = tgtStream.agg(count(lit(1)).as("nt"))
    // every bucket a raw doc can hit is in cr by construction; target
    // counts default to 0 there (smoothing keeps the ratio finite)
    val lr = cr.join(ct, Seq("b"), "left")
      .crossJoin(broadcast(nr)).crossJoin(broadcast(nt))
      .select(col("b"),
        round(log((coalesce(col("ct"), lit(0L)) + lit(1.0)) / (col("nt") + lit(buckets)))
          - log((col("cr") + lit(1.0)) / (col("nr") + lit(buckets))), 6)
          .cast(DecimalType(18, 6)).as("lr"))
    val perDoc = rawStream.join(broadcast(lr), Seq("b"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_feats"), sum("lr").as("log_weight"))
    // decimal keeps the SUM order-independent; the published column is
    // double (exact: 6dp decimals at this magnitude map injectively)
    docs.select("doc_id").join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_feats"), lit(0L)).as("n_feats"),
        col("log_weight").cast(DecimalType(18, 6)).cast("double").as("log_weight"))
  }

  /** Select the `k` most target-like documents by [[importanceWeights]]
    * — the resampling step of DSIR, deterministic variant: rank by
    * `(log_weight desc, doc_id asc)` instead of Gumbel-perturbed
    * sampling so the selection is reproducible and oracle-checkable.
    * Featureless (NULL-weight) docs never rank.
    *
    * Ranking is the bounded-heap aggregate
    * ([[graft.functions.TopKByScore]]): each map task forwards at most
    * k candidates, no partition sort, no Window — the global top-k
    * costs one k-row merge regardless of corpus size. The 6dp decimal
    * weights map injectively to doubles at this magnitude, so the
    * heap's double ordering equals decimal ordering.
    *
    * Output: `(doc_id, log_weight, rank)`, rank 1..k best-first.
    */
  def importanceTopK(
      docs: DataFrame,
      targetDocs: DataFrame,
      k: Int,
      buckets: Int = 1024): DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    importanceWeights(docs, targetDocs, buckets)
      .where(col("log_weight").isNotNull)
      .agg(graft.functions.TopKByScore.topK(
        col("log_weight"), col("doc_id"), k).as("top"))
      .select(posexplode(col("top")).as(Seq("i", "e")))
      .select(col("e.id").as("doc_id"),
        col("e.score").as("log_weight"),
        (col("i") + 1).cast("int").as("rank"))
  }

  /** Per-class evaluation of any classifier against ground truth —
    * the report every gate in this module should be tuned BY and the
    * face none of them had: from a `(…, actualCol, predictedCol)`
    * pair table, per class `(label, n_actual, n_predicted, n_correct,
    * precision, recall, f1)`. The standard confusion-derived metrics:
    * precision = correct/predicted (NULL when the class was never
    * predicted), recall = correct/actual (NULL when absent from the
    * ground truth — a predicted-only label still gets a row, with
    * n_actual = 0), f1 the harmonic mean computed FROM the 6dp-rounded
    * precision/recall (determinism: both engines combine the same
    * rounded doubles; NULL when either is NULL or both are 0).
    *
    * Rows with a NULL actual or predicted label are excluded (an
    * unlabeled row can neither score nor be scored); counts are exact
    * integers, so the report is engine-exact. Scale: three combinable
    * label-keyed aggregates over the pair table + label-sized joins —
    * never a row-level shuffle beyond the groupBys. */
  def classificationReport(
      pairs: DataFrame, actualCol: String, predictedCol: String): DataFrame = {
    val p = pairs
      .where(col(actualCol).isNotNull && col(predictedCol).isNotNull)
    val act = p.groupBy(col(actualCol).as("label"))
      .agg(count(lit(1)).as("n_actual"))
    val prd = p.groupBy(col(predictedCol).as("label"))
      .agg(count(lit(1)).as("n_predicted"))
    val cor = p.where(col(actualCol) === col(predictedCol))
      .groupBy(col(actualCol).as("label"))
      .agg(count(lit(1)).as("n_correct"))
    val prec = round(col("n_correct").cast("double") / col("n_predicted"), 6)
    val rec = round(col("n_correct").cast("double") / col("n_actual"), 6)
    act.join(prd, Seq("label"), "full").join(cor, Seq("label"), "left")
      .select(col("label"),
        coalesce(col("n_actual"), lit(0L)).as("n_actual"),
        coalesce(col("n_predicted"), lit(0L)).as("n_predicted"),
        coalesce(col("n_correct"), lit(0L)).as("n_correct"))
      .select(col("label"), col("n_actual"), col("n_predicted"), col("n_correct"),
        when(col("n_predicted") > 0, prec).as("precision"),
        when(col("n_actual") > 0, rec).as("recall"),
        when(col("n_predicted") > 0 && col("n_actual") > 0 &&
            (prec + rec) > 0,
          round(lit(2.0) * prec * rec / (prec + rec), 6)).as("f1"))
  }

  /** Reliability report for a [[classifierScore]]d corpus with known
    * labels — the calibration diagnostic [[classificationReport]]'s
    * hard counts can't give: per logit bin (`floor(logit/binWidth)`),
    * how often the positive class ACTUALLY occurs vs what the score
    * implies. Input needs `logit` (double) and `actualCol` (boolean);
    * unscored (NULL-logit) and unlabeled rows drop. Output per bin:
    * `(bin, n, n_pos, mean_logit, frac_pos, expected_p, gap)` —
    * `mean_logit` from exact 6dp-decimal accumulation (the
    * [[classifierScore]] determinism recipe), `expected_p` the
    * sigmoid of the rounded mean, `gap = |frac_pos − expected_p|`.
    * A well-calibrated scorer has small gaps everywhere; a scorer
    * that separates but mis-calibrates (common for NB — the
    * independence assumption inflates logits) shows large tails,
    * which is what tells a curation pipeline to threshold on a
    * VALIDATED operating point instead of p = 0.5. One combinable
    * aggregate over the scored table; bins are scalar arithmetic. */
  def calibrationReport(
      scored: DataFrame, actualCol: String = "actual",
      binWidth: Double = 1.0): DataFrame = {
    require(binWidth > 0, s"binWidth=$binWidth must be > 0")
    import org.apache.spark.sql.types.DecimalType
    scored.where(col("logit").isNotNull && col(actualCol).isNotNull)
      .select(floor(col("logit") / lit(binWidth)).cast("int").as("bin"),
        col("logit").cast(DecimalType(18, 6)).as("lg"),
        col(actualCol).cast("boolean").as("pos"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        sum(col("pos").cast("long")).as("n_pos"),
        sum(col("lg")).as("lgsum"))
      .select(col("bin"), col("n"), col("n_pos"),
        round(col("lgsum").cast("double") / col("n"), 6).as("mean_logit"),
        round(col("n_pos").cast("double") / col("n"), 6).as("frac_pos"))
      .withColumn("expected_p",
        round(lit(1.0) / (lit(1.0) + exp(-col("mean_logit"))), 6))
      .withColumn("gap", round(abs(col("frac_pos") - col("expected_p")), 6))
  }

  /** Operating-point sweep over a scored + labeled corpus — the step
    * [[calibrationReport]] points at: when the scorer separates but
    * mis-calibrates, the keep threshold must come from a measured
    * precision/recall trade, not from p = 0.5. One row per candidate
    * threshold: `(threshold, n_kept, n_pos, tp, precision, recall,
    * f1)` — keep = `logit ≥ threshold`, `f1` from the ROUNDED
    * precision/recall (the [[classificationReport]] determinism
    * recipe), NULL where undefined (nothing kept / no positives).
    * One scan: the scored table cross-joins the broadcast threshold
    * list and aggregates per threshold — |thresholds| is a policy
    * list, never data-sized. */
  def thresholdSweep(
      scored: DataFrame, thresholds: Seq[Double],
      actualCol: String = "actual"): DataFrame =
    sweepGrid(scored, thresholds, Nil, actualCol)

  /** The ONE sweep aggregation all the sweep faces share: one scan ×
    * the broadcast threshold grid into one combinable aggregate keyed
    * by `keys :+ threshold` (keys = none for the global sweep, the
    * group for [[thresholdSweepBy]], group + split for the certified
    * per-group grid). NULL-key rows drop with the unscored/unlabeled;
    * metrics are the 6dp-rounded [[classificationReport]] recipe. */
  private def sweepGrid(
      scored: DataFrame, thresholds: Seq[Double],
      keys: Seq[String], actualCol: String): DataFrame = {
    require(thresholds.nonEmpty, "the sweep needs at least one threshold")
    val spark = scored.sparkSession
    import spark.implicits._
    val thr = broadcast(thresholds.distinct.toDF("threshold"))
    val prec = round(col("tp").cast("double") / col("n_kept"), 6)
    val rec = round(col("tp").cast("double") / col("n_pos"), 6)
    scored.where(keys.map(col(_).isNotNull)
        .foldLeft(col("logit").isNotNull && col(actualCol).isNotNull)(_ && _))
      .select(keys.map(col) ++
        Seq(col("logit"), col(actualCol).cast("boolean").as("pos")): _*)
      .crossJoin(thr)
      .groupBy(keys.map(col) :+ col("threshold"): _*)
      .agg(
        sum((col("logit") >= col("threshold")).cast("long")).as("n_kept"),
        sum(col("pos").cast("long")).as("n_pos"),
        sum((col("pos") && col("logit") >= col("threshold")).cast("long")).as("tp"))
      .select(keys.map(col) ++ Seq(col("threshold"), col("n_kept"), col("n_pos"), col("tp"),
        when(col("n_kept") > 0, prec).as("precision"),
        when(col("n_pos") > 0, rec).as("recall"),
        when(col("n_kept") > 0 && col("n_pos") > 0 && (prec + rec) > 0,
          round(lit(2.0) * prec * rec / (prec + rec), 6)).as("f1")): _*)
  }

  /** [[thresholdSweep]] PER GROUP — the per-domain tuning face: one
    * `(group, threshold)` row instead of one per threshold, so a
    * pipeline can select a DIFFERENT operating point per source/
    * domain/language (production quality filters rarely share one
    * threshold across web and books). Input needs `logit`, `actualCol`
    * and `groupCol`; NULL-group rows drop with the unscored/unlabeled.
    * Same determinism recipe as the global sweep (6dp-rounded
    * precision/recall, f1 from the rounded pair); same plan shape —
    * one scan × the broadcast threshold list into one combinable
    * aggregate, now keyed by (group, threshold). */
  def thresholdSweepBy(
      scored: DataFrame, thresholds: Seq[Double],
      groupCol: String, actualCol: String = "actual"): DataFrame =
    sweepGrid(scored, thresholds, Seq(groupCol), actualCol)

  /** [[operatingPoint]] PER GROUP over a [[thresholdSweepBy]] output:
    * one winning row per group value, same objectives and the same
    * deterministic `(metric desc, threshold asc)` tiebreak — realized
    * as a `max_by` over `struct(metric, -threshold)` (lexicographic
    * struct ordering; thresholds are distinct within a group, so the
    * order is total and no group's pick is ambiguous). Groups where no
    * threshold qualifies are ABSENT from the output, the
    * [[operatingPoint]] empty-result contract per group. Plan: one
    * filter + one group-keyed combinable aggregate — policy-sized
    * input, never a window. */
  def operatingPointsBy(
      sweep: DataFrame, groupCol: String,
      objective: OpObjective = OpObjective.MaxF1): DataFrame = {
    val payload = struct(col("threshold"), col("n_kept"), col("n_pos"),
      col("tp"), col("precision"), col("recall"), col("f1"))
    val (qualified, orderKey, tag) = objective match {
      case OpObjective.MaxF1 =>
        (sweep.where(col("f1").isNotNull),
          struct(col("f1"), -col("threshold")), "max_f1")
      case OpObjective.PrecisionFloor(p) =>
        (sweep.where(col("precision").isNotNull && col("precision") >= p &&
            col("recall").isNotNull),
          struct(col("recall"), -col("threshold")), "precision_floor")
    }
    qualified
      .groupBy(col(groupCol))
      .agg(max_by(payload, orderKey).as("w"))
      .select(col(groupCol), lit(tag).as("objective"),
        col("w.threshold").as("threshold"), col("w.n_kept").as("n_kept"),
        col("w.n_pos").as("n_pos"), col("w.tp").as("tp"),
        col("w.precision").as("precision"), col("w.recall").as("recall"),
        col("w.f1").as("f1"))
  }

  /** [[operatingPointCertified]] PER GROUP — holdout discipline for
    * the per-domain selection loop: each group's threshold is selected
    * on the `selectSplit` slice ([[operatingPointsBy]] semantics, same
    * `max_by` tiebreak) and CERTIFIED on the disjoint `certifySplit`
    * slice, so per-language points ship with numbers their selection
    * never saw. One row per group that qualifies on the selection
    * slice: `(<groupCol>, objective, threshold, sel_precision,
    * sel_recall, sel_f1, n_kept, n_pos, tp, precision, recall, f1)` —
    * unsuffixed = certified; groups absent from the certification
    * slice drop (no disjoint data = no certifiable point, absence is
    * the honest answer).
    *
    * Plan: ONE corpus scan — the shared sweep aggregate keyed by
    * (group, split, threshold), materialized as a
    * policy-sized grid — feeds both the per-group winner pick and the
    * certification join on (group, threshold). */
  def operatingPointsCertifiedBy(
      scored: DataFrame,
      thresholds: Seq[Double],
      groupCol: String,
      objective: OpObjective = OpObjective.MaxF1,
      splitCol: String = "split",
      selectSplit: String = "val",
      certifySplit: String = "test",
      actualCol: String = "actual"): DataFrame =
    operatingPointsCertifiedByAll(scored, thresholds, groupCol, Seq(objective),
      splitCol, selectSplit, certifySplit, actualCol)

  /** [[operatingPointsCertifiedBy]] for SEVERAL objectives from ONE
    * materialized grid — the [[operatingPointsCertified]] rationale at
    * group grain (r19): the (group, split, threshold) sweep is
    * objective-independent, so N objectives share one corpus scan. */
  def operatingPointsCertifiedByAll(
      scored: DataFrame,
      thresholds: Seq[Double],
      groupCol: String,
      objectives: Seq[OpObjective],
      splitCol: String = "split",
      selectSplit: String = "val",
      certifySplit: String = "test",
      actualCol: String = "actual"): DataFrame = {
    require(objectives.nonEmpty, "operatingPointsCertifiedByAll needs >= 1 objective")
    require(selectSplit != certifySplit,
      s"selectSplit and certifySplit must be disjoint, both are '$selectSplit' " +
        "— certifying on the selection data is the hole this face closes")
    val grid = Materialize(
      sweepGrid(scored.where(col(splitCol).isin(selectSplit, certifySplit)),
        thresholds, Seq(groupCol, splitCol), actualCol))
    objectives.map { objective =>
      val win = operatingPointsBy(
          grid.where(col(splitCol) === selectSplit).drop(splitCol), groupCol, objective)
        .select(col(groupCol), col("objective"), col("threshold"),
          col("precision").as("sel_precision"), col("recall").as("sel_recall"),
          col("f1").as("sel_f1"))
      win.join(grid.where(col(splitCol) === certifySplit).drop(splitCol),
          Seq(groupCol, "threshold"))
        .select(col(groupCol), col("objective"), col("threshold"),
          col("sel_precision"), col("sel_recall"), col("sel_f1"),
          col("n_kept"), col("n_pos"), col("tp"),
          col("precision"), col("recall"), col("f1"))
    }.reduce(_.unionByName(_))
  }

  /** Average precision over a [[thresholdSweep]] (or one group of a
    * [[thresholdSweepBy]]) — the single-number PR summary for
    * comparing classifiers before picking any one operating point:
    * thresholds sorted DESCENDING (most conservative first), step-wise
    * `AP = Σ_i (R_i − R_{i−1}) · P_i` with R₀ = 0, over the rows whose
    * precision is defined (nothing kept ⇒ no step). This is AP
    * evaluated AT THE SWEPT THRESHOLDS — the resolution is the
    * caller's threshold grid, not every distinct score (the sweep is
    * the artifact being summarized). One row: `(n_points,
    * average_precision)`; empty/degenerate sweeps read 0 points and
    * NULL AP.
    *
    * Determinism: each step term is `round((R_i − R_prev) · P_i, 6)`
    * cast DECIMAL before the sum (exact, order-free accumulation of
    * quantized terms — the engine-wide recipe); the lag walk is a
    * Window over the POLICY-SIZED sweep, never corpus data. */
  def averagePrecision(sweep: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val w = Window.orderBy(col("threshold").desc)
    sweep.where(col("precision").isNotNull && col("recall").isNotNull)
      .select(col("threshold"), col("precision"), col("recall"))
      // grouped-input guard: a [[thresholdSweepBy]] output repeats each
      // threshold once per group, and an unpartitioned lag walk over it
      // would interleave the groups' recall walks into a plausible but
      // meaningless AP (with a nondeterministic lag order on the
      // duplicate thresholds). Fail loudly instead — the check is one
      // window over the policy-sized sweep; per-group AP is
      // [[averagePrecisionBy]].
      .withColumn("_dup", assert_true(
        count(lit(1)).over(Window.partitionBy(col("threshold"))) === 1,
        lit("averagePrecision: duplicate threshold values — grouped sweep " +
          "input? pre-filter to one group or use averagePrecisionBy")))
      .where(col("_dup").isNull)
      .withColumn("r_prev", coalesce(lag(col("recall"), 1).over(w), lit(0.0)))
      .select(round((col("recall") - col("r_prev")) * col("precision"), 6)
        .cast(DecimalType(18, 6)).as("term"))
      .agg(count(lit(1)).as("n_points"),
        sum(col("term")).cast("double").as("average_precision"))
  }

  /** [[averagePrecision]] PER GROUP over a [[thresholdSweepBy]] output
    * — the per-domain classifier-comparison number the per-group
    * selection loop presupposed: per-language operating points
    * ([[operatingPointsBy]]) only make sense after comparing the
    * classifiers per language, which needs per-group AP, not the
    * global number. One row per group with at least one defined
    * (precision, recall) point: `(<groupCol>, n_points,
    * average_precision)`; NULL-group rows drop (the
    * [[thresholdSweepBy]] convention), degenerate groups are absent.
    *
    * Same determinism recipe as the global walk — 6dp-quantized step
    * terms summed as exact decimals — with the lag Window PARTITIONED
    * by the group, so each group's recall walk is its own total order
    * (thresholds are distinct within a group by the sweep's
    * construction). Policy-sized input (groups × thresholds), never
    * corpus data. */
  def averagePrecisionBy(sweep: DataFrame, groupCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val w = Window.partitionBy(col(groupCol)).orderBy(col("threshold").desc)
    sweep.where(col("precision").isNotNull && col("recall").isNotNull &&
        col(groupCol).isNotNull)
      .select(col(groupCol), col("threshold"), col("precision"), col("recall"))
      .withColumn("r_prev", coalesce(lag(col("recall"), 1).over(w), lit(0.0)))
      .select(col(groupCol), round((col("recall") - col("r_prev")) * col("precision"), 6)
        .cast(DecimalType(18, 6)).as("term"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_points"),
        sum(col("term")).cast("double").as("average_precision"))
  }

  /** Expected calibration error over [[calibrationReport]]'s bins —
    * one row `(n_docs, n_bins, ece)`: the n-weighted mean gap,
    * accumulated as exact decimals (bin gaps are 6dp, weights are
    * integers) so the sum is order-free across engines. */
  def calibrationEce(
      scored: DataFrame, actualCol: String = "actual",
      binWidth: Double = 1.0): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    calibrationReport(scored, actualCol, binWidth)
      .agg(sum(col("n")).as("n_docs"),
        count(lit(1)).as("n_bins"),
        round(sum(col("n") * col("gap").cast(DecimalType(18, 6))).cast("double") /
          sum(col("n")).cast("double"), 6).as("ece"))
  }

  /** Per-stage survivor counts for the exact chain [[curate]] runs —
    * `(stage_idx, stage, n_docs, n_tokens)` with stages `ingest,
    * quality, language, [blocklist,] [classifier,] near_dedup,
    * decontaminate, mixture` (the optional stages appear only when
    * enabled, indices sequential) — docs and
    * TOKENS still alive AFTER each stage (ingest = input size). The
    * token column is the number that matters to a training run: a stage
    * that drops 1% of docs may be dropping 30% of tokens if it prunes
    * long documents, and doc counts alone hide that.
    *
    * Single-pass accounting: the input-set-dependent drop sets (dedup
    * losers over the quality+language survivors, contaminated ids over
    * the dedup survivors) are computed once as small id tables, then
    * ONE scan of the flagged corpus left-joins them and evaluates all
    * six cumulative stage predicates inside one aggregate — the corpus
    * is read a constant few times (signing pass, decontamination
    * shingle pass, count pass — flags re-derived per scan, same
    * no-text-materialization reasoning as [[curate]]), never once per
    * stage.
    */
  def funnel(
      docs: DataFrame,
      evalDocs: DataFrame,
      keepLangs: Seq[String] = Seq("en"),
      minTokens: Int = 10,
      rates: Map[String, Double] = Map.empty,
      defaultRate: Double = 1.0,
      sizeRatioFloor: Double = 0.0,
      blocklist: Seq[String] = Nil,
      classifier: Option[ClassifierGate] = None): DataFrame = {
    require(keepLangs.nonEmpty, "keepLangs must name at least one language")
    val langKeep = col("pred_lang").isin(keepLangs: _*)
    val ts: Column => Column = _ => col("ts") // see curate — one tokenize per scan
    val s1 = rowFlags(docs, minTokens, blocklist, keepTokens = true)
      .filter(col("q_keep") && langKeep && col("b_keep"))
    val (s1c, clsKept) = clsSurvivors(s1, classifier)
    val losers = Dedup.nearDupLosers(s1c, sizeRatioFloor = sizeRatioFloor,
      tok = ts)
    val s2 = s1c.join(losers, Seq("doc_id"), "left_anti")
    val contam = contamOf(s2, evalDocs, None, ts)
    funnelFrom(docs, langKeep, losers, contam, minTokens, rates, defaultRate,
      blocklist, clsKept)
  }

  /** [[funnel]] BY SOURCE — the loss report per feed: `(source,
    * stage_idx, stage, n_docs, n_tokens)` with one row per (source,
    * stage), zero-count rows INCLUDED (a source wiped out at a stage
    * is exactly the row an operator needs to see; every source that
    * entered ingest appears at every stage). "Stage 4 dropped 12% of
    * tokens" is the global funnel; "stage 4 dropped 80% of src7's
    * tokens" is the per-source row that names the broken feed.
    *
    * Same single-pass accounting as [[funnel]] (the drop sets once as
    * id tables, one flagged-corpus scan), with the one aggregate keyed
    * by source — source-vocabulary-sized output, combinable, never a
    * per-stage job. */
  def funnelBySource(
      docs: DataFrame,
      evalDocs: DataFrame,
      keepLangs: Seq[String] = Seq("en"),
      minTokens: Int = 10,
      rates: Map[String, Double] = Map.empty,
      defaultRate: Double = 1.0,
      sizeRatioFloor: Double = 0.0,
      blocklist: Seq[String] = Nil,
      classifier: Option[ClassifierGate] = None): DataFrame = {
    require(keepLangs.nonEmpty, "keepLangs must name at least one language")
    val langKeep = col("pred_lang").isin(keepLangs: _*)
    val ts: Column => Column = _ => col("ts") // see curate — one tokenize per scan
    val s1 = rowFlags(docs, minTokens, blocklist, keepTokens = true)
      .filter(col("q_keep") && langKeep && col("b_keep"))
    val (s1c, clsKept) = clsSurvivors(s1, classifier)
    val losers = Dedup.nearDupLosers(s1c, sizeRatioFloor = sizeRatioFloor,
      tok = ts)
    val s2 = s1c.join(losers, Seq("doc_id"), "left_anti")
    val contam = contamOf(s2, evalDocs, None, ts)
    val steps = funnelSteps(langKeep, rates, defaultRate, blocklist, clsKept.isDefined)
    val conds = steps.scanLeft(("ingest", lit(true))) {
      case ((_, prev), (name, grow)) => (name, grow(prev))
    }
    val joined0 = rowFlags(docs, minTokens, blocklist)
      .join(losers.withColumn("is_loser", lit(true)), Seq("doc_id"), "left")
      .join(contam.withColumn("is_contam", lit(true)), Seq("doc_id"), "left")
    val joined = clsKept.fold(joined0)(k => joined0.join(
      k.select("doc_id").withColumn("is_cls", lit(true)), Seq("doc_id"), "left"))
    val aggs = conds.zipWithIndex.flatMap { case ((_, c), i) => Seq(
      count(when(c, 1)).as(s"n$i"),
      coalesce(sum(when(c, col("n_tok"))), lit(0L)).cast("long").as(s"t$i"))
    }
    val counts = joined.groupBy(col("source")).agg(aggs.head, aggs.tail: _*)
    val stages = conds.zipWithIndex.map { case ((name, _), i) =>
      struct(lit(i + 1).as("stage_idx"), lit(name).as("stage"),
        col(s"n$i").as("n_docs"), col(s"t$i").as("n_tokens"))
    }
    counts
      .select(col("source"), explode(array(stages: _*)).as("st"))
      .select(col("source"), col("st.stage_idx"), col("st.stage"),
        col("st.n_docs"), col("st.n_tokens"))
  }

  /** The chain's cumulative stage plan (names + condition growth, in
    * order) — shared by [[funnelFrom]] and [[funnelBySource]] so the
    * two reports can never disagree on stage identity. */
  private def funnelSteps(
      langKeep: Column,
      rates: Map[String, Double],
      defaultRate: Double,
      blocklist: Seq[String],
      cls: Boolean): Seq[(String, Column => Column)] =
    Seq[(String, Column => Column)](
      "quality" -> (_ => col("q_keep")),
      "language" -> (_ && langKeep)) ++
      (if (blocklist.nonEmpty)
        Seq[(String, Column => Column)]("blocklist" -> (_ && col("b_keep")))
      else Nil) ++
      (if (cls)
        Seq[(String, Column => Column)]("classifier" -> (_ && col("is_cls").isNotNull))
      else Nil) ++
      Seq[(String, Column => Column)](
        "near_dedup" -> (_ && col("is_loser").isNull),
        "decontaminate" -> (_ && col("is_contam").isNull),
        "mixture" -> (_ && Sampling.mixtureKeep("source", "doc_id", rates, defaultRate)))

  /** Per-stage EXAMPLE documents for the funnel — the incident-report
    * face of [[funnel]]: up to `n` doc_ids dropped AT each stage
    * (passed every earlier predicate, failed this one), chosen in
    * deterministic md5 order via the bounded-heap
    * [[graft.functions.TopKByScore]] (the [[Sampling
    * .stratifiedAggregated]] recipe — at most `n` ids per stage per
    * map task enter the shuffle, nothing sorts). "Stage 4 dropped 80%"
    * is a number; these are the documents you open to see WHY.
    *
    * Output: `(stage_idx, stage, doc_id, sample_rank)` — indices and
    * names exactly as [[funnel]] reports them (ingest never drops, so
    * it never appears; the blocklist stage appears only when enabled).
    * Same cost profile as [[funnel]]: the chain's drop sets once, one
    * flagged-corpus scan, one stage-keyed bounded aggregate.
    */
  def funnelSamples(
      docs: DataFrame,
      evalDocs: DataFrame,
      n: Int = 5,
      keepLangs: Seq[String] = Seq("en"),
      minTokens: Int = 10,
      rates: Map[String, Double] = Map.empty,
      defaultRate: Double = 1.0,
      sizeRatioFloor: Double = 0.0,
      blocklist: Seq[String] = Nil,
      classifier: Option[ClassifierGate] = None): DataFrame = {
    require(n >= 1, s"n=$n must be >= 1")
    require(keepLangs.nonEmpty, "keepLangs must name at least one language")
    val langKeep = col("pred_lang").isin(keepLangs: _*)
    val ts: Column => Column = _ => col("ts") // see curate — one tokenize per scan
    val s1 = rowFlags(docs, minTokens, blocklist, keepTokens = true)
      .filter(col("q_keep") && langKeep && col("b_keep"))
    val (s1c, clsKept) = clsSurvivors(s1, classifier)
    val cl = chainClusters(s1c, sizeRatioFloor, ts)
    val losers = losersOf(cl)
    val s2 = s1c.join(losers, Seq("doc_id"), "left_anti")
    // contam MATERIALIZED (id-sized): lazy it would re-execute the s2
    // shingle semi-join — a full tokenize scan — inside the final
    // attribution query (r12 shipped it lazy here; curateWithFunnel
    // already materialized it, and the parity spec pins the two paths)
    val contam = Materialize(contamOf(s2, evalDocs, None, ts))
    samplesFrom(docs, langKeep, losers, contam, n, minTokens, rates,
      defaultRate, blocklist, clsKept)
  }

  /** The FULL per-doc drop attribution for the chain — [[funnelSamples]]
    * without the sampling: `(doc_id, stage_idx, stage)` for EVERY doc
    * the chain drops, first-failing stage, numbered as [[funnel]]
    * reports. This is the table [[manifestDiffExplained]] joins; when a
    * run also needs the manifest, prefer
    * [[curateWithFunnel]]`(attribution = true)` — one computation of
    * the dedup graph feeds both. Same cost profile as [[funnelSamples]]
    * minus the bounded aggregate: the drop sets once as id tables, one
    * flagged-corpus scan; id-sized output. */
  def dropAttribution(
      docs: DataFrame,
      evalDocs: DataFrame,
      keepLangs: Seq[String] = Seq("en"),
      minTokens: Int = 10,
      rates: Map[String, Double] = Map.empty,
      defaultRate: Double = 1.0,
      sizeRatioFloor: Double = 0.0,
      blocklist: Seq[String] = Nil,
      classifier: Option[ClassifierGate] = None): DataFrame = {
    require(keepLangs.nonEmpty, "keepLangs must name at least one language")
    val langKeep = col("pred_lang").isin(keepLangs: _*)
    val ts: Column => Column = _ => col("ts") // see curate — one tokenize per scan
    val s1 = rowFlags(docs, minTokens, blocklist, keepTokens = true)
      .filter(col("q_keep") && langKeep && col("b_keep"))
    val (s1c, clsKept) = clsSurvivors(s1, classifier)
    val cl = chainClusters(s1c, sizeRatioFloor, ts)
    val losers = losersOf(cl)
    val s2 = s1c.join(losers, Seq("doc_id"), "left_anti")
    val contam = Materialize(contamOf(s2, evalDocs, None, ts))
    droppedWithStage(docs, langKeep, losers, contam, minTokens, rates,
      defaultRate, blocklist, clsKept)
  }

  /** The attribution half of [[funnelSamples]], given the chain's two
    * precomputed drop-set id tables (the `funnelFrom` contract) — so
    * [[curateWithFunnel]] can emit manifest + funnel + samples from ONE
    * computation of the dedup graph and the contamination set. Cost on
    * top of the shared drop sets: one flagged-corpus scan and one
    * stage-keyed bounded aggregate. */
  private def samplesFrom(
      docs: DataFrame,
      langKeep: Column,
      losers: DataFrame,
      contam: DataFrame,
      n: Int,
      minTokens: Int,
      rates: Map[String, Double],
      defaultRate: Double,
      blocklist: Seq[String],
      clsKept: Option[DataFrame] = None): DataFrame = {
    val dropped = droppedWithStage(docs, langKeep, losers, contam, minTokens,
      rates, defaultRate, blocklist, clsKept)
    // bounded-heap per stage: score = md5-prefix asc (52 bits), ties by id
    val key = -conv(substring(md5(col("doc_id").cast("string")), 1, 13), 16, 10)
      .cast("long")
    dropped
      .groupBy(col("stage_idx"), col("stage"))
      .agg(graft.functions.TopKByScore.topK(key, col("doc_id"), n).as("top"))
      .select(col("stage_idx"), col("stage"), posexplode(col("top")).as(Seq("i", "e")))
      .select(col("stage_idx"), col("stage"), col("e.id").as("doc_id"),
        (col("i") + 1).cast("int").as("sample_rank"))
  }

  /** EVERY dropped doc with its first-failing stage — the per-doc
    * attribution table [[samplesFrom]] samples and
    * [[manifestDiffExplained]] joins: `(doc_id, stage_idx, stage)`,
    * numbered exactly as [[funnel]] reports (quality = 2 …; optional
    * stages only when enabled). One flagged-corpus scan over the
    * precomputed drop-set id tables; id-sized output. */
  private def droppedWithStage(
      docs: DataFrame,
      langKeep: Column,
      losers: DataFrame,
      contam: DataFrame,
      minTokens: Int,
      rates: Map[String, Double],
      defaultRate: Double,
      blocklist: Seq[String],
      clsKept: Option[DataFrame]): DataFrame = {
    // first-failing-stage attribution, numbered as funnel() reports:
    // the when-chain evaluates in stage order, so the first true
    // failure predicate names the stage (optional stages only when on)
    val fails: Seq[(String, Column)] =
      Seq("quality" -> !col("q_keep"), "language" -> !langKeep) ++
        (if (blocklist.nonEmpty) Seq("blocklist" -> !col("b_keep")) else Nil) ++
        (if (clsKept.isDefined) Seq("classifier" -> col("is_cls").isNull) else Nil) ++
        Seq("near_dedup" -> col("is_loser").isNotNull,
          "decontaminate" -> col("is_contam").isNotNull,
          "mixture" -> !Sampling.mixtureKeep("source", "doc_id", rates, defaultRate))
    val dropStage = fails.zipWithIndex.map { case ((name, cond), i) =>
      (cond, struct(lit(i + 2).as("stage_idx"), lit(name).as("stage")))
    }.foldLeft(Option.empty[Column]) {
      case (None, (cond, st)) => Some(when(cond, st))
      case (Some(acc), (cond, st)) => Some(acc.when(cond, st))
    }.get
    val joined0 = rowFlags(docs, minTokens, blocklist)
      .join(losers.withColumn("is_loser", lit(true)), Seq("doc_id"), "left")
      .join(contam.withColumn("is_contam", lit(true)), Seq("doc_id"), "left")
    clsKept.fold(joined0)(k => joined0.join(
        k.select("doc_id").withColumn("is_cls", lit(true)), Seq("doc_id"), "left"))
      .select(col("doc_id"), dropStage.as("st"))
      .where(col("st").isNotNull)
      .select(col("doc_id"), col("st.stage_idx").as("stage_idx"),
        col("st.stage").as("stage"))
  }

  /** The accounting half of the chain, given the precomputed drop-set
    * tables (same contract as `manifestFrom`): ONE scan of the flagged
    * corpus left-joins the two id tables and evaluates all six
    * cumulative stage predicates inside one aggregate. */
  private def funnelFrom(
      docs: DataFrame,
      langKeep: Column,
      losers: DataFrame,
      contam: DataFrame,
      minTokens: Int,
      rates: Map[String, Double],
      defaultRate: Double,
      blocklist: Seq[String] = Nil,
      clsKept: Option[DataFrame] = None): DataFrame = {
    // cumulative survive-through-stage predicates, in chain order —
    // the optional stage rows (blocklist, classifier) exist only when
    // the stage is on, so the default funnel keeps its historical
    // six-stage shape (and oracle); indices stay sequential
    val steps = funnelSteps(langKeep, rates, defaultRate, blocklist, clsKept.isDefined)
    val conds = steps.scanLeft(("ingest", lit(true))) {
      case ((_, prev), (name, grow)) => (name, grow(prev))
    }
    val joined0 = rowFlags(docs, minTokens, blocklist)
      .join(losers.withColumn("is_loser", lit(true)), Seq("doc_id"), "left")
      .join(contam.withColumn("is_contam", lit(true)), Seq("doc_id"), "left")
    val joined = clsKept.fold(joined0)(k => joined0.join(
      k.select("doc_id").withColumn("is_cls", lit(true)), Seq("doc_id"), "left"))
    val aggs = conds.zipWithIndex.flatMap { case ((_, c), i) => Seq(
      count(when(c, 1)).as(s"n$i"),
      coalesce(sum(when(c, col("n_tok"))), lit(0L)).cast("long").as(s"t$i"))
    }
    val counts = joined.agg(aggs.head, aggs.tail: _*)
    val stages = conds.zipWithIndex.map { case ((name, _), i) =>
      struct(lit(i + 1).as("stage_idx"), lit(name).as("stage"),
        col(s"n$i").as("n_docs"), col(s"t$i").as("n_tokens"))
    }
    counts
      .select(explode(array(stages: _*)).as("st"))
      .select(col("st.stage_idx"), col("st.stage"), col("st.n_docs"), col("st.n_tokens"))
  }

  /** Per-source DRIFT SIGNALS for a serving classifier gate — the
    * measurement leg of the classifier's refresh loop, in
    * [[TextAnalysis.refreshDue]]'s `(artifact, metric, value)` grain
    * (the [[TextAnalysis.unkRefreshSignals]] shape, artifact
    * `classifier:<source>`, metric `drop_rate`): from the gate's INPUT
    * rows (`before`) and its SURVIVORS (`after`), each source's
    * fraction dropped, 6dp-rounded. A gate whose weights froze while a
    * feed's distribution moved shows it here first — the drop rate is
    * the gate's OBSERVED behavior, so the signal needs no labels and
    * no second scoring pass. Declare per-source thresholds as
    * `(classifier:<source>, drop_rate, t)` rows and
    * [[graft.streaming.ClassifierRefresher.retrainIfDue]] acts on the
    * recorded decision. NULL-`keyCol` rows drop from both sides (a
    * NULL source would make a NULL artifact name); sources absent from
    * `after` read `drop_rate = 1` — a wiped-out feed is exactly the
    * loudest signal. Two source-keyed combinable aggregates + a
    * source-sized join; at stream cadence both inputs are the batch's
    * already-materialized stage frames. */
  def classifierDriftSignals(
      before: DataFrame, after: DataFrame,
      keyCol: String = "source", prefix: String = "classifier:"): DataFrame = {
    val inn = before.where(col(keyCol).isNotNull)
      .groupBy(col(keyCol).cast("string").as("k")).agg(count(lit(1)).as("n_in"))
    val kept = after.where(col(keyCol).isNotNull)
      .groupBy(col(keyCol).cast("string").as("k")).agg(count(lit(1)).as("n_kept"))
    inn.join(kept, Seq("k"), "left")
      .select(concat(lit(prefix), col("k")).as("artifact"),
        lit("drop_rate").as("metric"),
        round((col("n_in") - coalesce(col("n_kept"), lit(0L))).cast("double") /
          col("n_in"), 6).as("value"))
  }

  // ---- model-based quality classifier ----------------------------------

  /** Hashed unigram + bigram feature stream: one row per feature
    * occurrence, bucketed by md5 prefix — the fastText wordNgrams=2
    * feature map, shared by the classifier's trainer and scorer (the
    * [[importanceWeights]] bucketing recipe, extended with unigrams).
    * One tokenize + one explode per scan; the bigram array is guarded
    * because Spark's `sequence(1, 0)` DESCENDS instead of emptying. */
  private def featureStream(d: DataFrame, keep: Seq[Column], buckets: Int): DataFrame =
    graft.core.Parallelism.ensure(d)
      .select(keep :+ TextNorm.tokens(col("text")).as("ts"): _*)
      .where(size(col("ts")) >= 1)
      .select(keep :+ explode(concat(col("ts"),
        when(size(col("ts")) >= 2,
          transform(sequence(lit(1), size(col("ts")) - 1),
            i => concat_ws(" ", element_at(col("ts"), i),
              element_at(col("ts"), i + 1))))
          .otherwise(array().cast("array<string>")))).as("f"): _*)
      .select(keep :+ (conv(substring(md5(col("f")), 1, 8), 16, 10)
        .cast("long") % buckets).as("b"): _*)

  /** Closed-form quality-classifier training: Naive-Bayes log-odds
    * weights over hashed unigram+bigram features from a labeled pair
    * of corpora (positive = "looks like the data I want", negative =
    * raw crawl) — the weight table a fastText-style linear filter
    * serves from, computable as pure SQL with no gradient loop.
    *
    * `w_b = ln((c⁺_b + 1) / (n⁺ + B)) − ln((c⁻_b + 1) / (n⁻ + B))`,
    * rounded to 6dp DECIMAL (order-independent sums downstream). The
    * output covers the FULL bucket domain (`buckets` rows — unseen
    * buckets get the smoothed prior ratio), so [[classifierScore]]'s
    * inner join drops nothing and the table broadcasts at any corpus
    * size. The class prior `ln(P⁺/P⁻)` is deliberately absorbed into
    * the decision threshold (`bias`): quality filters tune the
    * operating point anyway, and leaving it out keeps training fully
    * lazy (no count action).
    *
    * Plan at 100 TB: two tokenize scans, two bucket-keyed combinable
    * groupBys (≤ `buckets` rows per map task cross the exchange), and
    * a `buckets`-row domain join — no occurrence-level shuffle, no
    * driver-side state.
    */
  def classifierWeights(
      pos: DataFrame,
      neg: DataFrame,
      buckets: Int = 1024): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(buckets >= 2, s"buckets=$buckets must be >= 2")
    // ONE labeled union + ONE bucket-keyed aggregation for all four
    // quantities (r19, guide §2.3/§2.4): the per-class bucket counts
    // come from conditional sums over the union, and the class totals
    // n⁺/n⁻ are just Σ_b of those counts — the separate
    // `ps.agg(count)` / `ns.agg(count)` passes re-tokenized both
    // corpora for numbers the bucket aggregate already contains. Two
    // tokenize scans (one per class, the API floor) instead of four,
    // one occurrence-level exchange instead of two (the totals read
    // the SAME aggregate subtree — exchange reuse, pinned in the
    // plan), and the totals' own exchanges are ≤`buckets`-row. Values
    // are bit-identical: same counts, same smoothed log-odds formula.
    val ps = featureStream(pos, Seq.empty, buckets).select(col("b"), lit(1L).as("is_pos"))
    val ns = featureStream(neg, Seq.empty, buckets).select(col("b"), lit(0L).as("is_pos"))
    val counts = ps.unionByName(ns).groupBy("b")
      .agg(sum(col("is_pos")).as("cp"), sum(lit(1L) - col("is_pos")).as("cn"))
    // coalesce: a both-classes-empty corpus has a 0-row `counts`, whose
    // sums are NULL where the old count() was 0 — keep that edge exact
    val totals = counts.agg(coalesce(sum("cp"), lit(0L)).as("np"),
      coalesce(sum("cn"), lit(0L)).as("nn"))
    pos.sparkSession.range(buckets).select(col("id").as("b"))
      .join(counts, Seq("b"), "left")
      .crossJoin(broadcast(totals))
      .select(col("b"),
        round(log((coalesce(col("cp"), lit(0L)) + lit(1.0)) / (col("np") + lit(buckets)))
          - log((coalesce(col("cn"), lit(0L)) + lit(1.0)) / (col("nn") + lit(buckets))), 6)
          .cast(DecimalType(18, 6)).as("w"))
  }

  /** Serve a linear quality classifier from a stored weight table —
    * the model-based document filter of the FineWeb/DCLM recipe, split
    * train/serve like the ANN stack's `pqModel`/`ivfpqSearch`: train
    * once ([[classifierWeights]], or import any externally-trained
    * `(b, w)` table hashed the same way), score every corpus after.
    *
    * Output: `(doc_id, n_feats, logit, keep)` — one row per input doc.
    * `logit = Σ_features w_b` (6dp decimal accumulation, published as
    * double); `keep = logit ≥ bias` (`bias` absorbs the class prior —
    * 0 is the balanced operating point). Featureless docs (no tokens)
    * score NULL and never keep, the [[importanceWeights]] convention.
    *
    * `buckets` MUST equal the weight table's domain size — the hash is
    * re-derived here, and a mismatch would silently mis-bucket.
    * Buckets ABSENT from the weight table score 0 (and still count in
    * `n_feats`): [[classifierWeights]] emits the full domain so
    * nothing is absent, but externally-trained tables often ship
    * pruned (near-zero weights dropped) and a pruned bucket means "no
    * evidence", not "skip this feature".
    *
    * Plan at 100 TB: ONE tokenize scan of the corpus, a broadcast-hash
    * join against the `buckets`-row weight table, and one combinable
    * groupBy(doc_id) — raw text never shuffles, per-executor added
    * memory is the broadcast table (~16 KB at the default size).
    */
  def classifierScore(
      docs: DataFrame,
      weights: DataFrame,
      buckets: Int = 1024,
      bias: Double = 0.0): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(buckets >= 2, s"buckets=$buckets must be >= 2")
    val fs = featureStream(docs, Seq(col("doc_id")), buckets)
    val perDoc = fs.join(broadcast(weights.select(col("b"), col("w"))), Seq("b"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_feats"),
        sum(coalesce(col("w"), lit(BigDecimal(0)).cast("decimal(18,6)"))).as("logit"))
    docs.select("doc_id").join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_feats"), lit(0L)).as("n_feats"),
        col("logit").cast(DecimalType(18, 6)).cast("double").as("logit"))
      .withColumn("keep", coalesce(col("logit") >= lit(bias), lit(false)))
  }

  /** [[classifierWeights]] + [[classifierScore]] outputs when both
    * derive from ONE materialized feature stream — see
    * [[classifierScored]]. */
  final case class TrainedScorer(weights: DataFrame, scored: DataFrame)

  /** Train the NB classifier AND score the SAME corpus from ONE
    * materialized hashed-feature stream (r20, guide §2.4): the
    * sweep/calibration/operating-point family always trains on a
    * labeled partition of the corpus it then scores, so the tokenize +
    * md5 feature pass — the family's dominant cost — was paid THREE
    * times per query (positive-class scan, negative-class scan, scoring
    * scan) for one identical `(doc_id, label, bucket)` stream. Here the
    * stream materializes once (narrow, no new exchange: the
    * rows checkpoint straight out of the scan) and both the bucket-
    * keyed training aggregate and the doc-keyed scoring sum read it.
    *
    * Result identity (the contract CurationSpec pins): with `isPos`
    * non-NULL on every row, `weights` is row-identical to
    * `classifierWeights(docs.filter(isPos), docs.filter(!isPos),
    * buckets)` — per-class occurrence counts from conditional sums over
    * the labeled stream instead of two per-class streams, same totals,
    * same smoothed log-odds formula — and `scored` is row-identical to
    * `classifierScore(docs, weights, buckets, bias)`: same stream, same
    * broadcast weight join, same decimal per-doc sum. Rows where
    * `isPos` is NULL would silently leave training (both conditional
    * sums skip NULL) while still scoring — pass a total label.
    *
    * Scale note: the stream materializes PRE-AGGREGATED to per-doc
    * bucket histograms `(doc_id, _pos, b, n)` — the bucket domain is a
    * config knob (default 1024), so the histogram is a bounded,
    * hashed-ids-only table far smaller than the occurrence stream or
    * the text, and each consumer's pass over it shrinks the same way
    * (an occurrence-grain checkpoint was measured SLOWER end-to-end
    * than re-tokenizing at sf0.1 — the per-doc sums re-read every
    * occurrence row; the histogram collapses repeated features before
    * anything is stored). Occurrence totals are exact: counts ride as
    * integers and every downstream sum weights by them, so the outputs
    * are bit-identical to the occurrence-grain forms. */
  def classifierScored(
      docs: DataFrame,
      isPos: Column,
      buckets: Int = 1024,
      bias: Double = 0.0): TrainedScorer = {
    import org.apache.spark.sql.types.DecimalType
    require(buckets >= 2, s"buckets=$buckets must be >= 2")
    val fs = Materialize(
      featureStream(docs.select(col("doc_id"), isPos.as("_pos"), col("text")),
        Seq(col("doc_id"), col("_pos")), buckets)
        .groupBy(col("doc_id"), col("_pos"), col("b"))
        .agg(count(lit(1)).as("n")))
    // per-class occurrence counts: the histogram's n weights each
    // (doc, bucket) row back to its occurrence multiplicity — sums are
    // identical to the per-occurrence conditional counts
    val counts = fs.groupBy("b").agg(
      sum(col("_pos").cast("long") * col("n")).as("cp"),
      sum((!col("_pos")).cast("long") * col("n")).as("cn"))
    val totals = counts.agg(coalesce(sum("cp"), lit(0L)).as("np"),
      coalesce(sum("cn"), lit(0L)).as("nn"))
    val weights = docs.sparkSession.range(buckets).select(col("id").as("b"))
      .join(counts, Seq("b"), "left")
      .crossJoin(broadcast(totals))
      .select(col("b"),
        round(log((coalesce(col("cp"), lit(0L)) + lit(1.0)) / (col("np") + lit(buckets)))
          - log((coalesce(col("cn"), lit(0L)) + lit(1.0)) / (col("nn") + lit(buckets))), 6)
          .cast(DecimalType(18, 6)).as("w"))
    // logit = Σ_b n·w_b — exact decimal products of the 6dp weights, so
    // the per-doc sum equals the per-occurrence accumulation exactly
    val perDoc = fs.join(broadcast(weights.select(col("b"), col("w"))), Seq("b"), "left")
      .groupBy("doc_id")
      .agg(sum(col("n")).as("n_feats"),
        sum(coalesce(col("w"), lit(BigDecimal(0)).cast("decimal(18,6)")) * col("n"))
          .as("logit"))
    val scored = docs.select("doc_id").join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_feats"), lit(0L)).as("n_feats"),
        col("logit").cast(DecimalType(18, 6)).cast("double").as("logit"))
      .withColumn("keep", coalesce(col("logit") >= lit(bias), lit(false)))
    TrainedScorer(weights, scored)
  }

  /** [[classifierScore]] under PER-GROUP operating points — the gate
    * that consumes [[operatingPointsBy]]: every doc scores against the
    * same frozen weight table, but the keep decision thresholds at ITS
    * GROUP's validated bias (`biases` = `(group, bias)`, e.g.
    * `operatingPointsBy(sweep, "lang").select($"lang",
    * $"threshold".as("bias"))`). Groups absent from the bias table —
    * and NULL-group docs — take `defaultBias`, so an unmeetable
    * group's absence degrades to the global policy instead of keeping
    * everything.
    *
    * Output: `(doc_id, <groupCol>, n_feats, logit, bias, keep)` —
    * `bias` is the APPLIED threshold (post-default), the audit column.
    * Plan: [[classifierScore]]'s one tokenize scan + broadcast weight
    * join + combinable per-doc sum, plus one broadcast join against
    * the group-sized bias table — nothing new shuffles. */
  /** Resolve a bias table's (group, bias) column names — shared by
    * [[classifierScoreBiased]] and [[ClassifierGate.keptIds]]'s
    * precomputed path so the two can never disagree. By NAME when the
    * table carries one: the group column itself, then 'bias', then
    * 'threshold' — so the documented producer ([[operatingPointsBy]]
    * output, whose SECOND column is the string 'objective') binds
    * directly instead of silently casting a label to NULL bias and
    * gating every present group to keep=false. Positional fallback
    * (second column) stays for anonymous two-column tables, but must
    * be numeric — a type the engine can threshold on. */
  private def resolveBiasCols(biases: DataFrame, groupCol: String): (String, String) = {
    require(biases.columns.length >= 2,
      s"biases needs (group, bias) columns, got ${biases.columns.mkString(", ")}")
    val bGrp =
      if (biases.columns.contains(groupCol)) groupCol else biases.columns.head
    val bBias = Seq("bias", "threshold").find(biases.columns.contains)
      .getOrElse(biases.columns.filterNot(_ == bGrp).head)
    require(
      biases.schema(bBias).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"biases.$bBias must be numeric, got ${biases.schema(bBias).dataType.simpleString} " +
        "— pass (group, bias) with a numeric bias, or an operatingPointsBy " +
        "output (its 'threshold' column resolves by name)")
    (bGrp, bBias)
  }

  def classifierScoreBiased(
      docs: DataFrame,
      weights: DataFrame,
      biases: DataFrame,
      groupCol: String,
      buckets: Int = 1024,
      defaultBias: Double = 0.0): DataFrame = {
    require(buckets >= 2, s"buckets=$buckets must be >= 2")
    classifierScoreBiasedFrom(classifierScore(docs, weights, buckets),
      docs, biases, groupCol, defaultBias)
  }

  /** [[classifierScoreBiased]] over an ALREADY-SCORED table (r20) — the
    * per-group gate for callers holding a [[classifierScored]] /
    * [[classifierScore]] output: thresholds the existing logits at each
    * doc's group bias instead of re-running the scoring tokenize pass.
    * `scored` needs `(doc_id, n_feats, logit)` over the same docs; the
    * output is row-identical to [[classifierScoreBiased]] with the
    * weights that produced `scored` (same logits, same column algebra —
    * the [[ClassifierGate.precomputedLogits]] argument). */
  def classifierScoreBiasedFrom(
      scored: DataFrame,
      docs: DataFrame,
      biases: DataFrame,
      groupCol: String,
      defaultBias: Double = 0.0): DataFrame = {
    val (bGrp, bBias) = resolveBiasCols(biases, groupCol)
    scored.select(col("doc_id"), col("n_feats"), col("logit"))
      .join(docs.select(col("doc_id"), col(groupCol)), Seq("doc_id"))
      .join(broadcast(biases.select(col(bGrp).as(groupCol), col(bBias).as("_gb"))),
        Seq(groupCol), "left")
      .select(col("doc_id"), col(groupCol), col("n_feats"), col("logit"),
        coalesce(col("_gb"), lit(defaultBias)).as("bias"))
      .withColumn("keep", coalesce(col("logit") >= col("bias"), lit(false)))
  }
}
