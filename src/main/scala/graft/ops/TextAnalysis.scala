package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.core.TextNorm
import graft.functions.PlanSeal.seal

/** Text-analysis operators for a training-data pipeline, all expressed as
  * codegen-friendly column expressions over the `documents` table
  * (`doc_id, text, lang, source, n_chars`). Nothing here shuffles except
  * the explicit per-token operators (fingerprinting), and those shuffle
  * once on `doc_id`-derived ordering only within the window — at 100 TB
  * each document's token stream stays inside one task.
  *
  * The reference's only text analytics is term frequency itself (the
  * index); these extend it with the standard corpus-quality suite.
  */
object TextAnalysis {

  /** Per-document token statistics: token count (whitespace tokenizer,
    * same normalizer as the index: `mapper/main.py:56-57`), distinct
    * token count, character count, mean token length.
    * Ratios are single IEEE divisions — deterministic across engines.
    */
  def tokenStats(docs: DataFrame): DataFrame =
    // two-step select: `ts` is materialized once per row (CollapseProject
    // won't inline a non-cheap expression referenced 3×), so the regex
    // tokenizer runs once, not once per derived stat
    graft.core.Parallelism.ensure(docs)
      .select(col("doc_id"), length(col("text")).as("n_chars"),
        TextNorm.tokens(col("text")).as("ts"))
      .select(
        col("doc_id"),
        size(col("ts")).as("n_tokens"),
        size(array_distinct(col("ts"))).as("n_distinct_tokens"),
        col("n_chars"),
        (size(col("ts")).cast("double") / col("n_chars")).as("tokens_per_char")
      )

  /** BPE-ish subword token estimate: count word-boundary pieces plus
    * intra-word splits every 4 chars (a deterministic proxy for a BPE
    * vocabulary's compression rate — real tokenizers aren't in this
    * container). `ceil(len/4)` per word, summed.
    */
  def bpeTokenEstimate(docs: DataFrame): DataFrame =
    graft.core.Parallelism.ensure(docs).select(
      col("doc_id"),
      aggregate(
        TextNorm.tokens(col("text")),
        lit(0L),
        (acc, w) => acc + ceil(length(w).cast("double") / lit(4.0)).cast("long")
      ).as("n_bpe_tokens")
    )

  /** Quality scoring: punctuation ratio, digit ratio, stopword ratio,
    * mean word length, and a composite keep/drop signal — the usual
    * Gopher/C4-style filters, minus anything model-based.
    *
    * `tok` is the pipeline tokenizer dial
    * ([[graft.core.TextNorm.tokensUnicode]] for multilingual corpora —
    * under the default ASCII tokenizer non-Latin text has n_tok = 0 and
    * its token-derived signals are vacuous); the raw-text character
    * ratios (punct, digit) are tokenizer-independent by design.
    */
  def qualityScore(
      docs: DataFrame,
      stopwords: Seq[String] = Stopwords.en,
      tok: Column => Column = TextNorm.tokens): DataFrame = {
    val stopArr = array(stopwords.map(lit): _*)
    val punct = (length(col("text")) - length(regexp_replace(col("text"), "[^a-zA-Z0-9\\s]", ""))).cast("double")
    val digits = (length(col("text")) - length(regexp_replace(col("text"), "[0-9]", ""))).cast("double")
    graft.core.Parallelism.ensure(docs)
      // stage 1: tokenize once; stage 2: stopword-hit count once; stage 3:
      // ratios from materialized attributes only. Both token stages are
      // PlanSeal-ed projections: alias substitution never crosses the
      // seal, so a caller's filter on `keep`/`stopword_ratio` pushes
      // down as cheap struct-field reads instead of re-inlining the
      // tokenizer into the predicate (the Curation.rowFlags
      // pushdown-blowup contract), at zero execution cost
      .select(col("doc_id"), col("text"),
        seal(tok(col("text"))).as("ts"))
      .select(col("doc_id"), col("text"), seal(struct(
        size(col("ts")).as("n_tok"),
        size(filter(col("ts"), t => array_contains(stopArr, t))).as("n_stop"))).as("tk"))
      .select(
        col("doc_id"),
        (punct / length(col("text"))).as("punct_ratio"),
        (digits / length(col("text"))).as("digit_ratio"),
        (col("tk.n_stop").cast("double") / col("tk.n_tok")).as("stopword_ratio"),
        (length(regexp_replace(col("text"), " ", "")).cast("double") / col("tk.n_tok")).as("mean_word_len"),
        (col("tk.n_tok") >= 10 && col("tk.n_stop") > 0).as("keep")
      )
  }

  /** Language identification by stopword-hit counting: score = number of
    * token hits in each language's closed-class word list; predicted
    * language = argmax, ties broken by fixed language order (en, de, es,
    * fr, zh). Pure column algebra — no UDF, fully codegen'd, and exactly
    * reproducible in ANSI SQL for the oracle.
    */
  def languageId(docs: DataFrame): DataFrame = {
    def score(words: Seq[String]): Column =
      size(filter(col("ts"), t => array_contains(array(words.map(lit): _*), t)))
    // both layers PlanSeal-ed: a filter on pred_lang would otherwise
    // inline 25+ tokenizer copies into the pushed predicate (the
    // Curation.rowFlags pushdown-blowup contract)
    val scored = graft.core.Parallelism.ensure(docs)
      .select(col("doc_id"), seal(TextNorm.tokens(col("text"))).as("ts"))
      .select(col("doc_id"), seal(struct(
        score(Stopwords.en).as("score_en"),
        score(Stopwords.de).as("score_de"),
        score(Stopwords.es).as("score_es"),
        score(Stopwords.fr).as("score_fr"),
        score(Stopwords.zh).as("score_zh"))).as("sc"))
    val best = greatest(col("sc.score_en"), col("sc.score_de"), col("sc.score_es"),
      col("sc.score_fr"), col("sc.score_zh"))
    scored.select(
      col("doc_id"),
      col("sc.score_en").as("score_en"), col("sc.score_de").as("score_de"),
      col("sc.score_es").as("score_es"), col("sc.score_fr").as("score_fr"),
      col("sc.score_zh").as("score_zh"),
      when(col("sc.score_en") === best, "en")
        .when(col("sc.score_de") === best, "de")
        .when(col("sc.score_es") === best, "es")
        .when(col("sc.score_fr") === best, "fr")
        .otherwise("zh").as("pred_lang")
    )
  }

  /** Writing-system (Unicode script) detection — the multilingual
    * complement to [[languageId]]: stopword lists only discriminate
    * between Latin-script languages; for a crawl that mixes alphabets
    * the FIRST routing decision is "which script is this document
    * written in", and that is a pure character-class count. Per doc:
    * the character count in each major script block, the corresponding
    * fraction of all characters (6dp), and the dominant script (argmax
    * over letter scripts, ties broken by the fixed order below; a doc
    * with no letters in any tracked script → 'none').
    *
    * Ranges are BMP block ranges (not Unicode categories — both
    * engines must count identically, and block ranges are plain
    * character classes in Java regex and RE2 alike): latin includes
    * the Latin-1/Extended letter blocks minus the two non-letters the
    * block range would otherwise sweep in (U+00D7 ×, U+00F7 ÷),
    * cjk_han is the unified ideograph block, kana covers
    * hiragana+katakana. Supplementary-plane text (emoji) is counted
    * only in `n_chars` — Spark's `length()` counts code points
    * (UTF8String.numChars), as does DuckDB's, so both engines agree
    * there too; the script classes themselves are BMP-only.
    *
    * Row-parallel column algebra (one regexp_replace per script — no
    * tokenize, no shuffle, no UDF); the 100 TB cost is the scan.
    */
  /** (name, Java-regex block range) in dominant-priority order —
    * shared by [[scriptSignals]] and [[languageRoute]] so the two
    * faces can never disagree on what a script is. */
  private val ScriptRanges: Seq[(String, String)] = Seq(
    "latin" -> "[A-Za-z\\u00C0-\\u00D6\\u00D8-\\u00F6\\u00F8-\\u024F]",
    "cyrillic" -> "[\\u0400-\\u04FF]",
    "greek" -> "[\\u0370-\\u03FF]",
    "arabic" -> "[\\u0600-\\u06FF]",
    "hebrew" -> "[\\u0590-\\u05FF]",
    "devanagari" -> "[\\u0900-\\u097F]",
    "cjk_han" -> "[\\u4E00-\\u9FFF]",
    "kana" -> "[\\u3040-\\u30FF]",
    "hangul" -> "[\\uAC00-\\uD7AF]")

  /** Count of `range`-class chars in `text` (len-minus-stripped). */
  private def scriptCnt(range: String): Column =
    (length(col("text")) - length(regexp_replace(col("text"), range, ""))).cast("long")

  /** Dominant script over materialized `n_<script>` count columns. */
  private def dominantScript: Column = {
    val best = greatest(ScriptRanges.map { case (n, _) => col(s"n_$n") }: _*)
    ScriptRanges.foldRight(lit("none")) { case ((n, _), acc) =>
      when(col(s"n_$n") > 0 && col(s"n_$n") === best, lit(n)).otherwise(acc)
    }
  }

  def scriptSignals(docs: DataFrame): DataFrame = {
    val scripts = ScriptRanges
    val counted = graft.core.Parallelism.ensure(docs)
      .select(col("doc_id") +: length(col("text")).cast("long").as("n_chars") +:
        scripts.map { case (n, r) => scriptCnt(r).as(s"n_$n") }: _*)
    val dominant = dominantScript
    counted.select(
      col("doc_id") +: col("n_chars") +:
        (scripts.map { case (n, _) => col(s"n_$n") } ++
          scripts.map { case (n, _) =>
            when(col("n_chars") > 0,
              round(col(s"n_$n").cast("double") / col("n_chars"), 6))
              .otherwise(lit(0.0)).as(s"frac_$n")
          } :+ dominant.as("dominant_script")): _*)
  }

  /** Script-first language routing — the FIRST dispatch decision a
    * multilingual pipeline makes (the [[scriptSignals]] scaladoc's
    * point made executable): stopword lists only discriminate WITHIN
    * the Latin script, so a crawl routes by dominant script first and
    * consults the stopword language id only inside `latin`. Output:
    * `(doc_id, dominant_script, pred_lang, route)` where `route` is
    * the dispatch key — [[languageId]]'s prediction for Latin-script
    * docs, the script name itself for every other script (hand the doc
    * to that script's pipeline: its own tokenizer mode, stopword
    * families, LM), and `none` when no tracked letters exist (the
    * quality gate's problem, not the router's).
    *
    * ONE scan, no join: the script counts are raw-text regex algebra
    * and the language scores ride a single sealed tokenize pass in the
    * same projection — where the compose-it-yourself join of
    * [[scriptSignals]] + [[languageId]] would scan twice and shuffle
    * on doc_id. Row-parallel; the 100 TB cost is the scan.
    */
  def languageRoute(docs: DataFrame): DataFrame = {
    def score(words: Seq[String]): Column =
      size(filter(col("ts"), t => array_contains(array(words.map(lit): _*), t)))
    val scored = graft.core.Parallelism.ensure(docs)
      .select(col("doc_id"), col("text"), seal(TextNorm.tokens(col("text"))).as("ts"))
      .select(col("doc_id") +:
        ScriptRanges.map { case (n, r) => scriptCnt(r).as(s"n_$n") } :+
        seal(struct(
          score(Stopwords.en).as("score_en"),
          score(Stopwords.de).as("score_de"),
          score(Stopwords.es).as("score_es"),
          score(Stopwords.fr).as("score_fr"),
          score(Stopwords.zh).as("score_zh"))).as("sc"): _*)
    val bestLang = greatest(col("sc.score_en"), col("sc.score_de"), col("sc.score_es"),
      col("sc.score_fr"), col("sc.score_zh"))
    val predLang = when(col("sc.score_en") === bestLang, "en")
      .when(col("sc.score_de") === bestLang, "de")
      .when(col("sc.score_es") === bestLang, "es")
      .when(col("sc.score_fr") === bestLang, "fr")
      .otherwise("zh")
    scored
      .select(col("doc_id"), dominantScript.as("dominant_script"), predLang.as("pred_lang"))
      .select(col("doc_id"), col("dominant_script"), col("pred_lang"),
        when(col("dominant_script") === "latin", col("pred_lang"))
          .otherwise(col("dominant_script")).as("route"))
  }

  /** Corpus-level top-k n-grams — the classic MapReduce demo query,
    * done with the plan it deserves: partial+final hash aggregation on
    * the n-gram, then `orderBy(...).limit(k)`, which Spark plans as
    * TakeOrderedAndProject — a bounded k-row heap per partition and a
    * k·partitions merge on the driver. Nothing global is ever sorted:
    * at 100 TB the full ngram→count table stays distributed and only
    * k rows per task travel. Ties broken by the n-gram string.
    */
  def topNgrams(docs: DataFrame, n: Int = 2, k: Int = 100): DataFrame = {
    val grams = when(size(col("ts")) >= n,
      transform(sequence(lit(1), size(col("ts")) - (n - 1)),
        i => concat_ws(" ", slice(col("ts"), i, lit(n))))
    ).otherwise(array().cast("array<string>"))
    graft.core.Parallelism.ensure(docs)
      .select(TextNorm.tokens(col("text")).as("ts"))
      .select(explode(grams).as("ngram"))
      .groupBy("ngram")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("ngram").asc)
      .limit(k)
  }

  /** Vocabulary coverage — the tokenizer-vocab-building query: the k
    * most frequent tokens with their counts and the CUMULATIVE fraction
    * of all corpus tokens a vocabulary truncated at each rank would
    * cover (the Zipf curve a BPE/unigram tokenizer budget is read off).
    *
    * Plan shape: one token-keyed hash aggregation (partial+final), a
    * TakeOrderedAndProject for the top k (bounded heap per partition —
    * the full vocabulary is never sorted), one broadcast scalar (total
    * token count), and a running-sum window over the K RESULT ROWS only
    * (single partition by construction — k rows, not the corpus; the
    * corpus-wide stages are all keyed). Integer sums + one division +
    * round(6) — engine-exact.
    *
    * The count table feeds BOTH the top-k branch and the total-sum
    * branch, and exchange reuse does not fire across re-aliased
    * references — so it is materialized once (pluggable strategy,
    * [[graft.core.Materialize]]); without it the corpus tokenize+count
    * pipeline executes twice.
    */
  def vocabCoverage(
      docs: DataFrame,
      k: Int = 100): DataFrame = {
    val counts = graft.core.Materialize(
      graft.core.Parallelism.ensure(docs)
        .select(explode(TextNorm.tokens(col("text"))).as("token"))
        .groupBy("token")
        .agg(count(lit(1)).as("cnt")))
    val rankOrder = Window.orderBy(col("cnt").desc, col("token").asc)
    val running = rankOrder.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    counts.orderBy(col("cnt").desc, col("token").asc).limit(k)
      .crossJoin(broadcast(counts.agg(sum("cnt").as("total"))))
      .select(col("token"), col("cnt"),
        row_number().over(rankOrder).cast("int").as("rank"),
        round(sum("cnt").over(running).cast("double") / col("total"), 6).as("cum_frac"))
  }

  /** PII/noise scrubbing stats (the C4-style cleanup pass): count and
    * redact email addresses and URLs. Emits per-document counts plus
    * the md5 of the redacted text, so a gate can verify the exact
    * replacement behavior, not just the counts. Patterns stay in the
    * Java-regex ∩ RE2 common subset so any engine reproduces them.
    * Pure row-parallel column work — no shuffle at any scale.
    */
  def scrubStats(docs: DataFrame): DataFrame = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val url = "https?://[^ \\t\\n\\r\"]+"
    graft.core.Parallelism.ensure(docs)
      .select(col("doc_id"),
        regexp_count(col("text"), lit(email)).cast("int").as("n_emails"),
        regexp_count(col("text"), lit(url)).cast("int").as("n_urls"),
        md5(regexp_replace(regexp_replace(col("text"), url, "<URL>"),
          email, "<EMAIL>")).as("clean_hash"))
  }

  /** Repetition signals (the Gopher-rule family): within-document
    * repetition is the strongest cheap indicator of boilerplate/spam in
    * a training corpus.
    *
    *   - `dup_line_ratio`: fraction of non-empty trimmed lines that are
    *     duplicates of an earlier line (1 − distinct/total).
    *   - `top_bigram_frac`: fraction of all token bigrams taken by the
    *     single most frequent bigram.
    *
    * Plan shape: line stats are pure array algebra (no explode); the
    * bigram mode needs per-(doc, bigram) counts, so one explode and two
    * hash aggregations keyed by doc_id — the line stats ride through the
    * aggregation as grouping columns, keeping the operator a single
    * pipeline (no rejoin, one shuffle). `explode_outer` keeps bigram-less
    * documents. At 100 TB each doc's bigrams hash within one task's
    * partial aggregate.
    */
  def repetitionSignals(docs: DataFrame): DataFrame = {
    val lines = filter(
      transform(split(col("text"), "\n"), l => trim(l)),
      l => length(l) > 0)
    val bigrams = when(size(col("ts")) >= 2,
      transform(sequence(lit(1), size(col("ts")) - 1),
        i => concat_ws(" ", slice(col("ts"), i, lit(2))))
    ).otherwise(array().cast("array<string>"))
    graft.core.Parallelism.ensure(docs)
      .select(col("doc_id"), col("text"), TextNorm.tokens(col("text")).as("ts"))
      .select(col("doc_id"), lines.as("ls"), bigrams.as("bgs"))
      .select(col("doc_id"), size(col("ls")).as("n_lines"),
        size(array_distinct(col("ls"))).as("n_distinct_lines"),
        explode_outer(col("bgs")).as("bg"))
      .groupBy("doc_id", "n_lines", "n_distinct_lines", "bg")
      .agg(count(lit(1)).as("c"))
      .groupBy("doc_id", "n_lines", "n_distinct_lines")
      .agg(max(when(col("bg").isNotNull, col("c"))).as("max_bg"),
        sum(when(col("bg").isNotNull, col("c"))).as("n_bg"))
      .select(
        col("doc_id"),
        col("n_lines").cast("int").as("n_lines"),
        when(col("n_lines") > 0,
          round(lit(1.0) - col("n_distinct_lines").cast("double") / col("n_lines"), 6))
          .otherwise(0.0).as("dup_line_ratio"),
        when(col("n_bg") > 0,
          round(col("max_bg").cast("double") / col("n_bg"), 6))
          .otherwise(0.0).as("top_bigram_frac"))
  }

  /** CCNet-style perplexity-proxy quality score (Wenzek et al., LREC
    * '20): train an add-one-smoothed bigram LM on the corpus itself,
    * score each document by its mean bigram log-probability. Low
    * scores = improbable token sequences (boilerplate, mojibake, word
    * salad) — the standard model-based quality filter, here with the
    * corpus as its own LM so the operator stays self-contained and
    * deterministic.
    *
    * Model: P(w2|w1) = (c(w1,w2) + 1) / (c(w1) + V), where c(w1) is the
    * bigram-history count (Σ_w2 c(w1,w2)) and V the corpus vocabulary
    * size. Training on the scored corpus means every bigram is in-model
    * — no OOV/backoff branch.
    *
    * Determinism: counts are integers; each distinct bigram's logprob
    * is one IEEE division + one `ln`, rounded to 6 and cast DECIMAL so
    * the per-doc sum is order-independent exact decimal addition; the
    * final mean is a single IEEE division rounded to 6 — the same
    * recipe as tf-idf/k-means, engine-portable.
    *
    * Plan at 100 TB: the bigram OCCURRENCE stream is materialized once
    * (its tokenizer is the expensive narrow stage) and feeds (a) the
    * model: groupBy(w1,w2) with map-side partial aggregation, so the
    * model shuffle carries per-task DISTINCT bigrams, not occurrences,
    * then a tiny groupBy(w1) over the model table and a 1-row vocab
    * scalar cross-joined in; (b) scoring: occurrences ⋈ model on
    * (w1,w2) — the one occurrence-level shuffle, AQE-broadcast when the
    * model is small — then a doc_id groupBy. Head-word skew lands on
    * the model's partial agg (absorbed map-side), not on a window sort.
    */
  def lmBigramScore(
      docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val toks = graft.core.Parallelism.ensure(docs)
      .select(col("doc_id"), TextNorm.tokens(col("text")).as("ts"))
    val bg = graft.core.Materialize(
      toks.where(size(col("ts")) >= 2)
        .select(col("doc_id"), explode(
          transform(sequence(lit(1), size(col("ts")) - 1),
            i => struct(element_at(col("ts"), i).as("w1"),
              element_at(col("ts"), i + 1).as("w2")))).as("p"))
        .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2")))
    val cb = bg.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
    val ch = cb.groupBy("w1").agg(sum("cb").as("c1"))
    val vocab = toks.select(explode(col("ts")).as("w"))
      .agg(countDistinct(col("w")).as("v"))
    val lp = cb.join(ch, "w1")
      .crossJoin(broadcast(vocab))
      .select(col("w1"), col("w2"),
        round(log((col("cb") + lit(1.0)) / (col("c1") + col("v"))), 6)
          .cast(DecimalType(18, 6)).as("lp"))
    val perDoc = bg.join(lp, Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("lp").as("slp"))
    val out = docs.select("doc_id").join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        // tie-safe micro-unit mean — see [[lmScoreWith]]'s note
        (round((col("slp").cast(DecimalType(18, 6)) * 1000000).cast("long").cast("double")
          / col("n_bigrams")) / lit(1000000.0)).as("avg_logprob"))
    // bg stays live — the returned plan reads it on both the model and
    // the scoring side.
    out
  }

  /** A trained bigram LM as three servable tables — the stored-model
    * face of [[lmBigramScore]]'s self-trained variant, matching
    * CCNet's actual deployment (Wenzek et al.: the LM trains on a
    * TARGET-quality corpus once, then scores every crawl):
    * `pairs (w1, w2, lp)` for in-model bigrams, `backoff (w1, lp_bo)`
    * for unseen continuations of a seen history, `oov (lp_oov)` (one
    * row) for unseen histories — the add-one-smoothed probabilities
    * `(c+1)/(c1+V)`, `1/(c1+V)`, `1/V`, pre-logged and 6dp-decimal so
    * SERVING does no transcendental math at all, just joins and
    * decimal sums. Write the three tables as parquet to reuse a model
    * across runs. */
  final case class LmModel(pairs: DataFrame, backoff: DataFrame, oov: DataFrame)

  /** Train an [[LmModel]] on `reference`. One bigram-occurrence scan
    * feeds the pair counts (map-side combinable — the exchange carries
    * per-task DISTINCT bigrams); the history and OOV tables derive
    * from the MODEL table (distinct-bigram-sized, not
    * occurrence-sized); the vocab scalar is one more tokenize scan. */
  def lmModel(reference: DataFrame): LmModel = {
    import org.apache.spark.sql.types.DecimalType
    val toks = graft.core.Parallelism.ensure(reference)
      .select(TextNorm.tokens(col("text")).as("ts"))
    val cb = toks.where(size(col("ts")) >= 2)
      .select(explode(
        transform(sequence(lit(1), size(col("ts")) - 1),
          i => struct(element_at(col("ts"), i).as("w1"),
            element_at(col("ts"), i + 1).as("w2")))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
    val ch = cb.groupBy("w1").agg(sum("cb").as("c1"))
    val vocab = toks.select(explode(col("ts")).as("w"))
      .agg(countDistinct(col("w")).as("v"))
    def dec6(c: Column) = round(c, 6).cast(DecimalType(18, 6))
    LmModel(
      pairs = cb.join(ch, "w1").crossJoin(broadcast(vocab))
        .select(col("w1"), col("w2"),
          dec6(log((col("cb") + lit(1.0)) / (col("c1") + col("v")))).as("lp")),
      backoff = ch.crossJoin(broadcast(vocab))
        .select(col("w1"), dec6(log(lit(1.0) / (col("c1") + col("v")))).as("lp_bo")),
      oov = vocab.select(dec6(log(lit(1.0) / col("v"))).as("lp_oov")))
  }

  /** Score documents against a stored [[LmModel]]: mean bigram
    * log-probability with the model's backoff for unseen pairs and
    * unseen histories, plus the `n_oov` diagnostic (bigrams that fell
    * off the model — a high fraction means the model no longer fits
    * the feed, the drift signal CCNet thresholds on).
    *
    * Output: `(doc_id, n_bigrams, n_oov, avg_logprob)`; bigram-less
    * docs report `(0, 0, NULL)`.
    *
    * Plan at 100 TB: the corpus bigram stream joins `pairs` on
    * (w1, w2) and `backoff` on (w1) — both model-sized (AQE
    * broadcasts them when small), both keyed, no occurrence-level
    * re-shuffle of text — then one combinable groupBy(doc_id). The
    * scored corpus is never part of the model, so a fixed reference
    * LM serves any number of crawl batches. */
  def lmScoreWith(docs: DataFrame, model: LmModel): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val bg = graft.core.Parallelism.ensure(docs)
      .select(col("doc_id"), TextNorm.tokens(col("text")).as("ts"))
      .where(size(col("ts")) >= 2)
      .select(col("doc_id"), explode(
        transform(sequence(lit(1), size(col("ts")) - 1),
          i => struct(element_at(col("ts"), i).as("w1"),
            element_at(col("ts"), i + 1).as("w2")))).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
    val perDoc = bg
      .join(model.pairs, Seq("w1", "w2"), "left")
      .join(model.backoff, Seq("w1"), "left")
      .crossJoin(broadcast(model.oov))
      .select(col("doc_id"), col("lp"),
        coalesce(col("lp"), col("lp_bo"), col("lp_oov")).as("lp_eff"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        count(when(col("lp").isNull, lit(1))).as("n_oov"),
        sum("lp_eff").cast(DecimalType(18, 6)).as("slp"))
    docs.select("doc_id").join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"),
        // mean rounded in exact integer micro-units: slp*1e6 is an
        // exact long (scale-6 decimal), so a 6dp TIE in slp/n is the
        // exactly-representable double .5 — which every engine rounds
        // away from zero — whereas round(slp/n, 6) sits one double
        // rounding error off the tie and engines disagree (observed:
        // -42.82707/12 at the oracle gate)
        (round((col("slp") * 1000000).cast("long").cast("double") / col("n_bigrams"))
          / lit(1000000.0)).as("avg_logprob"))
  }

  /** CCNet's head/middle/tail split (Wenzek et al. 2020): stamp each
    * document's perplexity bucket RELATIVE TO ITS SOURCE — the move
    * that makes LM filtering fair across domains (an absolute
    * threshold would call every low-resource domain "tail").
    * Higher `avg_logprob` = more reference-like = head.
    *
    * Thresholds are per-source exact percentiles of the score
    * (`qHead`/`qMid`, rounded to 6dp before comparison — Spark's
    * `percentile` and DuckDB's `quantile_cont` share the ANSI
    * interpolation, the q_percentiles precedent), computed inline or
    * served from a precomputed `thresholds` table `(source, t_head,
    * t_mid)` — the train/serve convention: at 100 TB compute the
    * artifact once from `percentile_approx` or a sample (an exact
    * per-source percentile holds the group's scores in one buffer)
    * and stamp every shard from the broadcast table. Unscorable docs
    * (no bigrams) land in `tail`. Output: `(doc_id, source,
    * avg_logprob, ppl_bucket)`.
    */
  def perplexityBuckets(
      docs: DataFrame,
      model: LmModel,
      sourceCol: String = "source",
      qHead: Double = 0.67,
      qMid: Double = 0.33,
      thresholds: Option[DataFrame] = None): DataFrame =
    bucketizeScored(lmScoreWith(docs, model), docs, sourceCol, qHead, qMid, thresholds)

  /** The tercile rule every perplexity-bucket face shares: attach the
    * source, compute (or serve) the per-source exact-percentile
    * thresholds, stamp head/middle/tail; NULL scores land in tail. */
  private def bucketizeScored(
      scored0: DataFrame,
      docs: DataFrame,
      sourceCol: String,
      qHead: Double,
      qMid: Double,
      thresholds: Option[DataFrame]): DataFrame = {
    require(qHead > qMid && qMid > 0 && qHead < 1, s"bad quantiles head=$qHead mid=$qMid")
    val scored = scored0
      .join(docs.select(col("doc_id"), col(sourceCol).as("source")), Seq("doc_id"))
    val th = thresholds.getOrElse(
      scored.where(col("avg_logprob").isNotNull)
        .groupBy("source")
        .agg(
          round(expr(s"percentile(avg_logprob, $qHead)"), 6).as("t_head"),
          round(expr(s"percentile(avg_logprob, $qMid)"), 6).as("t_mid")))
    scored.join(broadcast(th), Seq("source"), "left")
      .select(col("doc_id"), col("source"), col("avg_logprob"),
        when(col("avg_logprob").isNull, lit("tail"))
          .when(col("avg_logprob") >= col("t_head"), lit("head"))
          .when(col("avg_logprob") >= col("t_mid"), lit("middle"))
          .otherwise(lit("tail")).as("ppl_bucket"))
  }

  /** [[lmModel]] + [[lmScoreWith]] in one call — train on `reference`,
    * score `docs` (the q_lm_score_ref oracle shape). */
  def lmScoreAgainst(docs: DataFrame, reference: DataFrame): DataFrame =
    lmScoreWith(docs, lmModel(reference))

  /** A trained TRIGRAM LM with stupid backoff (Brants et al., EMNLP '07
    * "Large Language Models in Machine Translation") as four servable
    * tables — the CCNet-fidelity upgrade over the bigram [[LmModel]]
    * (real CCNet scores with a 5-gram KenLM; trigram-with-backoff is
    * the same model family at the order this corpus' data volume
    * supports). Stupid backoff is THE web-scale choice: unnormalized
    * relative frequencies with a fixed backoff penalty α = 0.4, no
    * discounting pass over the count tables — Brants et al. showed it
    * matches Kneser-Ney quality at large data while training as plain
    * counting, exactly what a 100 TB groupBy pipeline wants.
    *
    * Score of a trigram (w1, w2, w3):
    *   - trigram tier:  ln(c123 / c12)            if c123 > 0
    *   - bigram tier:   ln(α · c23 / c2)          else if c23 > 0
    *   - unigram tier:  ln(α² · (c3 + 1)/(N + V)) else
    * where c12 / c2 are HISTORY counts derived from the next-higher
    * count table (Σ over continuations — the [[lmModel]] convention),
    * N is the reference token count and V its vocabulary; the add-one
    * unigram floor makes the chain total (an OOV w3 scores
    * ln(α²/(N+V)), the `oov` row). α is FOLDED INTO the pre-logged
    * tables, so serving is three left joins + one `coalesce` — no
    * arithmetic branches, no transcendental math, the same
    * 6dp-decimal discipline as [[LmModel]]. Write the tables as
    * parquet to reuse a model across crawls. */
  final case class Lm3Model(tri: DataFrame, bi: DataFrame, uni: DataFrame, oov: DataFrame)

  /** Train an [[Lm3Model]] on `reference`. Three occurrence scans (tri
    * / bi / unigram), each a map-side-combinable groupBy whose exchange
    * carries per-task DISTINCT n-grams, not occurrences; every history
    * table derives from its model table (distinct-n-gram-sized); the
    * (N, V) scalar pair is one token-stream aggregate broadcast into
    * the unigram tier. α = 0.4 per Brants et al. */
  /** The n-gram occurrence stream every LM builder shares: one explode
    * over a `(ts)` token-array frame into (w1..wn) rows. */
  private def gramsOf(toks: DataFrame, n: Int): DataFrame = {
    val cols = (1 to n).map(j => element_at(col("ts"), col("i") + lit(j - 1)).as(s"w$j"))
    toks.where(size(col("ts")) >= n)
      .select(explode(sequence(lit(1), size(col("ts")) - (n - 1))).as("i"), col("ts"))
      .select(cols: _*)
  }

  def lm3Model(reference: DataFrame, alpha: Double = 0.4): Lm3Model = {
    import org.apache.spark.sql.types.DecimalType
    require(alpha > 0 && alpha < 1, s"alpha=$alpha must be in (0, 1)")
    val toks = graft.core.Parallelism.ensure(reference)
      .select(TextNorm.tokens(col("text")).as("ts"))
    def grams(n: Int): DataFrame = gramsOf(toks, n)
    val c3g = grams(3).groupBy("w1", "w2", "w3").agg(count(lit(1)).as("c123"))
    val c12 = c3g.groupBy("w1", "w2").agg(sum("c123").as("c12"))
    val c2g = grams(2).groupBy("w1", "w2").agg(count(lit(1)).as("c23"))
    val c2 = c2g.groupBy("w1").agg(sum("c23").as("c2"))
    val c1g = toks.select(explode(col("ts")).as("w")).groupBy("w").agg(count(lit(1)).as("c3"))
    val nv = c1g.agg(sum("c3").as("n"), count(lit(1)).as("v"))
    def dec6(c: Column) = round(c, 6).cast(DecimalType(18, 6))
    Lm3Model(
      tri = c3g.join(c12, Seq("w1", "w2"))
        .select(col("w1"), col("w2"), col("w3"),
          dec6(log(col("c123").cast("double") / col("c12"))).as("lp3")),
      // the bigram tier keys on (w2, w3) — the CONTEXT the trigram
      // backs off to — so serving joins it without renaming
      bi = c2g.join(c2, "w1")
        .select(col("w1").as("w2"), col("w2").as("w3"),
          dec6(log(lit(alpha) * (col("c23").cast("double") / col("c2")))).as("lp2")),
      uni = c1g.crossJoin(broadcast(nv))
        .select(col("w").as("w3"),
          dec6(log(lit(alpha * alpha) * ((col("c3") + lit(1.0)) / (col("n") + col("v"))))).as("lp1")),
      oov = nv.select(
        dec6(log(lit(alpha * alpha) * (lit(1.0) / (col("n") + col("v"))))).as("lp_oov")))
  }

  /** Score documents against a stored [[Lm3Model]]: mean trigram
    * stupid-backoff log-score with the `n_bo` (trigrams that fell off
    * the trigram tier) and `n_oov` (fell through to the unigram/OOV
    * floor — the model-drift signal) diagnostics.
    *
    * Output: `(doc_id, n_trigrams, n_bo, n_oov, avg_logprob)`;
    * docs under 3 tokens report `(0, 0, 0, NULL)`.
    *
    * Plan at 100 TB: the corpus trigram stream left-joins `tri` on
    * (w1, w2, w3), `bi` on (w2, w3), `uni` on (w3) — all model-sized,
    * AQE-broadcast when small, no occurrence-level re-shuffle of text —
    * then one combinable groupBy(doc_id). Scored corpus is never part
    * of the model: one frozen reference LM serves every crawl batch. */
  def lm3ScoreWith(docs: DataFrame, model: Lm3Model): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val tg = graft.core.Parallelism.ensure(docs)
      .select(col("doc_id"), TextNorm.tokens(col("text")).as("ts"))
      .where(size(col("ts")) >= 3)
      .select(col("doc_id"), explode(
        transform(sequence(lit(1), size(col("ts")) - 2),
          i => struct(element_at(col("ts"), i).as("w1"),
            element_at(col("ts"), i + 1).as("w2"),
            element_at(col("ts"), i + 2).as("w3")))).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"), col("p.w3").as("w3"))
    val perDoc = tg
      .join(model.tri, Seq("w1", "w2", "w3"), "left")
      .join(model.bi, Seq("w2", "w3"), "left")
      .join(model.uni, Seq("w3"), "left")
      .crossJoin(broadcast(model.oov))
      .select(col("doc_id"), col("lp3"), col("lp2"), col("lp1"),
        coalesce(col("lp3"), col("lp2"), col("lp1"), col("lp_oov")).as("lp_eff"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_trigrams"),
        count(when(col("lp3").isNull, lit(1))).as("n_bo"),
        count(when(col("lp3").isNull && col("lp2").isNull && col("lp1").isNull, lit(1)))
          .as("n_oov"),
        sum("lp_eff").cast(DecimalType(18, 6)).as("slp"))
    docs.select("doc_id").join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_trigrams"), lit(0L)).as("n_trigrams"),
        coalesce(col("n_bo"), lit(0L)).as("n_bo"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"),
        // exact integer micro-unit mean — see [[lmScoreWith]]'s tie note
        (round((col("slp") * 1000000).cast("long").cast("double") / col("n_trigrams"))
          / lit(1000000.0)).as("avg_logprob"))
  }

  /** [[lm3Model]] + [[lm3ScoreWith]] in one call — the q_lm3_score
    * oracle shape. */
  def lm3ScoreAgainst(docs: DataFrame, reference: DataFrame): DataFrame =
    lm3ScoreWith(docs, lm3Model(reference))

  /** An ORDER-PARAMETERIZED stupid-backoff LM — the [[Lm3Model]]
    * construction generalized so the ladder reaches the 5-gram order
    * CCNet's published filter actually deploys (Wenzek et al., LREC '20
    * score with a 5-gram KenLM; Brants et al. '07 stupid backoff is the
    * web-scale training rule). `tiers(0)` is the full-order table keyed
    * (w1..wN); `tiers(i)` the (N−i)-gram tier keyed on the LAST N−i
    * words (the backed-off context, so serving joins without renames —
    * the [[Lm3Model]] `bi` convention); then the add-one `uni` tier and
    * the `oov` floor. Tier j's penalty α^(N−j) is folded into its
    * pre-logged 6dp-decimal column, so serving is pure left joins +
    * one coalesce. Write the tables as parquet to reuse across crawls. */
  final case class LmnModel(order: Int, tiers: Seq[DataFrame], uni: DataFrame, oov: DataFrame)

  /** Train an [[LmnModel]] of the given order (2..8; 5 = the CCNet
    * deployment order). One occurrence scan per order (each a map-side-
    * combinable groupBy whose exchange carries per-task DISTINCT
    * n-grams, not occurrences — at 100 TB the model tables, not the
    * corpus, size every shuffle); each history table derives from its
    * own count table (the [[lm3Model]] derive-from-next-higher trick);
    * (N, V) is one broadcast scalar pair.
    *
    * IEEE discipline: α^k is built by left-folded repeated
    * multiplication so the DuckDB twin's `CAST(0.4 AS DOUBLE) * …`
    * product chain is the same arithmetic shape bit for bit. */
  def lmnModel(reference: DataFrame, order: Int, alpha: Double = 0.4,
      tok: Column => Column = TextNorm.tokens): LmnModel = {
    import org.apache.spark.sql.types.DecimalType
    require(order >= 2 && order <= 8, s"order=$order must be in 2..8")
    require(alpha > 0 && alpha < 1, s"alpha=$alpha must be in (0, 1)")
    val toks = graft.core.Parallelism.ensure(reference)
      .select(tok(col("text")).as("ts"))
    def grams(n: Int): DataFrame = gramsOf(toks, n)
    def dec6(c: Column) = round(c, 6).cast(DecimalType(18, 6))
    // ((1.0 * α) * α) * … — 1.0 * x == x exactly, so the shape equals
    // the twin's bare k-term product
    def aPow(k: Int): Double = (1 to k).foldLeft(1.0)((acc, _) => acc * alpha)
    val tiers = (order to 2 by -1).map { j =>
      val keys = (1 to j).map(i => s"w$i")
      val cjg = grams(j).groupBy(keys.head, keys.tail: _*).agg(count(lit(1)).as("c"))
      val hist = cjg.groupBy(keys.dropRight(1).head, keys.dropRight(1).tail: _*)
        .agg(sum("c").as("h"))
      val penalty = aPow(order - j)
      val lp =
        if (order == j) log(col("c").cast("double") / col("h"))
        else log(lit(penalty) * (col("c").cast("double") / col("h")))
      // serve-position names: tier j keys the LAST j words of the n-gram
      val served = (1 to j).map(i => col(s"w$i").as(s"w${order - j + i}"))
      cjg.join(hist, keys.dropRight(1))
        .select(served :+ dec6(lp).as(s"lp$j"): _*)
    }
    val c1g = toks.select(explode(col("ts")).as("w")).groupBy("w").agg(count(lit(1)).as("c1"))
    val nv = c1g.agg(sum("c1").as("n"), count(lit(1)).as("v"))
    LmnModel(order, tiers,
      uni = c1g.crossJoin(broadcast(nv))
        .select(col("w").as(s"w$order"),
          dec6(log(lit(aPow(order - 1)) * ((col("c1") + lit(1.0)) / (col("n") + col("v"))))).as("lp1")),
      oov = nv.select(
        dec6(log(lit(aPow(order - 1)) * (lit(1.0) / (col("n") + col("v"))))).as("lp_oov")))
  }

  /** Score documents against a stored [[LmnModel]]: mean n-gram
    * stupid-backoff log-score, with `n_bo` (n-grams that fell off the
    * full-order tier) and `n_oov` (fell through every tier to the OOV
    * floor) diagnostics. Output: `(doc_id, n_ngrams, n_bo, n_oov,
    * avg_logprob)`; docs under `order` tokens report `(0, 0, 0, NULL)`.
    * Same serving plan as [[lm3ScoreWith]] at any order: the corpus
    * n-gram stream left-joins each (model-sized, AQE-broadcast) tier
    * on its suffix keys, then one combinable groupBy(doc_id). */
  def lmnScoreWith(docs: DataFrame, model: LmnModel,
      tok: Column => Column = TextNorm.tokens): DataFrame = {
    // `tok` MUST be the tokenizer the model trained under — a unicode
    // char-level CJK model served through the ASCII tokenizer (or vice
    // versa) scores a different token stream than it counted
    import org.apache.spark.sql.types.DecimalType
    val order = model.order
    val tg = graft.core.Parallelism.ensure(docs)
      .select(col("doc_id"), tok(col("text")).as("ts"))
      .where(size(col("ts")) >= order)
      .select(col("doc_id"), explode(
        transform(sequence(lit(1), size(col("ts")) - (order - 1)),
          i => struct((1 to order).map(j =>
            element_at(col("ts"), i + lit(j - 1)).as(s"w$j")): _*))).as("p"))
      .select(col("doc_id") +: (1 to order).map(j => col(s"p.w$j").as(s"w$j")): _*)
    val joined = model.tiers.zipWithIndex.foldLeft(tg) { case (acc, (tier, i)) =>
      val j = order - i // tier order: keys are the last j words
      acc.join(tier, ((order - j + 1) to order).map(x => s"w$x"), "left")
    }.join(model.uni, Seq(s"w$order"), "left")
      .crossJoin(broadcast(model.oov))
    val lps = (order to 2 by -1).map(j => col(s"lp$j")) ++ Seq(col("lp1"), col("lp_oov"))
    val top = col(s"lp$order")
    val allNull = ((order to 2 by -1).map(j => col(s"lp$j").isNull) :+ col("lp1").isNull)
      .reduce(_ && _)
    val perDoc = joined
      .select(col("doc_id"), top, allNull.as("is_oov"), coalesce(lps: _*).as("lp_eff"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_ngrams"),
        count(when(top.isNull, lit(1))).as("n_bo"),
        count(when(col("is_oov"), lit(1))).as("n_oov"),
        sum("lp_eff").cast(DecimalType(18, 6)).as("slp"))
    docs.select("doc_id").join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_ngrams"), lit(0L)).as("n_ngrams"),
        coalesce(col("n_bo"), lit(0L)).as("n_bo"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"),
        // exact integer micro-unit mean — see [[lmScoreWith]]'s tie note
        (round((col("slp") * 1000000).cast("long").cast("double") / col("n_ngrams"))
          / lit(1000000.0)).as("avg_logprob"))
  }

  /** [[lmnModel]] + [[lmnScoreWith]] at order 5 — the q_lm5_score
    * oracle shape (the CCNet deployment order). */
  def lm5ScoreAgainst(docs: DataFrame, reference: DataFrame): DataFrame =
    lmnScoreWith(docs, lmnModel(reference, 5))

  /** An interpolated KNESER-NEY model in ARPA backoff form — the
    * smoothing KenLM actually ships (the K in the 5-gram KenLM CCNet
    * deploys; Kneser & Ney '95, interpolated form per Chen & Goodman
    * '99 §2.7), completing the ladder above [[lmnModel]]'s stupid
    * backoff: KN replaces the crude α penalty with a principled
    * discount D whose freed mass interpolates a CONTINUATION-count
    * lower-order distribution ("how many contexts does this word
    * follow?" — the novel-continuation question stupid backoff never
    * asks).
    *
    * `tiers(i)` is the order-(N−i) probability table keyed on the LAST
    * N−i words (the [[LmnModel]] serving convention), column
    * `lp{N−i}` = 6dp-decimal log of the FULL interpolated probability;
    * `bows(i)` is the order-(N−i) BACKOFF table keyed on the last
    * N−i−1 words... see [[knModel]] for the exact recursion. `unk` is
    * the one-row OOV floor. Serving is left joins + one bow-cumulative
    * CASE — the [[lmnScoreWith]] plan at every order. */
  final case class KnModel(order: Int, tiers: Seq[DataFrame],
      uni: DataFrame, bows: Seq[DataFrame], unk: DataFrame)

  /** Train a [[KnModel]] of the given order.
    *
    * The recursion (interpolated KN, ARPA backoff representation —
    * stored probabilities are the full interpolated values and
    * `bow(h) = λ(h)`, so `p(w|h) = p*(hw)` when `hw` is stored, else
    * `λ(h)·p(w|h′)` — identical to the interpolated model everywhere):
    *
    *   - top tier N (raw counts c): `p*(w|h) = max(c(hw)−D, 0)/c(h)
    *     + λ(h)·p*(w|h′)` with `λ(h) = D·N1+(h•)/c(h)`;
    *   - middle tiers k < N (CONTINUATION counts `cc(u) = N1+(•u)`,
    *     derived from the (k+1)-gram count table by grouping on the
    *     last k words): same shape over cc with denominator
    *     `N1+(•h•) = Σ_w cc(hw)`;
    *   - unigram: `p*(w) = max(cc(w)−D, 0)/U + λ_u·1/(V+1)` with
    *     `U = N1+(••)`, `λ_u = D·|{w: cc(w)>0}|/U` — the uniform end
    *     ranges over vocab + one unk event, so every tier sums to
    *     EXACTLY 1 (the spec pins it);
    *   - OOV floor: `p_unk = λ_u/(V+1)`.
    *
    * Known doc-boundary artifact (KenLM pads with `<s>`; we score raw
    * streams): an n-gram occurring ONLY at document starts has no left
    * extension, so it is absent from continuation space and serves
    * through the backoff path — consistent, just discounted.
    *
    * Engine-portable determinism: every aggregate sums BIGINT counts
    * (exact); each tier's probability is then ONE fixed-shape double
    * expression per row, with the lower tier's probability arriving as
    * a 12dp-decimal round-trip (the q_token_drift recipe — decimals
    * are engine-exact, and the cast back to double is exact), and only
    * the final log rounds to the stored 6dp decimal. The twin mirrors
    * the shapes literally.
    *
    * Plan at 100 TB: one occurrence scan per order feeding map-side-
    * combinable groupBys (exchanges carry DISTINCT n-grams, never
    * occurrences); continuation tables derive from the NEXT-HIGHER
    * count table (model-sized); the bottom-up interpolation joins are
    * model-table-sized. Write the tables as parquet to reuse across
    * crawls. */
  def knModel(reference: DataFrame, order: Int, discount: Double = 0.75,
      tok: Column => Column = TextNorm.tokens): KnModel = {
    import org.apache.spark.sql.types.DecimalType
    require(order >= 2 && order <= 8, s"order=$order must be in 2..8")
    require(discount > 0 && discount < 1, s"discount=$discount must be in (0, 1)")
    val toks = graft.core.Parallelism.ensure(reference)
      .select(tok(col("text")).as("ts"))
    def grams(n: Int): DataFrame = gramsOf(toks, n)
    def dec6(c: Column) = round(c, 6).cast(DecimalType(18, 6))
    def dec12(c: Column) = round(c, 12).cast(DecimalType(28, 12))
    val D = lit(discount)
    // raw count tables, order N down to 1 (cnt(k) keyed w1..wk)
    val cnt: Map[Int, DataFrame] = (1 to order).map { k =>
      k -> grams(k).groupBy((1 to k).map(i => s"w$i").head,
        (1 to k).map(i => s"w$i").tail: _*).agg(count(lit(1)).as("c"))
    }.toMap
    // unigram tier: continuation counts from the bigram table
    val cc1 = cnt(2).groupBy(col("w2").as("w")).agg(count(lit(1)).as("cc"))
    val uStats = cc1.agg(sum("cc").as("u"), count(lit(1)).as("wc"))
      .crossJoin(cnt(1).agg(count(lit(1)).as("v")))
    val p1 = cc1.crossJoin(broadcast(uStats))
      .select(col("w"),
        dec12(greatest(col("cc") - D, lit(0.0)) / col("u") +
          (D * col("wc") / col("u")) * (lit(1.0) / (col("v") + lit(1.0)))).as("p"))
    val unk = uStats.select(
      dec6(log((D * col("wc") / col("u")) * (lit(1.0) / (col("v") + lit(1.0))))).as("lp_unk"))
    // middle + top tiers, bottom-up: tier k needs tier k−1's probs
    val built = (2 to order).foldLeft((p1, Seq.empty[DataFrame], Seq.empty[DataFrame])) {
      case ((pLower, tiers, bows), k) =>
        val keys = (1 to k).map(i => s"w$i")
        val ctx = keys.dropRight(1)
        // tier k's count space: raw counts at the top, continuation
        // counts below (distinct left-extensions in the (k+1)-gram table)
        val ck =
          if (k == order) cnt(k)
          else cnt(k + 1).groupBy((2 to k + 1).map(i => col(s"w$i").as(s"w${i - 1}")): _*)
            .agg(count(lit(1)).as("c"))
        val hk = ck.groupBy(ctx.head, ctx.tail: _*)
          .agg(sum("c").as("den"), count(lit(1)).as("nf"))
        // lower tier keys on the last k−1 words — rename to join
        val pL = pLower.toDF((2 to k).map(i => s"w$i") :+ "p": _*)
        val pk = ck.join(hk, ctx)
          .join(pL, (2 to k).map(i => s"w$i"))
          .select(keys.map(col) :+
            dec12(greatest(col("c") - D, lit(0.0)) / col("den") +
              (D * col("nf") / col("den")) * col("p").cast("double")).as("p"): _*)
        // serve-position names: tier k keys the LAST k words
        val served = (1 to k).map(i => col(s"w$i").as(s"w${order - k + i}"))
        val tier = pk.select(served :+ dec6(log(col("p").cast("double"))).as(s"lp$k"): _*)
        val bow = hk.select(
          ctx.zipWithIndex.map { case (c0, i) => col(c0).as(s"w${order - k + 1 + i}") } :+
            dec6(log(D * col("nf") / col("den"))).as(s"bo$k"): _*)
        (pk.select(keys.map(col) :+ col("p"): _*), tiers :+ tier, bows :+ bow)
    }
    val (_, tiersAsc, bowsAsc) = built
    KnModel(order, tiersAsc.reverse, // tier N first, the LmnModel convention
      uni = p1.select(col("w").as(s"w$order"), dec6(log(col("p").cast("double"))).as("lp1")),
      bows = bowsAsc.reverse, unk = unk)
  }

  /** Score documents against a stored [[KnModel]]: mean interpolated
    * Kneser-Ney log-probability over the doc's n-gram stream, ARPA
    * backoff evaluation — the longest stored suffix wins and each
    * skipped tier contributes its context's bow (missing context ⇒
    * bow 1 ⇒ log 0, the ARPA convention). Diagnostics mirror
    * [[lmnScoreWith]]: `(doc_id, n_ngrams, n_bo, n_oov, avg_logprob)`;
    * docs under `order` tokens report `(0, 0, 0, NULL)`.
    *
    * Plan at 100 TB: the corpus n-gram stream left-joins each tier on
    * its suffix keys and each bow table on its context keys — ALL
    * model-sized, AQE-broadcast when small, no occurrence-level
    * re-shuffle of text — then one combinable groupBy(doc_id). The
    * scored corpus is never part of the model. */
  def knScoreWith(docs: DataFrame, model: KnModel,
      tok: Column => Column = TextNorm.tokens): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val order = model.order
    val tg = graft.core.Parallelism.ensure(docs)
      .select(col("doc_id"), tok(col("text")).as("ts"))
      .where(size(col("ts")) >= order)
      .select(col("doc_id"), explode(
        transform(sequence(lit(1), size(col("ts")) - (order - 1)),
          i => struct((1 to order).map(j =>
            element_at(col("ts"), i + lit(j - 1)).as(s"w$j")): _*))).as("p"))
      .select(col("doc_id") +: (1 to order).map(j => col(s"p.w$j").as(s"w$j")): _*)
    val withTiers = model.tiers.zipWithIndex.foldLeft(tg) { case (acc, (tier, i)) =>
      val k = order - i // tier order: keys are the last k words
      acc.join(tier, ((order - k + 1) to order).map(x => s"w$x"), "left")
    }.join(model.uni, Seq(s"w$order"), "left")
    val joined = model.bows.zipWithIndex.foldLeft(withTiers) { case (acc, (bow, i)) =>
      val k = order - i // bow k keys the last k−1 words BEFORE w_order
      acc.join(bow, ((order - k + 1) to (order - 1)).map(x => s"w$x"), "left")
    }.crossJoin(broadcast(model.unk))
    // falling to tier k pays the bows of every tier above it
    def zero = lit(java.math.BigDecimal.ZERO).cast(DecimalType(18, 6))
    def bowsAbove(k: Int): Column =
      ((k + 1) to order).map(j => coalesce(col(s"bo$j"), zero))
        .foldLeft(zero)(_ + _)
    val score = (order to 2 by -1).foldRight(
      when(col("lp1").isNotNull, bowsAbove(1) + col("lp1"))
        .otherwise(bowsAbove(1) + col("lp_unk"))) { (k, lower) =>
      when(col(s"lp$k").isNotNull, bowsAbove(k) + col(s"lp$k")).otherwise(lower)
    }
    val top = col(s"lp$order")
    val allNull = ((order to 2 by -1).map(j => col(s"lp$j").isNull) :+ col("lp1").isNull)
      .reduce(_ && _)
    val perDoc = joined
      .select(col("doc_id"), top, allNull.as("is_oov"),
        score.cast(DecimalType(18, 6)).as("lp_eff"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_ngrams"),
        count(when(top.isNull, lit(1))).as("n_bo"),
        count(when(col("is_oov"), lit(1))).as("n_oov"),
        sum("lp_eff").cast(DecimalType(18, 6)).as("slp"))
    docs.select("doc_id").join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_ngrams"), lit(0L)).as("n_ngrams"),
        coalesce(col("n_bo"), lit(0L)).as("n_bo"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"),
        // exact integer micro-unit mean — see [[lmScoreWith]]'s tie note
        (round((col("slp") * 1000000).cast("long").cast("double") / col("n_ngrams"))
          / lit(1000000.0)).as("avg_logprob"))
  }

  /** [[knModel]] + [[knScoreWith]] at order 3 — the q_kn_score oracle
    * shape (order 5 is the same parameterized path; the KN5 spec and
    * probe drive it). */
  def kn3ScoreAgainst(docs: DataFrame, reference: DataFrame): DataFrame =
    knScoreWith(docs, knModel(reference, 3))

  /** [[perplexityBuckets3]] under an ORDER-PARAMETERIZED model — the
    * head/middle/tail split driven by the [[lmnScoreWith]] scorer, so
    * the bucket rule rides the same ladder as the score (at order 5
    * this IS the CCNet deployment: 5-gram LM + per-source terciles).
    * Same threshold contract: computed inline or served from a stored
    * `(source, t_head, t_mid)` table; sub-`order`-token docs land in
    * `tail`. Output: `(doc_id, source, avg_logprob, ppl_bucket)`. */
  def perplexityBucketsN(
      docs: DataFrame,
      model: LmnModel,
      sourceCol: String = "source",
      qHead: Double = 0.67,
      qMid: Double = 0.33,
      thresholds: Option[DataFrame] = None): DataFrame =
    bucketizeScored(lmnScoreWith(docs, model), docs, sourceCol, qHead, qMid, thresholds)

  /** [[perplexityBuckets]] under the TRIGRAM stupid-backoff model —
    * CCNet's head/middle/tail split driven by the higher-order scorer
    * (the actual CCNet deployment pairs the bucket rule with its
    * KenLM; the bigram variant remains for the cheaper pass). Same
    * per-source exact-percentile thresholds (computed inline or
    * served from a precomputed `(source, t_head, t_mid)` table — at
    * 100 TB compute that artifact once and broadcast it), same
    * `tail` fate for unscorable (sub-3-token) docs. Output:
    * `(doc_id, source, avg_logprob, ppl_bucket)`. */
  def perplexityBuckets3(
      docs: DataFrame,
      model: Lm3Model,
      sourceCol: String = "source",
      qHead: Double = 0.67,
      qMid: Double = 0.33,
      thresholds: Option[DataFrame] = None): DataFrame =
    bucketizeScored(lm3ScoreWith(docs, model), docs, sourceCol, qHead, qMid, thresholds)

  /** [[perplexityBucketsN]] under the interpolated KNESER-NEY model —
    * the FULL published CCNet deployment (Wenzek et al. LREC '20:
    * 5-gram KenLM + per-source perplexity terciles; [[knModel]] IS the
    * KenLM smoothing). Same threshold contract as every bucket face:
    * computed inline or served from a stored `(source, t_head, t_mid)`
    * table; sub-`order`-token docs land in `tail`. Output:
    * `(doc_id, source, avg_logprob, ppl_bucket)`. */
  def perplexityBucketsKn(
      docs: DataFrame,
      model: KnModel,
      sourceCol: String = "source",
      qHead: Double = 0.67,
      qMid: Double = 0.33,
      thresholds: Option[DataFrame] = None): DataFrame =
    bucketizeScored(knScoreWith(docs, model), docs, sourceCol, qHead, qMid, thresholds)

  /** Document fingerprinting by winnowing (Schleimer et al., SIGMOD '03):
    * hash every token (md5 — stable across engines), take the window
    * minimum over each w-token sliding window, emit the distinct minima
    * as the document's fingerprint set. Two docs sharing fingerprints
    * share content even after edits.
    *
    * Row-local since round 12: the native
    * [[graft.functions.WinnowFps]] expression winnows each doc in one
    * pass — the per-doc hash-partition shuffle and window sort of the
    * original formulation are gone (value-identical by the parity
    * spec).
    */
  def fingerprints(docs: DataFrame, w: Int = 5, k: Int = 1,
      tok: Column => Column = TextNorm.tokens): DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    // k = 1 (the historical default) hashes single tokens — adequate
    // for per-doc signatures but DEGENERATE for cross-doc pairing on a
    // small vocabulary: the window-min can only ever land on the
    // globally-smallest-hash tokens, so the whole corpus collapses to
    // a handful of distinct fingerprints (29 observed at sf0.1).
    // k > 1 is the full Schleimer/Wilkerson/Aiken scheme: hash k-token
    // GRAMS, winnow those — the gram space is content-specific, so
    // shared fingerprints imply shared local regions
    // ([[graft.ops.Dedup.fingerprintPairs]] uses k = 3).
    graft.core.Parallelism.ensure(docs)
      .select(col("doc_id"),
        explode(graft.functions.WinnowFps.of(
          tok(col("text")), w, k)).as("fp"))
  }

  /** Corpus drift monitor: Kullback-Leibler and Jensen-Shannon
    * divergence between two corpora's hashed-unigram distributions —
    * "did today's crawl shift away from yesterday's?" as one cheap
    * scheduled query, the distributional counterpart of the per-batch
    * funnel counts ([[graft.streaming.CorpusWatcher]] `metricsDir`).
    *
    * Tokens hash into `buckets` md5 buckets (the
    * [[Curation.importanceWeights]] recipe); both distributions get
    * add-one smoothing over the FULL bucket domain (so unseen buckets
    * contribute, and no ratio is ever 0 or ∞); each bucket's
    * divergence term is rounded to 12dp and accumulated in
    * DECIMAL(28,12) — order-independent, engine-exact sums (the terms
    * are O(1/buckets), so the 6dp recipe used for O(1) log-probs would
    * eat them; 12dp keeps ~7 significant digits per term). Published
    * metrics round to 6dp.
    *
    * Output: ONE row `(n_tokens_a, n_tokens_b, kl_ab, kl_ba, js)`;
    * `js` is symmetric and bounded by ln 2 ≈ 0.693 (identical corpora
    * → all three are 0).
    *
    * Plan at 100 TB: each side is one tokenize scan + one groupBy on
    * the bucket key with map-side combine (the shuffle carries at most
    * `buckets` rows per task); everything downstream joins against the
    * `buckets`-row range domain — constant-size work with broadcast
    * totals, no occurrence-level shuffle anywhere.
    */
  /** The Gopher quality rule set (Rae et al. 2021, appendix A1.1) as
    * per-document diagnostics + a composite keep flag — the de-facto
    * standard heuristic filter batteries like MassiveText/RefinedWeb
    * start from, complementing [[qualityScore]] (this library's
    * minimal gate) with the published seven rules:
    *
    *   1. 50 ≤ word count ≤ 100,000
    *   2. 3 ≤ mean word length ≤ 10
    *   3. symbol-to-word ratio ≤ 0.1 (`#` and ellipses)
    *   4. ≤ 90% of lines start with a bullet (`-`, `*`, `•`)
    *   5. ≤ 30% of lines end with an ellipsis (`...` or `…`)
    *   6. ≥ 80% of words contain an alphabetic character
    *   7. ≥ 2 OCCURRENCES of the 8 canonical English stopwords — not
    *      distinct stopwords, so "the ... the" alone satisfies it (the
    *      DataTrove-style reading; implementations that require two
    *      DISTINCT stopwords will disagree on such degenerate docs)
    *
    * Words are RAW whitespace-split tokens (the paper's definition —
    * punctuation intact, so `mean_word_len` and `alpha_word_frac` see
    * what a reader sees); rule 7 uses the normalized tokenizer like
    * every other stopword rule here. Degenerate inputs: a wordless doc
    * reports NULL word stats and fails rules 1/2/3/6; a lineless doc's
    * line fractions are 0 (nothing violates a line rule).
    *
    * Row-parallel column algebra over one projection (arrays
    * materialized once), no shuffle, no UDF — the 100 TB cost is the
    * scan itself, and every ratio is integer-derived so the oracle
    * hash-matches bit-for-bit.
    */
  def gopherQuality(docs: DataFrame): DataFrame = {
    val stop8 = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    def rmCount(pat: String, scale: Int = 1): Column =
      ((length(col("text")) - length(regexp_replace(col("text"), pat, ""))) / scale)
        .cast("long")
    val d = graft.core.Parallelism.ensure(docs)
      .select(col("doc_id"), col("text"),
        filter(split(col("text"), "\\s+"), w => length(w) > 0).as("ws"),
        filter(transform(split(col("text"), "\n"), l => trim(l)),
          l => length(l) > 0).as("ls"),
        TextNorm.tokens(col("text")).as("ts"))
      // the eight counts PlanSeal-ed: a caller's filter on `keep` (the
      // op's whole point) would otherwise inline every array builder
      // into the pushed predicate (the Curation.rowFlags
      // pushdown-blowup contract)
      .select(col("doc_id"), seal(struct(
        size(col("ws")).cast("long").as("n_words"),
        size(col("ls")).cast("long").as("n_lines"),
        length(regexp_replace(col("text"), "\\s", "")).cast("long").as("n_chars"),
        (rmCount("#") + rmCount("\\.\\.\\.", 3) + rmCount("…")).as("n_symbols"),
        size(filter(col("ls"),
          l => l.substr(lit(1), lit(1)).isin("-", "*", "•"))).cast("long").as("n_bullet"),
        size(filter(col("ls"),
          l => l.endsWith("...") || l.endsWith("…"))).cast("long").as("n_ell_lines"),
        size(filter(col("ws"), w => w.rlike("[A-Za-z]"))).cast("long").as("n_alpha"),
        size(filter(col("ts"), t => t.isin(stop8: _*))).cast("long").as("n_stop"))).as("ct"))
      .select(col("doc_id"), col("ct.n_words").as("n_words"),
        col("ct.n_lines").as("n_lines"), col("ct.n_chars").as("n_chars"),
        col("ct.n_symbols").as("n_symbols"), col("ct.n_bullet").as("n_bullet"),
        col("ct.n_ell_lines").as("n_ell_lines"), col("ct.n_alpha").as("n_alpha"),
        col("ct.n_stop").as("n_stop"))
    val wordStat: Column => Column = x => when(col("n_words") > 0, x)
    val lineStat: Column => Column =
      x => when(col("n_lines") > 0, x).otherwise(lit(0.0))
    d.select(col("doc_id"), col("n_words"),
        wordStat(col("n_chars").cast("double") / col("n_words")).as("mean_word_len"),
        wordStat(col("n_symbols").cast("double") / col("n_words")).as("symbol_ratio"),
        lineStat(col("n_bullet").cast("double") / col("n_lines")).as("bullet_line_frac"),
        lineStat(col("n_ell_lines").cast("double") / col("n_lines")).as("ellipsis_line_frac"),
        wordStat(col("n_alpha").cast("double") / col("n_words")).as("alpha_word_frac"),
        col("n_stop"))
      .select(col("doc_id"), col("n_words"), col("mean_word_len"),
        col("symbol_ratio"), col("bullet_line_frac"), col("ellipsis_line_frac"),
        col("alpha_word_frac"), col("n_stop"),
        coalesce(col("n_words").between(50, 100000), lit(false)).as("r_word_count"),
        coalesce(col("mean_word_len").between(3.0, 10.0), lit(false)).as("r_word_len"),
        coalesce(col("symbol_ratio") <= 0.1, lit(false)).as("r_symbol"),
        (col("bullet_line_frac") <= 0.9).as("r_bullet"),
        (col("ellipsis_line_frac") <= 0.3).as("r_ellipsis"),
        coalesce(col("alpha_word_frac") >= 0.8, lit(false)).as("r_alpha"),
        (col("n_stop") >= 2).as("r_stop"))
      .withColumn("keep",
        col("r_word_count") && col("r_word_len") && col("r_symbol") &&
          col("r_bullet") && col("r_ellipsis") && col("r_alpha") && col("r_stop"))
  }

  def tokenDrift(a: DataFrame, b: DataFrame, buckets: Int = 1024): DataFrame =
    driftFromCounts(bucketCounts(a, buckets), bucketCounts(b, buckets),
      buckets, a.sparkSession)

  /** Sliding token-window chunking — the retrieval/embedding
    * pipeline's document splitter: fixed `chunkSize`-token windows
    * every `stride` tokens (`stride < chunkSize` = overlap, the
    * context-preservation knob), covering every token, last window
    * short. Output `(doc_id, chunk_idx, start_pos, n_chunk_tokens,
    * chunk_text)` — `start_pos` 1-based (the SQL-list convention the
    * twin shares), `chunk_text` space-joined normalized tokens (the
    * form an embedding model consumes). Tokenless docs emit nothing.
    * Row-local explode over integer arithmetic — scan-shaped, no
    * shuffle, engine-exact. */
  def chunkByTokens(docs: DataFrame, chunkSize: Int, stride: Int): DataFrame = {
    require(chunkSize >= 1, s"chunkSize=$chunkSize must be >= 1")
    require(stride >= 1 && stride <= chunkSize,
      s"stride=$stride must be in [1, chunkSize=$chunkSize]")
    graft.core.Parallelism.ensure(docs)
      // sealed: ts feeds the length, the window count and every
      // window's slice — unsealed, each reference re-tokenizes
      .select(col("doc_id"),
        graft.functions.PlanSeal.seal(TextNorm.tokens(col("text"))).as("ts"))
      .select(col("doc_id"), col("ts"), size(col("ts")).cast("long").as("n"))
      .where(col("n") > 0)
      .select(col("doc_id"), col("ts"), col("n"),
        explode(sequence(lit(0L),
          greatest(lit(0L),
            floor((col("n") - chunkSize + stride - 1).cast("double") / stride)
              .cast("long")))).as("chunk_idx_l"))
      .select(col("doc_id"), col("ts"), col("n"),
        col("chunk_idx_l").cast("int").as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        (col("chunk_idx") * stride + 1).as("start_pos"),
        least(lit(chunkSize.toLong),
          col("n") - col("chunk_idx").cast("long") * stride).as("n_chunk_tokens"),
        array_join(
          slice(col("ts"), col("chunk_idx") * stride + 1, lit(chunkSize)), " ")
          .as("chunk_text"))
  }

  // ---- Drift-triggered artifact refresh --------------------------------

  /** Per-(artifact, metric) refresh decisions: join measured drift
    * `signals (artifact, metric, value)` onto declared `thresholds
    * (artifact, metric, threshold)` — `due` iff the measured value
    * EXCEEDS its threshold; a threshold with no measurement this
    * window reads `value` NULL, `due` false (no evidence is not
    * evidence of drift — an artifact must not churn because its
    * metric didn't run). The missing piece between measuring drift
    * ([[tokenDrift]], [[graft.ops.WordPiece.unkSignals]]) and the
    * frozen artifacts that drift invalidates (stored ANN indexes,
    * tokenizer vocabularies, classifier models): staleness management
    * becomes an engine decision a stream can record and a scheduler
    * can act on, instead of policy pushed onto every operator.
    * Both sides are METRIC-GRAIN (thresholds are declared policy);
    * signals are folded to their WORST (max) value per (artifact,
    * metric) before the join — a caller feeding accumulated
    * multi-window signal rows instead of one window's measurement gets
    * one conservative decision per declared threshold, never a fan-out
    * of contradictory `due` rows. The measured side carries the
    * broadcast hint — it is the BUILD side of the left-outer join
    * (a hint on the preserved side is silently unusable), so the plan
    * is one metric-grain aggregate plus one broadcast join, no
    * row-level shuffle. */
  def refreshDue(signals: DataFrame, thresholds: DataFrame): DataFrame =
    thresholds.select(col("artifact"), col("metric"), col("threshold"))
      .join(broadcast(signals.select(col("artifact"), col("metric"), col("value"))
        .groupBy(col("artifact"), col("metric"))
        .agg(max(col("value")).as("value"))),
        Seq("artifact", "metric"), "left")
      .select(col("artifact"), col("metric"), col("value"), col("threshold"),
        coalesce(col("value") > col("threshold"), lit(false)).as("due"))

  /** [[refreshDue]] rolled up per artifact — the actionable row: an
    * artifact is due iff ANY of its metrics crossed. `(artifact, due,
    * n_over, n_metrics)`. */
  def refreshPlan(signals: DataFrame, thresholds: DataFrame): DataFrame =
    refreshDue(signals, thresholds)
      .groupBy(col("artifact"))
      .agg(max(col("due")).as("due"),
        sum(col("due").cast("long")).as("n_over"),
        count(lit(1)).as("n_metrics"))

  /** [[tokenDrift]] output (one row: kl_ab/kl_ba/js) as [[refreshDue]]
    * signal rows for `artifact` — the three divergences unpivoted to
    * the (artifact, metric, value) grain. */
  def driftRefreshSignals(drift: DataFrame, artifact: String): DataFrame =
    drift.select(lit(artifact).as("artifact"), explode(map(
      lit("kl_ab"), col("kl_ab"), lit("kl_ba"), col("kl_ba"),
      lit("js"), col("js"))).as(Seq("metric", "value")))

  /** [[graft.ops.WordPiece.unkSignals]] output as [[refreshDue]]
    * signal rows: one artifact per routing key (`prefix + key`),
    * metric `unk_rate` — the per-source tokenizer-retrain trigger. */
  def unkRefreshSignals(unk: DataFrame, keyCol: String = "source",
      prefix: String = "tokenizer:"): DataFrame =
    unk.select(concat(lit(prefix), col(keyCol).cast("string")).as("artifact"),
      lit("unk_rate").as("metric"), col("unk_rate").as("value"))

  /** Hashed-unigram bucket counts `(b, c)` for one corpus — the
    * tokenize half of [[tokenDrift]], exposed so callers that ALREADY
    * hold token counts (the streaming watcher's accumulated inverted
    * index) can feed [[driftFromCounts]] without re-scanning text. */
  private[graft] def bucketCounts(d: DataFrame, buckets: Int): DataFrame =
    graft.core.Parallelism.ensure(d)
      .select(explode(TextNorm.tokens(col("text"))).as("t"))
      .select(bucketOf(col("t"), buckets).as("b"))
      .groupBy("b").agg(count(lit(1)).as("c"))

  /** `md5(token)` prefix → bucket id, the hash every drift-side count
    * must share (a mismatched hash compares unrelated buckets). */
  private[graft] def bucketOf(token: Column, buckets: Int): Column =
    conv(substring(md5(token), 1, 8), 16, 10).cast("long") % buckets

  /** [[tokenDrift]] over precomputed bucket-count tables (`(b, c)`,
    * missing buckets implicitly 0). Both sides MUST be bucketed by
    * [[bucketOf]] with this `buckets`. */
  private[graft] def driftFromCounts(
      countsA: DataFrame,
      countsB: DataFrame,
      buckets: Int,
      spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(buckets >= 2, s"buckets=$buckets must be >= 2")
    val ca = countsA
    val cb = countsB.withColumnRenamed("c", "c2")
    val na = ca.agg(coalesce(sum("c"), lit(0L)).as("na"))
    val nb = cb.agg(coalesce(sum("c2"), lit(0L)).as("nb"))
    val dom = spark.range(buckets).select(col("id").as("b"))
    val p = (coalesce(col("c"), lit(0L)) + lit(1.0)) / (col("na") + lit(buckets))
    val q = (coalesce(col("c2"), lit(0L)) + lit(1.0)) / (col("nb") + lit(buckets))
    val m = (p + q) / lit(2)
    def term(x: Column, y: Column): Column =
      round(x * log(x / y), 12).cast(DecimalType(28, 12))
    dom.join(ca, Seq("b"), "left").join(cb, Seq("b"), "left")
      .crossJoin(broadcast(na)).crossJoin(broadcast(nb))
      .select(col("na"), col("nb"),
        term(p, q).as("tab"), term(q, p).as("tba"),
        term(p, m).as("tjp"), term(q, m).as("tjq"))
      .agg(
        max(col("na")).as("n_tokens_a"),
        max(col("nb")).as("n_tokens_b"),
        round(sum(col("tab")).cast("double"), 6).as("kl_ab"),
        round(sum(col("tba")).cast("double"), 6).as("kl_ba"),
        round((sum(col("tjp")) + sum(col("tjq"))).cast("double") * lit(0.5), 6).as("js"))
  }

  /** Information-theoretic quality signal: per-document character-level
    * Shannon entropy (bits/char) plus the distinct-character count —
    * the gibberish/degeneracy detector that length and stopword ratios
    * miss (a base64 blob has HIGH entropy, "aaaa…" has ~0; natural
    * English sits near 4.1 bits at the character level, Shannon 1951).
    *
    * Engine-portable determinism, the q_bm25-idf recipe: each
    * character's contribution (c/n)·log2(n/c) is rounded to 6dp and
    * cast DECIMAL(18,6) BEFORE summing, so the per-doc sum is exact
    * and order-independent; the only transcendental is one log2 per
    * DISTINCT character per doc (≤ alphabet-sized).
    *
    * Character = one UTF-16 code unit in Spark's `substr` and one code
    * point in most SQL engines — identical over ASCII/BMP corpora;
    * supplementary-plane text would need a code-point splitter on the
    * Spark side (documented, not silently wrong: counts would differ,
    * not crash). Shuffle: one groupBy on (doc_id, ch) — combinable,
    * alphabet-bounded per doc.
    */
  def entropySignals(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val base = graft.core.Parallelism.ensure(docs)
      .select(col("doc_id"), length(col("text")).as("n"), col("text"))
    val terms = base
      .where(col("n") > 0)
      .select(col("doc_id"), col("n"), explode(sequence(lit(0), col("n") - 1)).as("i"),
        col("text"))
      .select(col("doc_id"), col("n"), col("text").substr(col("i") + 1, lit(1)).as("ch"))
      .groupBy(col("doc_id"), col("n"), col("ch"))
      .agg(count(lit(1)).as("c"))
      .select(col("doc_id"), col("n"),
        round((col("c") / col("n")) * log2(col("n") / col("c")), 6)
          .cast(DecimalType(18, 6)).as("t"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("nd"), sum("t").cast("double").as("h"))
    base.select(col("doc_id"), col("n").cast("long").as("n_chars"))
      .join(terms, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chars"),
        coalesce(col("nd"), lit(0L)).as("n_distinct_chars"),
        coalesce(col("h"), lit(0.0)).as("char_entropy"))
  }

  /** Compression-ratio quality signal (the Gopher/CCNet-family
    * heuristic SQL cannot express — no DEFLATE in any SQL engine, so
    * this operator is SPEC-gated, not oracle-gated): per-document
    * zlib-deflated size and ratio. Highly repetitive boilerplate
    * compresses far below natural text; random/encoded blobs barely
    * compress — both tails are drop candidates. Level 6, one Deflater
    * per partition (reset per doc, no allocation churn), bytes never
    * leave the executor, no shuffle. Ratio rounded to 4dp.
    */
  def compressionSignals(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { rows =>
        val deflater = new java.util.zip.Deflater(6)
        val buf = new Array[Byte](64 * 1024)
        rows.map { case (id, text) =>
          val in = Option(text).getOrElse("").getBytes("UTF-8")
          deflater.reset()
          deflater.setInput(in)
          deflater.finish()
          var out = 0L
          while (!deflater.finished()) out += deflater.deflate(buf)
          val ratio =
            if (in.length == 0) 0.0
            else math.rint(out.toDouble / in.length * 10000) / 10000
          (id, in.length.toLong, out, ratio)
        }
      }
      .toDF("doc_id", "n_bytes", "n_deflated", "ratio")
  }

  /** Oracle-able compression PROXY — the SQL-expressible companion to
    * [[compressionSignals]] (DEFLATE exists in no SQL engine, so that
    * operator is spec-gated only; this one closes the asymmetry with a
    * hash-gated second signal). The proxy is the distinct char-k-gram
    * ratio: LZ77's back-references fire exactly where a k-gram has
    * occurred before in the window, so
    *
    *   proxy_ratio = distinct k-grams / total k-gram positions
    *
    * falls with repetition just as the deflate ratio does (boilerplate
    * loops reuse grams → low; natural text → mid; random blobs → ~1;
    * the spec pins the ORDERING agreement with real DEFLATE on all
    * three shapes). Deterministic integer/6dp arithmetic, identical in
    * both engines over BMP text (same `substr` caveat as
    * [[entropySignals]]).
    *
    * Scale shape: one position explode (the [[entropySignals]] cost
    * model — the scan dominates), one combinable groupBy(doc_id)
    * carrying (doc_id, gram) pairs; the gram itself (k chars) is the
    * shuffle key — shorter than any portable hash of it, so no
    * hashing. Docs shorter than k have no gram positions and publish
    * ratio 0.0 (nothing to compress against — matches
    * [[compressionSignals]]' empty-doc convention).
    */
  def compressionProxy(docs: DataFrame, k: Int = 8): DataFrame = {
    require(k >= 2, s"k=$k must be >= 2")
    val base = graft.core.Parallelism.ensure(docs)
      .select(col("doc_id"), length(col("text")).as("n"), col("text"))
    val grams = base
      .where(col("n") >= k)
      .select(col("doc_id"),
        explode(sequence(lit(1), col("n") - (k - 1))).as("i"), col("text"))
      .select(col("doc_id"), col("text").substr(col("i"), lit(k)).as("g"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("ng"), countDistinct("g").as("nd"))
    base.select(col("doc_id"))
      .join(grams, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("ng"), lit(0L)).as("n_grams"),
        coalesce(col("nd"), lit(0L)).as("n_distinct_grams"),
        when(col("ng").isNotNull,
          round(col("nd").cast("double") / col("ng"), 6))
          .otherwise(lit(0.0)).as("proxy_ratio"))
  }

  /** Count-min sketch over the token stream: `depth` hash rows ×
    * `width` counters, hash r of a token = first 8 md5 hex digits of
    * `"r:token"` mod `width` (the [[bucketOf]] recipe, seeded per row —
    * engine-portable, so the sketch is bit-reproducible anywhere).
    * Output `(r, b, c)` — at most depth×width rows regardless of
    * corpus size: THE streaming-memory property that makes CMS the
    * heavy-hitter sketch at 100 TB (counters fit in L2; merging two
    * corpora's sketches is elementwise addition of these tables).
    *
    * Plan: one vocabulary-sized combinable groupBy (the token-count
    * table), then the depth bucket projections aggregate THAT — the
    * occurrence stream crosses the exchange once, pre-combined per map
    * task, and the second shuffle carries ≤ vocab×depth tiny rows.
    */
  def cmsCounters(docs: DataFrame, depth: Int = 4, width: Int = 1024): DataFrame = {
    require(depth >= 1, s"depth=$depth must be >= 1")
    require(width >= 2, s"width=$width must be >= 2")
    cmsBuckets(tokenCountsOf(docs), depth, width)
      .groupBy("r", "b").agg(sum("cnt").as("c"))
  }

  /** Exact per-token corpus counts — the vocabulary table both CMS
    * halves derive from. */
  private def tokenCountsOf(docs: DataFrame): DataFrame =
    graft.core.Parallelism.ensure(docs)
      .select(explode(TextNorm.tokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** (word, cnt, r, b): each vocab row exploded to its `depth` sketch
    * coordinates. */
  private def cmsBuckets(vocab: DataFrame, depth: Int, width: Int): DataFrame =
    vocab.select(col("word"), col("cnt"), explode(array((0 until depth).map { r =>
      struct(lit(r).as("r"),
        (conv(substring(md5(concat(lit(s"$r:"), col("word"))), 1, 8), 16, 10)
          .cast("long") % width).as("b"))
    }: _*)).as("e"))
      .select(col("word"), col("cnt"), col("e.r").as("r"), col("e.b").as("b"))

  /** Top-k tokens by count-min ESTIMATE, with the exact count and the
    * sketch's overcount beside each — the harness that validates a CMS
    * configuration (depth/width) against the corpus before serving
    * point estimates from counters alone. est ≥ exact always (CMS
    * never undercounts); overcount = collision mass in the token's
    * minimum-loaded counter.
    *
    * `(rank, word, est, exact, overcount)`, rank 1..k by (est DESC,
    * word ASC) — total order, so the boundary is deterministic.
    *
    * Plan: the counter table (≤ depth×width rows) broadcasts back onto
    * the vocab's sketch coordinates; min-of-depth per token; global
    * top-k through the bounded-heap aggregate ([[graft.functions
    * .TopKByScore]]) — map tasks forward at most k rows, nothing sorts
    * the vocabulary.
    */
  def cmsTopTokens(
      docs: DataFrame, depth: Int = 4, width: Int = 1024, k: Int = 50): DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    val vocab = tokenCountsOf(docs)
    val coords = cmsBuckets(vocab, depth, width)
    val counters = coords.groupBy("r", "b").agg(sum("cnt").as("c"))
    val est = coords.join(broadcast(counters), Seq("r", "b"))
      .groupBy("word", "cnt").agg(min("c").as("est"))
    est.agg(graft.functions.TopKByScore.topK(col("est"),
        concat_ws("\u0000", col("word"), col("cnt").cast("string")), k).as("tk"))
      .select(posexplode(col("tk")).as(Seq("i", "e")))
      .select((col("i") + 1).cast("long").as("rank"),
        split(col("e.id"), "\u0000").getItem(0).as("word"),
        col("e.score").as("est"),
        split(col("e.id"), "\u0000").getItem(1).cast("long").as("exact"))
      .withColumn("overcount", col("est") - col("exact"))
  }

  /** Robust outlier flags on document token length — median/MAD
    * (median absolute deviation), the quality-signal outlier rule that
    * survives the heavy-tailed length distributions web corpora have
    * (mean/stddev do not: one 10 MB page drags the mean). A doc is an
    * outlier when |n_tokens − median| > k · 1.4826 · MAD (1.4826
    * scales MAD to σ under normality — the standard robust z).
    *
    * Output: one row per doc — `(doc_id, n_tokens, med, mad,
    * is_outlier)`. When MAD = 0 (over half the corpus has the exact
    * median length) only docs differing from the median at all can
    * flag, which the rule already encodes.
    *
    * Scale note (the q_percentiles precedent): exact `percentile` here
    * for engine-exact oracle parity — it buffers the value column on
    * one reducer, fine for a diagnostic; at 100 TB swap
    * `percentile_approx` in (the two-row stats table is the only
    * change, q_approx_percentiles demonstrates the sketch machinery).
    */
  def lengthOutliers(docs: DataFrame, kMad: Double = 3.0): DataFrame = {
    require(kMad > 0.0, s"kMad=$kMad must be positive")
    val lens = graft.core.Parallelism.ensure(docs)
      .select(col("doc_id"), size(TextNorm.tokens(col("text"))).as("n_tokens"))
    val med = lens.agg(expr("percentile(n_tokens, 0.5)").as("med"))
    val withMed = lens.crossJoin(broadcast(med))
    val mad = withMed
      .agg(expr("percentile(abs(n_tokens - med), 0.5)").as("mad"))
    withMed.crossJoin(broadcast(mad))
      .select(col("doc_id"), col("n_tokens"), col("med"), col("mad"),
        (abs(col("n_tokens") - col("med")) > lit(kMad) * lit(1.4826) * col("mad"))
          .as("is_outlier"))
  }

  /** C4-style blocklist gate: per-doc count of tokens on a term
    * blocklist, the blocked fraction, and the keep flag — C4's rule is
    * the strict one (ANY listed token drops the page), encoded here as
    * `keep = n_blocked == 0`; callers wanting a softer threshold filter
    * on `frac_blocked` instead.
    *
    * Tokens are the index normalizer's (lowercased, alnum-only), so
    * the list entries must be normalized terms. This literal-list face
    * folds the list into the plan (right for the few-hundred-term
    * published lists); [[blocklistSignalsFrom]] is the table face for
    * lists too large to inline.
    *
    * Both token stats are PlanSeal-ed —
    * this is a flag op callers WILL filter on, and a pushed `keep`
    * predicate must not re-inline the tokenizer (the
    * `Curation.rowFlags` pushdown-blowup contract).
    */
  def blocklistSignals(
      docs: DataFrame, blocklist: Seq[String] = Blocklist.default): DataFrame = {
    require(blocklist.nonEmpty, "blocklist must not be empty")
    val blockArr = array(blocklist.map(lit): _*)
    graft.core.Parallelism.ensure(docs)
      .select(col("doc_id"), seal(TextNorm.tokens(col("text"))).as("ts"))
      .select(col("doc_id"), seal(struct(
        size(col("ts")).as("n_tok"),
        size(filter(col("ts"), t => array_contains(blockArr, t))).as("n_blk"))).as("bk"))
      .select(col("doc_id"),
        col("bk.n_tok").cast("long").as("n_tokens"),
        col("bk.n_blk").cast("long").as("n_blocked"),
        when(col("bk.n_tok") > 0,
          round(col("bk.n_blk").cast("double") / col("bk.n_tok"), 6))
          .otherwise(lit(0.0)).as("frac_blocked"),
        (col("bk.n_blk") === 0).as("keep"))
  }

  /** Multi-word PHRASE blocklist — the form the token faces above
    * structurally lack (an n-word phrase as a token-stream join is an
    * n-way self-join per position): every phrase counted in ONE
    * Aho–Corasick pass over the normalized text
    * ([[graft.functions.PhraseMatch]] — O(text + matches) per doc,
    * independent of dictionary size; the FlashText result at
    * expression depth). Phrases are space-separated NORMALIZED tokens
    * (the [[blocklistSignals]] list contract); matching is
    * token-boundary exact (text and phrases both ride wrapped in
    * single spaces over the token-joined form, so `"a a"` can never
    * match inside `"aa a"`), and overlapping occurrences all count
    * (`"a a"` occurs twice in `"a a a"` — the twin's position scan
    * pins it). Output `(doc_id, n_tokens, n_phrase_hits,
    * n_phrases_seen, keep = no hit)`; both stats PlanSeal-ed (flag-op
    * pushdown contract). Row-parallel, no shuffle. */
  def phraseBlocklistSignals(docs: DataFrame, phrases: Seq[String]): DataFrame = {
    require(phrases.nonEmpty, "phrases must not be empty")
    // a blank phrase would wrap to "  ", which matches every
    // token-less document's wrapped form — a stray empty line in a
    // blocklist file must fail loudly, not silently drop empty docs
    require(phrases.forall(_.trim.nonEmpty),
      "phrases must be non-blank (a blank phrase matches every empty document)")
    val wrapped = phrases.map(p => s" ${p.trim} ")
    def matchCol(c: Column): Column =
      org.apache.spark.sql.GraftSqlBridge.column(
        graft.functions.PhraseMatch(
          org.apache.spark.sql.GraftSqlBridge.expression(c), wrapped))
    graft.core.Parallelism.ensure(docs)
      .select(col("doc_id"), seal(TextNorm.tokens(col("text"))).as("ts"))
      .select(col("doc_id"), seal(struct(
        size(col("ts")).as("n_tok"),
        matchCol(concat(lit(" "), concat_ws(" ", col("ts")), lit(" "))).as("m"))).as("pk"))
      .select(col("doc_id"),
        col("pk.n_tok").cast("long").as("n_tokens"),
        element_at(col("pk.m"), 1).as("n_phrase_hits"),
        element_at(col("pk.m"), 2).as("n_phrases_seen"),
        (element_at(col("pk.m"), 1) === 0L).as("keep"))
  }

  /** Table face of [[blocklistSignals]] for blocklists too large to
    * inline as a literal (multi-million-entry URL/phrase lists): the
    * token stream joins a broadcast `(term)` table and re-aggregates
    * per doc. One tokenize scan, one corpus-token-sized exchange (the
    * groupBy), list-side cost a broadcast build. Identical output to
    * the literal face on the same list (parity-specced).
    */
  def blocklistSignalsFrom(docs: DataFrame, terms: DataFrame): DataFrame = {
    val t = terms.select(col("term").as("word")).distinct()
      .withColumn("blk", lit(1L))
    graft.core.Parallelism.ensure(docs)
      .select(col("doc_id"), TextNorm.tokens(col("text")).as("ts"))
      .select(col("doc_id"), size(col("ts")).cast("long").as("n_tokens"),
        explode_outer(col("ts")).as("word"))
      .join(broadcast(t), Seq("word"), "left")
      .groupBy("doc_id")
      .agg(max("n_tokens").as("n_tokens"),
        sum(coalesce(col("blk"), lit(0L))).as("n_blocked"))
      .select(col("doc_id"), col("n_tokens"), col("n_blocked"),
        when(col("n_tokens") > 0,
          round(col("n_blocked").cast("double") / col("n_tokens"), 6))
          .otherwise(lit(0.0)).as("frac_blocked"),
        (col("n_blocked") === 0).as("keep"))
  }

  /** PII signal detection beyond [[scrubStats]]' email/URL pass: counts
    * of IPv4-, SSN-, and phone-shaped matches per doc plus the md5 of
    * the text with all three redacted (IP → SSN → phone order, so a
    * redacted token can't partially re-match a later pattern). Same
    * contract as scrub: the patterns are leftmost non-overlapping
    * scans with identical semantics in Java regex and RE2, so the
    * oracle twin hash-matches. Row-parallel, no shuffle, no tokenize.
    *
    * The phone pattern is deliberately strict (parenthesized or
    * dashed NANP shapes) — a loose pattern false-positives on
    * version strings and ranges, and a PII *redactor* must prefer
    * precision; recall comes from adding patterns, not loosening one.
    */
  def piiSignals(docs: DataFrame): DataFrame = {
    val ip = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
    val ssn = "\\b\\d{3}-\\d{2}-\\d{4}\\b"
    val phone = "\\(\\d{3}\\) ?\\d{3}-\\d{4}|\\b\\d{3}-\\d{3}-\\d{4}\\b"
    graft.core.Parallelism.ensure(docs)
      .select(col("doc_id"),
        regexp_count(col("text"), lit(ip)).cast("int").as("n_ips"),
        regexp_count(col("text"), lit(ssn)).cast("int").as("n_ssns"),
        regexp_count(col("text"), lit(phone)).cast("int").as("n_phones"),
        md5(regexp_replace(regexp_replace(regexp_replace(col("text"),
          ip, "<IP>"), ssn, "<SSN>"), phone, "<PHONE>")).as("redacted_hash"))
  }

  /** Mojibake (encoding-damage) detection — the ftfy problem class: a
    * crawl always contains documents whose UTF-8 bytes were decoded as
    * Latin-1/cp1252 somewhere upstream. Per doc, counts of the four
    * robust damage signatures plus the composite flag:
    *
    *  - `n_moji_latin1`: 'Ã' followed by a continuation-range char
    *    (U+0080–U+00BF) — a 0xC3-lead UTF-8 pair read as Latin-1, the
    *    signature every accented-Latin text shows when damaged.
    *  - `n_moji_cp1252`: the literal 'â€' pair (0xE2 0x80 read as
    *    cp1252) — the smart-quote/dash family ('’', '“', '—'), the
    *    most common real-world mojibake.
    *  - `n_c1_controls`: bare C1 control chars (U+0080–U+009F) — never
    *    present in clean text, always present in Latin-1-decoded UTF-8.
    *  - `n_replacement`: U+FFFD replacement chars — a decoder already
    *    gave up upstream.
    *
    * Pure character-class regexp counts: row-parallel, no tokenize,
    * engine-portable (the twin uses the same classes in RE2 `\x{..}`
    * syntax). The repair face is [[fixMojibake]] — byte-level recode,
    * which no SQL engine can twin, so it is spec-gated like DEFLATE.
    */
  def mojibakeSignals(docs: DataFrame): DataFrame = {
    val latin1Sig = "\u00C3[\u0080-\u00BF]"
    val cp1252Sig = "\u00E2\u20AC"
    val c1 = "[\u0080-\u009F]"
    val repl = "\uFFFD"
    graft.core.Parallelism.ensure(docs)
      .select(col("doc_id"),
        regexp_count(col("text"), lit(latin1Sig)).cast("int").as("n_moji_latin1"),
        regexp_count(col("text"), lit(cp1252Sig)).cast("int").as("n_moji_cp1252"),
        regexp_count(col("text"), lit(c1)).cast("int").as("n_c1_controls"),
        regexp_count(col("text"), lit(repl)).cast("int").as("n_replacement"))
      .withColumn("is_mojibake",
        col("n_moji_latin1") + col("n_moji_cp1252") +
          col("n_c1_controls") + col("n_replacement") > 0)
  }

  /** Column face of the native NFC expression
    * ([[graft.functions.NfcNormalize]]). */
  def nfc(text: Column): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.NfcNormalize(
        org.apache.spark.sql.GraftSqlBridge.expression(text)))

  /** Unicode canonical-form audit — per doc, the md5 of the
    * NFC-normalized text and whether normalization CHANGED it. Run
    * before exact dedup / shingle hashing: precomposed and
    * combining-mark spellings of the same text are byte-different but
    * canonically identical, and every hash-based operator downstream
    * silently misses the match ([[graft.ops.Dedup.exact]]'s normalize
    * lowercases and strips, but never composes). Row-parallel, no
    * shuffle; ASCII-clean corpora take the `isNormalized` fast path.
    */
  def unicodeNorm(docs: DataFrame): DataFrame =
    graft.core.Parallelism.ensure(docs)
      .select(col("doc_id"), col("text"), nfc(col("text")).as("_n"))
      .select(col("doc_id"),
        md5(col("_n")).as("nfc_hash"),
        (col("_n") =!= col("text")).as("changed"))

  /** Sentence-level signals — the segmentation statistics quality
    * batteries lean on beside token counts: sentence count (non-empty
    * letter-bearing segments between `[.!?]` terminator runs), mean
    * tokens per sentence (6dp; NULL when no sentences), and the
    * ends-with-terminator flag — a C4-ish truncation tell (a page cut
    * mid-sentence usually IS a truncated or boilerplate-damaged page).
    *
    * The split + letter test runs in one higher-order filter over the
    * materialized segment array; the token count shares the
    * PlanSeal-ed struct (flag-op discipline — callers filter on
    * `ends_sentence` or threshold `mean_sentence_tokens`).
    * Row-parallel, no shuffle; patterns identical in Java regex / RE2.
    */
  def sentenceSignals(docs: DataFrame): DataFrame =
    graft.core.Parallelism.ensure(docs)
      .select(col("doc_id"), col("text"),
        seal(struct(
          TextNorm.tokens(col("text")).as("ts"),
          filter(split(col("text"), "[.!?]+"),
            seg => seg.rlike("[A-Za-z]")).as("segs"))).as("sx"))
      .select(col("doc_id"),
        size(col("sx.ts")).cast("long").as("n_tokens"),
        size(col("sx.segs")).cast("long").as("n_sentences"),
        when(size(col("sx.segs")) > 0,
          round(size(col("sx.ts")).cast("double") / size(col("sx.segs")), 6))
          .as("mean_sentence_tokens"),
        col("text").rlike("[.!?][ \\t\\r\\n]*$").as("ends_sentence"))

  /** The released C4 cleaner's policy-phrase line triggers — lines
    * carrying cookie/ToS boilerplate are navigation chrome, not prose.
    * Public list from the reference implementation accompanying
    * Raffel et al. 2020 (TensorFlow Datasets `c4_utils`). */
  val C4PolicyPhrases: Seq[String] = Seq(
    "terms of use", "privacy policy", "cookie policy",
    "uses cookies", "use of cookies", "use cookies")

  /** Blank characters trimmed off each line (space, tab, CR, FF, VT —
    * CRLF corpora must clean identically to LF ones). `\n` cannot
    * appear: lines are `\n` splits. */
  val C4TrimChars = " \t\r\f\u000B"
  /** The same set as a regex class body, for the within-line word
    * split. Interpolation yields the RESOLVED control characters, so
    * the DuckDB twin — whose single-quoted literals do not process
    * backslash escapes — interpolates the byte-identical pattern from
    * the same public constant. */
  private val C4WsClass = s"[$C4TrimChars]+"

  /** Terminal-punctuation line test, ASCII (the paper's set) and the
    * multilingual dial's (adds the CJK full stop/exclamation/question
    * and the ellipsis — the terminators [[sentenceSignals]]' unicode
    * consumers use). PUBLIC: the DuckDB twins interpolate these. */
  val C4TermPat = "[.!?\"]$"
  val C4TermPatUni = "[.!?\u3002\uFF01\uFF1F\u2026\"]$"
  /** Sentence-terminator runs for the page floor, both modes. */
  val C4SentSplit = "[.!?]+"
  val C4SentSplitUni = "[.!?\u3002\uFF01\uFF1F\u2026]+"
  /** Letter-bearing segment test, both modes (`\p{L}` — identical in
    * Java regex and RE2). */
  val C4Letter = "[A-Za-z]"
  val C4LetterUni = "\\p{L}"

  /** C4's line-level cleaning rules (Raffel et al. 2020 §2.2) in one
    * row-local pass — the published pre-dedup cleanup that the
    * three-sentence span rule ([[graft.ops.Dedup.sentenceSpanDedup]])
    * assumes has already run:
    *
    *   - keep only lines ending in a terminal punctuation mark
    *     (`.` `!` `?` `"` — the paper's end-quotation-mark set);
    *   - keep only lines with at least `minWordsPerLine` (3 in the
    *     paper) whitespace-separated words;
    *   - drop lines containing "javascript" (case-insensitive) or any
    *     [[C4PolicyPhrases]] member;
    *   - drop the whole page when it mentions "lorem ipsum"
    *     (case-insensitive) or contains an opening curly bracket
    *     (the released cleaner's brace convention — a brace means
    *     code, not prose);
    *   - drop the whole page when the CLEANED text has fewer than
    *     `minSentences` (5) sentences, counted with this repo's
    *     segmentation unit ([[sentenceSignals]]: letter-bearing
    *     segments between `[.!?]+` terminator runs — the original
    *     used a local sentence-tokenizer model, which neither exists
    *     at corpus scale nor changes the filter's intent).
    *
    * Lines are `\n` splits trimmed of [[C4TrimChars]]; kept lines
    * re-join with `\n`. The per-reason drop counts are INDEPENDENT
    * predicates (a 2-word unpunctuated line counts in BOTH
    * `n_drop_short` and `n_drop_punct`) — attribution, not a
    * partition of the dropped set. NULL text behaves as the empty
    * page (`keep = false`). Everything is regex/HOF algebra over
    * sealed arrays: row-parallel, zero shuffle, scan cost at 100 TB.
    */
  def c4LineStats(docs: DataFrame, minWordsPerLine: Int = 3,
      minSentences: Int = 5,
      policyPhrases: Seq[String] = C4PolicyPhrases,
      unicode: Boolean = false): DataFrame =
    c4Faces(docs, minWordsPerLine, minSentences, policyPhrases,
      unicode = unicode)
      .drop("clean")

  /** The REWRITE face of [[c4LineStats]]: surviving pages only, text
    * replaced by the kept-line join — the stage a C4-shaped corpus
    * build runs between ingest and span dedup. Every input column
    * other than `text` passes through unchanged (a streaming caller
    * carries `source` beside the text — recovering it afterwards
    * would cost a join this row-local stage has no business paying). */
  def c4Clean(docs: DataFrame, minWordsPerLine: Int = 3,
      minSentences: Int = 5,
      policyPhrases: Seq[String] = C4PolicyPhrases,
      unicode: Boolean = false): DataFrame = {
    val extras = docs.columns.toSeq.filter(c => c != "doc_id" && c != "text")
    c4Faces(docs, minWordsPerLine, minSentences, policyPhrases, extras,
      unicode)
      .where(col("keep"))
      .select(col("doc_id") +: extras.map(col) :+ col("clean").as("text"): _*)
  }

  /** `unicode = true` is the multilingual dial (the
    * [[graft.core.TextNorm.tokensUnicode]] discipline): the terminal
    * set gains the CJK terminators + ellipsis, words become unicode
    * tokens (Han/Hiragana/Katakana count per character — a word floor
    * over whitespace words would drop every scriptio-continua line),
    * and the sentence floor's letter test widens `[A-Za-z]` →
    * `\p{L}`. ASCII mode is exact paper parity and empties any
    * non-Latin page — the r12-verdict blind spot, one dial up. */
  private def c4Faces(docs: DataFrame, minWordsPerLine: Int,
      minSentences: Int, policyPhrases: Seq[String],
      extras: Seq[String] = Seq.empty,
      unicode: Boolean = false): DataFrame = {
    require(minWordsPerLine >= 1,
      s"minWordsPerLine=$minWordsPerLine must be >= 1")
    require(minSentences >= 0, s"minSentences=$minSentences must be >= 0")
    val okShort =
      if (unicode) (l: Column) =>
        size(graft.core.TextNorm.tokensUnicode(l)) >= lit(minWordsPerLine)
      else (l: Column) =>
        size(filter(split(l, C4WsClass), w => length(w) > lit(0))) >=
          lit(minWordsPerLine)
    val okPunct = (l: Column) =>
      l.rlike(if (unicode) C4TermPatUni else C4TermPat)
    val isJs = (l: Column) => lower(l).contains(lit("javascript"))
    val isPolicy = (l: Column) =>
      if (policyPhrases.isEmpty) lit(false)
      else policyPhrases
        .map(p => lower(l).contains(lit(p.toLowerCase(java.util.Locale.ROOT))))
        .reduce(_ || _)
    // each stage seals what the next references more than once, so
    // CollapseProject cannot re-inline the line split / keep filter /
    // rejoin per consumer (the flag-op discipline)
    val keep = extras.map(col)
    graft.core.Parallelism.ensure(docs)
      .select(col("doc_id") +: keep :+ col("text") :+
        seal(struct(
          transform(split(coalesce(col("text"), lit("")), "\n"),
            l => trim(l, C4TrimChars)).as("lines"))).as("s1"): _*)
      .select(col("doc_id") +: keep :+ col("text") :+
        col("s1.lines").as("lines") :+
        seal(struct(
          filter(col("s1.lines"),
            l => okShort(l) && okPunct(l) && !isJs(l) && !isPolicy(l))
            .as("kept"))).as("s2"): _*)
      .select(col("doc_id") +: keep :+ col("text") :+ col("lines") :+
        size(col("s2.kept")).cast("long").as("n_kept") :+
        seal(struct(
          array_join(col("s2.kept"), "\n").as("clean"))).as("s3"): _*)
      .select(col("doc_id") +: keep :+
        size(col("lines")).cast("long").as("n_lines") :+
        col("n_kept") :+
        size(filter(col("lines"), l => !okShort(l))).cast("long")
          .as("n_drop_short") :+
        size(filter(col("lines"), l => !okPunct(l))).cast("long")
          .as("n_drop_punct") :+
        size(filter(col("lines"), l => isJs(l))).cast("long")
          .as("n_drop_js") :+
        size(filter(col("lines"), l => isPolicy(l))).cast("long")
          .as("n_drop_policy") :+
        size(filter(split(col("s3.clean"),
            if (unicode) C4SentSplitUni else C4SentSplit),
          seg => seg.rlike(if (unicode) C4LetterUni else C4Letter)))
          .cast("long").as("n_sentences") :+
        lower(coalesce(col("text"), lit("")))
          .contains(lit("lorem ipsum")).as("has_lorem") :+
        coalesce(col("text"), lit("")).contains(lit("{")).as("has_brace") :+
        md5(col("s3.clean")).as("clean_hash") :+
        col("s3.clean").as("clean"): _*)
      .withColumn("keep",
        col("n_sentences") >= lit(minSentences.toLong) &&
          !col("has_lorem") && !col("has_brace"))
  }

  /** Readability scores — Flesch Reading Ease and Flesch-Kincaid
    * grade (Kincaid et al. '75), the classical difficulty signals a
    * curation mix uses to stratify by audience level. Words are the
    * index normalizer's tokens; sentences are [[sentenceSignals]]'
    * letter-bearing segments; syllables are the standard vowel-group
    * proxy (runs of `[aeiouy]` per token, min 1 — hyphenation
    * dictionaries don't exist at corpus scale, and the proxy's bias is
    * uniform across docs, which is all a RANKING signal needs).
    *
    * Determinism: counts are exact ints; the two formulas are written
    * with one fixed association (constants first, one round-6 at the
    * end) and the twin mirrors it literally. NULL scores for docs with
    * no sentences or no tokens. Row-parallel, no shuffle; the three
    * count columns ride one PlanSeal-ed struct (flag-op
    * discipline — callers threshold `fk_grade`).
    */
  def readability(docs: DataFrame): DataFrame =
    graft.core.Parallelism.ensure(docs)
      .select(col("doc_id"), col("text"),
        seal(struct(
          TextNorm.tokens(col("text")).as("ts"),
          filter(split(col("text"), "[.!?]+"),
            seg => seg.rlike("[A-Za-z]")).as("segs"))).as("sx"))
      .select(col("doc_id"),
        size(col("sx.ts")).cast("long").as("n_tokens"),
        size(col("sx.segs")).cast("long").as("n_sentences"),
        aggregate(
          transform(col("sx.ts"),
            t => greatest(lit(1), size(regexp_extract_all(t, lit("[aeiouy]+"), lit(0))))),
          lit(0L), (acc, x) => acc + x).as("n_syllables"))
      .select(col("doc_id"), col("n_tokens"), col("n_sentences"), col("n_syllables"),
        when(col("n_sentences") > 0 && col("n_tokens") > 0,
          round(lit(206.835)
            - lit(1.015) * (col("n_tokens").cast("double") / col("n_sentences"))
            - lit(84.6) * (col("n_syllables").cast("double") / col("n_tokens")), 6))
          .as("flesch"),
        when(col("n_sentences") > 0 && col("n_tokens") > 0,
          round(lit(0.39) * (col("n_tokens").cast("double") / col("n_sentences"))
            + lit(11.8) * (col("n_syllables").cast("double") / col("n_tokens"))
            - lit(15.59), 6))
          .as("fk_grade"))

  /** Per-source corpus health report — the one-look dashboard a data
    * owner checks before a training run: volume (docs, tokens),
    * emptiness, truncation rate (the [[sentenceSignals]] trailing-
    * terminator tell), and exact-duplicate pressure (distinct
    * normalized texts vs docs — [[graft.ops.Dedup.duplicationSpectrum]]
    * gives the full histogram; this gives the per-source headline).
    *
    * Plan shape: one corpus scan feeds a combinable groupBy(source)
    * for the counts; the distinct-text count runs as its OWN
    * single-distinct aggregate (fusing it into the first would Expand
    * every row — the [[graft.ops.Relational.profile]] lesson) and
    * joins back on the source-count-sized key. Fractions are
    * count ratios, round 6.
    */
  def corpusHealth(docs: DataFrame): DataFrame = {
    val base = graft.core.Parallelism.ensure(docs)
      .select(col("source"), col("text"),
        seal(struct(
          size(TextNorm.tokens(col("text"))).cast("long").as("n_tok"),
          col("text").rlike("[.!?][ \\t\\r\\n]*$").as("ends"))).as("sx"))
    val counts = base
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("sx.n_tok") === 0, 1L).otherwise(0L)).as("n_empty"),
        sum(col("sx.n_tok")).as("total_tokens"),
        sum(when(col("sx.ends"), 1L).otherwise(0L)).as("n_ends"))
    val distincts = docs
      .select(col("source"), md5(TextNorm.normalize(col("text"))).as("h"))
      .groupBy("source")
      .agg(countDistinct(col("h")).as("n_distinct_texts"))
    counts.join(distincts, Seq("source"))
      .select(col("source"), col("n_docs"), col("n_empty"), col("total_tokens"),
        round(col("total_tokens").cast("double") / col("n_docs"), 6).as("mean_tokens"),
        round(col("n_ends").cast("double") / col("n_docs"), 6).as("frac_ends_sentence"),
        col("n_distinct_texts"),
        round(lit(1.0) - col("n_distinct_texts").cast("double") / col("n_docs"), 6)
          .as("dup_frac"))
  }

  /** Overlapping passage chunking — the retrieval-corpus preparation
    * step (RAG): each doc becomes sliding token windows of `window`
    * tokens at `stride` steps, with stable deterministic ids. The
    * chunk rule: windows start at 1 + k·stride for k = 0 ..
    * ceil((n − window)/stride) (one window when n ≤ window), so every
    * token is covered and the LAST window may run short — the
    * convention retrieval chunkers use (no token left behind, no
    * redundant tail windows).
    *
    * Output: `(doc_id, passage_idx, start_tok, n_tok, passage_md5)` —
    * the md5 of the space-joined window is the stable passage id an
    * embedding pipeline keys on ([[graft.ops.Similarity]] then
    * operates per passage; [[graft.ops.Dedup.chunkDedup]] is the
    * NON-overlapping cousin used for dedup rather than retrieval).
    * Tokenless docs emit no passages.
    *
    * Scale shape: one tokenize pass, the window explode is per-row
    * (≤ n/stride rows per doc), and the slice/join/md5 are
    * row-parallel over materialized arrays — no shuffle at all; k_max
    * uses integer ceil-division, exact in both engines.
    */
  def passages(docs: DataFrame, window: Int = 64, stride: Int = 32): DataFrame = {
    require(window >= 1, s"window=$window must be >= 1")
    require(stride >= 1 && stride <= window,
      s"stride=$stride must be in [1, window=$window] (gaps would drop tokens)")
    graft.core.Parallelism.ensure(docs)
      .select(col("doc_id"), TextNorm.tokens(col("text")).as("ts"))
      .select(col("doc_id"), col("ts"), size(col("ts")).as("n"))
      .select(col("doc_id"), col("ts"),
        explode(when(col("n") > 0,
          sequence(lit(0),
            when(col("n") > window,
              (col("n") - window + (stride - 1)).divide(stride).cast("int"))
              .otherwise(lit(0))))
          .otherwise(array().cast("array<int>"))).as("k"))
      .select(col("doc_id"),
        col("k").cast("long").as("passage_idx"),
        (col("k") * stride + 1).cast("long").as("start_tok"),
        size(slice(col("ts"), col("k") * stride + 1, lit(window))).cast("long").as("n_tok"),
        md5(concat_ws(" ", slice(col("ts"), col("k") * stride + 1, lit(window)))).as("passage_md5"))
  }

  /** Code-vs-prose detection — the routing decision a mixed crawl makes
    * before language-specific curation (code wants different dedup
    * granularity, different quality rules, its own mixture weight).
    * Pure surface statistics, deliberately model-free and deterministic:
    *
    *  - `n_sym` / `frac_sym`: count/fraction of code-indicative symbol
    *    chars (braces, brackets, semicolons, operators) — prose sits
    *    well under 1%, real code at 5-15%.
    *  - `n_kw_hits`: normalized-token hits in a small cross-language
    *    keyword list (def/class/return/import/…) — symbols catch
    *    C-family code, keywords catch whitespace-languages (Python).
    *  - `indent_lines`: lines starting with 2+ spaces or a tab — block
    *    structure survives even symbol-light code.
    *  - `is_code`: the composite — symbol-dense OR (keyword evidence
    *    AND indentation evidence).
    *
    * The token layer is Generate-sealed (this is a flag op — callers
    * filter on `is_code`); the char counts are per-pattern regexp
    * passes, row-parallel, identical in Java regex and RE2 (the `(?m)`
    * inline flag is common syntax). One tokenize + three regexp passes
    * per row; the 100 TB cost is the scan.
    */
  def codeSignals(docs: DataFrame): DataFrame = {
    val sym = "[{}\\[\\]();=<>]"
    val indent = "(?m)^[ \\t]{2,}[^ \\t\\r\\n]"
    val kwArr = array(CodeKeywords.default.map(lit): _*)
    graft.core.Parallelism.ensure(docs)
      .select(col("doc_id"), col("text"),
        seal(TextNorm.tokens(col("text"))).as("ts"))
      .select(col("doc_id"), col("text"), seal(struct(
        size(col("ts")).as("n_tok"),
        size(filter(col("ts"), t => array_contains(kwArr, t))).as("n_kw"))).as("ck"))
      // counts staged once (the tokenStats two-step idiom), ratios and
      // the composite derive from materialized attributes only
      .select(col("doc_id"),
        length(col("text")).as("n_chars"),
        regexp_count(col("text"), lit(sym)).cast("long").as("n_sym"),
        col("ck.n_kw").cast("long").as("n_kw_hits"),
        regexp_count(col("text"), lit(indent)).cast("long").as("indent_lines"))
      .select(col("doc_id"), col("n_chars"), col("n_sym"),
        when(col("n_chars") > 0,
          round(col("n_sym").cast("double") / col("n_chars"), 6))
          .otherwise(lit(0.0)).as("frac_sym"),
        col("n_kw_hits"), col("indent_lines"))
      .withColumn("is_code",
        col("frac_sym") >= 0.03 || (col("n_kw_hits") >= 2 && col("indent_lines") >= 2))
  }

  /** The 27 chars Windows-1252 places in the 0x80–0x9F byte range
    * (where Latin-1 has C1 controls), paired with those byte values as
    * chars — the 1:1 `translate` mapping that folds a
    * UTF-8-read-as-cp1252 text back to its UTF-8-read-as-Latin-1 form,
    * after which one Latin-1 re-encode recovers the original bytes.
    * (The five bytes cp1252 leaves unmapped pass through as C1 chars
    * in both views, so they need no entry.) */
  private val Cp1252Extras =
    "\u20AC\u201A\u0192\u201E\u2026\u2020\u2021\u02C6\u2030\u0160\u2039\u0152\u017D\u2018\u2019\u201C\u201D\u2022\u2013\u2014\u02DC\u2122\u0161\u203A\u0153\u017E\u0178"
  private val Cp1252AsC1 =
    "\u0080\u0082\u0083\u0084\u0085\u0086\u0087\u0088\u0089\u008A\u008B\u008C\u008E\u0091\u0092\u0093\u0094\u0095\u0096\u0097\u0098\u0099\u009A\u009B\u009C\u009E\u009F"

  /** Repair the exactly-once-misdecoded case — UTF-8 bytes read as
    * Latin-1 OR as Windows-1252: fold the cp1252 view onto the Latin-1
    * view with a 1:1 `translate` (the two charsets differ only in the
    * 0x80–0x9F slots, and Spark 4's `encode` only speaks the standard
    * charsets, so the cp1252 leg is a char mapping, not a charset),
    * then re-encode Latin-1 and decode UTF-8. Two guards: a damage
    * signature must be present ('Ã'/'Â' + continuation-range char, or
    * the cp1252 'â€' pair) or clean accented text would be mangled;
    * and after the fold every char must be ≤ U+00FF or the original
    * byte stream is not recoverable — that text stays flagged by
    * [[mojibakeSignals]] but untouched (wrong fixes are worse than
    * flags). Spec-gated (byte-level recode has no SQL twin);
    * row-parallel.
    */
  def fixMojibake(text: Column): Column = {
    val folded = translate(text, Cp1252Extras, Cp1252AsC1)
    val sig = text.rlike("[\u00C2\u00C3][\u0080-\u00BF]") ||
      text.rlike("\u00E2\u20AC")
    when(sig && !folded.rlike("[^\u0000-\u00FF]"),
      decode(encode(folded, "ISO-8859-1"), "UTF-8")).otherwise(text)
  }
}

/** Default token blocklist for [[TextAnalysis.blocklistSignals]] — a
  * short spam-marker list standing in for the published filter lists a
  * production run supplies (C4 uses a ~400-term list; pass it, or a
  * table via [[TextAnalysis.blocklistSignalsFrom]]). Entries must be
  * normalized tokens (lowercase alnum).
  */
object Blocklist {
  val default = Seq("casino", "viagra", "lottery", "jackpot", "porn",
    "xxx", "betting", "pills", "spam", "scam")
}

/** Cross-language code keywords for [[TextAnalysis.codeSignals]] —
  * normalized tokens (the index normalizer strips punctuation, so
  * `#include` arrives as `include`). Deliberately short and common
  * across C-family/Python/JS; symbols, not keywords, carry most of the
  * signal for brace languages.
  */
object CodeKeywords {
  val default = Seq("def", "class", "return", "import", "function",
    "var", "const", "void", "int", "public", "static", "include",
    "self", "null", "true", "false")
}

/** Tiny closed-class word lists for the language scorer. Public-knowledge
  * function words; deliberately short so the oracle SQL stays readable.
  */
object Stopwords {
  val en = Seq("the", "a", "of", "and", "to", "in", "is", "it", "that", "for")
  val de = Seq("der", "die", "das", "und", "ist", "ein", "nicht", "mit", "auf", "zu")
  val es = Seq("el", "la", "de", "que", "y", "en", "un", "es", "no", "por")
  val fr = Seq("le", "la", "de", "et", "un", "est", "pas", "que", "pour", "dans")
  val zh = Seq("de5", "shi4", "bu4", "le5", "zai4", "you3", "wo3", "ta1", "zhe4", "men5")
}
