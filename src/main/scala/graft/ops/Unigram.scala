package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.core.{Materialize, TextNorm}

/** Trained unigram-LM tokenizer (Kudo, ACL '18 — "Subword
  * Regularization"; the SentencePiece default) — the OTHER dominant
  * subword family next to [[Bpe]], and the comparison target
  * [[Bpe.fertility]] previously lacked: where BPE composes pieces
  * bottom-up by merge frequency, the unigram model starts from a
  * LARGE seed vocabulary and learns per-piece log-probabilities whose
  * Viterbi segmentation maximizes corpus likelihood, pruning down to
  * the target vocabulary.
  *
  * Documented approximations vs the reference trainer (each chosen to
  * keep every step an engine-exact, twin-able relational aggregate):
  *
  *  - HARD (Viterbi) EM instead of full forward-backward
  *    expectations: the E-step counts pieces of each word's single
  *    best segmentation, weighted by word frequency. Hard EM is the
  *    standard tractable variant of the same objective; the M-step,
  *    seeding and pruning are unchanged.
  *  - the seed is all substrings up to `maxPieceLen` of the word
  *    table (corpus-weighted, capped to `seedSize` multi-character
  *    pieces by `(count desc, piece asc)`; every single character
  *    always enters) instead of the suffix-array ESA seed — same
  *    candidate family, bounded cost.
  *  - one prune to `vocabSize` AFTER the EM rounds (singles always
  *    kept, top multi-char pieces by final count) instead of
  *    interleaved shrink rounds.
  *  - words longer than `maxWordLen` are excluded from TRAINING (the
  *    tail above the cap carries ~no likelihood mass and bounds the
  *    oracle twin's path enumeration); SERVING is total at any length
  *    via the native DP encoder.
  *
  * Determinism (the [[Crawl.RankUnits]]/LM-family discipline): counts
  * are exact integer aggregates; log-probabilities quantize to
  * 6dp DECIMAL(18,6) (`round(ln(cnt/total), 6)` — the
  * [[TextAnalysis]] LM tier); Viterbi runs in exact micro-Long
  * arithmetic ([[graft.functions.UnigramEncoder]]) with the
  * lex-min-segmentation tie-break, so scores, ties and therefore the
  * learned model are engine-exact against the DuckDB twin.
  *
  * Scale shape: ONE corpus scan ([[Bpe.wordCounts]] — the result is
  * vocabulary-sized); every EM round is one row-parallel segment pass
  * over the WORD table plus one combinable groupBy(piece); the model
  * is collected per round because it IS model-sized state (the
  * [[Bpe.trainMerges]] convention). Serving scans the corpus once
  * with the codegen'd native encoder and aggregates combinably.
  */
object Unigram {

  /** Fixed micro log-prob of an unknown single character at serve
    * time (-20.000000 — far below any trained piece, so unknowns
    * never displace a real segmentation; the twin pins the value). */
  val UnkLpMicro: Long = -20000000L

  private def dec6(c: Column): Column = round(c, 6).cast(DecimalType(18, 6))

  /** Order a stored model table `(piece, lp)` into the servable
    * (piece, micro-lp) list — lp is DECIMAL(18,6), so the micro value
    * is exact by construction. */
  def collectPieces(model: DataFrame): Seq[(String, Long)] =
    model.select("piece", "lp").collect()
      .map(r => (r.getString(0), r.getDecimal(1).movePointRight(6).longValueExact()))
      .sortBy(_._1).toSeq

  /** Production encode path: the native Viterbi expression — one plan
    * node, O(len · maxPieceLen) per word, whole-stage-codegen
    * friendly ([[graft.functions.UnigramEncode]]). */
  def encodeFast(word: Column, pieces: Seq[(String, Long)]): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.UnigramEncode(
        org.apache.spark.sql.GraftSqlBridge.expression(word), pieces, UnkLpMicro))

  /** Re-score a piece set `(piece, cnt)` — the M-step: lp =
    * `round(ln(cnt / Σcnt), 6)` as DECIMAL(18,6), the one transcendental
    * of the trainer, identically shaped in both engines. */
  private def withLp(pieces: DataFrame): DataFrame = {
    val tot = pieces.agg(sum(col("cnt")).as("tot"))
    pieces.crossJoin(broadcast(tot))
      .select(col("piece"), col("cnt"),
        dec6(log(col("cnt").cast("double") / col("tot").cast("double"))).as("lp"))
  }

  /** Train a unigram-LM piece table: `(piece, cnt, lp)` — `cnt` the
    * final Viterbi count, `lp` the 6dp log-probability. See the
    * object scaladoc for the algorithm and its approximations. */
  def trainUnigram(
      docs: DataFrame,
      vocabSize: Int,
      emRounds: Int = 2,
      seedSize: Int = 0,
      maxPieceLen: Int = 4,
      maxWordLen: Int = 12,
      tok: Column => Column = TextNorm.tokens): DataFrame = {
    require(vocabSize >= 1, s"vocabSize=$vocabSize must be >= 1")
    require(emRounds >= 1, s"emRounds=$emRounds must be >= 1")
    require(maxPieceLen >= 2, s"maxPieceLen=$maxPieceLen must be >= 2")
    require(maxWordLen >= maxPieceLen,
      s"maxWordLen=$maxWordLen must be >= maxPieceLen=$maxPieceLen")
    val seedN = if (seedSize >= 1) seedSize else 4 * vocabSize
    val words = Materialize(
      Bpe.wordCounts(docs, tok).where(length(col("word")) <= maxWordLen))
    // seed: every substring up to maxPieceLen, corpus-weighted — the
    // candidate table is (vocab × maxPieceLen × avg-len)-sized
    val subCounts = words
      .select(col("cnt"),
        explode(flatten(transform(
          sequence(lit(1), length(col("word"))),
          i => transform(
            sequence(lit(1), least(lit(maxPieceLen), length(col("word")) - i + lit(1))),
            l => col("word").substr(i, l))))).as("piece"))
      .groupBy("piece").agg(sum(col("cnt")).as("cnt"))
    val seed = subCounts.where(length(col("piece")) === 1)
      .unionByName(
        subCounts.where(length(col("piece")) > 1)
          .orderBy(col("cnt").desc, col("piece").asc).limit(seedN))
    var model = Materialize(withLp(seed))
    for (_ <- 1 to emRounds) {
      // E: Viterbi counts under the current model (native DP, exact
      // micro-Long scores); M: re-score. Multi-char pieces that win
      // no segmentation drop; single chars floor at count 1 so the
      // alphabet always stays encodable (ln(0) never occurs).
      val ps = collectPieces(model)
      val counts = words
        .select(col("cnt"), explode(encodeFast(col("word"), ps)).as("piece"))
        .groupBy("piece").agg(sum(col("cnt")).as("vcnt"))
      val next = model.select(col("piece"))
        .join(counts, Seq("piece"), "left")
        .select(col("piece"),
          when(length(col("piece")) === 1,
            greatest(coalesce(col("vcnt"), lit(0L)), lit(1L)))
            .otherwise(coalesce(col("vcnt"), lit(0L))).as("cnt"))
        .where(col("cnt") > 0)
      val nm = Materialize(withLp(next))
      Materialize.release(model)
      model = nm
    }
    // prune: singles always kept; top (vocabSize - #singles) multis
    // by (cnt desc, piece asc); one final re-score over the kept set
    val singles = model.where(length(col("piece")) === 1).select("piece", "cnt")
    val keepMulti = math.max(0L, vocabSize.toLong - singles.count()).toInt
    val multis = model.where(length(col("piece")) > 1).select("piece", "cnt")
      .orderBy(col("cnt").desc, col("piece").asc).limit(keepMulti)
    val out = withLp(singles.unionByName(multis))
    val result = Materialize(out)
    Materialize.force(result) // no-op under eager LocalCheckpoint
    Materialize.release(model)
    Materialize.release(words)
    result
  }

  /** True subword token counts per document under a trained model:
    * `(doc_id, n_unigram_tokens)`, token-less docs 0 — the unigram
    * face of [[Bpe.tokenCounts]]. One corpus scan, combinable. */
  def tokenCounts(
      docs: DataFrame, pieces: Seq[(String, Long)],
      tok: Column => Column = TextNorm.tokens): DataFrame =
    graft.core.Parallelism.ensure(docs)
      .select(col("doc_id"), explode_outer(tok(col("text"))).as("word"))
      .select(col("doc_id"),
        when(col("word").isNull, lit(0L))
          .otherwise(size(encodeFast(col("word"), pieces)).cast("long")).as("n"))
      .groupBy("doc_id").agg(sum("n").cast("long").as("n_unigram_tokens"))

  /** Tokenizer fertility per source under the unigram model — the
    * comparison face for [[Bpe.fertility]]: run both over one corpus
    * and the per-source deltas say which family fits which domain.
    * Output `(source, n_words, n_unigram_tokens, fertility)`. */
  def fertility(
      docs: DataFrame, pieces: Seq[(String, Long)],
      sourceCol: String = "source"): DataFrame =
    graft.core.Parallelism.ensure(docs)
      .select(col(sourceCol).as("source"),
        explode_outer(TextNorm.tokens(col("text"))).as("word"))
      .select(col("source"),
        when(col("word").isNull, lit(0L)).otherwise(lit(1L)).as("nw"),
        when(col("word").isNull, lit(0L))
          .otherwise(size(encodeFast(col("word"), pieces)).cast("long")).as("np"))
      .groupBy("source")
      .agg(sum("nw").as("n_words"), sum("np").as("n_unigram_tokens"))
      .select(col("source"), col("n_words"), col("n_unigram_tokens"),
        when(col("n_words") > 0,
          round(col("n_unigram_tokens").cast("double") / col("n_words"), 6))
          .as("fertility"))

  /** [[tokenCounts]] serving a stored model TABLE — the train/serve
    * convention ([[Bpe.tokenCountsFromModel]]). */
  def tokenCountsFromModel(docs: DataFrame, model: DataFrame): DataFrame =
    tokenCounts(docs, collectPieces(model))
}
