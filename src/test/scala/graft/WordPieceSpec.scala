package graft

import org.apache.spark.sql.functions._

import graft.functions.WordPieceEncoder
import graft.ops.WordPiece
import SparkSpec.spark.implicits._

/** WordPiece tokenizer: plain-Scala reference parity for the trainer
  * (an INDEPENDENT implementation — full recount of pair and symbol
  * statistics from scratch every merge, instead of the production
  * trainer's incremental maintenance), the encoder's decoding contract
  * (greedy longest-match, whole-word [UNK], continuation marker,
  * empty word), local-vs-distributed trainer parity, and the serving
  * faces. */
class WordPieceSpec extends SparkSpec {

  // ---- independent reference implementation ------------------------------

  /** ##-marked symbolization of a word. */
  private def refSyms(w: String): Vector[String] =
    w.toVector.zipWithIndex.map { case (c, i) =>
      if (i == 0) c.toString else "##" + c
    }

  private def score6(c: Long, ca: Long, cb: Long): Long =
    java.math.BigDecimal
      .valueOf(math.log(c.toDouble) - math.log(ca.toDouble) - math.log(cb.toDouble))
      .setScale(6, java.math.RoundingMode.HALF_UP)
      .movePointRight(6).longValueExact()

  /** Reference trainer: every merge recomputes ALL pair and symbol
    * counts from the full current segmentation state — no incremental
    * bookkeeping to share bugs with the production path. */
  private def refTrain(
      wordCnt: Map[String, Long], numMerges: Int,
      minFreq: Long): List[(String, String, String, Long, Long)] = {
    var state: Map[String, (Vector[String], Long)] =
      wordCnt.map { case (w, c) => w -> ((refSyms(w), c)) }
    val out = scala.collection.mutable.ListBuffer.empty[(String, String, String, Long, Long)]
    var done = false
    while (out.size < numMerges && !done) {
      val symCnt = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
      val pairCnt = scala.collection.mutable.Map.empty[(String, String), Long].withDefaultValue(0L)
      state.values.foreach { case (ss, c) =>
        ss.foreach(s => symCnt(s) += c)
        ss.zip(ss.tail).foreach(p => pairCnt(p) += c)
      }
      val eligible = pairCnt.filter(_._2 >= minFreq)
      if (eligible.isEmpty) done = true
      else {
        val scored = eligible.toSeq.map { case (p, c) =>
          (p, c, score6(c, symCnt(p._1), symCnt(p._2)))
        }
        val (bp, bc, bs) = scored.minBy { case (p, _, s) => (-s, p._1, p._2) }
        val merged = bp._1 + bp._2.stripPrefix("##")
        out += ((bp._1, bp._2, merged, bc, bs))
        state = state.map { case (w, (ss, c)) =>
          val ns = scala.collection.mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < ss.length) {
            if (i < ss.length - 1 && ss(i) == bp._1 && ss(i + 1) == bp._2) {
              ns += merged; i += 2
            } else { ns += ss(i); i += 1 }
          }
          w -> ((ns.toVector, c))
        }
      }
    }
    out.toList
  }

  private val docsDf = Seq(
    (1L, "low lower lowest low low", "a"),
    (2L, "new newer newest new", "a"),
    (3L, "wide wider widest wide", "b"),
    (4L, "low new wide low", "b"),
    (5L, "", "b")
  ).toDF("doc_id", "text", "source")

  private def wordCountMap: Map[String, Long] =
    docsDf.selectExpr("explode(split(text, ' ')) AS w")
      .where(length(col("w")) > 0)
      .groupBy("w").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  // ---- trainer parity -----------------------------------------------------

  test("trainMerges matches the full-recount plain-Scala reference") {
    val got = WordPiece.trainMerges(docsDf, 8, minFrequency = 2L)
    val exp = refTrain(wordCountMap, 8, 2L)
    assert(got.length == exp.length)
    got.zip(exp).zipWithIndex.foreach { case ((g, (a, b, m, c, s)), i) =>
      assert(g.merge_idx == i + 1)
      assert((g.lhs, g.rhs, g.merged, g.pair_count) == ((a, b, m, c)),
        s"merge ${i + 1}")
      assert(g.score == s.toDouble / 1e6, s"score of merge ${i + 1}")
    }
  }

  test("local and distributed trainers produce identical merges") {
    val local = WordPiece.trainMerges(docsDf, 6, minFrequency = 2L)
    val dist = WordPiece.trainMergesDistributed(docsDf, 6, 2L)
    assert(local == dist)
  }

  test("trainer stops early when no pair reaches minFrequency") {
    val tiny = Seq((1L, "ab cd")).toDF("doc_id", "text")
    assert(WordPiece.trainMerges(tiny, 5, minFrequency = 2L).isEmpty)
    // singleton evidence allowed -> merges happen
    assert(WordPiece.trainMerges(tiny, 5, minFrequency = 1L).nonEmpty)
  }

  test("likelihood-gain argmax differs from raw-frequency argmax when parts are common") {
    // "e" appears in many words (big denominator); a rarer but
    // exclusive pairing must win over a frequent-but-independent one.
    // xz always co-occur (5x, each symbol only in the pair); "er" has
    // pair count 6 but e,r are spread across many other words.
    val d = Seq(
      (1L, "xz xz xz xz xz"),
      (2L, "er er er er er er"),
      (3L, "e e e e e e e e e e r r r r r r r r r r")
    ).toDF("doc_id", "text")
    val first = WordPiece.trainMerges(d, 1, minFrequency = 2L).head
    assert((first.lhs, first.rhs) == (("x", "##z")))
  }

  // ---- encoder contract ---------------------------------------------------

  private val enc = new WordPieceEncoder(
    Seq("l", "##o", "##w", "low", "##er", "a", "ab", "##b"), WordPiece.Unk)

  test("encoder takes the longest match at each position") {
    assert(enc.encode("low").toSeq == Seq("low"))
    assert(enc.encode("lower").toSeq == Seq("low", "##er"))
    assert(enc.encode("lo").toSeq == Seq("l", "##o"))
  }

  test("encoder rejects the whole word when any position fails — no backtracking") {
    // greedy takes "ab", then "##b" matches, then nothing for the
    // final position -> whole word UNK even though a+##b+... also dies
    assert(enc.encode("abbq").toSeq == Seq(WordPiece.Unk))
    // word-start piece missing entirely
    assert(enc.encode("zed").toSeq == Seq(WordPiece.Unk))
    // continuation char never seen as ##-form
    assert(enc.encode("la").toSeq == Seq(WordPiece.Unk))
  }

  test("word-start and continuation pieces are distinct vocabulary entries") {
    // "w" exists only as ##w: a word STARTING with w is UNK
    assert(enc.encode("wo").toSeq == Seq(WordPiece.Unk))
    assert(enc.encode("ow").toSeq == Seq(WordPiece.Unk)) // "o" bare missing too
  }

  test("encoder empty word yields the empty-piece shape") {
    assert(enc.encode("").toSeq == Seq(""))
  }

  // ---- serving faces ------------------------------------------------------

  private def trainedVocab: Seq[String] = {
    val ms = WordPiece.trainMerges(docsDf, 8, minFrequency = 2L)
    WordPiece.collectVocab(WordPiece.vocab(docsDf, ms))
  }

  test("vocab holds base symbols plus merged tokens, distinct") {
    val ms = WordPiece.trainMerges(docsDf, 8, minFrequency = 2L)
    val v = WordPiece.collectVocab(WordPiece.vocab(docsDf, ms))
    assert(v.contains("l") && v.contains("##o")) // base
    ms.foreach(m => assert(v.contains(m.merged)))
    assert(v.distinct == v)
    assert(!v.contains("o")) // 'o' never word-initial in this corpus
  }

  test("tokenCounts serves per-doc greedy piece counts; token-less docs 0") {
    val v = trainedVocab
    val got = WordPiece.tokenCounts(docsDf, v).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val e = new WordPieceEncoder(v, WordPiece.Unk)
    val exp = docsDf.select("doc_id", "text").collect().map { r =>
      val words = r.getString(1).split(" ").filter(_.nonEmpty)
      r.getLong(0) -> words.map(w => e.encode(w).length.toLong).sum
    }.toMap
    assert(got == exp)
    assert(got(5L) == 0L)
  }

  test("fertility and unkSignals aggregate per key with exact denominators") {
    val v = trainedVocab
    val f = WordPiece.fertility(docsDf, v).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(f("a")._1 == 9L) // 5 + 4 words
    assert(f("b")._1 == 8L)
    val u = WordPiece.unkSignals(docsDf, v).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(u.values.forall(_ == 0L)) // in-domain corpus: full coverage
    // serve a vocab-hostile word stream: everything UNK
    val alien = Seq((9L, "qqq zzz", "c")).toDF("doc_id", "text", "source")
    val ua = WordPiece.unkSignals(alien, v).collect().head
    assert(ua.getLong(1) == 2L && ua.getLong(2) == 2L)
    assert(ua.getDouble(3) == 1.0)
  }

  test("native expression encodes inside the plan (codegen path)") {
    val v = trainedVocab
    val out = docsDf.where(col("doc_id") === 1L)
      .select(explode(split(col("text"), " ")).as("w"))
      .select(WordPiece.encodeFast(col("w"), v).as("ps"))
      .select(size(col("ps")).as("n")).agg(sum("n")).collect().head.getLong(0)
    val e = new WordPieceEncoder(v, WordPiece.Unk)
    val exp = "low lower lowest low low".split(" ").map(e.encode(_).length.toLong).sum
    assert(out == exp)
  }
}
