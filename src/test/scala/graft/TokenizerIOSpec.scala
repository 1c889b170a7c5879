package graft

import graft.ops.{Bpe, TokenizerIO, Unigram, WordPiece}
import SparkSpec.spark.implicits._

/** Single-file tokenizer artifacts: byte-exact re-export of an
  * imported artifact for all three families, value fidelity through
  * the file (merge order, 6dp log-probs, vocab sets), serve
  * equivalence, and the loud family-mismatch contract. */
class TokenizerIOSpec extends SparkSpec {

  private def tmp(name: String): String = s"${tempDir(s"graft-$name-")}/tok.json"

  private def readBack(path: String): String =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")

  test("bpe: merge ORDER survives; import -> export is byte-exact") {
    val merges = Seq(("l", "o"), ("lo", "w"), ("e", "r"))
    val p = tmp("bpe")
    TokenizerIO.exportBpe(spark, merges, p)
    val back = TokenizerIO.importBpe(spark, p)
    assert(back == merges)
    val bytes1 = readBack(p)
    TokenizerIO.exportBpe(spark, back, p)
    assert(readBack(p) == bytes1)
    assert(bytes1.startsWith("""{"family": "bpe""""))
  }

  test("unigram: 6dp micro log-probs are exact through the file") {
    val pieces = Seq(("ab", -3210000L), ("a", -105361L), ("b", -20000000L))
    val p = tmp("uni")
    TokenizerIO.exportUnigram(spark, pieces, p)
    val back = TokenizerIO.importUnigram(spark, p)
    assert(back.toMap == pieces.toMap)
    val bytes1 = readBack(p)
    TokenizerIO.exportUnigram(spark, back, p)
    assert(readBack(p) == bytes1)
    assert(bytes1.contains("-3.210000")) // decimals as written, no float drift
  }

  test("wordpiece: vocab + unk survive; served counts equal the direct path") {
    val docs = Seq(
      (1L, "low lower lowest low low"),
      (2L, "new newer newest new")).toDF("doc_id", "text")
    val ms = WordPiece.trainMerges(docs, 6, minFrequency = 2L)
    val vocab = WordPiece.collectVocab(WordPiece.vocab(docs, ms))
    val p = tmp("wp")
    TokenizerIO.exportWordPiece(spark, vocab, p)
    val (v2, unk) = TokenizerIO.importWordPiece(spark, p)
    assert(unk == WordPiece.Unk)
    assert(v2.sorted == vocab.sorted)
    val direct = WordPiece.tokenCounts(docs, vocab).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaFile = WordPiece.tokenCounts(docs, v2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaFile == direct)
    val bytes1 = readBack(p)
    TokenizerIO.exportWordPiece(spark, v2, p)
    assert(readBack(p) == bytes1)
  }

  test("unigram serve path is identical through the artifact") {
    val docs = Seq((1L, "low lower low"), (2L, "new newer")).toDF("doc_id", "text")
    val model = Unigram.trainUnigram(docs, vocabSize = 20)
    val pieces = Unigram.collectPieces(model)
    val p = tmp("unis")
    TokenizerIO.exportUnigram(spark, pieces, p)
    val back = TokenizerIO.importUnigram(spark, p)
    val direct = Unigram.tokenCounts(docs, pieces).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaFile = Unigram.tokenCounts(docs, back).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaFile == direct)
  }

  test("bpe serve path is identical through the artifact") {
    val docs = Seq((1L, "low lower low low"), (2L, "newer new")).toDF("doc_id", "text")
    val merges = Bpe.trainMerges(docs, 6).map(m => (m.lhs, m.rhs))
    val p = tmp("bpes")
    TokenizerIO.exportBpe(spark, merges, p)
    val back = TokenizerIO.importBpe(spark, p)
    val direct = Bpe.tokenCounts(docs, merges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaFile = Bpe.tokenCounts(docs, back).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaFile == direct)
  }

  test("family mismatch fails loudly") {
    val p = tmp("mismatch")
    TokenizerIO.exportBpe(spark, Seq(("a", "b")), p)
    val e = intercept[IllegalArgumentException](TokenizerIO.importWordPiece(spark, p))
    assert(e.getMessage.contains("bpe") && e.getMessage.contains("wordpiece"))
  }

  test("malformed artifacts fail loudly, naming the path and missing member — never NPE") {
    val missing = tmp("missing")
    java.nio.file.Files.write(java.nio.file.Paths.get(missing),
      """{"family": "bpe"}""".getBytes("UTF-8"))
    val e1 = intercept[IllegalArgumentException](TokenizerIO.importBpe(spark, missing))
    assert(e1.getMessage.contains("merges") && e1.getMessage.contains(missing))
    val noUnk = tmp("nounk")
    java.nio.file.Files.write(java.nio.file.Paths.get(noUnk),
      """{"family": "wordpiece", "vocab": ["a"]}""".getBytes("UTF-8"))
    val e2 = intercept[IllegalArgumentException](TokenizerIO.importWordPiece(spark, noUnk))
    assert(e2.getMessage.contains("unk") && e2.getMessage.contains(noUnk))
    val empty = tmp("empty")
    java.nio.file.Files.write(java.nio.file.Paths.get(empty), Array.emptyByteArray)
    val e3 = intercept[IllegalArgumentException](TokenizerIO.importUnigram(spark, empty))
    assert(e3.getMessage.contains(empty))
  }

  test("compare: cross-family audit of two stored artifacts (inventory overlap + fit)") {
    val docs = Seq((1L, "low lower lowest low low"), (2L, "new newer newest new")).toDF("doc_id", "text")
    val pBpe = tmp("cmpb")
    TokenizerIO.exportBpe(spark,
      Bpe.trainMerges(docs, 4).map(m => (m.lhs, m.rhs)), pBpe)
    val pWp = tmp("cmpw")
    val ms = WordPiece.trainMerges(docs, 4)
    TokenizerIO.exportWordPiece(spark,
      WordPiece.collectVocab(WordPiece.vocab(docs, ms)), pWp)
    val row = TokenizerIO.compare(spark, pBpe, pWp, docs)
      .as[(String, String, Long, Long, Long, Double, Double, Double)].head()
    assert(row._1 === "bpe" && row._2 === "wordpiece")
    // piece counts match what the artifacts hold
    val nBpe = TokenizerIO.importBpe(spark, pBpe).map { case (a, b) => a + b }.distinct.size.toLong
    val nWp = TokenizerIO.importWordPiece(spark, pWp)._1.size.toLong
    assert(row._3 === nBpe && row._4 === nWp)
    assert(row._5 >= 0 && row._5 <= math.min(nBpe, nWp))
    assert(row._6 >= 0.0 && row._6 <= 1.0)
    // fertility under each artifact equals the family's own face
    val fb = Bpe.fertility(docs.withColumn("__a", org.apache.spark.sql.functions.lit("all")),
      TokenizerIO.importBpe(spark, pBpe), sourceCol = "__a")
      .select("fertility").as[Double].head()
    assert(row._7 === fb)
    assert(row._8 >= 1.0, "wordpiece fertility is at least one piece per word")
    // order flips with the arguments (unigram side exercised elsewhere)
    val flipped = TokenizerIO.compare(spark, pWp, pBpe, docs)
      .as[(String, String, Long, Long, Long, Double, Double, Double)].head()
    assert(flipped._1 === "wordpiece" && flipped._4 === nBpe &&
      flipped._5 === row._5 && flipped._6 === row._6 && flipped._8 === row._7)
  }

  test("compareAll: n-way leaderboard agrees with pairwise compare; coverage over the pooled inventory; unigram included") {
    val docs = Seq((1L, "low lower lowest low low"), (2L, "new newer newest new")).toDF("doc_id", "text")
    val pBpe = tmp("alla")
    TokenizerIO.exportBpe(spark,
      Bpe.trainMerges(docs, 4).map(m => (m.lhs, m.rhs)), pBpe)
    val pWp = tmp("allb")
    TokenizerIO.exportWordPiece(spark,
      WordPiece.collectVocab(WordPiece.vocab(docs, WordPiece.trainMerges(docs, 4))), pWp)
    val pUni = tmp("allc")
    TokenizerIO.exportUnigram(spark,
      graft.ops.Unigram.collectPieces(
        graft.ops.Unigram.trainUnigram(docs, vocabSize = 20, emRounds = 1)), pUni)
    val rows = TokenizerIO.compareAll(spark, Seq(pBpe, pWp, pUni), docs)
      .as[(Int, String, Long, Double, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(rows.keySet === Set(0, 1, 2))
    assert(rows(0)._2 === "bpe" && rows(1)._2 === "wordpiece" && rows(2)._2 === "unigram")
    // fertility column equals the pairwise face's, per artifact
    val pair = TokenizerIO.compare(spark, pBpe, pWp, docs)
      .as[(String, String, Long, Long, Long, Double, Double, Double)].head()
    assert(rows(0)._3 === pair._3 && rows(1)._3 === pair._4)
    assert(rows(0)._6 === pair._7 && rows(1)._6 === pair._8)
    // max_jaccard of bpe vs {wp, uni} is at least its pairwise-vs-wp value
    assert(rows(0)._5 >= pair._6)
    // coverage: each artifact's normalized share of the pooled
    // inventory — in (0, 1], and the pool is the union so shares
    // cannot all be below 1/3
    assert(rows.values.forall(r => r._4 > 0.0 && r._4 <= 1.0))
    assert(rows.values.map(_._4).max >= 1.0 / 3.0)
    // fewer than two artifacts is a loud contract error
    intercept[IllegalArgumentException](TokenizerIO.compareAll(spark, Seq(pBpe), docs))
  }

  test("retrainIfDue: a due tokenizer decision retrains the SAME family into a versioned artifact; stable writes nothing; live file untouched") {
    import graft.streaming.{ArtifactVersions, TokenizerRefresher}
    val docs = Seq((1L, "low lower lowest low low"), (2L, "new newer newest new"))
      .toDF("doc_id", "text")
    // the live deployment: a wordpiece artifact
    val live = tmp("trlive")
    TokenizerIO.exportWordPiece(spark,
      WordPiece.collectVocab(WordPiece.vocab(docs, WordPiece.trainMerges(docs, 3))), live)
    val liveBytes = readBack(live)
    val rd = tempDir("graft-trrd-").toString + "/refresh"
    val vroot = tempDir("graft-trv-").toString + "/tok"
    def decision(batch: Long, due: Boolean): Unit =
      Seq(("tokenizer:web", "unk_rate", 0.4, 0.1, due))
        .toDF("artifact", "metric", "value", "threshold", "due")
        .write.mode("overwrite").parquet(s"$rd/batch_id=$batch")
    def retrain() = TokenizerRefresher.retrainIfDue(spark, rd, "tokenizer:web",
      live, docs, vroot, merges = Some(4))
    // no decision / cold-start batch 0 / stable batch: nothing written
    assert(retrain() === None)
    decision(0L, due = true)
    assert(retrain() === None)
    decision(1L, due = false)
    assert(retrain() === None)
    assert(!new java.io.File(vroot).exists())
    // a drifted batch 2: the retrain lands at v2.json, SAME family,
    // servable — and the pointer commits it
    decision(2L, due = true)
    val out = retrain()
    assert(out === Some(s"$vroot/v2.json"))
    assert(TokenizerIO.familyOf(spark, out.get) === "wordpiece",
      "the refresh loop must never change model family")
    val (v2, _) = TokenizerIO.importWordPiece(spark, out.get)
    assert(v2.nonEmpty)
    assert(ArtifactVersions.current(spark, vroot) === Some("v2.json"))
    // the live artifact's bytes are untouched — blue/green, not in-place
    assert(readBack(live) === liveBytes)
    // a due decision over a BPE deployment retrains bpe (family sniffed)
    val liveBpe = tmp("trbpe")
    TokenizerIO.exportBpe(spark,
      Bpe.trainMerges(docs, 3).map(m => (m.lhs, m.rhs)), liveBpe)
    val vroot2 = tempDir("graft-trv2-").toString + "/tok"
    val out2 = TokenizerRefresher.retrainIfDue(spark, rd, "tokenizer:web",
      liveBpe, docs, vroot2, merges = Some(4))
    assert(out2.isDefined && TokenizerIO.familyOf(spark, out2.get) === "bpe")
    assert(TokenizerIO.importBpe(spark, out2.get) ===
      Bpe.trainMerges(docs, 4).map(m => (m.lhs, m.rhs)))
    // retention: churned retrains under keepVersions reclaim the old
    // version FILES, never the pointer target (r18 verdict #4)
    (3L to 4L).foreach { b =>
      decision(b, due = true)
      assert(TokenizerRefresher.retrainIfDue(spark, rd, "tokenizer:web",
        live, docs, vroot, merges = Some(4), keepVersions = Some(2))
        === Some(s"$vroot/v$b.json"))
    }
    assert(ArtifactVersions.versions(spark, vroot) === Seq("v3.json", "v4.json"),
      "keep=2 churn must leave exactly the two newest version files")
    assert(ArtifactVersions.current(spark, vroot) === Some("v4.json"))
  }

  test("retrainIfDue default budget derives from the LIVE artifact's inventory — a due retrain can't shrink serving to a toy vocab") {
    import graft.streaming.TokenizerRefresher
    val docs = Seq((1L, "low lower lowest low low new newer newest"),
      (2L, "wide wider widest lowest newest")).toDF("doc_id", "text")
    val liveMerges = Bpe.trainMerges(docs, 7).map(m => (m.lhs, m.rhs))
    val live = tmp("trbudget")
    TokenizerIO.exportBpe(spark, liveMerges, live)
    val rd = tempDir("graft-trbrd-").toString + "/refresh"
    Seq(("tokenizer:web", "unk_rate", 0.4, 0.1, true))
      .toDF("artifact", "metric", "value", "threshold", "due")
      .write.mode("overwrite").parquet(s"$rd/batch_id=1")
    val vroot = tempDir("graft-trbv-").toString + "/tok"
    // budgets left at their defaults: the merge budget is sniffed from
    // the live artifact (its merge count), so retraining on the same
    // corpus reproduces an inventory of the SAME size — never the old
    // hardcoded toy budget
    val out = TokenizerRefresher.retrainIfDue(spark, rd, "tokenizer:web",
      live, docs, vroot)
    assert(out === Some(s"$vroot/v1.json"))
    assert(TokenizerIO.importBpe(spark, out.get).size === liveMerges.size,
      "derived budget must match the live inventory size")
    // wordpiece: the derived budget is vocab MINUS alphabet/[UNK] (the
    // r18 advisory — the raw vocab count over-trained by
    // alphabet-many merges), so a same-corpus retrain reproduces the
    // serving artifact's vocabulary exactly
    val liveWp = tmp("trbudgetwp")
    TokenizerIO.exportWordPiece(spark,
      WordPiece.collectVocab(WordPiece.vocab(docs, WordPiece.trainMerges(docs, 3))),
      liveWp)
    val vrootWp = tempDir("graft-trbvw-").toString + "/tok"
    val outWp = TokenizerRefresher.retrainIfDue(spark, rd, "tokenizer:web",
      liveWp, docs, vrootWp)
    assert(outWp.isDefined)
    assert(TokenizerIO.importWordPiece(spark, outWp.get)._1 ===
      TokenizerIO.importWordPiece(spark, liveWp)._1,
      "the alphabet-corrected budget must reproduce the live vocabulary")
  }

  test("non-ASCII pieces escape like the index export (ensure_ascii)") {
    val p = tmp("uesc")
    TokenizerIO.exportWordPiece(spark, Seq("naïve", "##é"), p)
    val bytes = readBack(p)
    assert(bytes.contains("na\\u00efve") && bytes.contains("##\\u00e9"), bytes)
    val (v, _) = TokenizerIO.importWordPiece(spark, p)
    assert(v.toSet == Set("naïve", "##é"))
  }
}
