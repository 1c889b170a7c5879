package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.ops.Similarity
import graft.streaming.EmbeddingIndexer
import SparkSpec.spark.implicits._

class EmbeddingIndexerSpec extends SparkSpec {

  private def tmp(name: String): String = tempDir(s"graft-$name-").toString

  private def vecs(rows: (Long, Seq[Float])*): DataFrame =
    rows.toDF("vec_id", "embedding")

  private def jsonLine(id: Long, v: Seq[Double]): String =
    s"""{"vec_id": $id, "embedding": [${v.mkString(", ")}]}"""

  /** Base corpus + frozen artifacts written to disk — the offline
    * training job the indexer serves from. */
  private def trainArtifacts(corpus: DataFrame, artifacts: String,
      assignDir: String, codesDir: String): Unit = {
    val (coarse, assign) = Similarity.kmeansModel(corpus)
    val (codebooks, codes) = Similarity.pqModel(corpus)
    coarse.write.mode("overwrite").parquet(s"$artifacts/coarse_centroids")
    codebooks.write.mode("overwrite").parquet(s"$artifacts/codebooks")
    // the training corpus's own serving rows, under a reserved batch
    // partition the streaming appends never collide with
    assign.write.mode("overwrite").parquet(s"$assignDir/batch_id=-1")
    codes.write.mode("overwrite").parquet(s"$codesDir/batch_id=-1")
  }

  test("streamed encode equals batch encodeWithModel; search serves the fresh vector") {
    val rnd = new scala.util.Random(201)
    val corpus = vecs((1L to 200L).map(i =>
      i -> Seq.fill(8)(rnd.nextFloat() * 2 - 1)): _*)
    val (watch, artifacts, assignDir, codesDir, ckpt, quar) =
      (tmp("eiw"), tmp("eia"), tmp("eias") + "/assign", tmp("eic") + "/codes",
        tmp("eick"), tmp("eiq") + "/bad")
    trainArtifacts(corpus, artifacts, assignDir, codesDir)
    val cachedBefore = spark.sparkContext.getPersistentRDDs.size

    // two fresh vectors arrive (ids far outside the corpus)
    val nv1 = Seq.fill(8)(rnd.nextDouble() * 2 - 1)
    val nv2 = Seq.fill(8)(rnd.nextDouble() * 2 - 1)
    Files.write(Paths.get(watch, "arrivals-0.jsonl"),
      (jsonLine(1001L, nv1) + "\n" + jsonLine(1002L, nv2) + "\n").getBytes("UTF-8"))
    EmbeddingIndexer.startJsonl(spark, watch, artifacts, assignDir, codesDir,
      ckpt, quar).awaitTermination()

    // streamed rows == batch encode of the same vectors (same artifacts)
    val arrived = Seq(1001L -> nv1.map(_.toFloat), 1002L -> nv2.map(_.toFloat))
    val (wantAssign, wantCodes) = Similarity.encodeWithModel(
      vecs(arrived: _*),
      spark.read.parquet(s"$artifacts/coarse_centroids"),
      spark.read.parquet(s"$artifacts/codebooks"))
    val gotAssign = spark.read.parquet(assignDir)
      .filter(col("batch_id") >= 0).select("vec_id", "cell_id", "cos")
      .as[(Long, Long, Double)].collect().toSet
    assert(gotAssign === wantAssign.as[(Long, Long, Double)].collect().toSet)
    assert(gotAssign.map(_._1) === Set(1001L, 1002L))
    val gotCodes = spark.read.parquet(codesDir)
      .filter(col("batch_id") >= 0).select("vec_id", "subspace", "code", "d2")
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(gotCodes === wantCodes.as[(Long, Int, Long, Double)].collect().toSet)
    assert(gotCodes.map(_._1) === Set(1001L, 1002L))

    // the accumulated tables serve the fresh vectors with no retraining
    // (query under a DIFFERENT id — the ranking excludes self-pairs by
    // the harness convention that queries come from the corpus)
    val hits = Similarity.ivfpqSearch(
      vecs(9999L -> nv1.map(_.toFloat)),
      spark.read.parquet(s"$artifacts/coarse_centroids"),
      spark.read.parquet(assignDir),
      spark.read.parquet(s"$artifacts/codebooks"),
      spark.read.parquet(codesDir),
      k = 10, nprobe = 8)
      .select("neighbor_id").as[Long].collect().toSet
    assert(hits.contains(1001L),
      s"a just-arrived vector must be searchable; top-10 was $hits")

    // the per-batch persist is released after both writes (<=, not ===:
    // cachedBefore includes training-time localCheckpoint RDDs that the
    // ContextCleaner may collect at any point during the stream)
    assert(spark.sparkContext.getPersistentRDDs.size <= cachedBefore,
      "per-batch cache must be released after the partition writes")
  }

  test("exportAnnStore: the accumulated batch-partitioned tables re-key into the cell store; served search parity") {
    val rnd = new scala.util.Random(205)
    val corpus = vecs((1L to 150L).map(i =>
      i -> Seq.fill(8)(rnd.nextFloat() * 2 - 1)): _*)
    val (watch, artifacts, assignDir, codesDir, ckpt, quar) =
      (tmp("eixw"), tmp("eixa"), tmp("eixas") + "/assign", tmp("eixc") + "/codes",
        tmp("eixck"), tmp("eixq") + "/bad")
    trainArtifacts(corpus, artifacts, assignDir, codesDir)
    val nv = Seq.fill(8)(rnd.nextDouble() * 2 - 1)
    Files.write(Paths.get(watch, "arr-0.jsonl"),
      (jsonLine(2001L, nv) + "\n").getBytes("UTF-8"))
    EmbeddingIndexer.startJsonl(spark, watch, artifacts, assignDir, codesDir,
      ckpt, quar).awaitTermination()
    // export: batch_id layout -> cell_id layout, one keyed join
    val store = tmp("eixs") + "/ann"
    EmbeddingIndexer.exportAnnStore(spark, artifacts, assignDir, codesDir, store)
    // the store-served per-query search equals the accumulated-dirs
    // search — training corpus AND the streamed arrival both present
    val q = vecs(9999L -> nv.map(_.toFloat))
    val want = Similarity.ivfpqSearch(q,
      spark.read.parquet(s"$artifacts/coarse_centroids"),
      spark.read.parquet(assignDir),
      spark.read.parquet(s"$artifacts/codebooks"),
      spark.read.parquet(codesDir),
      k = 10, nprobe = 8).as[(Long, Long, Double, Int)].collect().toSet
    val got = Similarity.ivfpqTopKFromStore(spark, store, q, 10, nprobe = 8)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(got === want,
      "the exported cell store must serve the accumulated corpus identically")
    assert(spark.read.parquet(s"$store/cells")
        .filter(col("vec_id") === 2001L).count() === 4L,
      "the streamed arrival's m code rows must ride through the export")
  }

  test("replayed batch overwrites its own partitions (no duplicate serving rows)") {
    val rnd = new scala.util.Random(202)
    val corpus = vecs((1L to 120L).map(i =>
      i -> Seq.fill(8)(rnd.nextFloat() * 2 - 1)): _*)
    val (watch, artifacts, assignDir, codesDir, quar) =
      (tmp("eirw"), tmp("eira"), tmp("eiras") + "/assign", tmp("eirc") + "/codes",
        tmp("eirq") + "/bad")
    trainArtifacts(corpus, artifacts, assignDir, codesDir)
    Files.write(Paths.get(watch, "arrivals-0.jsonl"),
      jsonLine(2001L, Seq.fill(8)(0.25)).getBytes("UTF-8"))
    EmbeddingIndexer.startJsonl(spark, watch, artifacts, assignDir, codesDir,
      tmp("eick1"), quar).awaitTermination()
    // fresh checkpoint => the same file replays as batch 0 and must
    // overwrite, not append
    EmbeddingIndexer.startJsonl(spark, watch, artifacts, assignDir, codesDir,
      tmp("eick2"), quar).awaitTermination()
    val streamed = spark.read.parquet(codesDir).filter(col("batch_id") >= 0)
      .select("vec_id", "subspace").as[(Long, Int)].collect()
    assert(streamed.length === 4 && streamed.map(_._1).toSet === Set(2001L),
      s"replay must not duplicate code rows: ${streamed.toSeq}")
  }

  test("residual mode codes arrivals in the residual frame of the stored artifacts") {
    val rnd = new scala.util.Random(204)
    val corpus = vecs((1L to 150L).map(i =>
      i -> Seq.fill(8)(rnd.nextFloat() * 2 - 1)): _*)
    val (watch, artifacts, assignDir, codesDir, quar) =
      (tmp("eirsw"), tmp("eirsa"), tmp("eirsas") + "/assign", tmp("eirsc") + "/codes",
        tmp("eirsq") + "/bad")
    val (coarse, assign, books, codes) = Similarity.ivfpqResidualModel(corpus)
    coarse.write.mode("overwrite").parquet(s"$artifacts/coarse_centroids")
    books.write.mode("overwrite").parquet(s"$artifacts/codebooks")
    assign.write.mode("overwrite").parquet(s"$assignDir/batch_id=-1")
    codes.write.mode("overwrite").parquet(s"$codesDir/batch_id=-1")

    val nv = Seq.fill(8)(rnd.nextDouble() * 2 - 1)
    Files.write(Paths.get(watch, "arrivals-0.jsonl"),
      jsonLine(4001L, nv).getBytes("UTF-8"))
    EmbeddingIndexer.startJsonl(spark, watch, artifacts, assignDir, codesDir,
      tmp("eick4"), quar, residual = true).awaitTermination()

    // streamed rows == batch residual encode of the same vector
    val (wantAssign, wantCodes) = Similarity.residualEncodeWithModel(
      vecs(4001L -> nv.map(_.toFloat)),
      spark.read.parquet(s"$artifacts/coarse_centroids"),
      spark.read.parquet(s"$artifacts/codebooks"))
    assert(spark.read.parquet(codesDir).filter(col("batch_id") >= 0)
      .select("vec_id", "subspace", "code", "d2")
      .as[(Long, Int, Long, Double)].collect().toSet ===
      wantCodes.as[(Long, Int, Long, Double)].collect().toSet)
    assert(spark.read.parquet(assignDir).filter(col("batch_id") >= 0)
      .select("vec_id", "cell_id", "cos")
      .as[(Long, Long, Double)].collect().toSet ===
      wantAssign.as[(Long, Long, Double)].collect().toSet)

    // and the residual serving call finds the fresh vector
    val hits = Similarity.ivfpqResidualSearch(
      vecs(9999L -> nv.map(_.toFloat)),
      spark.read.parquet(s"$artifacts/coarse_centroids"),
      spark.read.parquet(assignDir),
      spark.read.parquet(s"$artifacts/codebooks"),
      spark.read.parquet(codesDir),
      k = 10, nprobe = 8)
      .select("neighbor_id").as[Long].collect().toSet
    assert(hits.contains(4001L),
      s"a just-arrived vector must be searchable in residual mode; top-10 was $hits")
  }

  test("rows failing the envelope quarantine instead of poisoning the encode") {
    val rnd = new scala.util.Random(203)
    val corpus = vecs((1L to 120L).map(i =>
      i -> Seq.fill(8)(rnd.nextFloat() * 2 - 1)): _*)
    val (watch, artifacts, assignDir, codesDir, quar) =
      (tmp("eiqw"), tmp("eiqa"), tmp("eiqas") + "/assign", tmp("eiqc") + "/codes",
        tmp("eiqq") + "/bad")
    trainArtifacts(corpus, artifacts, assignDir, codesDir)
    Files.write(Paths.get(watch, "arrivals-0.jsonl"),
      ("""{"embedding": [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8]}""" + "\n" +
        jsonLine(3001L, Seq.fill(8)(0.5)) + "\n").getBytes("UTF-8"))
    EmbeddingIndexer.startJsonl(spark, watch, artifacts, assignDir, codesDir,
      tmp("eick3"), quar).awaitTermination()
    val kept = spark.read.parquet(codesDir).filter(col("batch_id") >= 0)
      .select("vec_id").distinct().as[Long].collect().toSet
    assert(kept === Set(3001L))
    val quarantined = spark.read.parquet(quar).select("raw").as[String].collect()
    assert(quarantined.length === 1 && quarantined.head.contains("0.1"),
      s"the keyless row must quarantine: ${quarantined.toSeq}")
  }

  test("dedupD2 gate drops arrivals near accumulated codes; far vectors pass and extend the filter") {
    val rnd = new scala.util.Random(204)
    val rows = (1L to 200L).map(i => i -> Seq.fill(8)(rnd.nextFloat() * 2 - 1))
    val corpus = vecs(rows: _*)
    val (watch, artifacts, assignDir, codesDir, ckpt, quar, drops) =
      (tmp("eidw"), tmp("eida"), tmp("eidas") + "/assign", tmp("eidc") + "/codes",
        tmp("eidck"), tmp("eidq") + "/bad", tmp("eidd") + "/drops")
    trainArtifacts(corpus, artifacts, assignDir, codesDir)
    val coarse = spark.read.parquet(s"$artifacts/coarse_centroids")
    val codebooks = spark.read.parquet(s"$artifacts/codebooks")
    // Self-calibrate the gate: the history holds CODES, so a re-arrival
    // sits at quantization-error distance from its stored twin, while a
    // genuinely novel vector sits at nearest-neighbor distance. Measure
    // both with the serving call itself and gate between them.
    val novel = Seq.fill(8)(rnd.nextDouble() * 2 - 1)
    val novelDf = vecs(9001L -> novel.map(_.toFloat))
    val dNearest = Similarity.ivfpqSearch(novelDf, coarse,
      spark.read.parquet(assignDir), codebooks, spark.read.parquet(codesDir),
      k = 1, nprobe = 1).select("adc").as[Double].head()
    val (selfAssign, selfCodes) = Similarity.encodeWithModel(
      vecs(9002L -> novel.map(_.toFloat)), coarse, codebooks)
    val dSelf = Similarity.ivfpqSearch(novelDf, coarse,
      selfAssign, codebooks, selfCodes, k = 1, nprobe = 1)
      .select("adc").as[Double].head()
    assert(dSelf < dNearest, s"fixture sanity: self-quant $dSelf vs nearest $dNearest")
    val gate = (dSelf + dNearest) / 2
    def run(): Unit = EmbeddingIndexer.startJsonl(spark, watch, artifacts, assignDir,
      codesDir, ckpt, quar, dedupD2 = Some(gate), dropsDir = Some(drops))
      .awaitTermination()
    // batch 0: an exact copy of training vec 7 (quantization-error
    // distance -> gated) + the novel vector (nearest distance -> kept)
    val dup = rows(6)._2.map(_.toDouble)
    Files.write(Paths.get(watch, "arrivals-0.jsonl"),
      (jsonLine(2001L, dup) + "\n" + jsonLine(2002L, novel) + "\n").getBytes("UTF-8"))
    run()
    def served: Set[Long] = spark.read.parquet(assignDir).filter(col("batch_id") >= 0)
      .select("vec_id").as[Long].collect().toSet
    assert(served === Set(2002L), s"dup must be gated, novel kept; got $served")
    val d0 = spark.read.parquet(drops).filter(col("batch_id") === 0)
      .select("vec_id", "neighbor_id", "adc").as[(Long, Long, Double)].collect()
    assert(d0.length === 1 && d0.head._1 === 2001L && d0.head._3 <= gate, d0.toSeq)
    // batch 1: a copy of the PREVIOUS BATCH's survivor — the filter
    // must have grown to include batch 0's appended codes
    Files.write(Paths.get(watch, "arrivals-1.jsonl"),
      jsonLine(2003L, novel).getBytes("UTF-8"))
    run()
    assert(served === Set(2002L), s"near-dup of a batch-0 survivor must be gated; got $served")
    val d1 = spark.read.parquet(drops).filter(col("batch_id") === 1)
      .select("vec_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(d1 === Set((2003L, 2002L)))
  }

  test("rebuildIfDue: a due refresh decision retrains into a versioned artifacts dir; stable or cold-start decisions don't") {
    val rnd = new scala.util.Random(77)
    val corpus = vecs((1L to 120L).map(i =>
      i -> Seq.fill(8)(rnd.nextFloat() * 2 - 1)): _*)
    val rd = tmp("eird") + "/refresh"
    val root = tmp("eiroot") + "/artifacts"
    def decision(batch: Long, due: Boolean): Unit =
      Seq(("index", "js", 0.2, 0.05, due)).toDF("artifact", "metric", "value", "threshold", "due")
        .write.mode("overwrite").parquet(s"$rd/batch_id=$batch")
    // nothing recorded -> no decision, no rebuild
    assert(EmbeddingIndexer.latestDue(spark, rd) === None)
    // cold-start batch 0 is excluded even when "due"
    decision(0L, due = true)
    assert(EmbeddingIndexer.latestDue(spark, rd) === None)
    // a drifted batch 1 flips it — rebuild lands in v1
    decision(1L, due = true)
    assert(EmbeddingIndexer.latestDue(spark, rd) === Some(1L))
    // before any rebuild: no pointer, serving resolves to the root
    assert(graft.streaming.ArtifactVersions.current(spark, root) === None)
    assert(EmbeddingIndexer.servingDir(spark, root) === root)
    val out = EmbeddingIndexer.rebuildIfDue(spark, rd, corpus, root)
    assert(out === Some(s"$root/v1"))
    // the rebuild COMMITTED: the pointer records v1 and serving
    // resolves through it
    assert(graft.streaming.ArtifactVersions.current(spark, root) === Some("v1"))
    assert(EmbeddingIndexer.servingDir(spark, root) === s"$root/v1")
    // the rebuilt artifacts serve: encode a probe against them
    val coarse = spark.read.parquet(s"${out.get}/coarse_centroids")
    val books = spark.read.parquet(s"${out.get}/codebooks")
    val (assign, codes) = Similarity.encodeWithModel(
      vecs(9001L -> Seq.fill(8)(0.25f)), coarse, books)
    assert(assign.count() === 1L && codes.count() === 4L)
    // the LATEST decision wins: a stable batch 2 retracts the trigger
    decision(2L, due = false)
    assert(EmbeddingIndexer.latestDue(spark, rd) === None)
    assert(EmbeddingIndexer.rebuildIfDue(spark, rd, corpus, root) === None)
    // nothing new written for the retracted decision; pointer unmoved
    assert(!new java.io.File(s"$root/v2").exists())
    assert(graft.streaming.ArtifactVersions.current(spark, root) === Some("v1"))
    // an INTERRUPTED rebuild leaves the pointer: batch 3 is due but
    // the retrain dies (schema-less corpus) — serving stays on v1
    decision(3L, due = true)
    intercept[Throwable](EmbeddingIndexer.rebuildIfDue(spark, rd,
      spark.range(4).toDF("not_an_embedding"), root))
    assert(graft.streaming.ArtifactVersions.current(spark, root) === Some("v1"),
      "a failed rebuild must never move the current pointer")
    assert(EmbeddingIndexer.servingDir(spark, root) === s"$root/v1")
    // opt-out: repoint=false rebuilds the version without committing it
    val out3 = EmbeddingIndexer.rebuildIfDue(spark, rd, corpus, root, repoint = false)
    assert(out3 === Some(s"$root/v3"))
    assert(graft.streaming.ArtifactVersions.current(spark, root) === Some("v1"))
  }

  test("keepVersions retention: churned rebuilds keep the newest N dirs, never the pointer target") {
    import graft.streaming.ArtifactVersions
    val rnd = new scala.util.Random(78)
    val corpus = vecs((1L to 60L).map(i =>
      i -> Seq.fill(8)(rnd.nextFloat() * 2 - 1)): _*)
    val rd = tmp("eiprune") + "/refresh"
    val root = tmp("eiprroot") + "/artifacts"
    def decision(batch: Long): Unit =
      Seq(("index", "js", 0.2, 0.05, true))
        .toDF("artifact", "metric", "value", "threshold", "due")
        .write.mode("overwrite").parquet(s"$rd/batch_id=$batch")
    // three churned retrains under keep=2: the oldest dir is reclaimed
    (1L to 3L).foreach { b =>
      decision(b)
      assert(EmbeddingIndexer.rebuildIfDue(spark, rd, corpus, root,
        keepVersions = Some(2)) === Some(s"$root/v$b"))
    }
    assert(ArtifactVersions.versions(spark, root) === Seq("v2", "v3"),
      "keep=2 churn must leave exactly the two newest version dirs")
    assert(ArtifactVersions.current(spark, root) === Some("v3"))
    // the pointer target survives pruning even when OLDER than every
    // survivor: stage v4/v5 without repointing — serving stays on v3,
    // and keep=1 must preserve the live dir alongside the newest
    (4L to 5L).foreach { b =>
      decision(b)
      assert(EmbeddingIndexer.rebuildIfDue(spark, rd, corpus, root,
        repoint = false, keepVersions = Some(1)) === Some(s"$root/v$b"))
    }
    assert(ArtifactVersions.current(spark, root) === Some("v3"))
    assert(ArtifactVersions.versions(spark, root) === Seq("v3", "v5"),
      "the live (pointer-target) version must never be pruned")
  }

  test("ArtifactVersions: repoint is an atomic replace; old version dirs stay readable; junk versions rejected") {
    import graft.streaming.ArtifactVersions
    val root = tmp("avroot") + "/arts"
    assert(ArtifactVersions.current(spark, root) === None)
    assert(ArtifactVersions.currentDir(spark, root) === None)
    // two versions on disk, pointer swapped v1 -> v2
    Seq((1L, "a")).toDF("k", "v").write.mode("overwrite").parquet(s"$root/v1/t")
    Seq((2L, "b")).toDF("k", "v").write.mode("overwrite").parquet(s"$root/v2/t")
    ArtifactVersions.repoint(spark, root, "v1")
    assert(ArtifactVersions.currentDir(spark, root) === Some(s"$root/v1"))
    ArtifactVersions.repoint(spark, root, "v2")
    assert(ArtifactVersions.currentDir(spark, root) === Some(s"$root/v2"))
    // the superseded version is untouched — in-flight readers finish
    assert(spark.read.parquet(s"$root/v1/t").count() === 1L)
    // no half-states on disk: the tmp file never lingers post-swap
    assert(!new java.io.File(s"$root/.current_version.tmp").exists())
    // version names are child names, not paths
    intercept[IllegalArgumentException](ArtifactVersions.repoint(spark, root, "a/b"))
    intercept[IllegalArgumentException](ArtifactVersions.repoint(spark, root, ""))
  }
}
