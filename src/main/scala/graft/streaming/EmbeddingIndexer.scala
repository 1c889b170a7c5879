package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.Similarity

/** Streaming ANN index maintenance: watch a directory for JSONL
  * embedding arrivals and keep the IVF+PQ serving tables fresh — the
  * embedding-side sibling of [[CorpusWatcher]] (which maintains the
  * inverted index the same way; reference trigger:
  * `filladdtrigger/main.py:5-22`).
  *
  * Train-once / serve-many made ONLINE: the coarse centroids and PQ
  * codebooks under `artifactsDir` stay FROZEN (one offline training
  * run, [[Similarity.kmeansModel]] / [[Similarity.pqModel]]); each
  * micro-batch encodes only its own vectors against them
  * ([[Similarity.encodeWithModel]] — two broadcast argmax joins, cost
  * linear in the batch, zero in the accumulated corpus) and appends
  * per-batch `batch_id=N` partitions to the assignment and code
  * tables. [[Similarity.ivfpqSearch]] / the `graft_ann_search` TVF
  * over the accumulated dirs then serve the fresh corpus with no
  * retraining and no raw-embedding scan. Retraining the quantizers
  * shifts every stored code, so it is an offline rebuild that swaps
  * `artifactsDir`, never an ingest-path step.
  *
  * Idempotence contract (same as [[CorpusWatcher.startJsonl]]'s
  * quarantine): per-batch partition dirs in overwrite mode — a batch
  * that fails mid-write and replays overwrites its own partitions
  * instead of appending duplicates. Rows that fail the envelope
  * (null `vec_id` or `embedding`) quarantine as JSON lines rather
  * than poisoning the encode.
  */
object EmbeddingIndexer {

  /** Start watching `watchDir` for JSONL embedding files
    * (`{"vec_id": 1, "embedding": [..]}` per line).
    *
    * @param artifactsDir parquet dirs `coarse_centroids` (cell_id,
    *   pos, centroid_v) and `codebooks` (subspace, cell_id, pos,
    *   centroid_v) — [[Similarity.kmeansModel]] / [[Similarity.pqModel]]
    *   output, written once by the offline training job
    * @param assignmentsDir accumulates (vec_id, cell_id, cos) under
    *   batch_id partitions — [[Similarity.ivfpqSearch]]'s inverted lists
    * @param codesDir accumulates (vec_id, subspace, code, d2) —
    *   the ADC scan table
    * @param m subspace count the codebooks were trained with
    * @param residual set when the stored artifacts are RESIDUAL-trained
    *   ([[Similarity.ivfpqResidualModel]]): encode subtracts each
    *   vector's coarse centroid before coding
    *   ([[Similarity.residualEncodeWithModel]]). The flag must match
    *   how the artifacts were trained — mixing frames would silently
    *   mis-code, which is why both artifact sets carry the same
    *   schemas but come from distinct model calls.
    * @param dedupD2 streaming semantic dedup (the SemDeDup gate at
    *   serving precision): drop an arriving vector whose nearest
    *   ACCUMULATED neighbor — scored by the same IVF+PQ serving call
    *   the index answers queries with (k=1, nprobe=1: same-coarse-cell
    *   blocking, the SemDeDup argument) — sits within this ADC L2²
    *   distance. The history is the CODES, not raw embeddings (the
    *   indexer stores codes precisely so the corpus never needs a raw
    *   scan), so the comparison carries the quantizer's error: set the
    *   threshold from a recall probe, and for unit-normalized
    *   embeddings use d2 = 2·(1−cos). Within-batch self-duplicates
    *   pass (both get stored) — the gate is vs-history, the
    *   [[CorpusWatcher]] band-filter contract. Replay excludes the
    *   batch's own first-attempt partitions, so a retried batch never
    *   self-collides.
    * @param dropsDir when the gate is on, each batch's dropped
    *   evidence rows (vec_id, neighbor_id, adc) land here under
    *   `batch_id=N` (per-batch overwrite, replay-idempotent) — the
    *   observability face of a silent drop policy.
    */
  def startJsonl(
      spark: SparkSession,
      watchDir: String,
      artifactsDir: String,
      assignmentsDir: String,
      codesDir: String,
      checkpointDir: String,
      quarantineDir: String,
      m: Int = 4,
      residual: Boolean = false,
      dedupD2: Option[Double] = None,
      dropsDir: Option[String] = None,
      availableNow: Boolean = true): StreamingQuery = {
    val emb = spark.readStream
      .format("json")
      .schema("vec_id BIGINT, embedding ARRAY<DOUBLE>")
      .load(watchDir)
    val writer = emb.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val session = batch.sparkSession
        val bad = batch.filter(col("vec_id").isNull || col("embedding").isNull)
          .select(to_json(struct(col("vec_id"), col("embedding"))).as("raw"))
        bad.write.mode("overwrite").parquet(s"$quarantineDir/batch_id=$batchId")
        // the batch feeds two encode scans (coarse + PQ): persist so
        // the JSON source is read once, release after both writes
        val clean = batch.filter(col("vec_id").isNotNull && col("embedding").isNotNull)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val coarse = session.read.parquet(s"$artifactsDir/coarse_centroids")
        val codebooks = session.read.parquet(s"$artifactsDir/codebooks")
        // semantic-dup gate BEFORE encode: score each arrival against
        // the accumulated serving tables (excluding this batch's own
        // first-attempt partitions — replay safety) with the index's
        // own search call; survivors alone get encoded and stored
        val gated = dedupD2 match {
          case None => clean
          case Some(d2max) =>
            (CorpusWatcher.accumulatedPartitions(session, assignmentsDir, batchId),
              CorpusWatcher.accumulatedPartitions(session, codesDir, batchId)) match {
              case (Some(accAssign), Some(accCodes)) =>
                val search =
                  if (residual)
                    Similarity.ivfpqResidualSearch(
                      clean, coarse, accAssign, codebooks, accCodes, 1, 1, m)
                  else
                    Similarity.ivfpqSearch(
                      clean, coarse, accAssign, codebooks, accCodes, 1, 1, m)
                val hits = graft.core.Materialize(
                  search.filter(col("adc") <= d2max)
                    .select(col("query_id").as("vec_id"), col("neighbor_id"), col("adc")))
                dropsDir.foreach(dd =>
                  hits.write.mode("overwrite").parquet(s"$dd/batch_id=$batchId"))
                clean.join(hits.select("vec_id"), Seq("vec_id"), "left_anti")
              case _ => clean // no history yet: nothing to collide with
            }
        }
        val encode =
          if (residual) Similarity.residualEncodeWithModel _
          else Similarity.encodeWithModel _
        val (assign, codes) = encode(gated, coarse, codebooks, m)
        assign.write.mode("overwrite").parquet(s"$assignmentsDir/batch_id=$batchId")
        codes.write.mode("overwrite").parquet(s"$codesDir/batch_id=$batchId")
        clean.unpersist(blocking = false)
        ()
      }
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer).start()
  }

  /** The drift loop's LAST link: has the LATEST recorded refresh
    * decision (a [[CorpusWatcher.Refresh]] dir) flagged `artifact`
    * due? `minBatchId` defaults past batch 0 — the
    * cold-start decision compares the first feed to an EMPTY history
    * and must not trigger a rebuild. Missing/empty dir = false (no
    * decision is not a decision). Returns the deciding batch id. */
  def latestDue(
      session: SparkSession, refreshDir: String,
      artifact: String = "index", minBatchId: Long = 1L): Option[Long] = {
    if (CorpusWatcher.batchPartitions(session, refreshDir).isEmpty) None
    else {
      val d = CorpusWatcher.refreshDecisions(session, refreshDir)
        .select(col("batch_id").cast("long").as("batch_id"),
          col("artifact"), col("due"))
        .where(col("batch_id") >= minBatchId)
      val mx = d.agg(max("batch_id")).head()
      if (mx.isNullAt(0)) None
      else {
        val b = mx.getLong(0)
        val due = d.where(col("batch_id") === b &&
          col("artifact") === artifact && col("due")).limit(1).count() > 0
        if (due) Some(b) else None
      }
    }
  }

  /** ACT on the refresh decision: when [[latestDue]] says the index
    * artifact drifted, retrain the quantizers over `embeddings` (the
    * current raw corpus — retraining needs raw vectors, which the
    * serving tables deliberately don't keep) into a VERSIONED sibling
    * `artifactsRoot/v<decidingBatch>` and return it; None = nothing
    * due, nothing written. Never swaps in place: stored codes are
    * valid only under the artifacts that produced them (the object
    * doc's offline-rebuild contract), so serving re-points at the
    * returned dir — old serving keeps answering from the old version
    * until then, and an interrupted rebuild leaves the live version
    * (and the current pointer) untouched. Idempotent per decision: a
    * re-run overwrites the same `v<batch>` dir.
    *
    * With `repoint` (the default) the swap is a RECORDED contract, not
    * caller convention: after BOTH artifact tables are durably
    * written, [[ArtifactVersions.repoint]] atomically commits
    * `v<batch>` as the root's current version — the pointer write is
    * the last step, so a crash anywhere earlier leaves serving
    * ([[servingDir]] readers) on the previous version, and the old
    * version dir stays readable for in-flight queries either way.
    *
    * `keepVersions` bounds the version history: after the repoint,
    * [[ArtifactVersions.prune]] reclaims all but the newest N dirs
    * (never the pointer target) — without it every due rebuild leaks a
    * version dir forever on a long-running stream. The default keeps
    * everything, the module's never-touch-old-versions stance; opt in
    * once in-flight readers re-resolve [[servingDir]] between
    * rebuilds. */
  def rebuildIfDue(
      session: SparkSession,
      refreshDir: String,
      embeddings: DataFrame,
      artifactsRoot: String,
      m: Int = 4,
      residual: Boolean = false,
      minBatchId: Long = 1L,
      repoint: Boolean = true,
      keepVersions: Option[Int] = None): Option[String] =
    latestDue(session, refreshDir, "index", minBatchId).map { batch =>
      val out = s"$artifactsRoot/v$batch"
      if (residual) {
        val (coarse, _, books, _) = Similarity.ivfpqResidualModel(embeddings, m = m)
        coarse.write.mode("overwrite").parquet(s"$out/coarse_centroids")
        books.write.mode("overwrite").parquet(s"$out/codebooks")
      } else {
        val (coarse, _) = Similarity.kmeansModel(embeddings)
        val (books, _) = Similarity.pqModel(embeddings, m = m)
        coarse.write.mode("overwrite").parquet(s"$out/coarse_centroids")
        books.write.mode("overwrite").parquet(s"$out/codebooks")
      }
      if (repoint) ArtifactVersions.repoint(session, artifactsRoot, s"v$batch")
      keepVersions.foreach(kp => ArtifactVersions.prune(session, artifactsRoot, kp))
      out
    }

  /** Export the indexer's ACCUMULATED serving tables as a
    * cell-partitioned [[Similarity.saveAnnStore]] store — the
    * embedding-side sibling of [[graft.index.IndexStore
    * .saveSearchPageStoreFromIndex]]: the watcher maintains the
    * assignment/code tables under `batch_id=N` partitions (the replay
    * idempotence layout), which a per-query read cannot prune by cell;
    * this re-keys the CURRENT accumulation into `cell_id=` directories
    * so [[Similarity.ivfpqTopKFromStore]] serves each query from ≤
    * nprobe directories. Cost: one keyed join + one repartition write
    * of the accumulated tables, paid per export, never per query.
    * Re-export on refresh — the search-page-store cadence. Rows ride
    * through verbatim (including any re-uploaded vec_ids, exactly as
    * the accumulated-dir search faces see them). */
  def exportAnnStore(
      session: SparkSession,
      artifactsDir: String,
      assignmentsDir: String,
      codesDir: String,
      path: String): Unit =
    Similarity.saveAnnStore(
      session.read.parquet(s"$artifactsDir/coarse_centroids"),
      session.read.parquet(assignmentsDir).select("vec_id", "cell_id"),
      session.read.parquet(s"$artifactsDir/codebooks"),
      session.read.parquet(codesDir).select("vec_id", "subspace", "code"),
      path)

  /** The artifacts dir serving should read from: the root's recorded
    * current version ([[ArtifactVersions.currentDir]]), or the root
    * itself before any rebuild has committed — the cold-start layout,
    * where the offline training job wrote `coarse_centroids`/
    * `codebooks` directly under the root. Resolve once per indexer or
    * search-session bootstrap (a metadata read), then pass the
    * resolved dir to [[startJsonl]] / the search faces as today. */
  def servingDir(session: SparkSession, artifactsRoot: String): String =
    ArtifactVersions.currentDir(session, artifactsRoot).getOrElse(artifactsRoot)
}
