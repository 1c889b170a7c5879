package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Curation

/** ACT on a classifier refresh decision — the FOURTH artifact family's
  * drift loop, closing the asymmetry the selection-loop work exposed:
  * the index rebuilds ([[EmbeddingIndexer.rebuildIfDue]]), the
  * tokenizer retrains ([[TokenizerRefresher.retrainIfDue]]), but the
  * quality classifier — the one artifact that now GATES what enters
  * the corpus, in the batch chain and on the stream — was trained once
  * and served forever, so label/domain drift silently degraded the
  * gate itself.
  *
  * The loop: [[graft.ops.Curation.classifierDriftSignals]] measures
  * each batch's per-source drop rate under the serving gate →
  * [[graft.ops.TextAnalysis.refreshDue]] records the decision
  * (`classifier:<source>` rows in the stream's refresh dir, the
  * [[CorpusWatcher.Refresh]] `classifierDrift` opt-in) → HERE the
  * due decision retrains [[graft.ops.Curation.classifierWeights]] over
  * CURRENT labeled corpora, RE-SWEEPS the operating point against the
  * new weights (a retrained scorer's logit scale moves — carrying the
  * old bias forward would gate at an unvalidated point, the exact
  * mistake the selection loop exists to prevent), and versions both
  * behind the [[ArtifactVersions]] pointer.
  *
  * Versioning contract (the rebuildIfDue discipline): artifacts land
  * at `versionsRoot/v<decidingBatch>/{weights, operating_point}`; the
  * pointer repoint is the LAST step, so an interrupted retrain leaves
  * serving on the old version, and a replayed decision overwrites its
  * own version dir. Serving resolves once per bootstrap through
  * [[servingGate]] — never on the per-batch path.
  *
  * Scale stance: training is [[graft.ops.Curation.classifierWeights]]'
  * two tokenize scans + bucket-keyed combinable groupBys; the sweep is
  * one scan × the broadcast grid; both artifacts are KB-sized writes.
  * Retraining is an offline act — nothing here touches the ingest
  * path, exactly like the ANN rebuild.
  */
object ClassifierRefresher {

  /** Retrain + version the classifier named `artifact` (the
    * [[graft.ops.Curation.classifierDriftSignals]] naming, e.g.
    * `classifier:web`) when the LATEST recorded decision says it
    * drifted. Returns the new version dir; None = not due, nothing
    * written.
    *
    * @param pos / neg CURRENT labeled training corpora (`doc_id`,
    *   `text`) — positive = "looks like the data I want"
    * @param versionsRoot versioned artifact root; this decision's
    *   artifacts land under `versionsRoot/v<batch>/`
    * @param labeled held-out scored-and-labeled docs (`doc_id`,
    *   `text`, `actual`) for the RE-SWEEP: when present, the new
    *   weights score it, [[graft.ops.Curation.thresholdSweep]] +
    *   [[graft.ops.Curation.operatingPoint]] pick the new validated
    *   bias, and the winning row is stored as
    *   `v<batch>/operating_point` (empty when no threshold qualifies —
    *   [[servingGate]] then falls back to its default bias). Omitted =
    *   weights only; the caller owns re-validation.
    * @param groupCol when the DEPLOYED gate thresholds per group (the
    *   r17 `groupBiases` mode), pass the group column of `labeled` and
    *   the retrain also re-sweeps PER GROUP
    *   ([[graft.ops.Curation.operatingPointsBy]]) into
    *   `v<batch>/operating_points_by` — so a per-language/per-source
    *   deployment's whole operating-point TABLE refreshes with the
    *   weights, not just the scalar default. [[servingGate]] loads it
    *   as the gate's `groupBiases` automatically.
    * @param minBatchId cold-start guard, the
    *   [[EmbeddingIndexer.latestDue]] contract
    * @param repoint atomically commit `v<batch>` as current AFTER both
    *   artifacts are durably written; false = version without serving
    *   (the blue/green staging face)
    * @param keepVersions retention: after the repoint,
    *   [[ArtifactVersions.prune]] reclaims all but the newest N
    *   version dirs (never the pointer target) — without it every due
    *   retrain leaks a version dir forever. None (default) keeps
    *   everything.
    */
  def retrainIfDue(
      session: SparkSession,
      refreshDir: String,
      artifact: String,
      pos: DataFrame,
      neg: DataFrame,
      versionsRoot: String,
      buckets: Int = 1024,
      labeled: Option[DataFrame] = None,
      groupCol: Option[String] = None,
      thresholds: Seq[Double] = Seq(-2.0, -1.0, 0.0, 1.0, 2.0),
      objective: Curation.OpObjective = Curation.OpObjective.MaxF1,
      minBatchId: Long = 1L,
      repoint: Boolean = true,
      keepVersions: Option[Int] = None): Option[String] =
    EmbeddingIndexer.latestDue(session, refreshDir, artifact, minBatchId).map { batch =>
      val out = s"$versionsRoot/v$batch"
      Curation.classifierWeights(pos, neg, buckets)
        .coalesce(1).write.mode("overwrite").parquet(s"$out/weights")
      labeled.foreach { lb =>
        // score against the COMMITTED artifact (read back), not the
        // lazy training frame — the stored point must describe exactly
        // the weights a reader of this version will serve. Scored once
        // (checkpointed, eval-sized) — the global point and the
        // per-group table both consume it.
        val keep = col("doc_id") +: col("actual") +: groupCol.map(col).toSeq
        val scored = graft.core.Materialize(
          Curation.classifierScore(lb, session.read.parquet(s"$out/weights"), buckets)
            .join(lb.select(keep: _*), Seq("doc_id")))
        Curation.operatingPoint(Curation.thresholdSweep(scored, thresholds), objective)
          .coalesce(1).write.mode("overwrite").parquet(s"$out/operating_point")
        groupCol.foreach { g =>
          Curation.operatingPointsBy(
              Curation.thresholdSweepBy(scored, thresholds, g), g, objective)
            .coalesce(1).write.mode("overwrite").parquet(s"$out/operating_points_by")
        }
      }
      if (repoint) ArtifactVersions.repoint(session, versionsRoot, s"v$batch")
      keepVersions.foreach(kp => ArtifactVersions.prune(session, versionsRoot, kp))
      out
    }

  /** The artifact dir serving should read from: the root's recorded
    * current version, or the root itself before any retrain has
    * committed (cold start: the offline trainer wrote `weights` — and
    * optionally `operating_point` — directly under the root). */
  def servingDir(session: SparkSession, versionsRoot: String): String =
    ArtifactVersions.currentDir(session, versionsRoot).getOrElse(versionsRoot)

  /** The SERVING GATE resolved from the version pointer — what a
    * streaming deployment passes as [[CorpusWatcher.startJsonl]]'s
    * `classifierGate` (as the constant provider `_ => gate`): weights from `servingDir/weights`, bias from
    * the stored `servingDir/operating_point` when one exists (and is
    * non-empty), else `defaultBias`. Resolve once per stream/session
    * bootstrap — a metadata read plus a KB-sized parquet load — then
    * the gate broadcasts into every batch as always. Per-group points:
    * an explicit `groupBiases` wins; otherwise a stored
    * `operating_points_by` table under the serving dir (written by a
    * `groupCol`-aware retrain) is loaded automatically, its first
    * column re-keyed to `groupCol` — the per-group deployment's whole
    * threshold table refreshes with the weights. */
  def servingGate(
      session: SparkSession,
      versionsRoot: String,
      buckets: Int = 1024,
      defaultBias: Double = 0.0,
      groupBiases: Option[DataFrame] = None,
      groupCol: String = "source"): Curation.ClassifierGate = {
    val dir = servingDir(session, versionsRoot)
    val conf = session.sessionState.newHadoopConf()
    val opPath = new org.apache.hadoop.fs.Path(s"$dir/operating_point")
    val fs = opPath.getFileSystem(conf)
    val bias =
      if (!fs.exists(opPath)) defaultBias
      else session.read.parquet(s"$dir/operating_point")
        .select("threshold").collect().headOption
        .map(_.getDouble(0)).getOrElse(defaultBias)
    // explicit groupBiases win; else a stored per-group table serves
    // (first column re-keyed to this deployment's groupCol — the
    // retrain-time and serving-time names need not match)
    val gb = groupBiases.orElse {
      val gbPath = new org.apache.hadoop.fs.Path(s"$dir/operating_points_by")
      if (!gbPath.getFileSystem(conf).exists(gbPath)) None
      else {
        val stored = session.read.parquet(s"$dir/operating_points_by")
        Some(stored.select(col(stored.columns.head).as(groupCol), col("threshold")))
      }
    }
    Curation.ClassifierGate(session.read.parquet(s"$dir/weights"),
      buckets, bias, gb, groupCol)
  }

  /** [[servingGate]] as a LIVE provider — what a streaming deployment
    * passes as [[CorpusWatcher.startJsonl]]'s `classifierGate` so the
    * drift loop closes WITHOUT a stream restart: a frozen gate (a
    * constant provider) serves the bootstrap-time weights for the
    * stream's lifetime, so [[retrainIfDue]]'s repoint only took effect
    * at the next restart — the loop's last seam (r18 verdict #3).
    * Each call re-reads the version POINTER (one metadata read, the
    * per-batch cost) and reloads the gate ONLY when the pointer moved
    * since the last call — an unchanged pointer costs no parquet read,
    * a repointed one makes the NEXT batch serve the new weights and
    * their re-swept operating points. Explicit `groupBiases` freeze
    * that table across versions; leave None to refresh it from each
    * version's stored `operating_points_by` (the usual deployment). */
  def servingGateProvider(
      versionsRoot: String,
      buckets: Int = 1024,
      defaultBias: Double = 0.0,
      groupBiases: Option[DataFrame] = None,
      groupCol: String = "source"): SparkSession => Curation.ClassifierGate = {
    val cache = new java.util.concurrent.atomic
      .AtomicReference[(Option[String], Curation.ClassifierGate)]()
    session => {
      val v = ArtifactVersions.current(session, versionsRoot)
      val hit = cache.get()
      if (hit != null && hit._1 == v) hit._2
      else {
        val g = servingGate(session, versionsRoot, buckets, defaultBias,
          groupBiases, groupCol)
        cache.set((v, g))
        g
      }
    }
  }
}
