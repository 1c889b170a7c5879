package graft
import org.apache.spark.sql.SparkSession

/** The one session config every main and the test session build from,
  * so what Verify checks and what Bench times is the same engine.
  * Its only input is the core count: `local[N]` with N shuffle
  * partitions. Callers add their own extras (warehouse dir, log level)
  * before `getOrCreate()`. */
object GraftSession {

  /** Dev-loop query subset: SPARK_GRAFT_ONLY=q_a,q_b (names trimmed,
    * empty names dropped); unset (None) runs every query. */
  def only: Option[Set[String]] = sys.env.get("SPARK_GRAFT_ONLY")
    .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)

  /** `local[cpus]`, `cpus` shuffle partitions and the engine's settings. */
  def builder(cpus: Int): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.ui.enabled", "false")
    // UI events carry a plan description generated PER ACTION even with
    // the UI disabled; the default "formatted" mode runs ExplainUtils'
    // operator-ID walk, which is super-linear on deep staged/cached plan
    // trees (a measured multi-minute single-thread stall per streaming
    // batch at full-stack depth). "simple" keeps the event linear.
    .config("spark.sql.ui.explainMode", "simple")
    // Relational.events' NTZ->TIMESTAMP cast is session-tz-dependent;
    // pin UTC so every session derives the same ts_ns on any host
    .config("spark.sql.session.timeZone", "UTC")
    // InferFiltersFromGenerate substitutes the full generator expression
    // into an inferred size()>0 filter; for our explode-of-computed-array
    // plans (shingles, bands) that re-runs the tokenizer per lambda
    // iteration — 10-20x on the dedup queries. Our generated arrays are
    // never null/empty, so the inferred filter only costs.
    .config("spark.sql.optimizer.excludedRules",
      "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
    // collect_list/collect_set aggregations (ObjectHashAggregate) fall
    // back to sort-based aggregation after 128 distinct keys by
    // default; the external sort then hammers the single local-mode
    // MemoryManager lock (measured futex storms, 4-10x slowdowns).
    // Single-node with a large heap: keep the object hash map.
    // On a real cluster, size this to executor memory instead.
    .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "10000000")
    // only matters if events.parquet is INT64-nanos (the reader
    // adapts to TIMESTAMP micros too — Relational.events); harmless
    // otherwise, session-level by the set-at-build-time rule
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")

  /** The mains' session: SPARK_GRAFT_CPUS cores (default 4), WARN logging. */
  def local(): SparkSession = {
    val spark = builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").trim.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
