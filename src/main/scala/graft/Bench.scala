package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    // Optional subset for local profiling: SPARK_GRAFT_ONLY=q_a,q_b
    val only = GraftSession.only
    val selected = SparkEntry.queries.filter { case (n, _) => only.forall(_.contains(n)) }
    // Untimed warmup: JVM/codegen/parquet-reader init otherwise lands on
    // whichever query happens to run first (~4 s of pure warmup).
    spark.range(1L << 20).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()
    // Best-of-N per query: pass 1 warms codegen/JIT for each plan shape,
    // later passes measure steady state; min() suppresses host-level
    // noise (this box shows 1.5-2x drift and multi-second stalls between
    // identical runs). Labeled in the output ("runs"/"agg").
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt.max(1)
    // a failed query must NOT enter the min as its (fast) failure time —
    // that would report a broken query as a speedup; poison it instead
    // and list it in a "failures" field
    val Poison = 1e9
    def onePass(): Map[String, Double] = selected.map { case (name, fn) =>
      val t0 = System.nanoTime()
      val ok = try { fn(spark, sfDir).count(); true } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}"); false }
      name -> (if (ok) (System.nanoTime() - t0) / 1e9 else Poison)
    }
    val passes = (1 to runs).map(_ => onePass())
    val results = passes.head.keys.map { k => k -> passes.map(_(k)).min }.toMap
    val failures = results.collect { case (k, v) if v >= Poison => k }.toSeq.sorted
    // The driver's artifact keeps only the LAST ~2000 chars of stdout
    // (BENCH_r04's "tail" cut the first per-query entry and never
    // parsed). Budget: 70+ queries must fit with the sbt "[success]"
    // trailer, so the machine line is COMPACT — ms-precision values
    // (host noise is ±15%, 3 decimals lose nothing) and a basename sf.
    // The full-precision map goes to stderr for humans.
    def c(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = results.toSeq.sortBy(_._1).map { case (k, v) => s"\"$k\":${c(v)}" }
      .mkString("{", ",", "}")
    val fs = failures.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    val sfName = sfDir.split('/').filter(_.nonEmpty).lastOption.getOrElse(sfDir)
    System.err.println(s"[bench] full-precision: " +
      results.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(" "))
    val line = s"""{"metric":"total","value":${c(total)},"unit":"sec","queries":$qs,"sf":"$sfName","runs":$runs,"agg":"min","failures":$fs}"""
    println(line)
    // The driver's console capture has truncated this line before
    // (BENCH_r08 lost 11 per-query entries + the total off the head of
    // its tail window). Persist the identical artifact to a file so a
    // complete copy always exists regardless of capture-window size.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LAST.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (line + "\n").getBytes("UTF-8"))
    catch { case e: java.io.IOException =>
      System.err.println(s"[bench] could not write $outPath: $e") }
    spark.stop()
  }
}
