package graft
import java.nio.file.{Files, Paths}

/** Dev tool: [[Verify]] for a SUBSET of queries — dump each named
  * query's result parquet plus its oracle SQL, for a local DuckDB
  * compare while iterating (the full Verify runs all ~270;
  * a new operator needs a seconds-long loop, not minutes).
  * Usage: runMain graft.VerifyOne <outDir> <query> [query ...]
  * (sfDir via SPARK_GRAFT_SF_DIR, default sf0.01; Verify's session). */
object VerifyOne {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val names = args.drop(1).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      SparkEntry.queries(name)(spark, sfDir).coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/$name")
      SparkEntry.oracleSql.get(name).foreach(sql =>
        Files.writeString(Paths.get(s"$outDir/$name.sql"), sql))
      println(s"[verify-one] wrote $outDir/$name")
    }
    spark.stop()
  }
}
