package graft
import java.nio.file.{Files, Paths}

/** Dev tool: write `explain("formatted")` of named queries to files —
  * the round's plan-evidence artifacts (`plans/rNN/<q>_<tag>.txt`).
  * Usage: runMain graft.ExplainDump <outDir> <tag> q_a q_b ...
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS. */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val tag = args(1)
    val names = args.drop(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.write(Paths.get(s"$outDir/${name}_$tag.txt"), txt.getBytes("UTF-8"))
      System.err.println(s"[explain] wrote $outDir/${name}_$tag.txt")
    }
    spark.stop()
  }
}
