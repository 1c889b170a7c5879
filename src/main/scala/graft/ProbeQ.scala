package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Dev profiler (not part of the driver contract): for each named
  * query, split bench time into fn() construction (eager work: store
  * saves, localCheckpoints, collects) vs the final count() action, and
  * record Spark job/stage/task counts per phase. Bench's session
  * ([[GraftSession]]), SPARK_GRAFT_ONLY-style name list as args,
  * min-of-REPS per phase printed per rep so warmup is visible.
  * Usage: runMain graft.ProbeQ q_a q_b ... */
object ProbeQ {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_PROBE_REPS", "3").toInt
    val spark = GraftSession.local()
    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet(); tasks.addAndGet(sc.stageInfo.numTasks.toLong)
      }
    })
    // warmup (Bench's)
    spark.range(1L << 20).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()
    def snap(): (Int, Int, Long) = (jobs.get(), stages.get(), tasks.get())
    args.foreach { name =>
      val fn = SparkEntry.queries(name)
      (1 to reps).foreach { r =>
        val (j0, s0, t0) = snap()
        val w0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val w1 = System.nanoTime()
        val (j1, s1, t1) = snap()
        df.count()
        val w2 = System.nanoTime()
        Thread.sleep(50) // let listener events drain
        val (j2, s2, t2) = snap()
        println(f"PROBEQ $name%-34s rep$r  fn=${(w1 - w0) / 1e9}%6.2fs (jobs=${j1 - j0}%3d stages=${s1 - s0}%3d tasks=${t1 - t0}%5d)  count=${(w2 - w1) / 1e9}%6.2fs (jobs=${j2 - j1}%3d stages=${s2 - s1}%3d tasks=${t2 - t1}%5d)")
      }
    }
    spark.stop()
  }
}
