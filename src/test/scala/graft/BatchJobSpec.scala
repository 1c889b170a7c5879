package graft

import java.nio.file.{Files, Paths}

import SparkSpec.spark.implicits._

class BatchJobSpec extends SparkSpec {

  private def corpusDir(): String = {
    val d = tempDir("graft-batch-")
    Files.write(Paths.get(d.toString, "a.txt"), "cat dog cat".getBytes)
    Files.write(Paths.get(d.toString, "b.txt"), "dog bird".getBytes)
    Files.write(Paths.get(d.toString, "c.txt"), "cat".getBytes)
    d.toString
  }

  test("explicit-topology run matches the implicit build, file subset respected") {
    val dir = corpusDir()
    val got = BatchJob.run(spark, dir, Seq("a.txt", "b.txt"), 3, 2)
      .as[(String, String, Long)].collect().toSet
    assert(got === Set(
      ("cat", "a.txt", 2L), ("dog", "a.txt", 1L), ("dog", "b.txt", 1L), ("bird", "b.txt", 1L)))
  }

  test("reducer count drives the counting shuffle; caller session conf untouched") {
    val dir = corpusDir()
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    val df = BatchJob.run(spark, dir, Seq("a.txt", "b.txt", "c.txt"), 2, 3)
    val plan = df.queryExecution.executedPlan.toString
    // the aggregation exchange must carry exactly R=3 partitions
    assert(plan.contains("hashpartitioning(word") && plan.contains(", 3)"),
      s"reducer shuffle not pinned to 3 in:\n$plan")
    // mapper fan-out: the pre-shuffle stage has exactly M=2 splits
    assert(plan.contains("RoundRobinPartitioning(2), REPARTITION_BY_NUM"),
      s"mapper repartition not pinned to 2 in:\n$plan")
    assert(df.count() === 5) // (cat,a) (dog,a) (dog,b) (bird,b) (cat,c)
    assert(spark.conf.get("spark.sql.shuffle.partitions") === before)
  }
}
