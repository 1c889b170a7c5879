package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.functions.TopKByScore
import graft.index.InvertedIndex
import SparkSpec.spark.implicits._

class TopKByScoreSpec extends SparkSpec {

  test("bounded-heap top-k equals the window formulation on random data") {
    val rnd = new scala.util.Random(7)
    val rows = (1 to 2000).map { i =>
      (s"w${rnd.nextInt(50)}", i.toLong, (rnd.nextInt(10) + 1).toLong)
    }
    val idx = rows.toDF("word", "doc_id", "cnt")
    val viaWindow = InvertedIndex.topK(idx, 3)
      .select("word", "doc_id", "cnt", "rank").as[(String, Long, Long, Int)].collect().toSet
    val viaAgg = InvertedIndex.topKAggregated(idx, 3)
      .select("word", "doc_id", "cnt", "rank").as[(String, Long, Long, Int)].collect().toSet
    assert(viaAgg === viaWindow)
  }

  test("heap evicts by (score asc, id desc): ties keep the LOWEST ids") {
    val df = Seq(("g", 1L, 5L), ("g", 2L, 5L), ("g", 3L, 5L), ("g", 4L, 9L))
      .toDF("g", "id", "score")
    val got = df.groupBy("g")
      .agg(TopKByScore.topK(col("score"), col("id"), 2).as("top"))
      .select(explode(col("top")).as("e")).select("e.score", "e.id")
      .as[(Long, Long)].collect().toSeq
    assert(got === Seq((9L, 4L), (5L, 1L))) // best first; tie -> lowest id
  }

  test("double scores: equals the window formulation, negatives and ties included") {
    val rnd = new scala.util.Random(13)
    // mixed-sign doubles with engineered ties exercise the IEEE-754
    // order-preserving twist (negatives flip magnitude order) and the
    // lowest-id tiebreak
    val rows = (1 to 2000).map { i =>
      (s"g${rnd.nextInt(40)}", i.toLong,
        math.round(rnd.nextDouble() * 40 - 20) / 10.0) // -2.0..2.0 step .1 → ties
    }
    val df = rows.toDF("g", "id", "score")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("g").orderBy(col("score").desc, col("id").asc)
    val viaWindow = df.withColumn("rank", row_number().over(w)).filter(col("rank") <= 3)
      .select("g", "id", "score", "rank").as[(String, Long, Double, Int)].collect().toSet
    val viaAgg = df.groupBy("g")
      .agg(TopKByScore.topK(col("score"), col("id"), 3).as("top"))
      .select(col("g"), posexplode(col("top")).as(Seq("i", "e")))
      .select(col("g"), col("e.id"), col("e.score"), (col("i") + 1).cast("int"))
      .as[(String, Long, Double, Int)].collect().toSet
    assert(viaAgg === viaWindow)
  }

  test("double scores survive the heap bit-exactly (twist is an involution)") {
    // no -0.0: Spark normalizes it to +0.0 in UnsafeRow writes before
    // any expression sees it (SPARK-26021)
    val vals = Seq(-math.Pi, -1e300, 0.0, 1e-300, math.E, Double.MinPositiveValue)
    val df = vals.zipWithIndex.map { case (v, i) => ("g", i.toLong, v) }
      .toDF("g", "id", "score")
    val got = df.groupBy("g")
      .agg(TopKByScore.topK(col("score"), col("id"), 10).as("top"))
      .select(explode(col("top.score")).as("s")).as[Double].collect().toSet
    assert(got.map(java.lang.Double.doubleToRawLongBits) ===
      vals.map(java.lang.Double.doubleToRawLongBits).toSet)
  }

  test("string ids: equals the window formulation, byte-order tiebreak") {
    val rnd = new scala.util.Random(17)
    // string doc ids (the reference keys documents by filename) with
    // engineered score ties so the UTF8String tiebreak decides
    val rows = (1 to 2000).map { i =>
      (s"w${rnd.nextInt(50)}", f"doc_${rnd.nextInt(300)}%03d.txt", (rnd.nextInt(5) + 1).toLong)
    }
    val idx = rows.toDF("word", "doc_id", "cnt")
      .groupBy("word", "doc_id").agg(max("cnt").as("cnt")) // unique (word, doc)
    val viaWindow = InvertedIndex.topK(idx, 3)
      .select("word", "doc_id", "cnt", "rank").as[(String, String, Long, Int)].collect().toSet
    val viaAgg = InvertedIndex.topKAggregated(idx, 3)
      .select("word", "doc_id", "cnt", "rank").as[(String, String, Long, Int)].collect().toSet
    assert(viaAgg === viaWindow)
  }

  test("topKAggregated ranks a filename-keyed BatchJob index like the window path") {
    val d = tempDir("graft-topk-batch-")
    Files.write(Paths.get(d.toString, "a.txt"), "cat dog cat cat".getBytes)
    Files.write(Paths.get(d.toString, "b.txt"), "dog cat".getBytes)
    Files.write(Paths.get(d.toString, "c.txt"), "cat bird bird".getBytes)
    val idx = BatchJob.run(spark, d.toString, Seq("a.txt", "b.txt", "c.txt"), 2, 2)
    val viaWindow = InvertedIndex.topK(idx, 2)
      .select("word", "doc_id", "cnt", "rank").as[(String, String, Long, Int)].collect().toSet
    val viaAgg = InvertedIndex.topKAggregated(idx, 2)
      .select("word", "doc_id", "cnt", "rank").as[(String, String, Long, Int)].collect().toSet
    assert(viaAgg === viaWindow)
    // ties on cnt resolve to the lexicographically smallest filename first
    assert(viaAgg.contains(("dog", "a.txt", 1L, 1)) && viaAgg.contains(("dog", "b.txt", 1L, 2)))
  }

  test("SQL surface: graft_top_k aggregate callable from spark.sql") {
    graft.plans.GraftExtensions.install(spark)
    Seq(("g", 1L, 5L), ("g", 2L, 9L), ("g", 3L, 5L), ("h", 4L, 1L))
      .toDF("g", "id", "score").createOrReplaceTempView("topk_input")
    val got = spark.sql(
      """SELECT g, e.id, e.score FROM (
        |  SELECT g, explode(graft_top_k(score, id, 2)) AS e
        |  FROM topk_input GROUP BY g)""".stripMargin)
      .as[(String, Long, Long)].collect().toSet
    assert(got === Set(("g", 2L, 9L), ("g", 1L, 5L), ("h", 4L, 1L)))
    // k must be a literal — it sizes the heap at plan time
    val e = intercept[Exception] {
      spark.sql("SELECT g, graft_top_k(score, id, id) FROM topk_input GROUP BY g").collect()
    }
    assert(e.getMessage.contains("integer literal"), e.getMessage)
  }

  test("groups smaller than k emit all rows; nulls are skipped") {
    val df = Seq(("g", Some(1L), Some(3L)), ("g", Some(2L), None), ("h", Some(9L), Some(1L)))
      .toDF("g", "id", "score")
    val got = df.groupBy("g")
      .agg(TopKByScore.topK(col("score"), col("id"), 5).as("top"))
      .select(col("g"), size(col("top")).as("n")).as[(String, Int)].collect().toMap
    assert(got === Map("g" -> 1, "h" -> 1))
  }
}
