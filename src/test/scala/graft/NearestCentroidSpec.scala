package graft

import org.apache.spark.sql.functions._

import graft.functions.NearestCentroid
import SparkSpec.spark.implicits._

/** The row-local E-step ([[graft.functions.NearestCentroid]]) must
  * decide EXACTLY like the join-explode + max_by/min_by aggregate it
  * replaced — same rounded scores, same (score, cell) total order,
  * same null edges — or every Lloyd-trained oracle family drifts. */
class NearestCentroidSpec extends SparkSpec {

  private def round6(c: org.apache.spark.sql.Column) = round(c, 6)

  test("cosine mode ≡ join + max_by(struct(ccos, -cell)) on 200 random vectors") {
    val rnd = new scala.util.Random(7)
    val d = 16
    // plus one NaN-containing vector: Spark's `n * cn > 0` holds for a
    // NaN norm product, so its candidates score NaN, not NULL
    val vecs = ((1L to 200L).map(i => (i, Seq.fill(d)(rnd.nextDouble() * 4 - 2))) :+
        (201L, Seq.fill(d)(0.5).updated(3, Double.NaN)))
      .toDF("vec_id", "v")
      .select(col("vec_id"), col("v"),
        sqrt(graft.functions.VectorFunctions.dotp(col("v"), col("v"))).as("n"))
    val cents = ((1L to 9L).map(c => (c, Seq.fill(d)(rnd.nextDouble() * 4 - 2))) :+
        (10L, Seq.fill(d)(0.0))) // zero-norm centroid: NULL ccos candidate
      .toDF("cell_id", "cv")
      .select(col("cell_id"), col("cv"),
        sqrt(graft.functions.VectorFunctions.dotp(col("cv"), col("cv"))).as("cn"))
    val agg = vecs.join(broadcast(cents))
      .select(col("vec_id"), col("cell_id"),
        when(col("n") * col("cn") > 0,
          round6(graft.functions.VectorFunctions.dotp(col("v"), col("cv")) /
            (col("n") * col("cn")))).as("ccos"))
      .groupBy("vec_id")
      .agg(max_by(struct(col("cell_id"), col("ccos")),
        struct(col("ccos"), (-col("cell_id")).as("nc"))).as("best"))
      .select(col("vec_id"), col("best.cell_id"), col("best.ccos"))
      .as[(Long, Long, Option[Double])].collect()
    val cs = cents.agg(collect_list(struct(col("cell_id"), col("cv"), col("cn"))).as("cs"))
    val native = vecs.join(broadcast(cs))
      .select(col("vec_id"), NearestCentroid.cosine(col("v"), col("n"), col("cs")).as("b"))
      .select(col("vec_id"), col("b.cell_id"), col("b.score"))
      .as[(Long, Long, Option[Double])].collect()
    // compare score bits: tuple == treats NaN != NaN
    def bits(rows: Array[(Long, Long, Option[Double])]) =
      rows.map { case (v, c, s) => (v, c, s.map(java.lang.Double.doubleToLongBits)) }.toSet
    assert(agg.exists(_._3.exists(_.isNaN))) // the NaN row reaches the NaN path
    assert(bits(native) === bits(agg))
  }

  test("L2 mode ≡ join + min_by(struct(d2, cell)) on 200 random sub-vectors") {
    val rnd = new scala.util.Random(11)
    val d = 8
    val vecs = (1L to 200L).map(i => (i, Seq.fill(d)(rnd.nextDouble() * 4 - 2)))
      .toDF("vec_id", "sv")
      .select(col("vec_id"), col("sv"),
        graft.functions.VectorFunctions.dotp(col("sv"), col("sv")).as("xx"))
    val cents = (1L to 7L).map(c => (c, Seq.fill(d)(rnd.nextDouble() * 4 - 2)))
      .toDF("cell_id", "cv")
      .select(col("cell_id"), col("cv"),
        graft.functions.VectorFunctions.dotp(col("cv"), col("cv")).as("cc"))
    val agg = vecs.join(broadcast(cents))
      .select(col("vec_id"), col("cell_id"),
        round6(col("xx") - lit(2.0) *
          graft.functions.VectorFunctions.dotp(col("sv"), col("cv")) + col("cc")).as("d2"))
      .groupBy("vec_id")
      .agg(min_by(struct(col("cell_id"), col("d2")),
        struct(col("d2"), col("cell_id"))).as("best"))
      .select(col("vec_id"), col("best.cell_id"), col("best.d2"))
      .as[(Long, Long, Option[Double])].collect().toSet
    val cs = cents.agg(collect_list(struct(col("cell_id"), col("cv"), col("cc"))).as("cs"))
    val native = vecs.join(broadcast(cs))
      .select(col("vec_id"), NearestCentroid.l2(col("sv"), col("xx"), col("cs")).as("b"))
      .select(col("vec_id"), col("b.cell_id"), col("b.score"))
      .as[(Long, Long, Option[Double])].collect().toSet
    assert(native === agg)
  }

  test("edges: zero-norm vector assigns to the lowest cell with NULL score; empty model yields NULL") {
    val vecs = Seq((1L, Seq(0.0, 0.0))).toDF("vec_id", "v")
      .select(col("vec_id"), col("v"),
        sqrt(graft.functions.VectorFunctions.dotp(col("v"), col("v"))).as("n"))
    val cents = Seq((5L, Seq(1.0, 0.0)), (3L, Seq(0.0, 1.0))).toDF("cell_id", "cv")
      .select(col("cell_id"), col("cv"),
        sqrt(graft.functions.VectorFunctions.dotp(col("cv"), col("cv"))).as("cn"))
    val cs = cents.agg(collect_list(struct(col("cell_id"), col("cv"), col("cn"))).as("cs"))
    val got = vecs.join(broadcast(cs))
      .select(NearestCentroid.cosine(col("v"), col("n"), col("cs")).as("b"))
      .select(col("b.cell_id"), col("b.score"))
      .as[(Long, Option[Double])].head()
    assert(got === ((3L, None)), "all-NULL scores still assign: lowest cell, NULL score")
    val empty = cents.filter(lit(false))
      .agg(collect_list(struct(col("cell_id"), col("cv"), col("cn"))).as("cs"))
    val none = vecs.join(broadcast(empty))
      .select(NearestCentroid.cosine(col("v"), col("n"), col("cs")).as("b"))
      .filter(col("b").isNotNull)
    assert(none.count() === 0L, "an empty model matches the join form's no-row output")
  }
}
