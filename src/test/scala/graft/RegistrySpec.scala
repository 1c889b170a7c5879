package graft

import org.apache.spark.sql.FunctionRegistries

import graft.plans.GraftExtensions

/** The name registries no query exercises as a whole: the SQL functions
  * (registered two ways) and SparkEntry's queries against their oracle
  * twins. */
class RegistrySpec extends SparkSpec {

  test("spark.sql.extensions registers the same 93 graft_* functions as install") {
    GraftExtensions.install(spark)
    val (scalars, tables) = FunctionRegistries.of(spark)
    val installed = (scalars ++ tables).filter(_.startsWith("graft_"))
    val (extScalars, extTables) = FunctionRegistries.injectedBy(new GraftExtensions)
    assert(extScalars.intersect(extTables).isEmpty)
    assert(extScalars ++ extTables === installed)
    assert(installed.size === 93)
    assert(extTables.size === 88)
    assert(extTables === tables.filter(_.startsWith("graft_")))
  }

  test("argument counts and names come from the signature's all-or-nothing [...] groups") {
    GraftExtensions.install(spark)
    def error(call: String): String =
      intercept[Exception](spark.sql(s"SELECT * FROM $call").collect()).getMessage
    assert(error("graft_minhash_pairs('t', 3)").contains(
      "graft_minhash_pairs(table[, w, k, bands]) takes one or four arguments, got 2"))
    assert(error("graft_dsir('a', 'b', 1, 2, 3)").contains(
      "takes two or three or four arguments, got 5"))
    spark.range(1).createOrReplaceTempView("registry_t")
    assert(error("graft_dsir('registry_t', 'registry_t', 1, 1 + 1)").contains(
      "graft_dsir: k must be an integer literal, got (1 + 1)"))
  }

  test("every SparkEntry query has an oracle twin except q_compression") {
    val queries = SparkEntry.queries.keySet
    val twins = SparkEntry.oracleSql.keySet
    assert(twins.subsetOf(queries), twins -- queries)
    // DEFLATE exists in no SQL engine, so q_compression has no twin;
    // q_compression_proxy is the hash-gated twin of the same signal
    assert(queries -- twins === Set("q_compression"))
  }
}
