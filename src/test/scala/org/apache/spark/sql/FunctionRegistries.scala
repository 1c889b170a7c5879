package org.apache.spark.sql

import org.apache.spark.sql.catalyst.analysis.{SimpleFunctionRegistry, SimpleTableFunctionRegistry}

/** Test access to Spark's `private[sql]` function registries: the names
  * a live session holds, and the names an extension registers when a
  * session is built with `spark.sql.extensions` (its `apply` run on a
  * fresh `SparkSessionExtensions`, read back into empty registries). */
object FunctionRegistries {

  /** (scalar, table-valued) function names registered on `spark`. */
  def of(spark: SparkSession): (Set[String], Set[String]) =
    (spark.sessionState.functionRegistry.listFunction().map(_.funcName).toSet,
      spark.sessionState.tableFunctionRegistry.listFunction().map(_.funcName).toSet)

  /** (scalar, table-valued) function names `extension` injects. */
  def injectedBy(extension: SparkSessionExtensions => Unit): (Set[String], Set[String]) = {
    val ext = new SparkSessionExtensions
    extension(ext)
    (ext.registerFunctions(new SimpleFunctionRegistry).listFunction().map(_.funcName).toSet,
      ext.registerTableFunctions(new SimpleTableFunctionRegistry)
        .listFunction().map(_.funcName).toSet)
  }
}
