package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole test JVM (sbt forks a single
  * test JVM; Spark startup is ~5 s, so suites must not each build one).
  * Config is Bench/Verify's ([[GraftSession]]) at 4 cores, plus a
  * temp warehouse dir, deleted at JVM exit.
  *
  * `SparkSpec.spark` is a stable identifier, so suites can
  * `import SparkSpec.spark.implicits._` at the top of the file.
  */
object SparkSpec {
  lazy val spark: SparkSession = {
    val warehouse = java.nio.file.Files.createTempDirectory("graft-warehouse")
    sys.addShutdownHook(deleteRecursively(warehouse))
    val s = GraftSession.builder(4)
      .config("spark.sql.warehouse.dir", warehouse.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Delete `p` and everything under it; best effort. */
  def deleteRecursively(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    try {
      val walk = java.nio.file.Files.walk(p)
      try walk.iterator().asScala.toVector.reverseIterator
        .foreach(java.nio.file.Files.deleteIfExists(_))
      finally walk.close()
    } catch { case _: java.io.IOException => () }
  }
}

/** Base class: shared session + suite-scoped temp dirs. */
abstract class SparkSpec extends AnyFunSuite with org.scalatest.BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.spark

  private val tempDirs = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]

  /** A temp directory deleted RECURSIVELY in afterAll — deleteOnExit
    * alone never removes a dir that tests wrote trees under (it only
    * deletes empty dirs), so each run would leak one. */
  protected def tempDir(prefix: String): java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    tempDirs.synchronized { tempDirs += p }
    p
  }

  /** (result, jobs, tasks) of `body`: the max-job-id delta, read after
    * draining the listener bus so no finished job is missed. */
  protected def jobsAndTasks[T](body: => T): (T, Int, Int) = {
    val sc = spark.sparkContext
    def maxJobId: Int = {
      org.apache.spark.ListenerBusDrain(sc)
      sc.statusTracker.getJobIdsForGroup(null).foldLeft(-1)(math.max)
    }
    val before = maxJobId
    val r = body
    val after = maxJobId
    val tasks = (before + 1 to after).flatMap(sc.statusTracker.getJobInfo(_))
      .flatMap(_.stageIds).flatMap(sc.statusTracker.getStageInfo(_)).map(_.numTasks).sum
    (r, after - before, tasks)
  }

  /** `body`'s result, asserting that it left nothing cached: the cache
    * manager is cleared first and must be empty afterwards, and no
    * persistent RDD may outlive the call once its frames are
    * unreachable. (An eager local checkpoint registers its blocks as a
    * persistent RDD that Spark holds weakly and drops when the frame is
    * collected, so the check collects garbage before it judges; a cache
    * entry is held strongly and survives that.) */
  protected def leavesNoCache[T](what: String)(body: => T): T = {
    val cache = spark.sharedState.cacheManager
    cache.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val r = body
    assert(cache.isEmpty, s"$what left a cache-manager entry")
    def left = spark.sparkContext.getPersistentRDDs.keySet -- before
    var tries = 0
    while (left.nonEmpty && tries < 20) { System.gc(); Thread.sleep(100); tries += 1 }
    assert(left.isEmpty, s"$what left a persistent RDD")
    r
  }

  override protected def afterAll(): Unit = {
    tempDirs.synchronized(tempDirs.toVector).foreach(SparkSpec.deleteRecursively)
    super.afterAll()
  }
}
