package graft.streaming

import scala.util.matching.Regex

import org.apache.hadoop.fs.{ChecksumFileSystem, FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.SparkSession

/** The CURRENT-VERSION pointer for versioned artifact roots — the
  * contract [[EmbeddingIndexer.rebuildIfDue]] /
  * [[TokenizerRefresher.retrainIfDue]] rebuilds were missing: they
  * write `v<batch>` siblings and "the caller re-points", but a
  * convention nothing records means a restart can silently serve stale
  * artifacts. Here the pointer is a FILE under the root
  * (`.current_version`, holding the version name), so which version
  * serves is persisted state any process can resolve, not a variable
  * in whoever launched the rebuild.
  *
  * Swap protocol: the new pointer body is written to a dot-prefixed
  * temp file and renamed over `.current_version` ([[replace]]), so a
  * reader sees either the old pointer or the new one, never a partial
  * body and never a missing file mid-swap. A rebuild that dies BEFORE
  * repointing leaves the pointer (and therefore serving) on the old
  * version — the blue/green property; old version dirs are never
  * touched, so in-flight readers of the previous version keep working
  * until their next [[currentDir]] resolution.
  *
  * The same write-temp / rename-over / read-pointer /
  * keep-newest-N-but-never-the-current code publishes
  * [[CorpusWatcher]]'s index snapshots (`LATEST` → `snap-<id>`), once
  * per batch; here the pointer is metadata-sized and read once per
  * serving-session bootstrap. */
object ArtifactVersions {

  private val PointerName = ".current_version"
  private val Version = "^v(\\d+)(\\..+)?$".r

  /** Atomically record `version` (a child name under `root`, e.g.
    * "v7") as current. Call AFTER the version's artifacts are fully
    * written — the pointer is the commit point. */
  def repoint(session: SparkSession, root: String, version: String): Unit = {
    require(version.nonEmpty && !version.contains("\n") && !version.contains("/"),
      s"version '$version' must be a non-empty child name (no '/', no newline)")
    writeFile(session, root, PointerName, version)
  }

  /** The recorded current version name, or None when nothing has ever
    * been repointed (cold start: serve whatever convention the caller
    * has — e.g. the root itself). */
  def current(session: SparkSession, root: String): Option[String] =
    readFile(session, root, PointerName)

  /** The read face serving resolves through: `root/<current>`, or
    * None before the first repoint. */
  def currentDir(session: SparkSession, root: String): Option[String] =
    current(session, root).map(v => s"$root/$v")

  /** All VERSION children under `root` (`v<batch>` dirs /
    * `v<batch>.json` files), oldest first by batch id. Cold-start
    * artifacts living directly under the root (`weights`,
    * `coarse_centroids`, …) are NOT versions and never list — so
    * [[prune]] can never mistake the cold-start layout for history. */
  def versions(session: SparkSession, root: String): Seq[String] =
    numbered(session, root, Version).map(_._2)

  /** RETENTION for a versioned root — the blue/green loop's missing
    * end: every retrain/rebuild appends a `v<batch>` sibling forever,
    * so a long-lived deployment needs the old versions reclaimed.
    * Deletes all but the NEWEST `keep` versions, and NEVER the pointer
    * target (the serving version is kept even when it is older than
    * every survivor — a just-staged-but-not-repointed newer version
    * must not orphan what is live). Returns the deleted names. Call
    * AFTER consumers have re-resolved [[currentDir]] — in-flight
    * readers of a deleted version lose their files, which is why the
    * default retention everywhere else in this module is "never
    * touch old versions" and pruning is an explicit operator act. */
  def prune(session: SparkSession, root: String, keep: Int): Seq[String] =
    pruneNumbered(session, root, PointerName, Version, keep)

  // The protocol, shared with CorpusWatcher's `LATEST` → `snap-<id>`,
  // on the Hadoop FileSystem of the root's own scheme.

  /** Write `body` to `root/name` atomically: write a dot-prefixed temp
    * file, then rename it over `name`. */
  private[streaming] def writeFile(
      session: SparkSession, root: String, name: String, body: String): Unit = {
    val rootPath = new Path(root)
    val fs = pointerFs(session, rootPath)
    fs.mkdirs(rootPath)
    val tmp = new Path(rootPath, s".${name.stripPrefix(".")}.tmp")
    val out = fs.create(tmp, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    replace(session, tmp.toString, new Path(rootPath, name).toString)
  }

  /** Rename `src` over `dst`, replacing it atomically: a reader sees
    * the old file or the new one, never a partial body and never a
    * missing file mid-swap. `FileSystem.rename` is that replace on the
    * local filesystem (POSIX rename) but refuses an existing
    * destination on HDFS, where FileContext's OVERWRITE rename is the
    * atomic one. FileContext alone will not do: on the local
    * filesystem its OVERWRITE rename deletes the destination first. */
  private[streaming] def replace(session: SparkSession, src: String, dst: String): Unit = {
    val (s, d) = (new Path(src), new Path(dst))
    val fs = pointerFs(session, d)
    if (!fs.rename(s, d))
      FileContext.getFileContext(fs.makeQualified(d).toUri, session.sessionState.newHadoopConf())
        .rename(fs.makeQualified(s), fs.makeQualified(d), Options.Rename.OVERWRITE)
  }

  /** The trimmed body of `root/name`, or None when it is absent or
    * empty. */
  private[streaming] def readFile(
      session: SparkSession, root: String, name: String): Option[String] = {
    val p = new Path(new Path(root), name)
    val fs = pointerFs(session, p)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val body =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      if (body.isEmpty) None else Some(body)
    }
  }

  /** The FileSystem pointer files are written, swapped and read
    * through, minus any client-side checksum layer: LocalFileSystem
    * keeps a `.crc` sidecar that a rename moves in a second step, so a
    * reader racing the swap could pair the new body with the old
    * checksum and fail. */
  private def pointerFs(session: SparkSession, p: Path): FileSystem =
    p.getFileSystem(session.sessionState.newHadoopConf()) match {
      case c: ChecksumFileSystem => c.getRawFileSystem
      case fs => fs
    }

  /** The children of `root` whose name matches `pattern`, as (the id
    * its first group parses to, name), oldest first by that id — a
    * numeric order, which stays right past any zero-pad width. */
  private[streaming] def numbered(
      session: SparkSession, root: String, pattern: Regex): Seq[(Long, String)] = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(session.sessionState.newHadoopConf())
    if (!fs.exists(rootPath)) Nil
    else fs.listStatus(rootPath).toSeq.map(_.getPath.getName)
      .collect { case n @ pattern(id, _*) => id.toLong -> n }
      .sortBy(_._1)
  }

  /** Delete all but the newest `keep` children matching `pattern`,
    * never the one the `pointer` file names. Returns the deleted
    * names. */
  private[streaming] def pruneNumbered(
      session: SparkSession, root: String, pointer: String, pattern: Regex,
      keep: Int): Seq[String] = {
    require(keep >= 1, s"keep=$keep must be >= 1")
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(session.sessionState.newHadoopConf())
    val cur = readFile(session, root, pointer)
    val vs = numbered(session, root, pattern).map(_._2)
    val keepSet = vs.takeRight(keep).toSet ++ cur
    val victims = vs.filterNot(keepSet)
    victims.foreach(v => fs.delete(new Path(rootPath, v), true))
    victims
  }
}
