package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** The one registry of session-shared builds: the dedup index ladder
  * (shingles → signatures → candidates → clusters, the exact Jaccard
  * pairs, winnow fingerprints, derived caps) and the bucketed layouts.
  *
  * One entry per `(session, dir, level)`, each built once under the one
  * [[SingleFlight]] — concurrent callers for a key await its builder;
  * a failed build releases them and one retries. The level is part of
  * the key, so a nested ladder build (clusters → candidates → …) always
  * waits on a different latch than its caller and cannot deadlock on
  * itself. Values must be pure functions of `(dir, level)`: which
  * caller builds first, or a rebuild after an eviction, costs at most
  * one recompute, never a different result.
  *
  * Each build runs with the Spark local property [[LevelProperty]] set
  * to its level (the caller's value is restored afterwards), so a
  * listener can group the jobs of each level; a nested build tags its
  * own jobs with its own level.
  *
  * An entry may own a tracked temp dir (the bucketed layouts' parquet).
  * Every get-or-build first runs the hygiene sweeps:
  *  - [[evictStopped]]: entries of sessions whose context is stopped are
  *    dropped and their dirs deleted (ADVICE r12/r14) — safe because a
  *    stopped context can run no query over the files;
  *  - [[boundSessions]]: sessions cycled with `newSession()` share one
  *    LIVE context, so past [[MaxCachedSessions]] distinct sessions every
  *    entry not owned by the caller is dropped (ADVICE r13). Their dirs
  *    are NOT deleted — a live session may still read them (ADVICE r15)
  *    — but parked with the owner and deleted once it dies (ADVICE r16).
  */
private[graft] object SharedBuild {
  private final case class Key(session: SparkSession, dir: String, level: String)
  private final case class Entry(value: Any, tempDir: Option[Path])

  private val entries = new ConcurrentHashMap[Key, Entry]
  private val flight = new SingleFlight[Key]
  private val parked =
    new ConcurrentHashMap[SparkSession, ConcurrentLinkedQueue[Path]]

  val MaxCachedSessions = 4

  /** The local property naming the level whose build started a job. */
  val LevelProperty = "graft.shared.level"

  /** Get-or-build the `(s, dir, level)` entry. */
  def apply[V](s: SparkSession, dir: String, level: String)(build: => V): V =
    getOrBuild(s, dir, level)(Entry(build, None))

  /** Get-or-build an entry that writes into its own tracked temp dir;
    * the dir lives and dies with the entry (deleted at once if the
    * build fails). */
  def withTempDir[V](s: SparkSession, dir: String, level: String)(
      build: Path => V): V =
    getOrBuild(s, dir, level) {
      val p = trackedTempDir()
      try Entry(build(p), Some(p))
      catch { case e: Throwable => purgeDir(p); throw e }
    }

  private def getOrBuild[V](s: SparkSession, dir: String, level: String)(
      entry: => Entry): V = {
    evictStopped()
    boundSessions(s)
    flight(entries, Key(s, dir, level))(tagged(s, level)(entry))
      .value.asInstanceOf[V]
  }

  private def tagged[T](s: SparkSession, level: String)(build: => T): T = {
    val sc = s.sparkContext
    val outer = sc.getLocalProperty(LevelProperty)
    sc.setLocalProperty(LevelProperty, level)
    try build finally sc.setLocalProperty(LevelProperty, outer)
  }

  /** Drop entries of dead sessions, deleting their dirs, and delete the
    * dirs parked for dead owners. `dead` is injectable only for specs,
    * which must not stop the suite-shared context. */
  private[graft] def evictStopped(
      dead: SparkSession => Boolean = _.sparkContext.isStopped): Unit = {
    entries.forEach { (k, e) =>
      if (dead(k.session) && entries.remove(k, e)) e.tempDir.foreach(purgeDir)
    }
    parked.forEach { (owner, dirs) =>
      if (dead(owner) && parked.remove(owner, dirs)) dirs.forEach(p => purgeDir(p))
    }
  }

  /** Past `max` distinct sessions, drop every entry not owned by
    * `current`; dirs are parked with their live owner, never deleted. */
  private[graft] def boundSessions(current: SparkSession,
      max: Int = MaxCachedSessions): Unit = {
    val owners = entries.keySet.asScala.map(_.session)
    if (owners.size > max) entries.forEach { (k, e) =>
      if ((k.session ne current) && entries.remove(k, e))
        e.tempDir.foreach(p => parked
          .computeIfAbsent(k.session, _ => new ConcurrentLinkedQueue[Path])
          .add(p))
    }
  }

  /** Test hook: entry count per level. */
  private[graft] def levelCounts: Map[String, Int] =
    entries.keySet.asScala.toSeq.groupBy(_.level).view.mapValues(_.size).toMap
  /** Test hook: builds in flight (0 when quiescent). */
  private[graft] def inflightCount: Int = flight.inflightCount

  /** Temp dirs tracked for cleanup: a JVM shutdown hook deletes whatever
    * is still registered at exit, so no build's files outlive the JVM. */
  private val tempDirs = ConcurrentHashMap.newKeySet[Path]
  private lazy val hookInstalled: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      tempDirs.forEach(p => deleteTree(p))
    }))
  private def trackedTempDir(): Path = {
    hookInstalled
    val p = Files.createTempDirectory("graft_buckets_")
    tempDirs.add(p)
    p
  }
  /** Test hook: the temp dirs currently tracked for cleanup. */
  private[graft] def trackedDirs: Seq[Path] = tempDirs.asScala.toSeq

  /** Best-effort recursive delete + untrack (exit paths must not throw). */
  private[graft] def purgeDir(p: Path): Unit = {
    deleteTree(p)
    tempDirs.remove(p)
    ()
  }
  /** Best-effort tree delete, `p` included (also Bench's checkpoint-dir
    * purge). Catches NonFatal, not just IOException (ADVICE r15:
    * iterating a Files.walk stream surfaces disk errors as
    * UncheckedIOException, a RuntimeException — an exit path or live
    * query path must not throw on cleanup), and closes the walk stream
    * (it holds directory fds). */
  private[graft] def deleteTree(p: Path): Unit =
    try {
      if (Files.exists(p)) {
        val walk = Files.walk(p)
        try walk.iterator().asScala.toSeq.reverse
          .foreach(f => try { Files.deleteIfExists(f); () }
            catch { case NonFatal(_) => () })
        finally walk.close()
      }
    } catch { case NonFatal(_) => () }
}
