package graft

import java.nio.channels.FileChannel
import java.nio.file.{FileAlreadyExistsException, Files, LinkOption, Path, Paths,
  StandardOpenOption}
import java.nio.file.attribute.{PosixFileAttributes, PosixFilePermissions}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel
import org.apache.spark.util.SizeEstimator

/** Staged assets: derived state the engine memoizes on disk across JVMs
  * (re-encoded sources, search and ANN indexes, zone maps, staged stream
  * runs, trained quantizers, the continual-train checkpoint). Every one
  * goes through [[staged]], the engine's one commit protocol:
  *
  *  - **Key.** [[contentKey]] over the asset's kind, its parameters and
  *    each input file's absolute normalized path and mtime: a regenerated
  *    input or a new parameter is a new asset, never a stale hit.
  *  - **Location.** `<root>/graft_<kind>_<key>`, under one per-user root
  *    (`graft_assets_<user>` in the JVM's temp dir). The root is created
  *    0700 and refused when it is owned by another user or grants group
  *    or other permissions: a model artifact deserializes on read, and a
  *    shared, writable or predictable root would let another user plant
  *    or swap an asset.
  *  - **Build in place, under a lock.** A per-dir lock inside the JVM
  *    (a second `FileChannel.lock` from the same JVM throws
  *    `OverlappingFileLockException`) plus a `FileChannel` lock on the
  *    sibling `<dir>.lock` against other JVMs. Under both, the commit
  *    record is checked again; when it is absent the dir is wiped of
  *    whatever a crashed or concurrent earlier attempt left and rebuilt.
  *    The finished dir is not renamed into place: a streaming file sink
  *    records absolute file paths in its `_spark_metadata` log, so a
  *    renamed dir would read back broken.
  *  - **Commit.** The record [[Commit]] (holding the key) is written
  *    last. A dir whose record is missing or names another key is
  *    rebuilt; readers check only the record, and a committed dir is
  *    never written again.
  *
  * Derived state the engine keeps inside this JVM (the encoded KG, the
  * fitted model, graph layouts, corpus tallies, table schemas, read-back
  * model artifacts) goes through [[memo]], the one in-JVM tier; its
  * rules are in that method's doc.
  *
  * Per kind, [[snapshot]] counts hits, builds and build seconds of both
  * tiers, and the bytes a memo kind holds resident (`tools.Profile`
  * prints them per run).
  */
object Assets {

  /** Commit record: written last, holds the asset's key. */
  private[graft] val Commit = "_GRAFT_COMMIT"

  private val OwnerOnly = PosixFilePermissions.fromString("rwx------")

  /** Hits, builds and build seconds of one asset kind; for a memo kind
    * also the bytes its entries hold now. */
  final case class Stats(hits: Long = 0L, builds: Long = 0L, buildSecs: Double = 0.0,
      residentBytes: Long = 0L)

  private val stats = new ConcurrentHashMap[String, Stats]()

  /** In-JVM builder lock per asset dir (entries are one per asset). */
  private val building = new ConcurrentHashMap[Path, AnyRef]()

  /** Counters of every kind touched in this JVM. */
  def snapshot: Map[String, Stats] = {
    val resident = held.synchronized(held.toSeq)
      .groupMapReduce(_._1._1)(_._2.bytes)(_ + _)
    stats.asScala.toMap.map { case (kind, s) =>
      kind -> s.copy(residentBytes = resident.getOrElse(kind, 0L))
    }
  }

  /** The per-user asset root, created 0700 on first use and checked on
    * every use. */
  def root: Path = secured(userRoot)

  private def userRoot: Path =
    Paths.get(sys.props("java.io.tmpdir"), s"graft_assets_${sys.props("user.name")}")

  /** SHA-256 of `raw`, first 8 bytes as hex: the engine's one key recipe. */
  private def contentKey(raw: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(raw.getBytes("UTF-8"))
      .take(8).map("%02x".format(_)).mkString

  /** The key of asset (`kind`, `inputs`, `params`). */
  private def key(kind: String, inputs: Seq[Path], params: String): String =
    contentKey((Seq(kind, params) ++ inputs.map { p =>
      val a = p.toAbsolutePath.normalize
      s"$a:${Files.getLastModifiedTime(a).toMillis}"
    }).mkString("|"))

  /** Where asset (`kind`, `inputs`, `params`) lives; builds nothing. */
  def dirOf(kind: String, inputs: Seq[Path], params: String): Path =
    root.resolve(s"graft_${kind}_${key(kind, inputs, params)}")

  /** The committed dir of asset (`kind`, `inputs`, `params`), running
    * `build` on it first unless it is already committed (protocol in the
    * object's doc). `build` writes into the dir it is given. */
  def staged(kind: String, inputs: Seq[Path], params: String)(
      build: Path => Unit): Path =
    stagedUnder(userRoot, kind, inputs, params)(build)

  private[graft] def stagedUnder(root: Path, kind: String, inputs: Seq[Path],
      params: String)(build: Path => Unit): Path = {
    val k = key(kind, inputs, params)
    val dir = secured(root).resolve(s"graft_${kind}_$k")
    if (committed(dir, k)) count(kind, Stats(hits = 1))
    else exclusive(dir) {
      if (committed(dir, k)) count(kind, Stats(hits = 1))
      else {
        wipe(dir)
        Files.createDirectories(dir)
        val t0 = System.nanoTime()
        build(dir)
        Files.writeString(dir.resolve(Commit), k)
        count(kind, Stats(builds = 1, buildSecs = (System.nanoTime() - t0) / 1e9))
      }
    }
    dir
  }

  private def committed(dir: Path, k: String): Boolean = {
    val record = dir.resolve(Commit)
    Files.isRegularFile(record) && Files.readString(record) == k
  }

  // ------------------------------------------------------------ memo tier

  /** The memo tier's resident-byte budget: `SPARK_GRAFT_MEMO_BUDGET_MB`,
    * else 1 GiB, which holds every sf0.1 entry of a Verify or Bench sweep
    * so each memoized family builds once. Eviction is always safe: a
    * consumer of an evicted entry rebuilds it. A var only so a spec can
    * force eviction. */
  private[graft] var memoBudgetBytes: Long =
    sys.env.get("SPARK_GRAFT_MEMO_BUDGET_MB").map(_.toLong << 20).getOrElse(1L << 30)

  private final class Held(val value: Any, val frames: Seq[Dataset[_]],
      val bytes: Long, var tick: Long) {
    /** A value with frames serves only their (live) session; one without
      * serves any session. */
    def serves(session: SparkSession): Boolean = frames.forall { f =>
      !f.sparkSession.sparkContext.isStopped && (f.sparkSession eq session)
    }
  }

  /** Memo entries by (kind, key), in LRU order by `tick`; guards itself. */
  private val held = mutable.HashMap.empty[(String, String), Held]
  private var clock = 0L

  /** In-JVM build lock per memo entry. */
  private val memoLocks = new ConcurrentHashMap[(String, String), AnyRef]()

  /** The value of memo entry (`kind`, `key`), running `build` first
    * unless a live entry serves `session`. The rules:
    *
    *  - **Session.** A value that is a `Dataset`, or a tuple with
    *    `Dataset` members, is bound to its frames' session: a caller
    *    passing another session (say an AQE-off clone, whose confs would
    *    silently not apply) or a stopped one gets a rebuild. A value with
    *    no frame (merges, bounds, a model, a schema) serves any session.
    *  - **Frames are cached.** Each frame is persisted (unless its
    *    builder did) and materialized, so every consumer reads the cache.
    *  - **Evict before build.** The entry a rebuild replaces is released
    *    first: sessions share one CacheManager, so unpersisting it after
    *    the new persist would drop the new (same-result) cache with it.
    *  - **Bounded.** Each entry is sized (its frames' cached bytes plus
    *    `SizeEstimator` of the rest); past [[memoBudgetBytes]] the least
    *    recently used entries, never the one just built, are released.
    *
    * Builds and evictions are logged to stderr with the resident total. */
  def memo[V](kind: String, session: SparkSession, key: String)(build: => V): V = {
    val k = (kind, key)
    memoLocks.computeIfAbsent(k, _ => new Object).synchronized {
      held.synchronized {
        held.get(k).filter(_.serves(session)).map { h => clock += 1; h.tick = clock; h }
      } match {
        case Some(h) =>
          count(kind, Stats(hits = 1))
          h.value.asInstanceOf[V]
        case None =>
          held.synchronized(held.remove(k)).foreach(release)
          val t0 = System.nanoTime()
          val v = build
          val parts = v match {
            case t: Product if t.productPrefix.startsWith("Tuple") => t.productIterator.toSeq
            case one => Seq(one)
          }
          val frames = parts.collect { case f: Dataset[_] => f }
          frames.foreach { f =>
            if (f.storageLevel == StorageLevel.NONE) f.persist()
            f.count()
          }
          val bytes = frames.map(_.queryExecution.optimizedPlan.stats.sizeInBytes.toLong).sum +
            parts.filterNot(_.isInstanceOf[Dataset[_]])
              .map(p => SizeEstimator.estimate(p.asInstanceOf[AnyRef])).sum
          count(kind, Stats(builds = 1, buildSecs = (System.nanoTime() - t0) / 1e9))
          held.synchronized {
            clock += 1
            held.put(k, new Held(v, frames, bytes, clock))
            while (residentBytes > memoBudgetBytes && held.size > 1) {
              val lru = held.filter(_._1 != k).minBy(_._2.tick)._1
              System.err.println(s"[graft] memo: evicting ${lru._1} ${lru._2} " +
                s"(resident ${residentBytes >> 20} MiB > budget ${memoBudgetBytes >> 20} MiB)")
              held.remove(lru).foreach(release)
            }
            System.err.println(s"[graft] memo: +$kind $key ${bytes >> 10} KiB, " +
              s"resident ${residentBytes >> 10} KiB across ${held.size} entries")
          }
          v
      }
    }
  }

  /** Bytes held by every memo entry (call under `held`'s lock). */
  private def residentBytes: Long = held.valuesIterator.map(_.bytes).sum

  /** Number of memo entries held. */
  private[graft] def memoEntries: Int = held.synchronized(held.size)

  /** Best effort: a frame of a stopped context cannot be unpersisted, and
    * its blocks are gone with the context anyway. */
  private def release(h: Held): Unit =
    h.frames.foreach { f =>
      try f.unpersist(blocking = false) catch { case NonFatal(_) => () }
    }

  private def count(kind: String, d: Stats): Unit = {
    stats.merge(kind, d, (a, b) =>
      Stats(a.hits + b.hits, a.builds + b.builds, a.buildSecs + b.buildSecs))
    ()
  }

  private def exclusive(dir: Path)(body: => Unit): Unit =
    building.computeIfAbsent(dir, _ => new Object).synchronized {
      val ch = FileChannel.open(dir.resolveSibling(s"${dir.getFileName}.lock"),
        StandardOpenOption.CREATE, StandardOpenOption.WRITE)
      try { ch.lock(); body } finally ch.close() // close releases the lock
    }

  /** Removes `dir` and everything under it; symlinks are removed, never
    * followed. */
  private def wipe(dir: Path): Unit =
    if (Files.exists(dir, LinkOption.NOFOLLOW_LINKS)) {
      val walk = Files.walk(dir)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
      finally walk.close()
    }

  /** `root`, created 0700 when absent; throws, naming it, unless it is a
    * directory (not a link) owned by this user with no group or other
    * permission. */
  private def secured(root: Path): Path = {
    try Files.createDirectory(root, PosixFilePermissions.asFileAttribute(OwnerOnly))
    catch { case _: FileAlreadyExistsException => () } // checked below
    val a = Files.readAttributes(root, classOf[PosixFileAttributes],
      LinkOption.NOFOLLOW_LINKS)
    val uid = Files.getAttribute(root, "unix:uid", LinkOption.NOFOLLOW_LINKS)
      .asInstanceOf[Int]
    val me = new com.sun.security.auth.module.UnixSystem().getUid
    if (!a.isDirectory || uid != me || !OwnerOnly.containsAll(a.permissions()))
      throw new IllegalStateException(s"asset root $root must be a directory " +
        s"owned by uid $me with mode rwx------; found " +
        s"${if (a.isDirectory) "a directory" else "a non-directory"} owned by " +
        s"uid $uid with mode ${PosixFilePermissions.toString(a.permissions())}")
    root
  }
}
