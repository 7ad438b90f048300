package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Filesystem lease lock — the writer-serialization layer that upgrades the
  * persistent indexes from a DOCUMENTED single-writer regime to supported
  * concurrent writers.
  *
  * The maintenance guards ([[BucketedMaintenance.compact]]'s abort/rollback
  * listings, [[BucketedMaintenance.guardedAppend]]'s survivorship probes)
  * turn every writer race from silent loss into loud detection — but
  * detection means concurrent writers must QUIESCE AND RE-RUN. This lock
  * removes the races instead: every index maintenance entry point
  * (build / append / assignInto / rebuild / compact) serializes on a
  * per-index lease, so any number of appenders and one compactor can run
  * concurrently against the same index and every call commits exactly
  * once, in some serial order. The guards stay armed underneath as
  * defense-in-depth against external non-locking writers.
  *
  * Mechanics — HDFS-compatible primitives only:
  *   - ACQUIRE is `FileSystem.create(path, overwrite = false)` — atomic
  *     create-exclusive on HDFS and local filesystems. The file body holds
  *     a random holder token.
  *   - EXPIRY: a lock older than `leaseMs` (mtime) is presumed abandoned
  *     (crashed holder). Takeover is RENAME-based and SERIALIZED on a
  *     short-lease takeover mutex (see [[takeoverStale]]): one contender
  *     at a time renames the stale file to a tombstone after re-verifying
  *     staleness and token identity under the mutex; a fresh lock found
  *     in the tombstone (frozen-holder renew corner) is renamed straight
  *     back. Without the mutex, two contenders racing the same stale lock
  *     could overlap live holders with no frozen process anywhere
  *     (advisor r10); with it, overlap requires a frozen process — the
  *     same honest contract as the main lease.
  *   - RENEW bumps mtime via `setTimes` (no rewrite window) after
  *     verifying the token — a long-running holder extends its lease.
  *   - RELEASE deletes the file only if the token still matches (after an
  *     expiry takeover, the path may be someone else's lock).
  *
  * Honest contract (the same one every mtime-lease lock carries, including
  * production lake-format S3 coordinators): mutual exclusion is
  * unconditional among live holders; takeover of an EXPIRED lease is safe
  * iff the expired holder is actually dead or will fail its token check
  * before writing again. A holder frozen past its whole lease (GC pause
  * measured in minutes) can overlap its usurper — size `leaseMs` to
  * dominate any plausible pause (default 15 min) or renew inside long
  * operations. On an object store without atomic create-exclusive or
  * rename, substitute the store's conditional-put primitive.
  *
  * Reentrant per thread: an entry point that calls another locked entry
  * point (rebuildIfNeeded → rebuild) re-enters without deadlocking.
  *
  * Boundary resolution (r12): the lock-free multi-appender this scaladoc
  * previously named as future work now SHIPS as [[ManifestLog]] — an
  * append-only commit-log protocol (atomic manifest-marker creation;
  * readers union committed segments; exactly-once under retries with no
  * coordination) for the landing/segment shape, and driver-sized models
  * publish through [[ModelStore]] on the same protocol with no lease
  * (only read-modify-write [[BloomDedup.absorb]] still takes it, so no
  * concurrent update is lost). The LEASE remains the supported regime
  * for the bucketed persistent indexes — path-pinned catalog tables —
  * deliberately: their value is bucket-PRUNED catalog scans, and
  * per-append manifest segments have no shared bucket layout to prune —
  * turning segments back into a pruned table is exactly the maintenance
  * work this lease serializes. See the [[ManifestLog]] scaladoc's scope
  * note. */
object LeaseLock {

  final case class Handle(fs: FileSystem, path: Path, token: String)

  val DefaultLeaseMs: Long = 15 * 60 * 1000L
  val DefaultWaitMs: Long = 120 * 1000L

  private val held = new ThreadLocal[scala.collection.mutable.Set[String]] {
    override def initialValue(): scala.collection.mutable.Set[String] =
      scala.collection.mutable.Set.empty[String]
  }

  /** Serialize `body` on the per-index lease for `tag`. The lock lives
    * under the session's warehouse directory — the coordination domain
    * every writer of a catalog table already shares — so entry points
    * without a maintenance `path` argument (assignInto) lock the same
    * lease as those with one.
    *
    * Bounds resolve as: explicit argument (Some) > session conf
    * (`spark.graft.lease.leaseMs` / `.waitMs`) > built-in default. The
    * Option makes "caller stated a bound" distinguishable from "caller
    * took the default" — a caller deliberately passing the default VALUE
    * was previously indistinguishable and silently conf-overridden
    * (advisor r10). */
  def withTableLock[T](spark: SparkSession, tag: String,
                       leaseMs: Option[Long] = None,
                       waitMs: Option[Long] = None)(body: => T): T = {
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
    // session-tunable DEFAULTS: a loaded cluster (or a saturated test JVM)
    // can hold a writer's jobs queued past the default wait — the right
    // bound is workload-specific, so the conf retunes it.
    def tuned(passed: Option[Long], default: Long, key: String): Long =
      passed.getOrElse(
        spark.conf.getOption(key).map(_.toLong).getOrElse(default))
    withLock(spark, s"$warehouse/_graft_locks/$tag.lock",
      tuned(leaseMs, DefaultLeaseMs, "spark.graft.lease.leaseMs"),
      tuned(waitMs, DefaultWaitMs, "spark.graft.lease.waitMs"))(body)
  }

  def withLock[T](spark: SparkSession, lockPath: String,
                  leaseMs: Long = DefaultLeaseMs,
                  waitMs: Long = DefaultWaitMs)(body: => T): T = {
    val p = new Path(lockPath)
    val key = p.toString
    if (held.get.contains(key)) return body // reentrant within the thread
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val h = acquire(fs, p, leaseMs, waitMs)
    held.get += key
    try body
    finally { held.get -= key; release(h) }
  }

  def acquire(fs: FileSystem, p: Path, leaseMs: Long = DefaultLeaseMs,
              waitMs: Long = DefaultWaitMs): Handle = {
    val token = java.util.UUID.randomUUID().toString
    val parent = p.getParent
    if (parent != null) fs.mkdirs(parent)
    val deadline = System.nanoTime() + waitMs * 1000000L
    var backoff = 20L
    while (true) {
      if (tryCreate(fs, p, token)) return Handle(fs, p, token)
      val stale =
        try System.currentTimeMillis() - fs.getFileStatus(p).getModificationTime > leaseMs
        catch { case _: java.io.FileNotFoundException => false } // freed: retry create
      if (stale) takeoverStale(fs, p, parent, token, leaseMs)
      if (System.nanoTime() > deadline)
        throw new IllegalStateException(
          s"LeaseLock: could not acquire $p within ${waitMs} ms — held by a live " +
            "writer (or an abandoned lock younger than the lease). If the holder is " +
            s"known dead, delete the file or wait out the ${leaseMs} ms lease.")
      Thread.sleep(backoff)
      backoff = math.min(backoff * 2, 500L)
    }
    throw new IllegalStateException("unreachable")
  }

  /** Lease on the takeover MUTEX — generous for a 3-metadata-op dance
    * with no user code: an expired takeover mutex means its holder died
    * (or froze for a minute inside three filesystem calls). */
  val TakeoverLeaseMs: Long = 60 * 1000L

  /** Tombstone-based takeover of a stale lock, serialized on a short-lease
    * takeover mutex (advisor r10 medium). The unserialized dance had a
    * NO-FREEZE live-holder overlap: contender B, racing contender A over
    * the same stale lock, could rename away the FRESH lock A had just
    * created after A's own completed takeover; while the lock path was
    * absent a third contender's create-exclusive succeeded, and B's
    * rename-back then failed — A and C both inside the critical section
    * with every process live. With the mutex, only one contender runs the
    * dance at a time, so a fresh lock can only be renamed away if some
    * process FROZE mid-dance past [[TakeoverLeaseMs]] (or a frozen main
    * holder renewed mid-dance) — i.e. live-holder overlap now requires a
    * frozen process, which is exactly the honest mtime-lease contract the
    * scaladoc already states. Defense-in-depth inside the mutex: the
    * stale token is read BEFORE the rename and the tombstone is only
    * reaped if it still carries that token — a fresh replacement is
    * recognized by identity, not just mtime, and given straight back. */
  private def takeoverStale(fs: FileSystem, p: Path, parent: Path,
                            token: String, leaseMs: Long): Unit = {
    val mutex = new Path(parent, s"${p.getName}.takeover")
    if (tryCreate(fs, mutex, token)) {
      try {
        // re-check under the mutex: the lock may have been freed or
        // replaced while we raced for the dance
        val staleToken = readToken(fs, p)
        val stillStale =
          try System.currentTimeMillis() - fs.getFileStatus(p).getModificationTime > leaseMs
          catch { case _: java.io.IOException => false }
        if (stillStale && staleToken.nonEmpty) {
          val tomb = new Path(parent, s"${p.getName}.expired.$token")
          val won = try fs.rename(p, tomb) catch { case _: java.io.IOException => false }
          if (won) {
            if (readToken(fs, tomb).contains(staleToken.get)) fs.delete(tomb, false)
            else {
              // identity changed between read and rename (frozen-holder
              // renew corner): give the fresh lock straight back
              try fs.rename(tomb, p) catch { case _: java.io.IOException => () }
            }
          }
        }
      } finally {
        // release only our own mutex (it may have been reaped + replaced)
        try if (readToken(fs, mutex).contains(token)) fs.delete(mutex, false)
        catch { case _: java.io.IOException => () }
      }
    } else {
      // another contender is mid-dance; reap its mutex only if abandoned —
      // rename-to-unique first so exactly one reaper wins and a concurrent
      // fresh mutex is never plain-deleted by two racing reapers
      val mStale =
        try System.currentTimeMillis() - fs.getFileStatus(mutex).getModificationTime > TakeoverLeaseMs
        catch { case _: java.io.IOException => false }
      if (mStale) {
        val reap = new Path(parent, s"${p.getName}.takeover.expired.$token")
        try { if (fs.rename(mutex, reap)) fs.delete(reap, false) }
        catch { case _: java.io.IOException => () }
      }
    }
  }

  private def readToken(fs: FileSystem, p: Path): Option[String] =
    try {
      val in = fs.open(p)
      val buf = new Array[Byte](256)
      val n = try in.read(buf) finally in.close()
      if (n > 0) Some(new String(buf, 0, n, "UTF-8")) else None
    } catch { case _: java.io.IOException => None }

  /** Extend a held lease (mtime bump; no rewrite window). Throws if the
    * lock is no longer ours — the holder must stop writing immediately. */
  def renew(h: Handle): Unit = {
    require(ownsLock(h), s"LeaseLock: lease on ${h.path} lost (expired and taken over)")
    h.fs.setTimes(h.path, System.currentTimeMillis(), -1)
  }

  def release(h: Handle): Unit =
    try if (ownsLock(h)) h.fs.delete(h.path, false)
    catch { case _: java.io.IOException => () } // crashed FS: lease expiry recovers

  private def ownsLock(h: Handle): Boolean =
    readToken(h.fs, h.path).contains(h.token)

  /** Atomic create-exclusive. `FileSystem.create(p, overwrite = false)` is
    * atomic on HDFS (namenode-arbitrated) but CHECK-THEN-CREATE on the
    * local filesystem (LeaseLockSpec's 4-thread spin caught the overlap
    * live) — so `file:` paths go through NIO `createFile`, which is
    * O_CREAT|O_EXCL. A contender reading the file between create and the
    * token write sees an empty body: it owns nothing and backs off; a
    * crash in that window ages into an expired lease like any other. */
  private def tryCreate(fs: FileSystem, p: Path, token: String): Boolean =
    if (fs.getScheme == "file") {
      val local = java.nio.file.Paths.get(p.toUri.getPath)
      try {
        java.nio.file.Files.createFile(local)
        java.nio.file.Files.write(local, token.getBytes("UTF-8"))
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
        case _: java.io.IOException => false
      }
    } else
      try {
        val out = fs.create(p, false)
        try out.write(token.getBytes("UTF-8")) finally out.close()
        true
      } catch { case _: java.io.IOException => false }
}
