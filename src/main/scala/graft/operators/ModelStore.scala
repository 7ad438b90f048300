package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Versioned store for DRIVER-SIZED models — the NB classifier, the bigram
  * LM, the curation thresholds, the broadcast-tier Bloom filter, the IVF
  * centroids with their PQ codebooks ([[IvfIndex]]) and the IMI
  * half-models with their rotation seed ([[ImiIndex]]). One publish/load
  * mechanism, committed with [[ManifestLog]]'s protocol.
  *
  * Layout under `<spark.sql.warehouse.dir>/_graft_models/<name>/`:
  * {{{
  *   data/gen-<n>__<attemptId>/<part>/part-*.parquet   (one generation)
  *   manifests/gen-<n>__<attemptId>.manifest           (its commit marker)
  * }}}
  * This is ManifestLog's segment layout with segId `gen-<n>`: [[stage]]
  * picks n = newest committed generation + 1 and a fresh attempt id,
  * [[write]] adds named parquet parts, and [[commit]] creates the empty
  * marker (atomic create-exclusive). Readers resolve the newest committed
  * generation; among several attempts committed under one number,
  * ManifestLog's winner rule (smallest attempt id) picks one. Hence:
  *   - a crash before the marker leaves the previous generation live, and
  *     the next publish writes a fresh attempt directory (no manual step);
  *   - concurrent publishers of one generation yield exactly one winner,
  *     and a reader only ever sees a generation whose parts are complete;
  *   - a generation id never repeats, so a load cached by id ([[cached]],
  *     [[load]]) is invalidated by every publish, with no catalog round
  *     trip and no table-version metadata.
  *
  * [[reclaim]] runs after every commit with ManifestLog's reader grace: a
  * superseded generation goes once the generation that superseded it is
  * older than the grace, and uncommitted or losing attempts once they are
  * older than it. The newest generation is never reclaimed, and neither is
  * any file whose name the store would not have written.
  *
  * Scope: models whose value is a whole-object load. Bucketed data indexes
  * (including the IVF/IMI assignment relations) keep path-pinned catalog
  * tables, because their value is bucket-pruned scans (the [[ManifestLog]]
  * scope note). Publishing needs no lease; read-modify-write callers
  * ([[BloomDedup.absorb]]) still serialize on [[LeaseLock]] so that no
  * concurrent update is lost, and the index builds stage and commit their
  * generation inside the lease they already hold for the assignment
  * table. */
object ModelStore {

  private val IdPattern = "gen-(\\d+)__[0-9a-f]{32}".r

  /** One generation `id` (`gen-<n>__<attemptId>`) of the store at `root`.
    * Staged and committed generations share the same paths, so a build
    * can read its staged parts before it commits them. */
  final case class Generation(root: String, id: String) {
    def number: Long = id match { case IdPattern(n) => n.toLong }
    def partPath(part: String): String = s"$root/data/$id/$part"
    /** Read a part with its known schema (no schema-inference job). */
    def read(spark: SparkSession, part: String, schema: StructType): DataFrame =
      spark.read.schema(schema).parquet(partPath(part))
  }

  /** The store directory of model `name`, under the warehouse dir. */
  def root(spark: SparkSession, name: String): String = {
    require(name.matches("[A-Za-z0-9._-]+"),
      s"model name '$name' must match [A-Za-z0-9._-]+")
    s"${spark.conf.get("spark.sql.warehouse.dir")}/_graft_models/$name"
  }

  private def fs(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Committed generations of `name`, oldest first, one winner each. */
  def generations(spark: SparkSession, name: String): Seq[Generation] = {
    val r = root(spark, name)
    ManifestLog.committedAttempts(spark, r).toSeq
      .map { case (seg, attempt) => s"${seg}__$attempt" }
      .filter(IdPattern.matches)
      .map(Generation(r, _))
      .sortBy(_.number)
  }

  /** The newest committed generation of `name`; loud when there is none. */
  def current(spark: SparkSession, name: String): Generation =
    generations(spark, name).lastOption.getOrElse(throw new IllegalStateException(
      s"model '$name' has no committed generation under ${root(spark, name)}"))

  /** Allocate the next generation of `name`. Nothing is visible to readers
    * until [[commit]]. */
  def stage(spark: SparkSession, name: String): Generation = {
    val next = generations(spark, name).lastOption.map(_.number + 1).getOrElse(1L)
    Generation(root(spark, name), s"gen-${next}__${ManifestLog.newAttemptId}")
  }

  /** Write one named part of a staged generation. */
  def write(g: Generation, part: String, df: DataFrame): Unit =
    df.write.mode("error").parquet(g.partPath(part))

  /** Commit a staged generation, then reclaim what it superseded. */
  def commit(spark: SparkSession, g: Generation): Unit = {
    ManifestLog.commitMarker(spark, g.root, g.id)
    reclaimAt(spark, g.root, ManifestLog.DefaultGraceMs)
  }

  /** Stage, write (`writeParts`) and commit one generation of `name`. */
  def publish(spark: SparkSession, name: String)(
      writeParts: Generation => Unit): Generation = {
    val g = stage(spark, name)
    writeParts(g)
    commit(spark, g)
    g
  }

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Any)]()

  /** `load`, cached per JVM by (store, `view`) and generation id: a hit
    * needs the same generation, so a newer commit always misses. Callers
    * must not mutate what a cached load returns. */
  private[operators] def cached[T](g: Generation, view: String)(load: => T): T = {
    val key = s"${g.root}#$view"
    val hit = cache.get(key)
    if (hit != null && hit._1 == g.id) hit._2.asInstanceOf[T]
    else {
      val v = load
      cache.put(key, (g.id, v))
      v
    }
  }

  /** Read the newest committed generation of `name` through `read`,
    * cached by generation id under `view`. */
  def load[T](spark: SparkSession, name: String, view: String)(
      read: Generation => T): T = {
    val g = current(spark, name)
    cached(g, view)(read(g))
  }

  /** Reclaim superseded, uncommitted and losing generations of `name` older
    * than `graceMs` (see the object scaladoc). Returns what was removed. */
  def reclaim(spark: SparkSession, name: String, graceMs: Long): Seq[String] =
    reclaimAt(spark, root(spark, name), graceMs)

  private def reclaimAt(spark: SparkSession, root: String,
                        graceMs: Long): Seq[String] = {
    val f = fs(spark, root)
    val cutoff = System.currentTimeMillis() - graceMs
    val ours = ManifestLog.markers(spark, root).filter(mk => IdPattern.matches(mk.name))
    val winners = ours.groupBy(_.seg).values.map(_.minBy(_.attempt)).toSeq
      .sortBy(mk => Generation(root, mk.name).number)
    // a reader resolves a generation before the next one commits, so the
    // successor's commit time starts the superseded generation's grace
    val superseded = winners.zip(winners.drop(1)).collect {
      case (old, next) if next.status.getModificationTime < cutoff => old
    }
    val losers = ours.filter(mk => !winners.contains(mk) &&
      mk.status.getModificationTime < cutoff)
    val retired = superseded ++ losers
    // markers first: a generation without its marker is invisible
    retired.foreach(mk => f.delete(mk.status.getPath, false))
    val kept = ours.filterNot(retired.contains).map(_.name).toSet
    val retiredNames = retired.map(_.name).toSet
    val dataDir = new Path(s"$root/data")
    val dirs = if (f.exists(dataDir)) f.listStatus(dataDir).toSeq else Seq.empty
    val removed = dirs.filter { st =>
      val n = st.getPath.getName
      IdPattern.matches(n) && !kept(n) &&
        (retiredNames(n) || st.getModificationTime < cutoff)
    }
    removed.foreach(st => f.delete(st.getPath, true))
    retired.map(_.status.getPath.getName) ++ removed.map(_.getPath.getName)
  }

  /** Delete every generation of `name`, committed or not, then the store
    * directories that are left empty. Foreign files stay where they are. */
  def drop(spark: SparkSession, name: String): Unit = {
    val r = root(spark, name)
    val f = fs(spark, r)
    ManifestLog.markers(spark, r).filter(mk => IdPattern.matches(mk.name))
      .foreach(mk => f.delete(mk.status.getPath, false))
    val dataDir = new Path(s"$r/data")
    if (f.exists(dataDir))
      f.listStatus(dataDir).filter(st => IdPattern.matches(st.getPath.getName))
        .foreach(st => f.delete(st.getPath, true))
    Seq(s"$r/manifests", s"$r/data", r).map(new Path(_)).foreach { p =>
      if (f.exists(p) && f.listStatus(p).isEmpty) f.delete(p, false)
    }
  }
}
