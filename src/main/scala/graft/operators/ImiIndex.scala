package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Persistent inverted multi-index — [[Imi]]'s product-cell quantizer in
  * [[IvfIndex]]'s deployment shape, making the composability the Imi
  * scaladoc claims real: build once, search bucket-pruned, append without
  * retrain, same census/compact maintenance cadence.
  *
  *  - `build` trains the TWO half-space quantizers ([[Imi.models]] —
  *    residue seed, the oracle discipline) once, commits them with the
  *    rotation seed as one [[ModelStore]] generation ([[storeName]]), and
  *    writes the assignment relation `(vec_id, cell_id, embedding)`
  *    BUCKETED BY `cell_id`.
  *  - `search` ranks product cells per query with the multi-sequence
  *    walk ([[Imi.rankCellsWalk]] — 2·k1 half-distances rank k1² cells
  *    lazily), then reads ONLY the probed cells' buckets: the literal
  *    `cell_id IN (…)` filter triggers bucket pruning
  *    (`SelectedBucketsCount` — ImiIndexSpec pins it), so a batch
  *    probing p product cells scans ~p/k1² of the corpus file-level.
  *
  * This is the regime PAST the flat broadcast cap: at 10¹⁰ vectors the
  * flat model wants 10⁵ full-width rows (over [[Similarity.MaxCentroids]]);
  * here the same cell count ships as 2·k1 ≈ 640 half-rows. Semantics are
  * EXACTLY [[Imi.search]]'s for the same (k1, iters, nprobe, k) — pinned
  * by ImiIndexSpec equality and by `q_imi_indexed`, which runs
  * [[Imi.searchSql]]'s oracle through this stored path. */
object ImiIndex {

  /** [[ModelStore]] name of the half-models built under `tag`. */
  def storeName(tag: String): String = s"${tag}_imimodel"
  def assignTable(tag: String): String = s"${tag}_imiassign"

  /** A generation's one part: `(side, cid, centroid)` rows for the l/r
    * half-models, plus the half-decorrelating rotation seed (see
    * [[Imi.rotateP]] — the adversarially-correlated-halves defense) as a
    * DATA row of its own (`side = "s"`, centroid = [seed]). The seed is
    * written in the same part as the centroids, so a generation can never
    * exist without the seed of the space it was trained in. No seed row =
    * unrotated. */
  private val Part = "halves"
  private val PartSchema = new StructType()
    .add("side", "string").add("cid", "int").add("centroid", "array<double>")
  private val SeedSide = "s"

  def rotSeedOf(spark: SparkSession, tag: String): Long =
    loadModel(spark, tag).rotSeed

  /** Train + persist. `k1 = 0` → [[Imi.k1For]] auto rule (k1² product
    * cells track cellsFor's √n target). `rotSeed != 0` applies the seeded
    * Hadamard-sign rotation ahead of the half-split and records the seed
    * in the model generation: the assignment stores ROTATED vectors (cosines
    * are rotation-invariant, so search semantics are unchanged) and
    * search/append rotate their inputs to match. `preRotated = true`
    * (the rebuild path) declares `corpus` ALREADY in the seed's rotated
    * space: the seed is recorded but no rotation is applied. */
  def build(corpus: DataFrame, path: String, tag: String, buckets: Int = 8,
            k1: Int = 0, iters: Int = Similarity.LloydIters,
            rotSeed: Long = 0, preRotated: Boolean = false): Unit =
      LeaseLock.withTableLock(corpus.sparkSession, tag) {
    val spark = corpus.sparkSession
    import spark.implicits._
    // the seed rides a DOUBLE slot in the centroid column — exactness cap
    require(math.abs(rotSeed) < (1L << 53), s"rotSeed $rotSeed exceeds exact-double range")
    val raw = corpus.select(col("vec_id"), col("embedding"))
    val base = if (rotSeed != 0 && !preRotated) Imi.rotated(raw, rotSeed) else raw
    // count drives only the auto-k1 rule + sampling decision — explicit-k1
    // builds (every oracle) skip the job (r15 opt, the IvfIndex.build shape)
    lazy val n = base.count()
    val kk = if (k1 == 0) Imi.k1For(n) else k1
    // AUTO path trains the half-quantizers on the same bounded
    // deterministic sample as [[IvfIndex.build]] (~128 rows per k1
    // cluster — [[Similarity.lloydTrainSample]]): half-training is
    // n·k1·halfDim per round, O(n^1.25) under the k1 = n^¼ rule, and
    // sampling bounds it corpus-size-independently. Explicit-k1 callers
    // (every `q_imi_*` oracle) keep full-corpus training bit-identical
    // to the unrolled SQL chains. The sample is taken AFTER rotation
    // (vec_id is rotation-invariant, so the sampled id set matches the
    // flat path's on the same corpus).
    val sampled = k1 == 0 && n > Similarity.TrainSamplePerCell.toLong * kk
    val trainBase =
      if (sampled) org.apache.spark.sql.graft.CheckpointShim
        .statsHonestLocalCheckpoint(Similarity.lloydTrainSample(base, n, kk))
      else base
    val (cl, cr) =
      try Imi.models(trainBase, kk, iters)
      finally if (sampled)
        org.apache.spark.sql.graft.CheckpointShim.freeCheckpoint(trainBase)
    // model + assignment writes are independent (both derive from the
    // driver-side half-models) — overlap them (r15 opt, the
    // IvfIndex.build shape; the generation commits after both succeeded,
    // and the held tag lease serializes other writers)
    val g = ModelStore.stage(spark, storeName(tag))
    Jobs.concurrently(Seq(
      () => {
        val modelRows =
          cl.zipWithIndex.map { case (c, cid) => ("l", cid, c) } ++
            cr.zipWithIndex.map { case (c, cid) => ("r", cid, c) } ++
            (if (rotSeed != 0) Seq((SeedSide, 0, Array(rotSeed.toDouble))) else Seq.empty)
        ModelStore.write(g, Part,
          modelRows.toSeq.toDF("side", "cid", "centroid").coalesce(1))
      },
      () => {
        // nrm precomputed at write time — same scoring-stage rationale as
        // [[IvfIndex.build]]
        val assigned = base.as[(Long, Array[Float])]
          .map { case (id, v) => (id, Imi.cellIdOf(v, cl, cr, kk), v, Similarity.normP(v)) }
          .toDF("vec_id", "cell_id", "embedding", "nrm")
        BucketedMaintenance.dropWithFiles(spark, assignTable(tag))
        assigned.write.mode(SaveMode.Overwrite).format("parquet")
          .bucketBy(buckets, "cell_id").sortBy("cell_id")
          .option("path", s"$path/${assignTable(tag)}")
          .saveAsTable(assignTable(tag))
      }))
    ModelStore.commit(spark, g)
  }

  /** Assign new vectors into the EXISTING half-models (no retrain) and
    * append bucketed — the [[IvfIndex.assignInto]] analog, writing
    * through the catalog so it follows a compacted table's location.
    * `buckets = 0` (the default) follows the STORED table's bucket spec
    * — see [[IvfIndex.assignInto]]. */
  def assignInto(spark: SparkSession, tag: String,
                 newVecs: DataFrame, buckets: Int = 0): Unit =
      LeaseLock.withTableLock(spark, tag) {
    import spark.implicits._
    IndexCanary.check(spark, assignTable(tag))
    val bk = if (buckets == 0)
      BucketedMaintenance.storedBuckets(spark, assignTable(tag)) else buckets
    val Model(cl, cr, seed) = loadModel(spark, tag)
    val kk = cl.length
    // rotate into the index's stored space when the model carries a seed
    val inVecs = if (seed != 0)
      Imi.rotated(newVecs.select(col("vec_id"), col("embedding")), seed)
    else newVecs
    // post-commit swap validation + retry, as in [[IvfIndex.assignInto]],
    // with the same exact batch-id survivorship probe (and the same
    // disjointness precondition that makes it exact — see there)
    val batchIds = newVecs.select("vec_id").distinct()
    val present = BucketedMaintenance.disjointBatchProbe(
      spark, assignTable(tag), batchIds, "vec_id")
    BucketedMaintenance.guardedAppend(spark, Seq(assignTable(tag)),
      rowsPresent = Some(present)) {
      inVecs.select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
        .map { case (id, v) => (id, Imi.cellIdOf(v, cl, cr, kk), v, Similarity.normP(v)) }
        .toDF("vec_id", "cell_id", "embedding", "nrm")
        .write.mode(SaveMode.Append).format("parquet")
        .bucketBy(bk, "cell_id").sortBy("cell_id")
        .saveAsTable(assignTable(tag))
    }
  }

  /** Retrain when the corpus outgrows k1 — [[IvfIndex.rebuildIfNeeded]]'s
    * census (one tiny count), gating on [[Imi.k1For]] of the stored
    * count vs the loaded model's k1. Returns true iff a rebuild ran. */
  def rebuildIfNeeded(spark: SparkSession, tag: String, path: String,
                      buckets: Int = 0, growthFactor: Double = 2.0,
                      iters: Int = Similarity.LloydIters): Boolean = {
    spark.catalog.refreshTable(assignTable(tag))
    val n = spark.table(assignTable(tag)).count()
    val model = loadModel(spark, tag)
    if (n > 0 && Imi.k1For(n) >= growthFactor * model.cl.length) {
      // preserve the stored physical layout across retrains — and the
      // rotation: the stored vectors are ALREADY in rotated space, so the
      // rebuild trains on them as-is (preRotated — no double rotation)
      // while the seed is committed in the same generation as the new
      // half-models, so no reader ever sees a rotated assignment under an
      // unrotated-looking model
      val seed = model.rotSeed
      val bk = if (buckets == 0)
        BucketedMaintenance.storedBuckets(spark, assignTable(tag)) else buckets
      val corpus = org.apache.spark.sql.graft.CheckpointShim.statsHonestLocalCheckpoint(
        spark.table(assignTable(tag)).select(col("vec_id"), col("embedding")))
      build(corpus, path, tag, bk, k1 = 0, iters, rotSeed = seed, preRotated = true)
      true
    } else false
  }

  /** Compact the append-accreted assignment relation — shared staged-swap
    * mechanics with the concurrent-writer guard ([[BucketedMaintenance]]). */
  def compact(spark: SparkSession, tag: String, path: String): Unit =
    LeaseLock.withTableLock(spark, tag) {
      BucketedMaintenance.compact(spark, Seq((assignTable(tag), "cell_id")), path)
    }

  /** Parquet file count of the assignment relation — what [[compact]] bounds. */
  def fileCount(spark: SparkSession, tag: String): Long =
    BucketedMaintenance.fileCount(spark, Seq(assignTable(tag)))

  /** One model generation: the l/r half-quantizers (indexed by cid) and
    * the rotation seed (0 = unrotated). */
  private[graft] final case class Model(cl: Array[Array[Double]],
                                        cr: Array[Array[Double]], rotSeed: Long)

  /** The newest committed model generation of `tag`, cached per JVM by
    * generation id — ONE read serves both the half-models and the seed,
    * so they can never disagree about which build they describe. */
  private[graft] def loadModel(spark: SparkSession, tag: String): Model =
    ModelStore.load(spark, storeName(tag), Part) { g =>
      val rows = g.read(spark, Part, PartSchema).collect()
        .map(r => (r.getString(0), r.getInt(1), r.getSeq[Double](2).toArray))
      def side(s: String): Array[Array[Double]] = {
        val picked = rows.filter(_._1 == s)
        val cents = new Array[Array[Double]](picked.length)
        picked.foreach { case (_, cid, c) => cents(cid) = c }
        require(cents.nonEmpty && cents.forall(_ != null),
          s"${g.partPath(Part)} side '$s' has gaps in cid space")
        cents
      }
      Model(side("l"), side("r"),
        rows.find(_._1 == SeedSide).map(_._3(0).toLong).getOrElse(0L))
    }

  /** Top-k cosine neighbors for `queries` against the stored corpus.
    * Output contract = [[Imi.search]]: `(query_id, rk, neighbor_id, cos)`.
    * `excludeSelf = false` keeps same-id matches — the streaming-gate
    * replay story, identical to [[IvfIndex.search]]. `nprobe = 0` (the
    * default) resolves to [[Similarity.nprobeFor]] of the k1² product
    * cell count — the same measured recall-floor rule as the flat index
    * (2·√(k1²) = 2·k1 cells probed). */
  def search(spark: SparkSession, tag: String, queries: DataFrame,
             nprobe: Int = 0, k: Int = 5, excludeSelf: Boolean = true): DataFrame = {
    import spark.implicits._
    IndexCanary.check(spark, assignTable(tag))
    val Model(cl, cr, seed) = loadModel(spark, tag)
    val kk = cl.length
    val np = if (nprobe == 0) Similarity.nprobeFor(kk * kk) else nprobe
    spark.catalog.refreshTable(assignTable(tag)) // cross-session appends
    // rotate queries into the index's stored space when the model carries
    // a seed (cosines are rotation-invariant — output semantics unchanged)
    val inQueries = if (seed != 0)
      Imi.rotated(queries.select(col("vec_id"), col("embedding")), seed)
    else queries
    // checkpointed for the same reason as [[IvfIndex.search]]'s probes:
    // the ranking kernel feeds both the probed-cells collect and the join
    val probes = org.apache.spark.sql.graft.CheckpointShim.statsHonestLocalCheckpoint(
      inQueries.select(col("vec_id"), col("embedding"))
        .as[(Long, Array[Float])]
        .flatMap { case (id, v) =>
          val dl = Array.tabulate(kk)(i => Similarity.dist2P(v.take(Imi.HalfDim), cl(i)))
          val dr = Array.tabulate(kk)(j => Similarity.dist2P(v.drop(Imi.HalfDim), cr(j)))
          Imi.rankCellsWalk(dl, dr, kk, np).iterator
            .map(cell => (id, cell, v, Similarity.normP(v)))
        }
        .toDF("query_id", "cell_id", "vq", "nq"))
    // literal IN over the probed product cells → bucket pruning; the
    // collect is ≤ queries × nprobe longs — probe metadata, not data
    val probedCells = probes.select("cell_id").distinct().as[Long].collect().toSeq
    val joined = spark.table(assignTable(tag))
      .filter(col("cell_id").isin(probedCells: _*))
      .join(probes, "cell_id")
    val cand = if (excludeSelf) joined.filter(col("vec_id") =!= col("query_id")) else joined
    // native codegen scoring with the stored norm — see [[IvfIndex.search]]
    graft.plans.DotFloat.ensureRegistered(spark)
    val scored = cand
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (expr(s"${graft.plans.DotFloat.FuncName}(vq, embedding)")
          / (col("nq") * col("nrm"))).as("cos"))
    // k = 1 rides the hash arg-max; k > 1 the window — see
    // [[IvfIndex.topKScored]]
    IvfIndex.topKScored(scored, k)
  }
}
