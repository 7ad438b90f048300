package graft

import graft.operators.{Dedup, IvfIndex, Similarity}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** SemDeDup semantics: the verdict must agree with an independent
  * brute-force reimplementation (assignment included), the persistent-index
  * path must equal the recompute path exactly AND pay zero Exchange for the
  * within-cell pair join, and the auto cell rule must target a fixed cell
  * SIZE (linear total pair work), not search's √n. */
class SemanticDedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val dir = "/root/testdata/sf0.001"
  private def emb = spark.read.parquet(s"$dir/embeddings.parquet")

  private def drop(tag: String): Unit = {
    graft.operators.ModelStore.drop(spark, IvfIndex.storeName(tag))
    spark.sql(s"DROP TABLE IF EXISTS ${IvfIndex.assignTable(tag)}")
  }

  test("verdicts agree with an independent brute-force within-cell check") {
    val got = Dedup.semanticDedup(spark, dir, nCentroids = 8, threshold = 0.45)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2),
        if (r.isNullAt(3)) -1L else r.getLong(3)))
    assert(got.length == emb.count())

    // independent reimplementation: same centroids API, but assignment,
    // cosine, and the lower-id-neighbor rule all recomputed with plain
    // double loops here (no DotFloat, no joins)
    val vecs = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val cents = Similarity.trainedCentroidArrays(
      emb.select("vec_id", "embedding"), 8, Similarity.LloydIters,
      Similarity.ResidueSeed)
    def cell(v: Array[Float]): Long = {
      var best = 0; var bd = Double.MaxValue
      for (c <- cents.indices) {
        var s = 0.0
        for (i <- cents(c).indices) { val d = v(i) - cents(c)(i); s += d * d }
        if (s < bd) { bd = s; best = c }
      }
      best.toLong
    }
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val cellOf = vecs.map { case (id, v) => id -> cell(v) }
    var dups = 0
    got.foreach { case (id, cid, isDup, dupOf) =>
      assert(cid == cellOf(id), s"vec $id assigned to $cid, expected ${cellOf(id)}")
      val mates = cellOf.collect { case (j, c) if c == cid && j < id => j }
      val qualifying = mates.filter(j => cos(vecs(id), vecs(j)) >= 0.45)
      if (isDup) {
        dups += 1
        assert(qualifying.nonEmpty && dupOf == qualifying.min,
          s"vec $id: dup_of=$dupOf, qualifying=${qualifying.toSeq.sorted}")
      } else assert(qualifying.isEmpty,
        s"vec $id kept but has qualifying lower-id cell-mates $qualifying")
    }
    assert(dups > 0, "test corpus has planted near-dups; none detected")
  }

  test("indexed path ≡ recompute path, exactly; pair join pays no Exchange") {
    val tmp = Files.createTempDirectory("graft-semdd").toString
    try {
      IvfIndex.build(emb, tmp, "sdd", nCentroids = 8, seed = Similarity.ResidueSeed)
      val indexed = Dedup.semanticDedupIndexed(spark, "sdd", threshold = 0.45)
      val want = Dedup.semanticDedup(spark, dir, nCentroids = 8, threshold = 0.45).collect()
      val got = indexed.collect()
      assert(got.length == want.length && got.nonEmpty)
      got.zip(want).foreach { case (a, b) => assert(a == b, s"$a vs $b") }
      // both pair-join inputs come from the cid-bucketed assignment
      // relation: the self-join must reuse the bucketing, not shuffle
      val plan = indexed.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning(cid"),
        s"within-cell pair join shuffled on cid:\n$plan")
    } finally drop("sdd")
  }

  test("IMI-assigned verdict ≡ in-memory Imi.assign verdict; no Exchange") {
    import graft.operators.{Imi, ImiIndex, Similarity => Sim}
    val tmp = Files.createTempDirectory("graft-semdd-imi").toString
    try {
      ImiIndex.build(emb, tmp, "sddi", k1 = 8)
      val indexed = Dedup.semanticDedupImi(spark, "sddi", threshold = 0.45)
      val got = indexed.collect()
      // independent verdict: in-memory product-cell assignment joined to
      // raw vectors+norms, pushed through the same verdict kernel
      val assigned = Imi.assign(spark, dir, k1 = 8)
        .select(col("vec_id"), col("cell_id").as("cid"))
        .join(emb, "vec_id")
        .withColumn("nrm", org.apache.spark.sql.functions.sqrt(
          org.apache.spark.sql.functions.aggregate(
            org.apache.spark.sql.functions.transform(col("embedding"),
              x => x.cast("double") * x.cast("double")),
            org.apache.spark.sql.functions.lit(0.0), (acc, x) => acc + x)))
      val want = Dedup.semanticVerdict(assigned, 0.45).collect()
      assert(got.length == want.length && got.nonEmpty)
      got.zip(want).foreach { case (a, b) => assert(a == b, s"$a vs $b") }
      val plan = indexed.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning(cid"),
        s"IMI pair join shuffled on cid:\n$plan")
      assert(Sim.Dim == 64) // the halves the oracle offsets depend on
    } finally {
      graft.operators.ModelStore.drop(spark, ImiIndex.storeName("sddi"))
      spark.sql(s"DROP TABLE IF EXISTS ${ImiIndex.assignTable("sddi")}")
    }
  }

  test("3-chain pins chain-pruning: dup_of may itself be dropped (not a τ-cover)") {
    import spark.implicits._
    // A=(1,0,..), B=(√½,√½,0,..), C=(0,1,0,..) in one cell, τ=0.7:
    // cos(A,B)=cos(B,C)=√½≈0.7071 ≥ τ, cos(A,C)=0 < τ.
    val h = math.sqrt(0.5).toFloat
    def v(x: Float, y: Float) =
      Array(x, y) ++ Array.fill(Similarity.Dim - 2)(0.0f)
    val assigned = Seq(
      (1L, 0L, v(1f, 0f), 1.0), (2L, 0L, v(h, h), 1.0), (3L, 0L, v(0f, 1f), 1.0))
      .toDF("vec_id", "cid", "embedding", "nrm")
    val got = Dedup.semanticVerdict(assigned, 0.7)
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(2), if (r.isNullAt(3)) -1L else r.getLong(3))).toMap
    assert(got(1L) == (false, -1L), "A survives (lowest id)")
    assert(got(2L) == (true, 1L), "B drops with dup_of=A")
    // the pinned deviation: C drops citing B, but B itself was dropped —
    // C has NO kept representative within τ (cos(A,C)=0). The kept set
    // {A} is not a τ-cover of the dropped set {B, C}.
    assert(got(3L) == (true, 2L), "C drops with dup_of=B (a dropped vector)")
    // unordered deployment form: same verdict rows, no total sort in plan
    val unordered = Dedup.semanticVerdict(assigned, 0.7, ordered = false)
    assert(unordered.collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
      == got.map { case (k, (d, _)) => k -> d })
    val plan = unordered.queryExecution.executedPlan.toString
    assert(!plan.contains("rangepartitioning"),
      s"ordered=false must not pay the total sort exchange:\n$plan")
  }

  test("auto cell rule targets fixed cell size, clamped to the model cap") {
    assert(Dedup.semanticCellsFor(1) == 1)
    assert(Dedup.semanticCellsFor(256) == 1)
    assert(Dedup.semanticCellsFor(257) == 2)
    assert(Dedup.semanticCellsFor(500) == 2, "sf0.001 corpus → 2 cells")
    assert(Dedup.semanticCellsFor(1L << 24) == 1 << 16)
    assert(Dedup.semanticCellsFor(1L << 40) == Similarity.MaxCentroids,
      "past 16.8M vectors the model cap binds — shard or IMI, documented")
  }

  test("md5 simhash ≡ xxh64 simhash on the hasher-invariant pairs") {
    // the signature is a function of the distinct-token SET, so docs with
    // equal token sets collide at hamming 0 under ANY hash — every such
    // pair must surface from BOTH hashers. (Hamming-1..3 boundary pairs
    // are legitimately hash-dependent: different hashes vote different
    // bits for weakly-similar sets.)
    val md5 = Dedup.simhashPairs(spark, dir, hasher = "md5")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    val xxh = Dedup.simhashPairs(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(md5.nonEmpty && xxh.nonEmpty)
    val tokenSets = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        Option(r.getString(1)).getOrElse("").split(" ", -1).toSet)
    val samePairs = for {
      (a, ta) <- tokenSets; (b, tb) <- tokenSets if a < b && ta == tb
    } yield (a, b)
    assert(samePairs.length > 100, "corpus plants identical-token-set dups")
    samePairs.foreach { p =>
      assert(md5.get(p).contains(0), s"pair $p missing/nonzero under md5")
      assert(xxh.get(p).contains(0), s"pair $p missing/nonzero under xxh64")
    }
  }
}
