package graft

import graft.operators.{Imi, Similarity}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The Hadamard-sign rotation ahead of the IMI half-split: orthogonal
  * (geometry preserved to float rounding), deterministic per seed, and
  * it actually repairs the adversarially-correlated-halves collapse the
  * round-7 verdict named — while leaving uncorrelated corpora as good as
  * before (recall parity on the standard corpus). */
class ImiRotationSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val dir = "/root/testdata/sf0.001"
  private def emb = spark.read.parquet(s"$dir/embeddings.parquet")
    .select("vec_id", "embedding")

  test("rotation is orthogonal: norms and dot products preserved to float rounding") {
    val signs = Imi.rotSigns(Imi.RotSeed)
    val vs = emb.limit(20).collect()
      .map(_.getSeq[Float](1).toArray)
    for (a <- vs.take(5); b <- vs.take(5)) {
      val ra = Imi.rotateP(a, signs)
      val rb = Imi.rotateP(b, signs)
      val d0 = Similarity.dotP(a, b)
      val d1 = Similarity.dotP(ra, rb)
      assert(math.abs(d0 - d1) <= 1e-4 * math.max(1.0, math.abs(d0)),
        s"dot drifted: $d0 vs $d1")
    }
  }

  test("rotation is seed-deterministic and seed-sensitive") {
    val v = emb.limit(1).collect()(0).getSeq[Float](1).toArray
    val a = Imi.rotateP(v, Imi.rotSigns(7L))
    val b = Imi.rotateP(v, Imi.rotSigns(7L))
    val c = Imi.rotateP(v, Imi.rotSigns(8L))
    assert(a.sameElements(b))
    assert(!a.sameElements(c))
  }

  test("adversarial copy-halves corpus: rotation repairs the product-cell collapse") {
    import spark.implicits._
    val half = Imi.HalfDim
    // right half := left half — perfectly correlated halves
    val adv = emb.select(col("vec_id"),
      concat(slice(col("embedding"), 1, half),
        slice(col("embedding"), 1, half)).as("embedding"))
    val k1 = 8
    def stats(assigned: org.apache.spark.sql.DataFrame): (Long, Double) = {
      val occ = assigned.groupBy("cell_id").agg(count(lit(1)).as("c"))
        .agg(count(lit(1)).as("pop"), max(col("c")).as("mx")).collect()(0)
      (occ.getLong(0), occ.getLong(1).toDouble / 500)
    }
    // unrotated: both half-quantizers see the SAME data → identical
    // training → cell_l == cell_r for every vector (pure diagonal:
    // populated cells ≤ k1 of the k1² product)
    val plain = Imi.models(adv, k1)
    val rotBase = Imi.rotated(adv, Imi.RotSeed)
    val (clP, crP) = plain
    assert(clP.zip(crP).forall { case (l, r) => l.sameElements(r) },
      "copy-halves must train identical half-models")
    val assignedPlain = adv.as[(Long, Array[Float])]
      .map { case (id, v) => (id, Imi.cellIdOf(v, clP, crP, k1)) }
      .toDF("vec_id", "cell_id")
    val (popPlain, mxPlain) = stats(assignedPlain)
    assert(popPlain <= k1,
      s"adversarial corpus must collapse to the diagonal: $popPlain cells")
    // rotated: the mix spreads the joint distribution off the diagonal
    val (clR, crR) = Imi.models(rotBase, k1)
    val assignedRot = rotBase.as[(Long, Array[Float])]
      .map { case (id, v) => (id, Imi.cellIdOf(v, clR, crR, k1)) }
      .toDF("vec_id", "cell_id")
    val (popRot, mxRot) = stats(assignedRot)
    assert(popRot > 2 * popPlain,
      s"rotation must spread the product cells: $popPlain → $popRot")
    assert(mxRot < mxPlain,
      s"rotation must shrink the largest cell: $mxPlain → $mxRot")
  }

  test("stored rotated index: search ≡ in-memory searchRot; append + rebuild keep the seed") {
    import graft.operators.ImiIndex
    import java.nio.file.Files
    val tmp = Files.createTempDirectory("graft-imirot").toString
    val tag = "imirot"
    try {
      val base = emb.filter(col("vec_id") % 7 =!= 0)
      ImiIndex.build(base, tmp, tag, k1 = 8, rotSeed = Imi.RotSeed)
      assert(ImiIndex.rotSeedOf(spark, tag) == Imi.RotSeed)
      // stored path ≡ the in-memory rotated search on the same corpus
      val queries = emb.filter(col("vec_id") < 20)
      val got = ImiIndex.search(spark, tag, queries, nprobe = 4)
        .collect().map(_.toString).toSeq
      val want = Imi.searchOn(Imi.rotated(base, Imi.RotSeed), k1 = 8,
          nprobe = 4, k = 5, nQueries = 20)
        .collect().map(_.toString).toSeq
      // searchOn takes queries from the corpus (vec_id < 20 ∈ base after
      // the %7 filter drops some) — compare on the shared query ids
      val wantIds = want.map(_.split(",")(0)).toSet
      assert(got.filter(r => wantIds.contains(r.split(",")(0))) == want)
      // append rotates into the stored space: an exact copy of a stored
      // vector must answer at cos 1 when searched
      val copy = base.limit(1).select(
        (col("vec_id") + 900000L).as("vec_id"), col("embedding"))
      ImiIndex.assignInto(spark, tag, copy)
      val probe = ImiIndex.search(spark, tag,
        copy.select((col("vec_id") + 1L).as("vec_id"), col("embedding")),
        nprobe = 4, k = 2)
      val top = probe.collect()(0)
      assert(top.getDouble(3) >= 0.999999, s"appended copy not found: $top")
      // rebuild (forced via growthFactor 0) keeps the rotation seed
      assert(ImiIndex.rebuildIfNeeded(spark, tag, tmp, growthFactor = 0.0))
      assert(ImiIndex.rotSeedOf(spark, tag) == Imi.RotSeed,
        "rebuild must restore the rotation seed")
      val again = ImiIndex.search(spark, tag, queries, nprobe = 4)
        .collect().map(_.toString).toSeq
      assert(again.nonEmpty)
    } finally {
      graft.operators.ModelStore.drop(spark, ImiIndex.storeName(tag))
      spark.sql(s"DROP TABLE IF EXISTS ${ImiIndex.assignTable(tag)}")
    }
  }

  test("uncorrelated corpus: rotated search recall matches unrotated") {
    val exact = Similarity.topK(spark, dir, k = 5, nQueries = 20)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.filter(col("query_id") < 20).collect()
        .map(r => (r.getLong(0), r.getLong(2))).toSet
      (got & exact).size.toDouble / exact.size
    }
    val plain = recallOf(Imi.search(spark, dir, k1 = 8, nprobe = 16, nQueries = 20))
    val rot = recallOf(Imi.searchRot(spark, dir, k1 = 8, nprobe = 16, nQueries = 20))
    // same probe budget, same corpus: the rotation must not cost recall
    // beyond cell-boundary noise (parity band ±0.1)
    assert(math.abs(plain - rot) <= 0.1, s"unrotated $plain vs rotated $rot")
  }

  test("rotation rejects non-power-of-two dims (H is only Hadamard at 2^k)") {
    // dim 36 is a perfect square but NOT a power of two: H[i][j] =
    // (−1)^popcount(i∧j) is non-orthogonal there, so rotateP must refuse
    // rather than silently break geometry preservation; and the oracle's
    // √dim literal additionally needs dim = 4^k.
    val signs36 = Array.fill(36)(1.0)
    val ex = intercept[IllegalArgumentException] {
      Imi.rotateP(Array.fill(36)(1.0f), signs36)
    }
    assert(ex.getMessage.contains("power-of-two"), ex.getMessage)
    intercept[IllegalArgumentException] { Imi.rotCteSql(Imi.RotSeed, 36) }
    // dim 128 is a power of two but √128 is irrational — the oracle's
    // exact-literal division rules it out too
    val ex128 = intercept[IllegalArgumentException] {
      Imi.rotateP(Array.fill(128)(1.0f), Array.fill(128)(1.0))
    }
    assert(ex128.getMessage.contains("4^k"), ex128.getMessage)
    // dim 64 = 4³ stays fine
    assert(Imi.rotateP(Array.fill(64)(1.0f), Array.fill(64)(1.0)).length == 64)
  }
}
