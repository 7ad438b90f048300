package graft

import graft.operators.{BucketedMaintenance, IvfIndex, ModelStore, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Sample-trained Lloyd on the persistent build's AUTO path
  * ([[Similarity.lloydTrainSample]]): each Lloyd round is an
  * n·cells·dim nearest-cell pass — O(n^1.5) under the √n cell rule —
  * so the deployment path trains on a bounded deterministic hash-stride
  * sample (~128 rows/cell) while every explicit-cells caller (the
  * oracle configs) keeps full-corpus training bit-identical to the
  * unrolled SQL chains. */
class LloydSampleSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** 20k deterministic [[Similarity.Dim]]-dim vectors — big enough that
    * the auto rule's cell count (cellsFor(20k)) puts the corpus past the
    * 128/cell cap (the build path is Dim-fixed: quantize + centroid
    * aggregation assume the engine dimension). */
  private lazy val corpus: DataFrame = {
    import spark.implicits._
    (0 until 20000).map { i =>
      val v = Array.tabulate(Similarity.Dim)(d =>
        (math.sin(i * 0.37 + d * 1.7) + math.cos(i * 0.011 * (d + 1))).toFloat)
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
  }

  test("sample is deterministic, bounded near the cap, and identity below it") {
    val n = corpus.count()
    val cells = Similarity.cellsFor(n)
    assert(n > Similarity.TrainSamplePerCell.toLong * cells,
      s"fixture too small to trigger sampling: n=$n cells=$cells")
    val s1 = Similarity.lloydTrainSample(corpus, n, cells)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    val s2 = Similarity.lloydTrainSample(corpus, n, cells)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(s1 == s2, "hash-stride sample must be reproducible")
    assert(s1.size < n && s1.size >= Similarity.TrainSamplePerCell.toLong * cells / 2,
      s"sample size ${s1.size} out of band for cap ${Similarity.TrainSamplePerCell.toLong * cells}")
    // below the cap the relation is returned untouched (small corpora
    // train exactly as before — reference equality, not just row equality)
    assert(Similarity.lloydTrainSample(corpus, n, (n / 16).toInt) eq corpus)
  }

  test("auto build is reproducible; explicit-cells build still trains on the full corpus") {
    val dir = java.nio.file.Files.createTempDirectory("graft-lloydsample").toString
    def model(tag: String): Seq[(Int, Seq[Double])] =
      IvfIndex.loadModel(spark, tag).cents.toSeq.map(_.toSeq).zipWithIndex
        .map { case (c, cid) => (cid, c) }
    def drop(tag: String): Unit = {
      ModelStore.drop(spark, IvfIndex.storeName(tag))
      BucketedMaintenance.dropWithFiles(spark, IvfIndex.assignTable(tag))
    }
    try {
      // auto path: two builds → identical models (deterministic sample)
      IvfIndex.build(corpus, dir, "lls_auto1", buckets = 2)
      IvfIndex.build(corpus, dir, "lls_auto2", buckets = 2)
      assert(model("lls_auto1") == model("lls_auto2"),
        "auto-path sample-trained model must be reproducible")
      // explicit path: the stored model must equal full-corpus training —
      // sampling must NOT leak into oracle-config builds
      IvfIndex.build(corpus, dir, "lls_expl", buckets = 2, nCentroids = 8,
        seed = Similarity.ResidueSeed)
      val full = Similarity.trainedCentroidArrays(corpus, 8,
        seed = Similarity.ResidueSeed)
      val stored = model("lls_expl")
      assert(stored.size == 8)
      stored.foreach { case (cid, c) =>
        assert(c == full(cid).toSeq, s"explicit-cells centroid $cid diverged — sampling leaked")
      }
    } finally Seq("lls_auto1", "lls_auto2", "lls_expl").foreach(drop)
  }

  test("IMI auto build samples reproducibly; explicit-k1 build keeps full-corpus halves") {
    import graft.operators.{Imi, ImiIndex}
    val dir = java.nio.file.Files.createTempDirectory("graft-lloydimi").toString
    def model(tag: String): Seq[(String, Int, Seq[Double])] = {
      val m = ImiIndex.loadModel(spark, tag)
      def side(s: String, cs: Array[Array[Double]]) =
        cs.toSeq.zipWithIndex.map { case (c, cid) => (s, cid, c.toSeq) }
      side("l", m.cl) ++ side("r", m.cr)
    }
    def drop(tag: String): Unit = {
      ModelStore.drop(spark, ImiIndex.storeName(tag))
      BucketedMaintenance.dropWithFiles(spark, ImiIndex.assignTable(tag))
    }
    try {
      // auto k1 at 20k rows: k1For(20000) ≈ 12 → cap 128·12 ≪ n → sampled
      ImiIndex.build(corpus, dir, "lls_imi1", buckets = 2)
      ImiIndex.build(corpus, dir, "lls_imi2", buckets = 2)
      assert(model("lls_imi1") == model("lls_imi2"),
        "IMI auto-path sample-trained halves must be reproducible")
      // explicit k1: stored halves ≡ full-corpus Imi.models
      ImiIndex.build(corpus, dir, "lls_imie", buckets = 2, k1 = 4)
      val (cl, cr) = Imi.models(corpus, 4)
      val stored = model("lls_imie")
      assert(stored.size == 8)
      stored.foreach { case (side, cid, c) =>
        val want = (if (side == "l") cl else cr)(cid).toSeq
        assert(c == want, s"explicit-k1 half $side/$cid diverged — sampling leaked")
      }
    } finally Seq("lls_imi1", "lls_imi2", "lls_imie").foreach(drop)
  }

  test("sample-trained auto index keeps rule-budget recall vs full-corpus training") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-lloydrecall").toString
    def drop(tag: String): Unit = {
      ModelStore.drop(spark, IvfIndex.storeName(tag))
      BucketedMaintenance.dropWithFiles(spark, IvfIndex.assignTable(tag))
    }
    try {
      val queries = corpus.filter(col("vec_id") % 400 === 0) // 50 queries
      // exact top-5 (excluding self) by brute force on the driver
      val all = corpus.as[(Long, Array[Float])].collect()
      val qs = queries.as[(Long, Array[Float])].collect()
      val truth = qs.map { case (qid, qv) =>
        val nq = Similarity.normP(qv)
        qid -> all.filter(_._1 != qid)
          .map { case (id, v) => (id, Similarity.dotP(qv, v) / (nq * Similarity.normP(v))) }
          .sortBy { case (id, c) => (-c, id) }.take(5).map(_._1).toSet
      }.toMap
      IvfIndex.build(corpus, dir, "lls_rec", buckets = 2) // auto: sampled training
      val cells = IvfIndex.loadModel(spark, "lls_rec").cents.length
      val got = IvfIndex.search(spark, "lls_rec", queries,
          nprobe = Similarity.nprobeFor(cells), k = 5)
        .select("query_id", "neighbor_id").collect()
        .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      val recall = qs.map { case (qid, _) =>
        (got.getOrElse(qid, Set.empty) & truth(qid)).size / 5.0
      }.sum / qs.length
      assert(recall >= 0.5,
        f"sample-trained rule-budget recall@5 $recall%.3f below the 0.55-floor band")
    } finally drop("lls_rec")
  }
}
