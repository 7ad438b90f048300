package graft

import graft.operators.{IvfIndex, Pq, Similarity}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** The PQ/ADC candidate tier: codegen kernel ≡ driver kernel, stored
  * search scores ≡ driver-recomputed ADC cosine, non-biting re-rank ≡
  * exact float search, the scan reads ONLY the 8-byte codes, the auto
  * rule gates the tier by scale, and appends encode with the STORED
  * codebooks. */
class PqIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  private def drop(tag: String): Unit = {
    graft.operators.ModelStore.drop(spark, IvfIndex.storeName(tag))
    spark.sql(s"DROP TABLE IF EXISTS ${IvfIndex.assignTable(tag)}")
  }

  private val spec = Pq.PqSpec(m = 4, k = 8)

  test("graft_adc expression ≡ Pq.adcDot kernel (incl. unsigned code bytes)") {
    import spark.implicits._
    graft.plans.AdcLookup.ensureRegistered(spark)
    val k = 256
    // codes include values > 127 — the unsigned-byte read is the trap
    val rows = (0 until 20).map { r =>
      val tab = Array.tabulate(4 * k)(i => math.sin(r * 1000 + i).toDouble)
      val code = Array.tabulate(4)(m => ((r * 37 + m * 101) % 256).toByte)
      (r, tab, code)
    }
    val got = rows.toDF("r", "tab", "code")
      .select(col("r"), expr(s"${graft.plans.AdcLookup.FuncName}(tab, code, $k)").as("adc"))
      .collect().map(x => x.getInt(0) -> x.getDouble(1)).toMap
    rows.foreach { case (r, tab, code) =>
      assert(got(r) == Pq.adcDot(tab, code, k), s"row $r diverged")
    }
  }

  test("stored searchPq scores ≡ driver-recomputed ADC cosine") {
    val dir = Files.createTempDirectory("graft-pq-score").toString
    import spark.implicits._
    try {
      IvfIndex.build(emb, dir, "pqs", nCentroids = 8,
        seed = Similarity.ResidueSeed, pq = spec)
      val got = IvfIndex.searchPq(spark, "pqs", emb.filter(col("vec_id") < 10),
        nprobe = 2).collect()
      assert(got.nonEmpty)
      // rebuild the books + signs exactly as search loads them
      val pm = IvfIndex.loadModel(spark, "pqs").pq.get
      val (books, signs) = (pm.books, pm.signs)
      val vecs = emb.select("vec_id", "embedding").as[(Long, Array[Float])]
        .collect().toMap
      got.foreach { r =>
        val (q, nb, cos) = (r.getLong(0), r.getLong(2), r.getDouble(3))
        val vq = vecs(q); val vn = vecs(nb)
        val expect = Pq.adcDot(Pq.adcTable(vq, books, signs),
          Pq.encodeVec(vn, books, signs), spec.k) /
          (Similarity.normP(vq) * Similarity.normP(vn))
        assert(cos == BigDecimal(expect).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          .toDouble, s"query $q neighbor $nb: $cos vs $expect")
      }
    } finally drop("pqs")
  }

  test("m=16 codes (the general-tier spec): scores ≡ driver recompute, appendable") {
    // the code-size axis SCALING measures — dsub drops to 4, codes double
    val sp16 = Pq.PqSpec(m = 16, k = 8)
    val dir = Files.createTempDirectory("graft-pq-m16").toString
    import spark.implicits._
    try {
      IvfIndex.build(emb, dir, "pq16", nCentroids = 8,
        seed = Similarity.ResidueSeed, pq = sp16)
      val got = IvfIndex.searchPq(spark, "pq16", emb.filter(col("vec_id") < 8),
        nprobe = 2).collect()
      assert(got.nonEmpty)
      val pm = IvfIndex.loadModel(spark, "pq16").pq.get
      assert(pm.books.map(_.length).sum == 16 * 8, "16 subspaces × 8 centroids stored")
      val (books, signs) = (pm.books, pm.signs)
      val vecs = emb.select("vec_id", "embedding").as[(Long, Array[Float])]
        .collect().toMap
      got.foreach { r =>
        val (q, nb, cos) = (r.getLong(0), r.getLong(2), r.getDouble(3))
        val expect = Pq.adcDot(Pq.adcTable(vecs(q), books, signs),
          Pq.encodeVec(vecs(nb), books, signs), sp16.k) /
          (Similarity.normP(vecs(q)) * Similarity.normP(vecs(nb)))
        assert(cos == BigDecimal(expect).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          .toDouble, s"m=16 query $q neighbor $nb: $cos vs $expect")
      }
    } finally drop("pq16")
  }

  test("residual tier: stored searchPq ≡ driver qc + residual-ADC recompute") {
    val dir = Files.createTempDirectory("graft-pq-res").toString
    import spark.implicits._
    val spR = Pq.PqSpec(m = 4, k = 8, residual = true)
    try {
      IvfIndex.build(emb, dir, "pqres", nCentroids = 8,
        seed = Similarity.ResidueSeed, pq = spR)
      // the model generation carries the flag — a reader can tell the tiers apart
      val model = IvfIndex.loadModel(spark, "pqres")
      assert(model.pq.get.residual, "residual flag not stored")
      val got = IvfIndex.searchPq(spark, "pqres", emb.filter(col("vec_id") < 10),
        nprobe = 2).collect()
      assert(got.nonEmpty)
      val (books, signs, cents) = (model.pq.get.books, model.pq.get.signs, model.cents)
      val vecs = emb.select("vec_id", "embedding").as[(Long, Array[Float])]
        .collect().toMap
      got.foreach { r =>
        val (q, nb, cos) = (r.getLong(0), r.getLong(2), r.getDouble(3))
        val vq = vecs(q); val vn = vecs(nb)
        val cell = Similarity.nearestCell(vn, cents)._1
        val code = Pq.encodeVec(Pq.residualOf(vn, cents(cell)), books, signs)
        val expect = (Pq.coarseDot(vq, cents(cell)) +
          Pq.adcDot(Pq.adcTable(vq, books, signs), code, spR.k)) /
          (Similarity.normP(vq) * Similarity.normP(vn))
        assert(cos == BigDecimal(expect).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          .toDouble, s"residual query $q neighbor $nb: $cos vs $expect")
      }
    } finally drop("pqres")
  }

  test("residual tier: non-biting re-rank ≡ float search; appends encode residuals") {
    val dir = Files.createTempDirectory("graft-pq-res-rr").toString
    import spark.implicits._
    val spR = Pq.PqSpec(m = 4, k = 8, residual = true)
    try {
      IvfIndex.build(emb.filter(col("vec_id") >= 40), dir, "pqresrr",
        nCentroids = 8, seed = Similarity.ResidueSeed, pq = spR)
      val arrivals = emb.filter(col("vec_id") < 40)
      IvfIndex.assignInto(spark, "pqresrr", arrivals)
      // appended rows carry residual codes computed with the STORED models
      val model = IvfIndex.loadModel(spark, "pqresrr")
      val (books, signs, cents) = (model.pq.get.books, model.pq.get.signs, model.cents)
      val appended = spark.table(IvfIndex.assignTable("pqresrr"))
        .join(arrivals.select("vec_id"), "vec_id")
        .select(col("vec_id"), col("pqcode"), col("embedding"))
        .as[(Long, Array[Byte], Array[Float])].collect()
      assert(appended.length == arrivals.count())
      appended.foreach { case (id, code, v) =>
        val cell = Similarity.nearestCell(v, cents)._1
        assert(code.toSeq ==
          Pq.encodeVec(Pq.residualOf(v, cents(cell)), books, signs).toSeq,
          s"vec $id not residual-encoded with the stored models")
      }
      // a non-biting widen recovers the exact float search through the
      // residual first pass too
      val q = emb.filter(col("vec_id") < 20)
      val all = IvfIndex.searchPqRerank(spark, "pqresrr", q, nprobe = 2,
        widen = 100000).collect().toSeq
      val float = IvfIndex.search(spark, "pqresrr", q, nprobe = 2).collect().toSeq
      assert(all == float && all.nonEmpty,
        "non-biting residual-ADC cut must reproduce the exact float search")
    } finally drop("pqresrr")
  }

  test("searchPqBestRescored: neighbor ≡ driver ADC arg-max, cos ≡ exact float; no sort") {
    val dir = Files.createTempDirectory("graft-pq-best").toString
    import spark.implicits._
    val spR = Pq.PqSpec(m = 4, k = 8, residual = true)
    try {
      IvfIndex.build(emb, dir, "pqbest", nCentroids = 8,
        seed = Similarity.ResidueSeed, pq = spR)
      val res = IvfIndex.searchPqBestRescored(spark, "pqbest",
        emb.filter(col("vec_id") < 15), nprobe = 2)
      val got = res.collect()
      assert(got.nonEmpty && got.forall(_.getInt(1) == 1))
      // the re-score tail never windows the survivors (the arg-max stage
      // itself runs inside the checkpoint barrier — its HashAggregate
      // planning is pinned by ArgMaxBestSpec, which is the shared shape)
      val plan = res.queryExecution.executedPlan.toString
      assert(!plan.contains("WindowExec") && !plan.contains("Window "),
        s"best-rescored path went through a window:\n$plan")
      // driver replica: full ADC scoring of the probed cells, arg-max
      // with the pinned (score DESC, id ASC) tie-break, float re-score
      val model = IvfIndex.loadModel(spark, "pqbest")
      val (books, signs, cents) = (model.pq.get.books, model.pq.get.signs, model.cents)
      val vecs = emb.select("vec_id", "embedding").as[(Long, Array[Float])]
        .collect().sortBy(_._1)
      val byId = vecs.toMap
      got.foreach { r =>
        val (q, nb, cos) = (r.getLong(0), r.getLong(2), r.getDouble(3))
        val vq = byId(q)
        val probed = Array.tabulate(cents.length)(c =>
          (Similarity.dist2P(vq, cents(c)), c)).sorted.take(2).map(_._2).toSet
        val tab = Pq.adcTable(vq, books, signs)
        val best = vecs.iterator
          .map { case (id, v) => (id, Similarity.nearestCell(v, cents)._1, v) }
          .filter { case (id, cell, _) => probed(cell) && id != q }
          .map { case (id, cell, v) =>
            val adc = (Pq.coarseDot(vq, cents(cell)) +
              Pq.adcDot(tab, Pq.encodeVec(Pq.residualOf(v, cents(cell)), books, signs), spR.k)) /
              (Similarity.normP(vq) * Similarity.normP(v))
            (id, adc)
          }
          .reduce[(Long, Double)] { case (a, b) =>
            if (b._2 > a._2 || (b._2 == a._2 && b._1 < a._1)) b else a
          }
        assert(nb == best._1, s"query $q: arg-max ${best._1} vs returned $nb")
        val expect = Similarity.dotP(vq, byId(nb)) /
          (Similarity.normP(vq) * Similarity.normP(byId(nb)))
        assert(cos == BigDecimal(expect).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          .toDouble, s"query $q: float re-score $cos vs $expect")
      }
    } finally drop("pqbest")
  }

  test("residual codes reconstruct tighter: mean |ADC − float| cosine error shrinks") {
    // the tier's reason to exist, pinned where it is cheap to verify: at
    // IDENTICAL code bytes (m=4, k=8), quantizing rot(x − c_cell) must
    // approximate the true cosine better than quantizing rot(x) — the
    // within-cell residual spans a fraction of the corpus variance
    // (Jégou 2011 §IV). SCALING.md r12 measures the recall consequence
    // at 2M/20M; this spec pins the mechanism on the spec corpus.
    val dirA = Files.createTempDirectory("graft-pq-err-raw").toString
    val dirB = Files.createTempDirectory("graft-pq-err-res").toString
    try {
      IvfIndex.build(emb, dirA, "pqerrraw", nCentroids = 8,
        seed = Similarity.ResidueSeed, pq = Pq.PqSpec(m = 4, k = 8))
      IvfIndex.build(emb, dirB, "pqerrres", nCentroids = 8,
        seed = Similarity.ResidueSeed, pq = Pq.PqSpec(m = 4, k = 8, residual = true))
      val q = emb.filter(col("vec_id") < 30)
      def meanErr(tag: String): Double = {
        val adc = IvfIndex.searchPq(spark, tag, q, nprobe = 2, k = 50)
          .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
        val fl = IvfIndex.search(spark, tag, q, nprobe = 2, k = 50)
          .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
        val common = adc.keySet & fl.keySet
        assert(common.nonEmpty)
        common.iterator.map(k => math.abs(adc(k) - fl(k))).sum / common.size
      }
      val (eRaw, eRes) = (meanErr("pqerrraw"), meanErr("pqerrres"))
      assert(eRes < eRaw,
        f"residual ADC error $eRes%.5f not below raw $eRaw%.5f at equal code bytes")
    } finally { drop("pqerrraw"); drop("pqerrres") }
  }

  test("PQ re-rank with a non-biting widen ≡ float search; biting widen still top-ks") {
    val dir = Files.createTempDirectory("graft-pq-rr").toString
    try {
      IvfIndex.build(emb, dir, "pqrr", nCentroids = 8,
        seed = Similarity.ResidueSeed, pq = spec)
      val q = emb.filter(col("vec_id") < 20)
      val all = IvfIndex.searchPqRerank(spark, "pqrr", q, nprobe = 2,
        widen = 100000).collect().toSeq
      val float = IvfIndex.search(spark, "pqrr", q, nprobe = 2).collect().toSeq
      assert(all == float && all.nonEmpty,
        "non-biting ADC cut must reproduce the exact float search")
      val bitten = IvfIndex.searchPqRerank(spark, "pqrr", q, nprobe = 2,
        widen = 1).collect()
      assert(bitten.nonEmpty && bitten.forall(_.getInt(1) <= 5))
    } finally drop("pqrr")
  }

  test("searchPq scan reads the PQ codes only — never floats or int8 — and bucket-prunes") {
    val dir = Files.createTempDirectory("graft-pq-scan").toString
    try {
      IvfIndex.build(emb, dir, "pqsc", nCentroids = 8,
        seed = Similarity.ResidueSeed, pq = spec)
      val res = IvfIndex.searchPq(spark, "pqsc", emb.filter(col("vec_id") < 3),
        nprobe = 2)
      res.collect()
      val plan = res.queryExecution.executedPlan.toString
      val scanLine = plan.linesIterator.filter(_.contains("pqsc_ivfassign"))
        .mkString("\n")
      assert(scanLine.contains("pqcode"), s"PQ codes not in scan:\n$scanLine")
      assert(!scanLine.contains("embedding"),
        s"ADC search still reads float vectors:\n$scanLine")
      assert(!scanLine.contains("qvec"),
        s"ADC search still reads int8 codes:\n$scanLine")
      val m = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(plan)
      assert(m.isDefined && m.get.group(1).toInt < m.get.group(2).toInt,
        s"no bucket pruning:\n$plan")
    } finally drop("pqsc")
  }

  test("PqAuto gates by scale; a tierless index fails searchPq loudly") {
    val dir = Files.createTempDirectory("graft-pq-auto").toString
    try {
      // 500 rows < AutoMinRows → auto resolves to no tier
      IvfIndex.build(emb, dir, "pqa", nCentroids = 8, seed = Similarity.ResidueSeed)
      assert(IvfIndex.loadModel(spark, "pqa").pq.isEmpty,
        "PqAuto trained a tier below the scale floor")
      val e = intercept[IllegalArgumentException] {
        IvfIndex.searchPq(spark, "pqa", emb.filter(col("vec_id") < 3))
      }
      assert(e.getMessage.contains("no PQ tier"), e.getMessage)
    } finally drop("pqa")
  }

  test("a rebuild without the tier leaves no codebook: searchPq fails, never stale") {
    val dir = Files.createTempDirectory("graft-pq-off").toString
    val q = emb.filter(col("vec_id") < 5)
    try {
      IvfIndex.build(emb, dir, "pqoff", nCentroids = 8,
        seed = Similarity.ResidueSeed, pq = spec)
      assert(IvfIndex.searchPq(spark, "pqoff", q, nprobe = 2).count() > 0)
      IvfIndex.build(emb, dir, "pqoff", nCentroids = 8,
        seed = Similarity.ResidueSeed, pq = Pq.PqOff)
      val g = graft.operators.ModelStore.current(spark, IvfIndex.storeName("pqoff"))
      val part = new org.apache.hadoop.fs.Path(g.partPath("pq"))
      assert(!part.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(part),
        s"tierless generation ${g.id} carries a pq part")
      assert(IvfIndex.loadModel(spark, "pqoff").pq.isEmpty)
      val e = intercept[IllegalArgumentException] {
        IvfIndex.searchPq(spark, "pqoff", q, nprobe = 2)
      }
      assert(e.getMessage.contains("no PQ tier"), e.getMessage)
    } finally drop("pqoff")
  }

  test("assignInto encodes appended vectors with the STORED codebooks") {
    val dir = Files.createTempDirectory("graft-pq-app").toString
    import spark.implicits._
    try {
      IvfIndex.build(emb.filter(col("vec_id") >= 50), dir, "pqap",
        nCentroids = 8, seed = Similarity.ResidueSeed, pq = spec)
      val arrivals = emb.filter(col("vec_id") < 50)
      IvfIndex.assignInto(spark, "pqap", arrivals)
      val pm = IvfIndex.loadModel(spark, "pqap").pq.get
      val (books, signs) = (pm.books, pm.signs)
      val appended = spark.table(IvfIndex.assignTable("pqap"))
        .join(arrivals.select("vec_id"), "vec_id")
        .select(col("vec_id"), col("pqcode"), col("embedding"))
        .as[(Long, Array[Byte], Array[Float])].collect()
      assert(appended.length == arrivals.count())
      appended.foreach { case (id, code, v) =>
        assert(code.toSeq == Pq.encodeVec(v, books, signs).toSeq,
          s"vec $id encoded differently from the stored books")
      }
      // a duplicate of an appended vector surfaces as its ADC top hit
      val probe = arrivals.limit(1).select(col("vec_id"), col("embedding"))
      val dupId = probe.collect()(0).getLong(0)
      val hits = IvfIndex.searchPq(spark, "pqap",
          probe.select((col("vec_id") + 999999L).as("vec_id"), col("embedding")))
        .filter(col("rk") === 1).collect()
      assert(hits.length == 1 && hits(0).getLong(2) == dupId,
        s"self-duplicate not ADC top hit: ${hits.toSeq}")
    } finally drop("pqap")
  }
}
