package graft

import graft.operators.{ModelStore, QualityClassifier}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Closed-form checks of the NB quality classifier: hand-computed add-one
  * estimates on a corpus small enough to verify with a calculator, the
  * Laplace-floor degradation on disjoint score corpora, and the plan
  * shape that carries the 100 TB claim (model joined via broadcast — no
  * sort-merge on the feat join). */
class QualityClassifierSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // dim chosen tiny so every token maps to a KNOWN bucket: with dim=1 all
  // tokens share bucket 0 and the algebra collapses to pure counts
  test("dim=1 collapses to token-count algebra (hand-computed)") {
    val labeled = Seq(
      (1L, true, "a b c"),   // 3 pos tokens
      (2L, false, "d e"),    // 2 neg tokens
      (3L, false, "f")       // 1 neg token
    ).toDF("doc_id", "label", "text")
    val (model, totals) = QualityClassifier.train(spark, labeled, dim = 1)
    val llr = model.collect()(0).getDouble(1)
    // cPos=3, nPos=3, cNeg=3, nNeg=3, dim=1 → llr = ln(4/4) − ln(4/4) = 0
    assert(math.abs(llr) < 1e-12)
    val t = totals.collect()(0)
    assert(t.getAs[Long]("d_pos") == 1 && t.getAs[Long]("d_neg") == 2)
    val scored = QualityClassifier.score(labeled, model, totals, dim = 1)
      .orderBy("doc_id").collect()
    // score = 0 + ln(1/2) for every doc; predicted = false
    val want = BigDecimal(math.log(0.5)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    scored.foreach { r =>
      assert(math.abs(r.getAs[Double]("score") - want) < 1e-9)
      assert(!r.getAs[Boolean]("predicted"))
    }
  }

  test("add-one estimates match hand computation at dim=4") {
    // token → feat is md5-based; recover the mapping first, then verify
    // the llr of each OCCUPIED bucket against the closed form
    val labeled = Seq(
      (1L, true, "x x y"),
      (2L, false, "x z z")
    ).toDF("doc_id", "label", "text")
    val dim = 4
    val (model, totals) = QualityClassifier.train(spark, labeled, dim)
    def featOf(tok: String): Int = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8")).map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(h.substring(0, 13), 16) % dim).toInt
    }
    val (fx, fy, fz) = (featOf("x"), featOf("y"), featOf("z"))
    val llrs = model.collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    (0 until dim).foreach { f =>
      // collisions possible between x/y/z buckets — accumulate true counts
      val cp = Seq(fx -> 2, fy -> 1).collect { case (ff, c) if ff == f => c }.sum
      val cn = Seq(fx -> 1, fz -> 2).collect { case (ff, c) if ff == f => c }.sum
      val want = math.log((cp + 1.0) / (3 + dim)) - math.log((cn + 1.0) / (3 + dim))
      assert(math.abs(llrs(f) - want) < 1e-12, s"feat $f: ${llrs(f)} vs $want")
    }
    // score doc 1 by hand: sum of per-token llr + ln(1/1)
    val scored = QualityClassifier.score(labeled, model, totals, dim)
      .orderBy("doc_id").collect()
    val wantScore1 = 2 * llrs(fx) + llrs(fy) + math.log(1.0)
    assert(math.abs(scored(0).getAs[Double]("score") -
      BigDecimal(wantScore1).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    assert(scored(0).getAs[Boolean]("predicted") == (scored(0).getAs[Double]("score") > 0))
  }

  test("single-class training corpus is refused loudly") {
    val allPos = Seq((1L, true, "a b"), (2L, true, "c d")).toDF("doc_id", "label", "text")
    val e = intercept[IllegalArgumentException] {
      QualityClassifier.train(spark, allPos, dim = 8)
    }
    assert(e.getMessage.contains("both classes"))
    val allNeg = Seq((1L, false, "a b")).toDF("doc_id", "label", "text")
    intercept[IllegalArgumentException](QualityClassifier.train(spark, allNeg, dim = 8))
  }

  test("disjoint score corpus degrades to the Laplace floor, never fails") {
    val train = Seq((1L, true, "good text here"), (2L, false, "bad stuff there"))
      .toDF("doc_id", "label", "text")
    val unseen = Seq((9L, false, "entirely novel vocabulary tokens"))
      .toDF("doc_id", "label", "text")
    val (model, totals) = QualityClassifier.train(spark, train, dim = 16)
    val out = QualityClassifier.score(unseen, model, totals, dim = 16).collect()
    assert(out.length == 1) // every bucket materialized → inner join hits
  }

  test("null and empty text behave like the hashed-features oracle (one empty token)") {
    val labeled = Seq((1L, true, null.asInstanceOf[String]), (2L, false, ""))
      .toDF("doc_id", "label", "text")
    val (model, totals) = QualityClassifier.train(spark, labeled, dim = 8)
    val out = QualityClassifier.score(labeled, model, totals, dim = 8)
      .orderBy("doc_id").collect()
    assert(out.length == 2)
    // both docs hold exactly the "" token → identical |score − prior| contribution
    assert(out(0).getAs[Double]("score") - out(1).getAs[Double]("score") != 0.0 ||
      totals.collect()(0).getAs[Double]("log_prior") == 0.0)
  }

  test("held-out generalization on a separable corpus; chance on the unseparable one") {
    // 1) SEPARABLE: positive docs draw from vocabulary A + shared fillers,
    //    negative from vocabulary B + the same fillers. Train on the
    //    md5-fold-0 half, score ONLY the disjoint fold-1 half — the gate
    //    must classify documents it never saw.
    val posVocab = Seq("alpha", "bravo", "charlie", "delta")
    val negVocab = Seq("zulu", "yankee", "xray", "whiskey")
    val fillers = Seq("the", "of", "and")
    def text(vocab: Seq[String], i: Int): String =
      (0 until 12).map(j => if (j % 3 == 2) fillers((i + j) % 3)
        else vocab((i * 7 + j) % 4)).mkString(" ")
    val corpus = ((0 until 60).map(i => (i.toLong, true, text(posVocab, i))) ++
      (60 until 120).map(i => (i.toLong, false, text(negVocab, i))))
      .toDF("doc_id", "label", "text")
    val fold = QualityClassifier.holdoutFold(col("doc_id"))
    val trainHalf = corpus.filter(fold === 0)
    val testHalf = corpus.filter(fold === 1)
    // folds genuinely split, both classes present on both sides
    assert(trainHalf.count() > 0 && testHalf.count() > 0)
    assert(trainHalf.count() + testHalf.count() == 120)
    val dim = QualityClassifier.DefaultDim
    val (model, totals) = QualityClassifier.train(spark, trainHalf, dim)
    val m = QualityClassifier.metrics(
      QualityClassifier.score(testHalf, model, totals, dim)).collect()(0)
    assert(m.getAs[Long]("n") == testHalf.count())
    assert(m.getAs[Double]("accuracy") == 1.0,
      s"held-out accuracy on a separable corpus: $m")
    assert(m.getAs[Double]("precision") == 1.0 && m.getAs[Double]("recall") == 1.0, s"$m")
    // 2) UNSEPARABLE (the honest boundary SCALING states): the synthetic
    //    sf corpus's source labels carry no token signal — held-out, the
    //    score>0 gate predicts the majority class for every document
    //    (tp = fp = 0) rather than hallucinating positives
    val sf = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"),
        col("source").isin(QualityClassifier.PositiveSources: _*).as("label"),
        col("text"))
    val (m2, t2) = QualityClassifier.train(spark, sf.filter(fold === 0), dim)
    val held = QualityClassifier.metrics(
      QualityClassifier.score(sf.filter(fold === 1), m2, t2, dim)).collect()(0)
    assert(held.getAs[Long]("tp") == 0 && held.getAs[Long]("fp") == 0,
      s"source labels should be unlearnable on the synthetic corpus: $held")
  }

  test("persist → load round-trips: scores bit-equal, torn tables loud") {
    val labeled = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"),
        col("source").isin(QualityClassifier.PositiveSources: _*).as("label"),
        col("text"))
    val dim = 64
    val tag = "qcspec"
    try {
      val (model, totals) = QualityClassifier.train(spark, labeled, dim)
      QualityClassifier.persist(spark, tag, model, totals, dim)
      val (m2, t2, d2) = QualityClassifier.load(spark, tag)
      assert(d2 == dim)
      val direct = QualityClassifier.score(labeled, model, totals, dim)
        .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
      val loaded = QualityClassifier.score(labeled, m2, t2, d2)
        .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
      assert(direct == loaded, "loaded-model scores drifted")
      // torn generation: the stored rows minus the prior row → load must refuse
      val name = QualityClassifier.storeName(tag)
      val stored = spark.read.parquet(ModelStore.current(spark, name).partPath("qc"))
        .filter(col("kind") =!= "prior")
      ModelStore.publish(spark, name)(ModelStore.write(_, "qc", stored))
      val e = intercept[IllegalArgumentException] {
        QualityClassifier.load(spark, tag)
      }
      assert(e.getMessage.contains("prior"))
    } finally ModelStore.drop(spark, QualityClassifier.storeName(tag))
  }

  test("plan: model and totals join as broadcasts — no sort-merge on feat") {
    val labeled = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"),
        col("source").isin(QualityClassifier.PositiveSources: _*).as("label"),
        col("text"))
    val (model, totals) = QualityClassifier.train(spark, labeled, 256)
    val plan = QualityClassifier.score(labeled, model, totals, 256)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"))
    // the feat join specifically must not sort-merge: a dim-row model that
    // shuffles the corpus-sized doc-feature relation would be the 100 TB bug
    assert(!plan.contains("SortMergeJoin"),
      s"feat join sort-merged:\n$plan")
  }
}
