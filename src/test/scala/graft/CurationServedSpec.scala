package graft

import graft.operators.{LanguageModel, ModelStore, Sampling}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The persisted-model curation deployment (build once / serve per batch).
  * The oracle pins q_curation_served row-identical to q_curation_learned
  * at sf0.01; these specs pin the pieces the hash can't explain: the
  * stored-path ≡ recompute-path equality at another SF, serving a batch
  * the models never saw, torn-model loudness, that a failed build leaves
  * the previous generation serving, and that no catalog table is
  * involved. */
class CurationServedSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = "/root/testdata/sf0.001"

  test("served curation ≡ in-query learned curation, row for row") {
    val served = Sampling.curationServed(spark, sf).collect().map(_.toString).sorted
    val learned = Sampling.curationLearned(spark, sf).collect().map(_.toString).sorted
    assert(served.length == learned.length && served.nonEmpty)
    served.zip(learned).foreach { case (s, l) => assert(s == l) }
  }

  test("curationServed leaves no store generation behind (read-only oracle query)") {
    Sampling.curationServed(spark, sf).collect()
    val tag = s"qcurserved_${sf.replaceAll("[^a-zA-Z0-9]", "_")}"
    val name = Sampling.storeName(tag)
    assert(ModelStore.generations(spark, name).isEmpty)
    val root = new org.apache.hadoop.fs.Path(ModelStore.root(spark, name))
    assert(!root.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(root),
      s"$root left behind")
  }

  test("build + serve create no catalog table") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "source", "text")
    def tables() = spark.catalog.listTables().collect().map(_.name).toSet
    val before = tables()
    Sampling.buildCurationModels(spark, docs, "curnocat", dim = 64)
    try {
      Sampling.serveCuration(spark, docs, "curnocat", quota = 10).collect()
      assert(tables() == before)
    } finally ModelStore.drop(spark, Sampling.storeName("curnocat"))
  }

  test("a build whose calibration fails leaves the previous generation serving") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "source", "text")
    val name = Sampling.storeName("curtorn")
    Sampling.buildCurationModels(spark, docs, "curtorn", dim = 64)
    try {
      val gen1 = ModelStore.current(spark, name)
      def served() = Sampling.serveCuration(spark, docs, "curtorn", quota = 10)
        .collect().map(_.toString).sorted.toSeq
      val before = served()
      assert(before.nonEmpty)
      // both classes train, but no document has two tokens: the LM band is
      // empty and the perplexity threshold has no value
      val oneWord = Seq((1L, "src0", "alpha"), (2L, "src0", "beta"),
        (3L, "src7", "gamma"), (4L, "src7", "delta")).toDF("doc_id", "source", "text")
      val e = intercept[IllegalArgumentException](
        Sampling.buildCurationModels(spark, oneWord, "curtorn", dim = 64))
      assert(e.getMessage.contains("calibration"), e.getMessage)
      assert(ModelStore.current(spark, name) == gen1)
      assert(served() == before)
    } finally ModelStore.drop(spark, name)
  }

  test("serve scores a batch the models never saw, from tables alone") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "source", "text")
    val train = docs.filter(col("doc_id") % 2 === 0)
    val batch = docs.filter(col("doc_id") % 2 === 1)
    Sampling.buildCurationModels(spark, train, "curtest", dim = 64)
    try {
      val out = Sampling.serveCuration(spark, batch, "curtest", quota = 10)
      val rows = out.collect()
      assert(rows.nonEmpty)
      // quota respected per language; every kept doc comes from the batch
      val byLang = rows.groupBy(_.getString(1))
      byLang.values.foreach(g => assert(g.length <= 10))
      rows.foreach(r => assert(r.getLong(0) % 2 == 1))
      // thresholds came from the stored calibration, not the batch: the
      // generation's calibration part carries exactly tau_c and tau_p
      val cal = spark.read.parquet(
          ModelStore.current(spark, Sampling.storeName("curtest")).partPath("cal"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(cal.keySet == Set("tau_c", "tau_p"))
    } finally ModelStore.drop(spark, Sampling.storeName("curtest"))
  }

  test("LanguageModel persist/load round-trips the exact counts") {
    import spark.implicits._
    val docs = Seq((1L, "a b a b c"), (2L, "a b")).toDF("doc_id", "text")
    val (c12, c1, v) = LanguageModel.trainOn(docs)
    LanguageModel.persist(spark, "lmtest", c12, c1, v)
    try {
      val (l12, l1, lv) = LanguageModel.load(spark, "lmtest")
      assert(l12.collect().map(_.toString).sorted
        .sameElements(c12.collect().map(_.toString).sorted))
      assert(l1.collect().map(_.toString).sorted
        .sameElements(c1.collect().map(_.toString).sorted))
      assert(lv.collect()(0).getLong(0) == v.collect()(0).getLong(0))
      // scoring through the loaded model equals self-trained scoring
      val a = LanguageModel.scoreWith(docs, l12, l1, lv).collect().map(_.toString).sorted
      val b = LanguageModel.scoreOn(docs, docs).collect().map(_.toString).sorted
      assert(a.sameElements(b))
    } finally ModelStore.drop(spark, LanguageModel.storeName("lmtest"))
  }

  test("torn LM model table loads loudly") {
    import spark.implicits._
    val name = LanguageModel.storeName("lmtorn")
    ModelStore.publish(spark, name)(ModelStore.write(_, "lm",
      Seq(("c12", "a", "b", 1L)).toDF("kind", "w1", "w2", "n")))
    try {
      val e = intercept[IllegalArgumentException](LanguageModel.load(spark, "lmtorn"))
      assert(e.getMessage.contains("torn"))
    } finally ModelStore.drop(spark, name)
  }
}
