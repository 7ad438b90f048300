package graft

import graft.operators.{IndexCanary, IvfIndex, ShingleIndex, Similarity}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** The index-catalog canary must (a) stay silent on tables this version
  * wrote, (b) name the drifted field when a table no longer matches the
  * probe paths' physical contract, and (c) fire AT the operator entry —
  * turning a cross-version format drift into a named error instead of a
  * wrong-bucket probe. */
class IndexCanarySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
  private def docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    .select(col("doc_id"), col("text"))

  private def dropIvf(tag: String): Unit = {
    graft.operators.ModelStore.drop(spark, IvfIndex.storeName(tag))
    spark.sql(s"DROP TABLE IF EXISTS ${IvfIndex.assignTable(tag)}")
  }
  private def dropShingle(tag: String): Unit =
    Seq(ShingleIndex.occTable(tag), ShingleIndex.sizesTable(tag),
      ShingleIndex.fpTable(tag), ShingleIndex.satTable(tag))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

  test("silent on a freshly built index; search works through the check") {
    val dir = Files.createTempDirectory("graft-canary-ok").toString
    try {
      IvfIndex.build(emb, dir, "cnok", nCentroids = 8, seed = Similarity.ResidueSeed)
      // search runs the canary at entry; a false positive would throw here
      val rows = IvfIndex.search(spark, "cnok", emb.filter(col("vec_id") < 5),
        nprobe = 2).collect()
      assert(rows.nonEmpty)
    } finally dropIvf("cnok")
  }

  test("drifted column type on the assignment table → named error at search entry") {
    val dir = Files.createTempDirectory("graft-canary-type").toString
    try {
      IvfIndex.build(emb, dir, "cntp", nCentroids = 8, seed = Similarity.ResidueSeed)
      val t = IvfIndex.assignTable("cntp")
      // a "prior/future version" rewrote cid as bigint and dropped the
      // bucket layout — exactly the silent-wrong-bucket hazard
      val rows = spark.table(t).withColumn("cid", col("cid").cast("bigint"))
        .collect().toSeq
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("vec_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("cid", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("embedding",
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType))))
      spark.sql(s"DROP TABLE $t")
      spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
        .write.format("parquet").saveAsTable(t)
      IndexCanary.invalidate(t)
      val e = intercept[IllegalStateException] {
        IvfIndex.search(spark, "cntp", emb.filter(col("vec_id") < 5), nprobe = 2)
      }
      assert(e.getMessage.contains("index-canary"))
      assert(e.getMessage.contains(t))
      assert(e.getMessage.contains("`cid`: expected int, found bigint"))
      assert(e.getMessage.contains("bucket spec: MISSING"))
    } finally dropIvf("cntp")
  }

  test("wrong bucket column on the occ table → named error at probe entry") {
    val dir = Files.createTempDirectory("graft-canary-bkt").toString
    try {
      ShingleIndex.build(docs.limit(200), dir, "cnbk")
      val t = ShingleIndex.occTable("cnbk")
      val saved = spark.table(t).collect().toSeq
      val schema = spark.table(t).schema
      spark.sql(s"DROP TABLE $t")
      spark.createDataFrame(spark.sparkContext.parallelize(saved), schema)
        .write.format("parquet").bucketBy(8, "corpus_id").sortBy("corpus_id")
        .saveAsTable(t)
      IndexCanary.invalidate(t)
      val e = intercept[IllegalStateException] {
        ShingleIndex.probe(spark, "cnbk",
          docs.limit(5).toDF("doc_id", "text"))
      }
      assert(e.getMessage.contains("bucket column: expected `key`, found `corpus_id`"))
    } finally dropShingle("cnbk")
  }

  test("unexpected extra column (format from a newer version) fires too") {
    val dir = Files.createTempDirectory("graft-canary-extra").toString
    try {
      IvfIndex.build(emb, dir, "cnex", nCentroids = 8, seed = Similarity.ResidueSeed)
      val t = IvfIndex.assignTable("cnex")
      val widened = spark.table(t).withColumn("epoch", lit(1L)).collect().toSeq
      val schema = spark.table(t).schema
        .add(org.apache.spark.sql.types.StructField("epoch",
          org.apache.spark.sql.types.LongType))
      spark.sql(s"DROP TABLE $t")
      // same bucket layout: the extra column is the ONLY drift
      spark.createDataFrame(spark.sparkContext.parallelize(widened), schema)
        .write.format("parquet").bucketBy(8, "cid").sortBy("cid").saveAsTable(t)
      IndexCanary.invalidate(t)
      val e = intercept[IllegalStateException] {
        IvfIndex.search(spark, "cnex", emb.filter(col("vec_id") < 5), nprobe = 2)
      }
      assert(e.getMessage.contains("`epoch`: UNEXPECTED"))
    } finally dropIvf("cnex")
  }

  test("verdict cache re-verifies after a rebuild recreates the table") {
    val dir = Files.createTempDirectory("graft-canary-cache").toString
    try {
      IvfIndex.build(emb, dir, "cncc", nCentroids = 8, seed = Similarity.ResidueSeed)
      IndexCanary.check(spark, IvfIndex.assignTable("cncc")) // caches OK
      // rebuild recreates the table → new createTime → cache miss → the
      // canary re-reads metadata and still passes (no stale-vs-fresh skew)
      IvfIndex.build(emb, dir, "cncc", nCentroids = 8, seed = Similarity.ResidueSeed)
      IndexCanary.check(spark, IvfIndex.assignTable("cncc"))
    } finally dropIvf("cncc")
  }
}
