package graft

import graft.operators.{BloomDedup, ModelStore}
import graft.streaming.BloomIngestGate
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The constant-memory streaming dedup gate: cross-batch duplicates drop
  * via the absorbed filter, within-batch copies collapse to their
  * representative, the filter's byte size never grows, and an
  * at-least-once replay of a batch reconciles to the first attempt's
  * verdicts and partitions (exactly-once landing + receipts). */
class BloomIngestGateSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val M = 1 << 14
  private val K = 5

  private def freshTag(): String = {
    val tag = s"bloomgate_${System.nanoTime()}"
    BloomDedup.persist(spark, tag, new Array[Long]((M + 63) >>> 6), M, K)
    tag
  }

  test("two batches: cross-batch dup drops, within-batch copy collapses, new lands") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft-bloomgate").toString
    val tag = freshTag()

    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF.toDF("doc_id", "text")
    // batch 1: A, B, and a within-batch copy of A
    mem.addData((1L, "alpha text"), (2L, "beta text"), (3L, "alpha text"))
    BloomIngestGate.start(stream, tag, s"$root/landing", s"$root/receipts",
      s"$root/ckpt").awaitTermination()
    // batch 2: a cross-batch copy of B, and a fresh C
    mem.addData((4L, "beta text"), (5L, "gamma text"))
    BloomIngestGate.start(stream, tag, s"$root/landing", s"$root/receipts",
      s"$root/ckpt").awaitTermination()

    val landed = spark.read.parquet(s"$root/landing")
      .select("doc_id").as[Long].collect().toSet
    assert(landed == Set(1L, 2L, 5L), s"landing: $landed")

    val receipts = spark.read.parquet(s"$root/receipts").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Boolean]("bloom_dup"), Option(r.getAs[java.lang.Long]("dup_of")),
          r.getAs[Boolean]("admitted")))).toMap
    assert(receipts.keySet == Set(1L, 2L, 3L, 4L, 5L))
    assert(receipts(1L) == ((false, None, true)))
    assert(receipts(2L) == ((false, None, true)))
    // within-batch copy: representative 1 wins; copy has dup_of = 1
    assert(receipts(3L)._2.contains(1L) && !receipts(3L)._3)
    // cross-batch copy: the filter flags it; no in-batch representative
    assert(receipts(4L) == ((true, None, false)))
    assert(receipts(5L) == ((false, None, true)))

    // the state is exactly one fixed-size filter, whatever was absorbed
    val (words, m, _) = BloomDedup.load(spark, tag)
    assert(words.length == (m + 63) >>> 6 && m == M)
    ModelStore.drop(spark, BloomDedup.storeName(tag))
  }

  test("dup_of names the within-batch representative even when that representative is itself dropped") {
    // batch 1 lands X; batch 2 carries two copies of X: the in-batch
    // representative (min doc_id) is ALSO a cross-batch Bloom dup, so it
    // is not admitted — dup_of still points at it (the documented
    // contract: dup_of is a batch-arrival pointer, not a landing pointer;
    // the consumer follows the representative's receipt to learn it was
    // dropped too)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft-bloomgate-rep").toString
    val tag = freshTag()
    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF.toDF("doc_id", "text")
    mem.addData((1L, "x text"))
    BloomIngestGate.start(stream, tag, s"$root/landing", s"$root/receipts",
      s"$root/ckpt").awaitTermination()
    mem.addData((10L, "x text"), (11L, "x text"))
    BloomIngestGate.start(stream, tag, s"$root/landing", s"$root/receipts",
      s"$root/ckpt").awaitTermination()
    val receipts = spark.read.parquet(s"$root/receipts").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Boolean]("bloom_dup"), Option(r.getAs[java.lang.Long]("dup_of")),
          r.getAs[Boolean]("admitted")))).toMap
    // representative 10: flagged by the filter, no dup_of, NOT admitted
    assert(receipts(10L) == ((true, None, false)))
    // copy 11: dup_of → 10, whose own receipt says dropped — resolving
    // dup_of against the LANDING finds nothing, by contract
    assert(receipts(11L)._2.contains(10L) && !receipts(11L)._3)
    val landed = spark.read.parquet(s"$root/landing")
      .select("doc_id").as[Long].collect().toSet
    assert(landed == Set(1L))
    ModelStore.drop(spark, BloomDedup.storeName(tag))
  }

  test("replay of an absorbed batch reconciles to the first attempt") {
    val root = java.nio.file.Files.createTempDirectory("graft-bloomgate2").toString
    val tag = freshTag()
    val batch = Seq((10L, "delta text"), (11L, "epsilon text")).toDF("doc_id", "text")

    BloomIngestGate.landBatch(batch, 7L, tag, s"$root/landing", s"$root/receipts")
    val land1 = spark.read.parquet(s"$root/landing").orderBy("doc_id").collect().toSeq
    val rcpt1 = spark.read.parquet(s"$root/receipts").orderBy("doc_id").collect().toSeq
    assert(land1.map(_.getAs[Long]("doc_id")) == Seq(10L, 11L))

    // at-least-once replay: the filter already absorbed the batch, so the
    // raw gate flags everything — reconciliation against the batch's own
    // landing partition must restore the admitted verdicts and rewrite
    // IDENTICAL partitions (admitted stays true; bloom_dup true is the
    // honest replay marker, so receipts differ ONLY in that column)
    BloomIngestGate.landBatch(batch, 7L, tag, s"$root/landing", s"$root/receipts")
    val land2 = spark.read.parquet(s"$root/landing").orderBy("doc_id").collect().toSeq
    val rcpt2 = spark.read.parquet(s"$root/receipts").orderBy("doc_id").collect().toSeq
    assert(land2.map(_.toString) == land1.map(_.toString), "landing must not change")
    assert(rcpt2.forall(_.getAs[Boolean]("admitted")), "admissions reconciled")
    assert(rcpt2.map(_.getAs[Long]("doc_id")) == rcpt1.map(_.getAs[Long]("doc_id")))

    // a genuinely NEW batch containing an already-landed text still drops
    BloomIngestGate.landBatch(Seq((12L, "delta text")).toDF("doc_id", "text"),
      8L, tag, s"$root/landing", s"$root/receipts")
    val land3 = spark.read.parquet(s"$root/landing")
    assert(land3.filter(col("doc_id") === 12L).isEmpty)
    ModelStore.drop(spark, BloomDedup.storeName(tag))
  }
}
