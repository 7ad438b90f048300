package graft

import graft.operators.{BloomDedup, BucketedMaintenance}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The Long-m distributed Bloom tier: the filter as a sparse
  * (word_idx, bits) relation built by a bit_or aggregate — never
  * materialized on the driver, m past any Int position. Pins: distributed
  * build ≡ the driver-array build bit-for-bit at a shared Int-range m;
  * Long-m positions actually exceed Int range; no false negatives at
  * Long m; persist/load/absorb round-trip with the union ≡ combined-
  * rebuild property; bucketed storage prunes the filter-side Exchange. */
class BloomDistributedSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val M = 1 << 14
  private val K = 5

  private def corpus(n: Int, salt: String = "") =
    (0 until n).map(i => (i.toLong, s"document$salt body $i")).toDF("doc_id", "text")

  test("distributed build ≡ driver-array build, bit for bit") {
    val c = corpus(500)
    val arr = BloomDedup.build(spark, c, K, M)
    val fromArray = arr.zipWithIndex
      .collect { case (bits, i) if bits != 0L => (i.toLong, bits) }.toSet
    val distributed = BloomDedup.buildRelational(c, K, M)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(distributed == fromArray)
  }

  test("Long m: positions exceed Int range and the gate has no false negatives") {
    val m = 1L << 33
    val c = corpus(300)
    val maxPos = c.select(explode(BloomDedup.positions(col("text"), K, m)).as("p"))
      .agg(max("p")).collect()(0).getLong(0)
    assert(maxPos > Int.MaxValue.toLong, s"max position $maxPos never left Int range")
    val words = BloomDedup.buildRelational(c, K, m)
    val gated = BloomDedup.gateRelationalOn(c, words, m, K)
    // every built doc must be flagged (no-false-negatives, the module contract)
    assert(gated.filter(!col("bloom_dup")).count() == 0)
    // fresh docs at m=2^33 with 1500 set bits: expect (essentially) none flagged
    val fresh = corpus(300, salt = "fresh")
    val fp = BloomDedup.gateRelationalOn(fresh, words, m, K)
      .filter(col("bloom_dup")).count()
    assert(fp == 0, s"$fp false positives at fill ~1500/2^33")
  }

  test("persist/load/absorb round-trip: absorb ≡ combined rebuild, geometry loud when torn") {
    val a = corpus(200)
    val b = corpus(200, salt = "b")
    val m = 1L << 20
    BloomDedup.persistRelational(spark, "bloomrel_t", BloomDedup.buildRelational(a, K, m), m, K,
      java.nio.file.Files.createTempDirectory("bloomrel_t").toString)
    try {
      val (w0, m0, k0) = BloomDedup.loadRelational(spark, "bloomrel_t")
      assert(m0 == m && k0 == K)
      BloomDedup.absorbRelational(spark, "bloomrel_t", b)
      val (w1, _, _) = BloomDedup.loadRelational(spark, "bloomrel_t")
      val combined = BloomDedup.buildRelational(a.unionAll(b), K, m)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(w1.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == combined)
      // gate through the stored table: everything absorbed is flagged
      val gated = BloomDedup.gateRelationalStored(spark, "bloomrel_t", a.unionAll(b))
      assert(gated.filter(!col("bloom_dup")).count() == 0)
    } finally BucketedMaintenance.dropWithFiles(spark, BloomDedup.relTable("bloomrel_t"))
  }

  test("stored filter is bucketed by word_idx: the gate join's filter side has no Exchange") {
    val m = 1L << 20
    BloomDedup.persistRelational(spark, "bloomrel_p",
      BloomDedup.buildRelational(corpus(200), K, m), m, K,
      java.nio.file.Files.createTempDirectory("bloomrel_p").toString)
    try {
      // DIFFERENTIAL Exchange count (a positional substring check here was
      // vacuous — review r12): with broadcast joins pinned off so both
      // forms sort-merge, the same gate over the same words as a plain
      // non-bucketed relation must need exactly one MORE word_idx
      // Exchange — the filter-side shuffle the bucketed layout removes
      val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      val (stored, plain) = try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val s = BloomDedup.gateRelationalStored(spark, "bloomrel_p", corpus(50))
          .queryExecution.executedPlan.toString
        val (words, m, k) = BloomDedup.loadRelational(spark, "bloomrel_p")
        val rows = words.collect().toSeq
        val plainWords = spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 4), words.schema)
        val p = BloomDedup.gateRelationalOn(corpus(50), plainWords, m, k)
          .queryExecution.executedPlan.toString
        (s, p)
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
      assert(stored.contains("Bucketed: true"),
        s"stored filter not read as bucketed:\n$stored")
      def exchanges(p: String): Int = p.split("\n")
        .count(l => l.contains("Exchange hashpartitioning(word_idx"))
      assert(exchanges(plain) == exchanges(stored) + 1,
        s"bucketing no longer prunes the filter-side Exchange: " +
          s"stored=${exchanges(stored)} plain=${exchanges(plain)}\n$stored\n---\n$plain")
    } finally BucketedMaintenance.dropWithFiles(spark, BloomDedup.relTable("bloomrel_p"))
  }

  test("distributed oracle query: both polarities, exact ⟹ bloom, row-typed like the broadcast tier") {
    val out = BloomDedup.queryDistributed(spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (bloom, exact) = (r.getBoolean(1), r.getBoolean(2))
      if (exact) assert(bloom, s"false negative on doc ${r.getLong(0)}")
      assert(r.getBoolean(3) == (bloom && !exact))
    }
    // fold-0 docs are dups by construction; fold-1 fresh (modulo FP)
    assert(out.exists(_.getBoolean(2)) && out.exists(r => !r.getBoolean(1)))
  }
}
