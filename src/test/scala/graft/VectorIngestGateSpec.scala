package graft

import graft.operators.IvfIndex
import graft.streaming.VectorIngestGate
import graft.streaming.StreamingSimilarity.VecRow
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** The streaming embedding gate: exact copies of indexed vectors are
  * dropped, fresh vectors are admitted AND become dedup targets for the
  * next batch (the index is the ledger), receipts name the duplicate's
  * source. */
class VectorIngestGateSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def drop(tag: String): Unit = {
    graft.operators.ModelStore.drop(spark, IvfIndex.storeName(tag))
    spark.sql(s"DROP TABLE IF EXISTS ${IvfIndex.assignTable(tag)}")
  }

  test("gate drops exact dups, admits fresh, and the index is the cross-batch ledger") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = Files.createTempDirectory("graft-vecgate").toString
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("vec_id", "embedding")
    try {
      IvfIndex.build(emb, s"$root/index", "vgate", nCentroids = 8,
        seed = graft.operators.Similarity.ResidueSeed)
      val all = emb.as[(Long, Array[Float])].collect().sortBy(_._1)

      val mem = MemoryStream[VecRow]
      def drain(): Unit = VectorIngestGate.start("vgate",
        mem.toDF(), s"$root/landing", s"$root/receipts", s"$root/ckpt",
        threshold = 0.999, nprobe = 8).awaitTermination()

      // batch 1: an exact copy of an indexed vector (drop) + a fresh
      // orthogonal-ish vector (admit)
      val fresh1 = Array.tabulate(64)(i => if (i % 2 == 0) 1.0f else -1.0f)
      mem.addData(VecRow(900001L, all(0)._2), VecRow(900002L, fresh1))
      drain()
      val landed1 = spark.read.parquet(s"$root/landing")
        .select("vec_id").as[Long].collect().toSet
      assert(landed1 == Set(900002L), landed1.toString)
      val r1 = spark.read.parquet(s"$root/receipts")
        .select("vec_id", "dup_of", "is_dup").collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1), r.getBoolean(2))).toMap
      assert(r1(900001L) == (all(0)._1, true)) // names the indexed source
      assert(!r1(900002L)._2)

      // batch 2: an exact copy of batch 1's ADMITTED vector must now be
      // dropped — cross-batch ledger through the index append
      mem.addData(VecRow(900003L, fresh1))
      drain()
      val landed2 = spark.read.parquet(s"$root/landing")
        .select("vec_id").as[Long].collect().toSet
      assert(landed2 == Set(900002L), landed2.toString)
      val r2 = spark.read.parquet(s"$root/receipts")
        .filter(col("vec_id") === 900003L)
        .select("dup_of", "is_dup").collect()(0)
      assert(r2.getLong(0) == 900002L && r2.getBoolean(1))

      // index content: base + exactly the one admitted vector
      assert(spark.table(IvfIndex.assignTable("vgate")).count() == all.length + 1)
    } finally drop("vgate")
  }

  test("an id COLLISION below the threshold is not swallowed as a self-match") {
    // regression: self_match used to key on id equality alone, so an
    // arrival whose top-1 neighbor merely shared its vec_id (different
    // embedding — a caller-contract violation the stream bench once
    // armed via a block-range id overlap) was silently dropped from
    // `kept` while its receipt claimed admission
    import spark.implicits._
    val root = Files.createTempDirectory("graft-vecgate-coll").toString
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("vec_id", "embedding")
    try {
      IvfIndex.build(emb, s"$root/index", "vgcoll", nCentroids = 8,
        seed = graft.operators.Similarity.ResidueSeed)
      // reuse a stored id with a DIFFERENT vector: vec 7's id carrying
      // vec 3's embedding with two dims negated (cos far below 0.999 to
      // vec 7; possibly matching others but never at ≥ 0.999)
      val dim = graft.operators.Similarity.Dim
      val collider = emb.filter(col("vec_id") === 3L).select(
        lit(7L).as("vec_id"),
        org.apache.spark.sql.functions.array((1 to dim).map { i =>
          val x = org.apache.spark.sql.functions.element_at(col("embedding"), i)
          if (i <= 2) (-x).as(s"_$i") else x.as(s"_$i")
        }: _*).as("embedding"))
      val (receipts, kept) = VectorIngestGate.gateBatch("vgcoll", collider,
        threshold = 0.999, nprobe = 8)
      val r = receipts.collect()(0)
      assert(!r.getBoolean(3), s"collision below threshold reported dup: $r")
      assert(kept.count() == 1, "collision below threshold must stay admitted")
    } finally drop("vgcoll")
  }

  test("byte-tier gates verdict-agree with the float gate (dup regime)") {
    // the tier knob's contract IN ITS REGIME: the byte tiers exist for
    // the dup gate (τ ≥ DupGateThreshold — searchPqBestRescored's
    // scaladoc routes semantic gates to the float/rerank paths), where a
    // stored near-copy dominates the cheap tier's order. The arg-max
    // survivor is re-scored in exact float cosine before thresholding,
    // so all three tiers must land identically on this corpus (exact
    // copies to drop, one-dim near-copies + sign-scrambles to admit at
    // τ = 0.999). Codebook is deployment-shaped (m=8, k=32 — the toy
    // m=4/k=8 oracle spec has ADC noise the width-1 cut genuinely
    // feels, measured and stated in SCALING.md r12).
    import spark.implicits._
    val root = Files.createTempDirectory("graft-vecgate-tier").toString
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("vec_id", "embedding")
    try {
      IvfIndex.build(emb, s"$root/index", "vgtier", nCentroids = 8,
        seed = graft.operators.Similarity.ResidueSeed,
        pq = graft.operators.Pq.PqSpec(m = 8, k = 32, residual = true))
      val dim = graft.operators.Similarity.Dim
      // ids 0–19: exact copies (drop at τ=0.999); 20–39: near-copies with
      // one dim negated (admit — cos ≈ 0.97); 40–59: 16-dim
      // sign-scrambles (admit)
      val arrivals = emb.filter(col("vec_id") < 60).select(
        (col("vec_id") + 700000L).as("vec_id"),
        when(col("vec_id") < 20, col("embedding"))
          .otherwise(array((1 to dim).map { i =>
            val x = element_at(col("embedding"), i)
            when(lit(i) === 1 && col("vec_id") < 40, -x)
              .otherwise(when(lit(i) <= 16 && col("vec_id") >= 40, -x)
                .otherwise(x)).as(s"_$i")
          }: _*)).as("embedding"))
      def verdicts(tier: VectorIngestGate.ScoreTier): Map[Long, Boolean] =
        VectorIngestGate.gateBatch("vgtier", arrivals, threshold = 0.999,
          nprobe = 0, tier = tier)._1
          .select("vec_id", "is_dup").collect()
          .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      val f = verdicts(VectorIngestGate.FloatTier)
      val i8 = verdicts(VectorIngestGate.Int8Tier)
      val pq = verdicts(VectorIngestGate.PqTier)
      assert(f.nonEmpty && f.values.exists(identity) && f.values.exists(!_),
        s"fixture must exercise both verdicts: $f")
      assert(i8 == f, s"int8 tier diverged: ${i8.toSet -- f.toSet}")
      assert(pq == f, s"pq tier diverged: ${pq.toSet -- f.toSet}")
      // exact copies verdict-dup under every tier (the regime's anchor)
      (700000L until 700020L).foreach(id => assert(f(id), s"$id not dropped"))
    } finally drop("vgtier")
  }

  test("auto nprobe resolves per regime: dup gate fixed, semantic gate rule") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-vecgate-np").toString
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("vec_id", "embedding")
    try {
      IvfIndex.build(emb, s"$root/index", "vgnp", nCentroids = 8,
        seed = graft.operators.Similarity.ResidueSeed)
      val arrivals = emb.filter(col("vec_id") < 30)
        .select((col("vec_id") + 500000L).as("vec_id"), col("embedding"))
      // regime constants are the measured ones (SCALING.md r7 deep-scale)
      assert(VectorIngestGate.DupGateThreshold == 0.99)
      assert(VectorIngestGate.DupGateNprobe == 8)
      // dup regime: auto ≡ explicit DupGateNprobe
      val autoDup = VectorIngestGate
        .gateBatch("vgnp", arrivals, threshold = 0.999, nprobe = 0)._1.collect().toSeq
      val fixedDup = VectorIngestGate
        .gateBatch("vgnp", arrivals, threshold = 0.999, nprobe = VectorIngestGate.DupGateNprobe)
        ._1.collect().toSeq
      assert(autoDup == fixedDup && autoDup.nonEmpty)
      // semantic regime: auto falls through to IvfIndex.search's recall rule
      val autoSem = VectorIngestGate
        .gateBatch("vgnp", arrivals, threshold = 0.5, nprobe = 0)._1.collect().toSeq
      val ruleSem = VectorIngestGate
        .gateBatch("vgnp", arrivals, threshold = 0.5,
          nprobe = graft.operators.Similarity.nprobeFor(8))._1.collect().toSeq
      assert(autoSem == ruleSem && autoSem.nonEmpty)
    } finally drop("vgnp")
  }
}
