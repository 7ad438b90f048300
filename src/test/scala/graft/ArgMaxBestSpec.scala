package graft

import graft.plans.{ArgMaxBest, ArgMaxStruct}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.plans.ArgMaxBest]] — the primitive-buffer arg-max that replaced
  * ArgMaxStruct on the engine's (score, id, payload) hot paths.
  *
  * Two claims are pinned here:
  *   1. semantics: row-equal with the ArgMaxStruct formulation it
  *      replaced — same (score DESC, id ASC) winner, ties included, and
  *      null-score rows skipped;
  *   2. plan shape: the aggregation is HashAggregate — NOT
  *      ObjectHashAggregate, whose 128-key sort-based fallback
  *      (`spark.sql.objectHashAggregate.sortBased.fallbackThreshold`)
  *      sorts the task's remaining INPUT by grouping key once the map
  *      fills. The differential runs at 1,000 groups — well past the
  *      fallback threshold, the regime where the 20M-vector gate probe
  *      filled a 65 GB disk under the old formulation.
  */
class ArgMaxBestSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** 1,000 groups × ~40 candidates with engineered score ties (scores
    * quantized to 8 levels) so the id tie-break is exercised heavily. */
  private lazy val pairs = {
    ArgMaxBest.ensureRegistered(spark)
    ArgMaxStruct.ensureRegistered(spark)
    import spark.implicits._
    val rows = for {
      g <- 0 until 1000
      i <- 0 until (g % 40 + 2)
    } yield {
      val h = (g * 2654435761L + i * 40503L) & 0x7fffffffL
      (g.toLong, (h % 8).toDouble / 8.0, h % 977, h % 13)
    }
    rows.toDF("group_id", "score", "cand_id", "payload")
  }

  test("differential vs the ArgMaxStruct formulation at 1,000 groups, ties included") {
    val viaBest = pairs.groupBy("group_id")
      .agg(expr(s"${ArgMaxBest.FuncName}(score, cand_id, payload)").as("b"))
      .select(col("group_id"), col("b.score"), col("b.id"), col("b.payload"))
    val viaStruct = pairs.groupBy("group_id")
      .agg(expr(s"${ArgMaxStruct.FuncName}(" +
        "struct(score, -cand_id AS neg_id, cand_id, payload))").as("b"))
      .select(col("group_id"), col("b.score"), col("b.cand_id").as("id"),
        col("b.payload"))
    assert(viaBest.exceptAll(viaStruct).isEmpty && viaStruct.exceptAll(viaBest).isEmpty,
      "ArgMaxBest diverged from the ArgMaxStruct formulation")
    assert(viaBest.count() === 1000L)
  }

  test("null scores are skipped; all-null group evaluates to NULL") {
    import spark.implicits._
    val df = Seq(
      (1L, Some(0.5), 10L), (1L, None, 1L), (1L, Some(0.5), 7L),
      (2L, None, 3L), (2L, None, 4L))
      .toDF("g", "score", "id")
    val out = df.groupBy("g")
      .agg(expr(s"${ArgMaxBest.FuncName}(score, id, 0L)").as("b"))
      .select(col("g"), col("b.score").as("s"), col("b.id").as("id"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some((r.getDouble(1), r.getLong(2))))).toMap
    assert(out(1L) === Some((0.5, 7L)), "tie must break to the smallest id, nulls skipped")
    assert(out(2L) === None, "a group with only null scores must evaluate to NULL")
  }

  test("plans as HashAggregate — never ObjectHashAggregate or SortAggregate") {
    val agg = pairs.groupBy("group_id")
      .agg(expr(s"${ArgMaxBest.FuncName}(score, cand_id, payload)").as("b"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate"), plan)
    assert(!plan.contains("ObjectHashAggregate"), plan)
    assert(!plan.contains("SortAggregate"), plan)
  }

  test("IVF search k=1 (the gate shape) plans its arg-max as HashAggregate") {
    val dir = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding")
    val path = java.nio.file.Files.createTempDirectory("graft-argmaxbest").toString
    val tag = "argmaxbest_spec"
    try {
      graft.operators.IvfIndex.build(emb, path, tag, buckets = 2, nCentroids = 4)
      val res = graft.operators.IvfIndex.search(spark, tag,
        emb.limit(5), nprobe = 2, k = 1)
      val plan = res.queryExecution.executedPlan.toString
      assert(!plan.contains("ObjectHashAggregate"), plan)
      assert(plan.contains("HashAggregate"), plan)
      assert(res.count() === 5L)
    } finally {
      graft.operators.ModelStore.drop(spark, graft.operators.IvfIndex.storeName(tag))
      graft.operators.BucketedMaintenance.dropWithFiles(spark,
        graft.operators.IvfIndex.assignTable(tag))
    }
  }
}
