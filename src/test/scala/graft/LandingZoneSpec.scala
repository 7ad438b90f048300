package graft

import graft.operators.{Dedup, LandingZone, ManifestLog, ShingleIndex}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Landing-zone → index-maintenance composition (r12 verdict task 3):
  * N CONCURRENT lock-free writers land through the manifest protocol,
  * absorb compacts committed segments into the bucketed ShingleIndex
  * under the lease, and the composed index answers probes identically to
  * an index built directly on the union corpus — zero loss, zero dup,
  * crash-window replays and late-winner races absorbed as no-ops, retire
  * reclaiming the log afterwards. */
class LandingZoneSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docs(ids: Range, salt: String) = ids.map { i =>
    (i.toLong, s"alpha bravo charlie $salt token$i delta echo foxtrot golf hotel india")
  }.toDF("doc_id", "text")

  private def tmp(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("concurrent land -> absorb -> probe equals an index built directly on the union") {
    val root = tmp("graft-land")
    val idxDirA = tmp("graft-land-idxa")
    val idxDirB = tmp("graft-land-idxb")
    val base = docs(0 until 40, "base")
    val landedA = docs(100 until 120, "w0")
    val landedB = docs(200 until 220, "w1")
    val landedC = docs(300 until 320, "w2")
    // three CONCURRENT lock-free writers, plus an ack-lost replay of one
    val errs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val ts = Seq(("w0", landedA), ("w1", landedB), ("w2", landedC)).map {
      case (w, df) => new Thread(() => {
        try ManifestLog.append(df, root, w, 0L)
        catch { case e: Throwable => errs.add(s"$w: ${e.getMessage}") }
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    assert(errs.isEmpty, s"writer failures: $errs")
    ManifestLog.append(landedB, root, "w1", 0L) // replay

    ShingleIndex.build(base, idxDirA, "lz_composed")
    val report = LandingZone.absorbIntoShingleIndex(
      spark, root, landedA.schema, "lz_composed", idxDirA)
    assert(report.segments.size == 3, s"three committed segments: $report")
    assert(report.landedDocs == 60 && report.freshDocs == 60,
      s"zero loss, replay deduped by the manifest protocol: $report")

    // zero loss the strong way: the composed index answers probes
    // identically to one built directly on the union corpus
    val union = base.union(landedA).union(landedB).union(landedC)
    ShingleIndex.build(union, idxDirB, "lz_direct")
    val batch = docs(900 until 910, "w0") // overlaps landedA's vocabulary
    val viaComposed = ShingleIndex.probe(spark, "lz_composed", batch)
      .orderBy("doc_id").collect().toSeq
    val viaDirect = ShingleIndex.probe(spark, "lz_direct", batch)
      .orderBy("doc_id").collect().toSeq
    assert(viaComposed == viaDirect,
      "composed (land->absorb) index must answer exactly like build-on-union")

    // zero dup: a second absorb pass is a no-op and the stored index is unchanged
    val occBefore = spark.table(ShingleIndex.occTable("lz_composed")).count()
    val again = LandingZone.absorbIntoShingleIndex(
      spark, root, landedA.schema, "lz_composed", idxDirA)
    assert(again.segments.isEmpty && again.freshDocs == 0, s"must no-op: $again")
    assert(spark.table(ShingleIndex.occTable("lz_composed")).count() == occBefore)
  }

  test("crash between append and consume-mark replays as a no-op (anti-join guard)") {
    val root = tmp("graft-land-crash")
    val idxDir = tmp("graft-land-crash-idx")
    ShingleIndex.build(docs(0 until 30, "base"), idxDir, "lz_crash")
    ManifestLog.append(docs(500 until 520, "w0"), root, "w0", 0L)
    val first = LandingZone.absorbIntoShingleIndex(
      spark, root, docs(0 until 1, "x").schema, "lz_crash", idxDir)
    assert(first.freshDocs == 20)
    // simulate the crash window: the append committed but the consume
    // marker never landed — delete it and re-absorb
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val markers = f.listStatus(new org.apache.hadoop.fs.Path(
      LandingZone.consumedDir(root)))
    assert(markers.length == 1)
    f.delete(markers.head.getPath, false)
    assert(LandingZone.pendingSegments(spark, root).size == 1)
    val sizesBefore = spark.table(ShingleIndex.sizesTable("lz_crash")).count()
    val replay = LandingZone.absorbIntoShingleIndex(
      spark, root, docs(0 until 1, "x").schema, "lz_crash", idxDir)
    assert(replay.segments.size == 1 && replay.landedDocs == 20 &&
      replay.freshDocs == 0, s"replayed segment must anti-join away: $replay")
    assert(spark.table(ShingleIndex.sizesTable("lz_crash")).count() == sizesBefore,
      "zero dup after the crash-window replay")
    assert(LandingZone.pendingSegments(spark, root).isEmpty, "re-consume-marked")
  }

  test("retire reclaims absorbed segments; the index keeps answering without the log") {
    val root = tmp("graft-land-retire")
    val idxDir = tmp("graft-land-retire-idx")
    ShingleIndex.build(docs(0 until 30, "base"), idxDir, "lz_retire")
    ManifestLog.append(docs(600 until 620, "w0"), root, "w0", 0L)
    ManifestLog.append(docs(700 until 720, "w1"), root, "w1", 0L)
    LandingZone.absorbIntoShingleIndex(
      spark, root, docs(0 until 1, "x").schema, "lz_retire", idxDir)
    // grace guards in-flight readers: nothing young retires
    assert(LandingZone.retireConsumed(spark, root, graceMs = 60000L).isEmpty)
    val retired = LandingZone.retireConsumed(spark, root, graceMs = -1L)
    assert(retired.size == 2, s"both absorbed segments retire: $retired")
    assert(ManifestLog.segments(spark, root).isEmpty, "log is empty after retire")
    assert(LandingZone.retireConsumed(spark, root, graceMs = -1L).isEmpty, "idempotent")
    // the index answers without the log: absorbed docs are exact dups
    val probe = ShingleIndex.probe(spark, "lz_retire", docs(600 until 605, "w0"))
    assert(probe.filter(col("exact_dup")).count() == 5)
  }

  test("streaming landing: two concurrent streams -> absorb cycles -> probe-correct index") {
    // the end-to-end deployment shape: STREAMS land via ManifestLog.sink
    // (exactly-once per stream), the maintenance cycle absorbs whatever
    // has committed since the last cycle, and the index answers
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val root = tmp("graft-land-stream")
    val ckpt = tmp("graft-land-stream-ckpt")
    val idxDir = tmp("graft-land-stream-idx")
    ShingleIndex.build(docs(0 until 30, "base"), idxDir, "lz_stream")
    val schema = docs(0 until 1, "x").schema
    val memA = MemoryStream[(Long, String)]
    val memB = MemoryStream[(Long, String)]
    memA.addData((800L, "alpha bravo charlie streamA token800 delta echo foxtrot"))
    memB.addData((810L, "alpha bravo charlie streamB token810 delta echo foxtrot"))
    val qa = ManifestLog.sink(memA.toDF.toDF("doc_id", "text"), root, "sA", s"$ckpt/a")
    val qb = ManifestLog.sink(memB.toDF.toDF("doc_id", "text"), root, "sB", s"$ckpt/b")
    qa.awaitTermination(); qb.awaitTermination()
    val cycle1 = LandingZone.absorbIntoShingleIndex(spark, root, schema, "lz_stream", idxDir)
    assert(cycle1.freshDocs == 2, s"$cycle1")
    // more micro-batches land between maintenance cycles
    memA.addData((801L, "alpha bravo charlie streamA token801 delta echo foxtrot"))
    ManifestLog.sink(memA.toDF.toDF("doc_id", "text"), root, "sA", s"$ckpt/a")
      .awaitTermination()
    val cycle2 = LandingZone.absorbIntoShingleIndex(spark, root, schema, "lz_stream", idxDir)
    assert(cycle2.segments.size == 1 && cycle2.freshDocs == 1,
      s"cycle 2 absorbs only the new segment: $cycle2")
    // all streamed docs are now exact dups to the index
    val probe = ShingleIndex.probe(spark, "lz_stream",
      Seq((800L, "alpha bravo charlie streamA token800 delta echo foxtrot"),
        (801L, "alpha bravo charlie streamA token801 delta echo foxtrot"),
        (810L, "alpha bravo charlie streamB token810 delta echo foxtrot"))
        .toDF("doc_id", "text"))
    assert(probe.filter(col("exact_dup")).count() == 3)
  }

  test("compactLanding inherits consumed status; absorb over a compacted log stays exactly-once") {
    val root = tmp("graft-land-cpt")
    val idxDir = tmp("graft-land-cpt-idx")
    val schema = docs(0 until 1, "x").schema
    ShingleIndex.build(docs(0 until 30, "base"), idxDir, "lz_cpt")
    (0 until 4).foreach { b =>
      ManifestLog.append(docs(1000 + b * 20 until 1020 + b * 20, s"w$b"),
        root, s"w$b", 0L)
    }
    val first = LandingZone.absorbIntoShingleIndex(spark, root, schema, "lz_cpt", idxDir)
    assert(first.freshDocs == 80)
    // every input absorbed -> the compacted segment inherits consumed:
    // the idle tick stays free instead of re-scanning absorbed content
    val c0 = LandingZone.compactLanding(spark, root, schema, "lz_cpt")
    assert(c0.exists(_.startsWith("compacted-0__")))
    assert(LandingZone.pendingSegments(spark, root).isEmpty,
      "all-consumed compaction must not re-pend absorbed content")
    val idle = LandingZone.absorbIntoShingleIndex(spark, root, schema, "lz_cpt", idxDir)
    assert(idle.segments.isEmpty && idle.freshDocs == 0)
    // a new landing plus a MIXED compaction: the compacted segment stays
    // pending and the absorb feeds exactly the unabsorbed docs
    ManifestLog.append(docs(2000 until 2020, "w9"), root, "w9", 0L)
    val c1 = LandingZone.compactLanding(spark, root, schema, "lz_cpt")
    assert(c1.exists(_.startsWith("compacted-1__")))
    assert(LandingZone.pendingSegments(spark, root) == Seq(c1.get))
    val second = LandingZone.absorbIntoShingleIndex(spark, root, schema, "lz_cpt", idxDir)
    assert(second.landedDocs == 100 && second.freshDocs == 20,
      s"anti-join must drop the 80 absorbed neighbors: $second")
    assert(spark.table(ShingleIndex.sizesTable("lz_cpt")).count() == 30 + 100)
    val probe = ShingleIndex.probe(spark, "lz_cpt", docs(2000 until 2005, "w9"))
    assert(probe.filter(col("exact_dup")).count() == 5)
  }

  test("absorb refuses an unbuilt index loudly") {
    val root = tmp("graft-land-unbuilt")
    ManifestLog.append(docs(0 until 5, "x"), root, "w0", 0L)
    val e = intercept[IllegalArgumentException] {
      LandingZone.absorbIntoShingleIndex(
        spark, root, docs(0 until 1, "x").schema, "lz_never_built", "/tmp/nope")
    }
    assert(e.getMessage.contains("lz_never_built"))
  }

  // --- the vector side (r13 verdict task 4) -----------------------------

  private def emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    .select(col("vec_id"), col("embedding"))

  private def dropIvf(tag: String): Unit = {
    graft.operators.ModelStore.drop(spark, graft.operators.IvfIndex.storeName(tag))
    spark.sql(s"DROP TABLE IF EXISTS ${graft.operators.IvfIndex.assignTable(tag)}")
  }

  test("vector landing: concurrent land -> absorb -> search ≡ direct assignInto") {
    import graft.operators.{IvfIndex, Similarity}
    val root = tmp("graft-vland")
    val idxA = tmp("graft-vland-idxa")
    val idxB = tmp("graft-vland-idxb")
    try {
      val base = emb.filter(col("vec_id") % 3 =!= 0)
      val landed = emb.filter(col("vec_id") % 3 === 0)
      val landedN = landed.count()
      // three CONCURRENT lock-free writers (vec_id % 9 ∈ {0,3,6}), plus an
      // ack-lost replay of one — the same protocol exercise as the shingle
      // side's composed test
      val errs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
      val ts = (0 until 3).map { w =>
        new Thread(() => {
          try ManifestLog.append(landed.filter(col("vec_id") % 9 === w * 3),
            root, s"w$w", 0L)
          catch { case e: Throwable => errs.add(s"w$w: ${e.getMessage}") }
        })
      }
      ts.foreach(_.start()); ts.foreach(_.join())
      assert(errs.isEmpty, s"writer failures: $errs")
      ManifestLog.append(landed.filter(col("vec_id") % 9 === 3), root, "w1", 0L)

      IvfIndex.build(base, idxA, "lzv_composed", nCentroids = 8,
        seed = Similarity.ResidueSeed)
      val report = LandingZone.absorbIntoIvfIndex(
        spark, root, landed.schema, "lzv_composed")
      assert(report.segments.size == 3, s"three committed segments: $report")
      assert(report.landedDocs == landedN && report.freshDocs == landedN,
        s"zero loss, replay deduped by the manifest protocol: $report")

      // zero loss the strong way: the composed index answers searches
      // identically to build-on-base + direct assignInto of the batch
      IvfIndex.build(base, idxB, "lzv_direct", nCentroids = 8,
        seed = Similarity.ResidueSeed)
      IvfIndex.assignInto(spark, "lzv_direct", landed)
      val q = emb.filter(col("vec_id") < 20)
      val viaComposed = IvfIndex.search(spark, "lzv_composed", q, nprobe = 2)
        .collect().toSeq
      val viaDirect = IvfIndex.search(spark, "lzv_direct", q, nprobe = 2)
        .collect().toSeq
      assert(viaComposed == viaDirect && viaComposed.nonEmpty,
        "composed (land->absorb) IVF index must answer exactly like direct assignInto")

      // zero dup: a second absorb no-ops and the assignment relation is unchanged
      val nBefore = spark.table(IvfIndex.assignTable("lzv_composed")).count()
      val again = LandingZone.absorbIntoIvfIndex(
        spark, root, landed.schema, "lzv_composed")
      assert(again.segments.isEmpty && again.freshDocs == 0, s"must no-op: $again")
      assert(spark.table(IvfIndex.assignTable("lzv_composed")).count() == nBefore)
    } finally { dropIvf("lzv_composed"); dropIvf("lzv_direct") }
  }

  test("vector crash between assignInto and consume-mark replays as a no-op") {
    import graft.operators.{IvfIndex, Similarity}
    val root = tmp("graft-vland-crash")
    val idxDir = tmp("graft-vland-crash-idx")
    try {
      val base = emb.filter(col("vec_id") % 3 =!= 0)
      val landed = emb.filter(col("vec_id") % 3 === 0)
      IvfIndex.build(base, idxDir, "lzv_crash", nCentroids = 8,
        seed = Similarity.ResidueSeed)
      ManifestLog.append(landed, root, "w0", 0L)
      val first = LandingZone.absorbIntoIvfIndex(
        spark, root, landed.schema, "lzv_crash")
      assert(first.freshDocs == landed.count())
      // simulate the crash window: assignInto committed but the consume
      // marker never landed — delete it and re-absorb
      val f = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val markers = f.listStatus(new org.apache.hadoop.fs.Path(
        LandingZone.consumedDir(root)))
      assert(markers.length == 1)
      f.delete(markers.head.getPath, false)
      assert(LandingZone.pendingSegments(spark, root).size == 1)
      val nBefore = spark.table(IvfIndex.assignTable("lzv_crash")).count()
      val replay = LandingZone.absorbIntoIvfIndex(
        spark, root, landed.schema, "lzv_crash")
      assert(replay.segments.size == 1 && replay.freshDocs == 0,
        s"replayed segment must anti-join away: $replay")
      assert(spark.table(IvfIndex.assignTable("lzv_crash")).count() == nBefore,
        "zero dup after the crash-window replay")
      assert(LandingZone.pendingSegments(spark, root).isEmpty, "re-consume-marked")
    } finally dropIvf("lzv_crash")
  }

  test("IMI landing: land -> absorb -> search ≡ direct assignInto (rotated space)") {
    import graft.operators.ImiIndex
    val root = tmp("graft-imiland")
    val idxA = tmp("graft-imiland-idxa")
    val idxB = tmp("graft-imiland-idxb")
    def dropImi(tag: String): Unit = {
      graft.operators.ModelStore.drop(spark, ImiIndex.storeName(tag))
      spark.sql(s"DROP TABLE IF EXISTS ${ImiIndex.assignTable(tag)}")
    }
    try {
      val base = emb.filter(col("vec_id") % 3 =!= 0)
      val landed = emb.filter(col("vec_id") % 3 === 0)
      // a rotation seed makes the stored space differ from the raw one —
      // assignInto must rotate the landed batch itself, and the absorb's
      // vec_id anti-join must be rotation-blind
      ImiIndex.build(base, idxA, "lzimi_composed", k1 = 4, rotSeed = 7L)
      ManifestLog.append(landed, root, "w0", 0L)
      ManifestLog.append(landed, root, "w0", 0L) // ack-lost replay
      val report = LandingZone.absorbIntoImiIndex(
        spark, root, landed.schema, "lzimi_composed")
      assert(report.landedDocs == landed.count() &&
        report.freshDocs == landed.count(), s"$report")
      ImiIndex.build(base, idxB, "lzimi_direct", k1 = 4, rotSeed = 7L)
      ImiIndex.assignInto(spark, "lzimi_direct", landed)
      val q = emb.filter(col("vec_id") < 20)
      val viaComposed = ImiIndex.search(spark, "lzimi_composed", q).collect().toSeq
      val viaDirect = ImiIndex.search(spark, "lzimi_direct", q).collect().toSeq
      assert(viaComposed == viaDirect && viaComposed.nonEmpty)
      val again = LandingZone.absorbIntoImiIndex(
        spark, root, landed.schema, "lzimi_composed")
      assert(again.segments.isEmpty && again.freshDocs == 0, s"must no-op: $again")
    } finally { dropImi("lzimi_composed"); dropImi("lzimi_direct") }
  }

  test("vector absorb refuses an unbuilt index loudly") {
    val root = tmp("graft-vland-unbuilt")
    ManifestLog.append(emb.limit(5), root, "w0", 0L)
    val e = intercept[IllegalArgumentException] {
      LandingZone.absorbIntoIvfIndex(spark, root, emb.schema, "lzv_never_built")
    }
    assert(e.getMessage.contains("lzv_never_built"))
  }

  test("absorb ticks racing live streams: zero loss, zero dup (r13 verdict task 7)") {
    // the streaming deployment shape under CONCURRENCY: two streams land
    // micro-batches through ManifestLog.sink while a maintenance thread
    // fires absorb ticks MID-STREAM. Absorb only reads COMMITTED segments
    // and consume-marks after the append is durable, so however the ticks
    // interleave with the stream commits, the final absorb leaves exactly
    // the union absorbed once.
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val root = tmp("graft-land-race")
    val ckpt = tmp("graft-land-race-ckpt")
    val idxDir = tmp("graft-land-race-idx")
    ShingleIndex.build(docs(0 until 30, "base"), idxDir, "lz_race")
    val schema = docs(0 until 1, "x").schema
    val memA = MemoryStream[(Long, String)]
    val memB = MemoryStream[(Long, String)]
    (0 until 10).foreach { i =>
      memA.addData((850L + i, s"alpha bravo charlie streamA token${850 + i} delta echo"))
      memB.addData((870L + i, s"alpha bravo charlie streamB token${870 + i} delta echo"))
    }
    val qa = ManifestLog.sink(memA.toDF.toDF("doc_id", "text"), root, "rA", s"$ckpt/a")
    val qb = ManifestLog.sink(memB.toDF.toDF("doc_id", "text"), root, "rB", s"$ckpt/b")
    // maintenance ticks race the live streams
    var ticked = 0L
    val ticker = new Thread(() => {
      (0 until 5).foreach { _ =>
        ticked += LandingZone.absorbIntoShingleIndex(
          spark, root, schema, "lz_race", idxDir).freshDocs
        Thread.sleep(50)
      }
    })
    ticker.start()
    qa.awaitTermination(); qb.awaitTermination()
    ticker.join()
    // final tick: whatever committed after the last racing tick
    val fin = LandingZone.absorbIntoShingleIndex(spark, root, schema, "lz_race", idxDir)
    assert(ticked + fin.freshDocs == 20,
      s"zero loss zero dup across racing ticks: ticked=$ticked final=$fin")
    assert(spark.table(ShingleIndex.sizesTable("lz_race")).count() == 30 + 20)
    val probe = ShingleIndex.probe(spark, "lz_race",
      docs(850 until 860, "streamA-check"))
    assert(probe.count() == 10)
  }
}
