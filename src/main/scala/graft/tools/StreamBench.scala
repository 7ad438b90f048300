package graft.tools

import scala.collection.mutable.ArrayBuffer

import graft.streaming.{IngestGate, StreamingSimilarity}
import graft.streaming.StreamingSimilarity.VecRow
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Benchmark the streaming tier — the round-4 verdict noted zero perf
  * numbers existed for the ingestion gate or the incremental top-k.
  *
  * Two measurements:
  *  1. [[IngestGate]] gated-ingest throughput (docs/s per micro-batch):
  *     `nBatches` batches of `batchSize` arriving docs against the
  *     `sfDir` corpus. Arrivals are ~90% fresh (token-suffixed variants
  *     of corpus docs — new shingle vocabulary) and ~10% exact corpus
  *     copies, so the gate does real work on both paths. Each batch is
  *     one AvailableNow drain (the operator's own deployment shape:
  *     foreachBatch + restart), so per-batch wall includes query startup;
  *     the listener's triggerExecution isolates the in-batch time. Note
  *     the gate re-shingles corpus ∪ landing every batch by design (the
  *     landing zone IS the ledger) — the throughput floor this measures.
  *  2. [[StreamingSimilarity.incrementalTopK]] per-batch latency: one
  *     LONG-RUNNING query (processAllAvailable per batch — no restart in
  *     the timed window), `nBatches` batches of `vecBatch` vectors
  *     against a 50-query panel, k=5. State is O(queries × k); the
  *     number to watch is per-batch latency staying flat as the corpus
  *     streamed past grows.
  *
  * Usage: runMain graft.tools.StreamBench [sfDir] [batchSize] [nBatches] [tiers]
  * tiers: `all` (default), `bloomgate` (only the constant-memory Bloom
  * dedup gate), `indexed` (only the indexed document gate — the
  * corpus-size-invariance check at big scale factors, where the recompute
  * gate's O(corpus)-per-batch cost is precisely what we're NOT measuring),
  * or `vecgate` (only the embedding gate — run with enough batches for the
  * census-gated rebuild to trip).
  * A missing `/tmp/graft_scale{N}x` sfDir is generated via
  * [[ScaleProbe.generate]] from sf0.1.
  */
object StreamBench {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val batchSize = if (args.length > 1) args(1).toInt else 2000
    val nBatches = if (args.length > 2) args(2).toInt else 4
    val tiers = if (args.length > 3) args(3) else "all"
    // vecgate probe width: 0 → the gate's default; explicit values let the
    // dup-gate-vs-recall-rule comparison run on the same corpus (SCALING r7)
    val gateNprobe = if (args.length > 4) args(4).toInt else 0
    // vecgate candidate tier: float (default) | int8 | pq — the pq tier
    // needs a corpus ≥ Pq.AutoMinRows (the build below uses PqAuto), i.e.
    // run it against a /tmp/graft_scale{N}x_vec corpus
    val gateTier: graft.streaming.VectorIngestGate.ScoreTier =
      (if (args.length > 5) args(5) else "float") match {
        case "int8" => graft.streaming.VectorIngestGate.Int8Tier
        case "pq"   => graft.streaming.VectorIngestGate.PqTier
        case _      => graft.streaming.VectorIngestGate.FloatTier
      }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-sbench-wh").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // trigger-execution durations per completed micro-batch, by query
    val trig = ArrayBuffer[(String, Long, Long)]() // (queryName, inputRows, ms)
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        if (p.numInputRows > 0) trig.synchronized {
          trig += ((Option(p.name).getOrElse("ingest"), p.numInputRows,
            p.durationMs.getOrDefault("triggerExecution", -1L)))
        }
      }
    })

    // the vecgate-only tier needs embeddings.parquet alone — skip the
    // document-corpus prep entirely (a vec-only scale dir has no docs,
    // and regenerating 10000× of them for an embedding benchmark would
    // be hours of wasted work)
    val root = java.nio.file.Files.createTempDirectory("graft-streambench").toString
    val corpusDir = s"$root/corpus"
    val corpusRows: Array[(Long, String)] = if (tiers == "vecgate") Array.empty else {
      if (!new java.io.File(s"$sfDir/documents.parquet").exists()) {
        val m = "scale(\\d+)x".r.findFirstMatchIn(sfDir)
        require(m.isDefined, s"no documents.parquet at $sfDir and not a scale dir")
        println(s"[streambench] generating ${m.get.group(1)}x corpus at $sfDir")
        ScaleProbe.generate(spark, "/root/testdata/sf0.1", m.get.group(1).toInt, sfDir)
      }
      spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "text")
        .write.parquet(s"$corpusDir/documents.parquet")
      val corpusN = spark.read.parquet(s"$corpusDir/documents.parquet").count()
      // batch material: only batchSize×nBatches source docs are ever used
      // (cycled by modulo) — collect just those, not the corpus (at 100×
      // the full collect would be data-sized on the driver)
      val rows = spark.read.parquet(s"$corpusDir/documents.parquet")
        .orderBy("doc_id").limit(math.max(1, batchSize * nBatches))
        .as[(Long, String)].collect()
      println(s"[streambench] corpus: $corpusN docs from $sfDir " +
        s"(${rows.length} collected as batch material)")
      rows
    }

    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF.toDF("doc_id", "text")
    var nextId = 100000000L
    val gateTimes = ArrayBuffer[(Int, Int, Double)]()
    for (b <- 0 until nBatches if tiers == "all") {
      val batch = (0 until batchSize).map { i =>
        val src = corpusRows((b * batchSize + i) % corpusRows.length)
        val id = nextId; nextId += 1
        if (i % 10 == 9) (id, src._2) // exact corpus copy → drop path
        else (id, src._2.split("\\s+").map(t => s"${t}_n${b}_$i").mkString(" "))
      }
      mem.addData(batch: _*)
      val t0 = System.nanoTime()
      IngestGate.start(corpusDir, stream, s"$root/landing", s"$root/receipts",
        s"$root/ckpt").awaitTermination()
      val sec = (System.nanoTime() - t0) / 1e9
      gateTimes += ((b, batchSize, sec))
      println(f"[streambench] ingest batch $b: $sec%.2f s wall (${batchSize / sec}%.0f docs/s)")
    }
    if (tiers == "all") {
      val landed = spark.read.parquet(s"$root/landing").count()
      val receipts = spark.read.parquet(s"$root/receipts").count()
      println(s"[streambench] landing=$landed receipts=$receipts " +
        s"(expected receipts=${nBatches * batchSize})")
    }

    // ---- 1b. IngestGate, indexed (same arrivals, pre-built ShingleIndex) ----
    val gateIxTimes = ArrayBuffer[(Int, Int, Double)]()
    if (tiers == "all" || tiers == "indexed") {
    val ixBuild0 = System.nanoTime()
    graft.operators.ShingleIndex.build(
      spark.read.parquet(s"$corpusDir/documents.parquet"), s"$root/index", "sbix")
    println(f"[streambench] index build (once): ${(System.nanoTime() - ixBuild0) / 1e9}%.2f s")
    val memIx = MemoryStream[(Long, String)]
    val streamIx = memIx.toDF.toDF("doc_id", "text")
    var nextIdIx = 200000000L
    for (b <- 0 until nBatches) {
      val batch = (0 until batchSize).map { i =>
        val src = corpusRows((b * batchSize + i) % corpusRows.length)
        val id = nextIdIx; nextIdIx += 1
        if (i % 10 == 9) (id, src._2)
        else (id, src._2.split("\\s+").map(t => s"${t}_m${b}_$i").mkString(" "))
      }
      memIx.addData(batch: _*)
      val t0 = System.nanoTime()
      IngestGate.startIndexed("sbix", streamIx, s"$root/landing_ix",
        s"$root/receipts_ix", s"$root/ckpt_ix").awaitTermination()
      val sec = (System.nanoTime() - t0) / 1e9
      gateIxTimes += ((b, batchSize, sec))
      println(f"[streambench] ingest-ix batch $b: $sec%.2f s wall (${batchSize / sec}%.0f docs/s)")
      // maintenance cadence, LIVE (the r7 gap: the 5M-doc run showed a
      // 17 s batch-3 spike from un-compacted append accumulation with the
      // cadence dormant) — compact the four index tables between batches,
      // census-gate the rebuild, and report the amortized cost alongside
      // the batch wall
      val tc = System.nanoTime()
      graft.operators.ShingleIndex.compact(spark, "sbix", s"$root/index")
      println(f"[streambench] ingest-ix compact $b: ${(System.nanoTime() - tc) / 1e9}%.2f s " +
        f"(files=${graft.operators.ShingleIndex.fileCount(spark, "sbix")})")
      val tr = System.nanoTime()
      val census = graft.operators.ShingleIndex.overshootCensus(spark, "sbix")
      println(f"[streambench] ingest-ix census $b: ${(System.nanoTime() - tr) / 1e9}%.2f s " +
        s"(saturatedKeys=${census.saturatedKeys} overshootRows=${census.overshootRows} " +
        s"needsRebuild=${census.needsRebuild()})")
      if (census.needsRebuild()) {
        val trb = System.nanoTime()
        graft.operators.ShingleIndex.rebuild(
          spark.read.parquet(s"$corpusDir/documents.parquet").select("doc_id", "text")
            .unionByName(spark.read.parquet(s"$root/landing_ix")
              .select("doc_id", "text")),
          s"$root/index", "sbix")
        println(f"[streambench] ingest-ix REBUILD after batch $b: " +
          f"${(System.nanoTime() - trb) / 1e9}%.2f s")
      }
    }
    val landedIx = spark.read.parquet(s"$root/landing_ix").count()
    println(s"[streambench] indexed landing=$landedIx " +
      s"(expected ${nBatches * (batchSize - batchSize / 10)})")
    }

    if (tiers == "indexed") {
      summary(trig, gateTimes, gateIxTimes, ArrayBuffer.empty)
      spark.stop(); return
    }

    // ---- 1d. BloomIngestGate (constant-memory bloom dedup gate) ----
    // Same arrival composition as the document gates (90% fresh / 10%
    // exact corpus copies), gated against a filter pre-seeded with the
    // corpus and sized for corpus + arrivals. Per-batch state: m/8 bytes.
    if (tiers == "bloomgate") {
      import graft.operators.BloomDedup
      import graft.streaming.BloomIngestGate
      val corpusDf = spark.read.parquet(s"$corpusDir/documents.parquet")
      val corpusN = corpusDf.count()
      val inserts = (corpusN + batchSize.toLong * nBatches) * BloomDedup.DefaultHashes
      var m = 1 << 16
      while (m < inserts * 3 && m < (1 << 30)) m <<= 1
      val tSeed = System.nanoTime()
      val words = BloomDedup.build(spark, corpusDf, BloomDedup.DefaultHashes, m)
      BloomDedup.persist(spark, "sbbloom", words, m, BloomDedup.DefaultHashes)
      println(f"[streambench] bloom seed (once): ${(System.nanoTime() - tSeed) / 1e9}%.2f s " +
        s"(m=$m = ${m / 8 / 1024 / 1024} MiB, corpus=$corpusN)")
      val memB = MemoryStream[(Long, String)]
      val streamB = memB.toDF.toDF("doc_id", "text")
      var nextIdB = 300000000L
      val gateBloomTimes = ArrayBuffer[(Int, Int, Double)]()
      for (b <- 0 until nBatches) {
        val batch = (0 until batchSize).map { i =>
          val src = corpusRows((b * batchSize + i) % corpusRows.length)
          val id = nextIdB; nextIdB += 1
          if (i % 10 == 9) (id, src._2)
          else (id, src._2.split("\\s+").map(t => s"${t}_bg${b}_$i").mkString(" "))
        }
        memB.addData(batch: _*)
        val t0 = System.nanoTime()
        BloomIngestGate.start(streamB, "sbbloom", s"$root/landing_bloom",
          s"$root/receipts_bloom", s"$root/ckpt_bloom").awaitTermination()
        val sec = (System.nanoTime() - t0) / 1e9
        gateBloomTimes += ((b, batchSize, sec))
        println(f"[streambench] bloom batch $b: $sec%.2f s wall (${batchSize / sec}%.0f docs/s)")
      }
      val landedB = spark.read.parquet(s"$root/landing_bloom").count()
      val receiptsB = spark.read.parquet(s"$root/receipts_bloom").count()
      // the fresh-doc count is an UPPER bound on landings, not an equality:
      // the gate's false positives over-drop fresh docs at ~fill^k (ADVICE
      // r11 — the 5M run landed 10,797/10,800). Print the bound and the
      // fill^k-predicted drop beside the observed number so a shortfall
      // reads as the filter's stated FPR, not as lost data.
      val freshUpper = nBatches * (batchSize - batchSize / 10)
      val (wordsB, mB, kB) = graft.operators.BloomDedup.load(spark, "sbbloom")
      val fill = wordsB.map(java.lang.Long.bitCount).sum.toDouble / mB
      val predictedFpDrop = freshUpper * math.pow(fill, kB)
      println(f"[streambench] bloom landing=$landedB receipts=$receiptsB " +
        f"(fresh upper bound=$freshUpper, final fill=$fill%.3f → " +
        f"predicted FP over-drop ≈ ${predictedFpDrop}%.1f, " +
        f"receipts=${nBatches * batchSize})")
      spark.stop(); return
    }
    // arrival-synthesis pool: the driver only needs batchSize × nBatches
    // source vectors, not the corpus — cap the collect so deep-scale
    // corpora (2M vectors at 1000×) don't pull 600 MB to the driver to
    // fabricate 8k arrivals. Sorted → deterministic pool at every scale
    // (≤ 60k corpora collected everything before, so published numbers
    // at those scales are composition-identical).
    // the vecgate arm still needs the generate fallback the document-prep
    // skip removed: a plain (not yet generated) scale dir has neither
    // relation, and embeddings come from the same ScaleProbe.generate
    if (!new java.io.File(s"$sfDir/embeddings.parquet").exists()) {
      val m = "scale(\\d+)x".r.findFirstMatchIn(sfDir)
      require(m.isDefined, s"no embeddings.parquet at $sfDir and not a scale dir")
      println(s"[streambench] generating ${m.get.group(1)}x corpus at $sfDir")
      ScaleProbe.generate(spark, "/root/testdata/sf0.1", m.get.group(1).toInt, sfDir)
    }
    val embDf = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding")
    val poolN = 100000
    val nEmb = embDf.count()
    // rank-prefilter before the global sort: at 20M the bare
    // sort+limit pulled >1 GiB of per-partition partial sorts to the
    // driver (maxResultSize abort). The quantile cut keeps the smallest
    // ~2·poolN ids (error bound 0.001·n keeps the retained rank ≥ poolN),
    // so the sort and the driver pull are pool-sized at any corpus size —
    // and the collected pool is IDENTICAL to the unfiltered sort+limit
    // (the filter only discards rows the limit would have dropped).
    val embPre = if (nEmb > poolN * 4L) {
      // the error bound must SCALE with the corpus: a fixed 0.001
      // relative error is an absolute rank error of 0.001·n, which
      // crosses the 2·poolN target rank at n = 100M and would silently
      // shrink the pool. 0.5·poolN/n keeps the retained rank ≥ 1.5·poolN
      // at any corpus size.
      val cut = embDf.stat.approxQuantile("vec_id",
        Array(math.min(1.0, 2.0 * poolN / nEmb)), 0.5 * poolN / nEmb).head
      embDf.filter(col("vec_id") <= cut)
    } else embDf
    val emb = embPre.as[(Long, Array[Float])]
      .sort("vec_id").limit(poolN).collect()
    require(emb.length >= math.min(poolN.toLong, nEmb),
      s"arrival pool shrank: ${emb.length} < ${math.min(poolN.toLong, nEmb)} — prefilter bug")

    // ---- 1c. VectorIngestGate (persistent-IVF embedding gate) ----
    if (tiers == "all" || tiers == "vecgate") {
      import graft.operators.IvfIndex
      val vb0 = System.nanoTime()
      IvfIndex.build(spark.read.parquet(s"$sfDir/embeddings.parquet"),
        s"$root/vindex", "sbvix")
      println(f"[streambench] vector index build (once): ${(System.nanoTime() - vb0) / 1e9}%.2f s")
      val vmem = MemoryStream[VecRow]
      // OUTSIDE any reachable ScaleProbe block id range (block b occupies
      // b·10⁷ + [0, base); 300M — the original start — was exactly block
      // 30, and 2·10¹⁰ — the first fix — was exactly block 2000, which
      // the 10000× corpus reaches: its 1,800 admitted arrivals collided
      // id-for-id with stored rows and tripped the append guard. Start
      // beyond block 10⁵, i.e. beyond any factor ≤ 100,000 corpus.
      var nextVid = 2000000000000L
      def vsigned(b: Int, i: Int, v: Array[Float]): Array[Float] =
        v.zipWithIndex.map { case (x, d) =>
          var z = (b.toLong * 7919L + i.toLong) * 0x9E3779B97F4A7C15L + d.toLong * 0xBF58476D1CE4E5B9L
          z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
          z = z ^ (z >>> 31)
          if (z > 0) x else -x
        }
      for (b <- 0 until nBatches) {
        val batch = (0 until math.min(batchSize, emb.length)).map { i =>
          val src = emb((b * batchSize + i) % emb.length)
          val id = nextVid; nextVid += 1
          // ~10% exact copies of indexed vectors → drop path; rest
          // sign-scrambled (near-orthogonal) → admit path
          if (i % 10 == 9) VecRow(id, src._2)
          else VecRow(id, vsigned(b, i, src._2))
        }
        vmem.addData(batch: _*)
        val t0 = System.nanoTime()
        graft.streaming.VectorIngestGate.start("sbvix",
          vmem.toDF(), s"$root/vlanding", s"$root/vreceipts", s"$root/vckpt",
          // nprobe = 0 → the gate's regime default (dup regime at this
          // threshold: fixed DupGateNprobe — see VectorIngestGate's class
          // doc and the SCALING r7 deep-scale A/B; pass an explicit value
          // as args(4) to measure the recall-rule budget instead)
          threshold = 0.999, nprobe = gateNprobe, verbose = true,
          tier = gateTier).awaitTermination()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"[streambench] vecgate batch $b (tier=$gateTier): " +
          f"${batch.length} vectors in $sec%.2f s " +
          f"(${batch.length / sec}%.0f vec/s)")
        // maintenance cadence: compact the assignment relation between
        // batches (each append adds a file per bucket — without this the
        // batch time compounds file-accretion on top of the genuine
        // candidate-volume growth; see SCALING.md vecgate note)
        val tc = System.nanoTime()
        graft.operators.IvfIndex.compact(spark, "sbvix", s"$root/vindex")
        println(f"[streambench] vecgate compact $b: ${(System.nanoTime() - tc) / 1e9}%.2f s " +
          f"(files=${graft.operators.IvfIndex.fileCount(spark, "sbvix")})")
        // complete cadence: census-gated retrain when the corpus outgrows
        // the model (the candidate-volume growth term — see SCALING.md)
        def modelCells = graft.operators.IvfIndex.loadModel(spark, "sbvix").cents.length
        val censusN = spark.table(graft.operators.IvfIndex.assignTable("sbvix")).count()
        println(s"[streambench] vecgate census $b: n=$censusN model=$modelCells " +
          s"auto=${graft.operators.Similarity.cellsFor(censusN)}")
        val tr = System.nanoTime()
        if (graft.operators.IvfIndex.rebuildIfNeeded(spark, "sbvix", s"$root/vindex"))
          println(f"[streambench] vecgate REBUILD after batch $b: " +
            f"${(System.nanoTime() - tr) / 1e9}%.2f s " +
            s"(model=$modelCells cells)")
      }
      val vLanded = spark.read.parquet(s"$root/vlanding").count()
      val vReceipts = spark.read.parquet(s"$root/vreceipts").count()
      println(s"[streambench] vecgate landing=$vLanded receipts=$vReceipts")
    }
    if (tiers == "vecgate") { spark.stop(); return }

    // ---- 2. incrementalTopK ----
    val panel = emb.take(50).map { case (id, v) => (id, v) }.toSeq
    def signed(b: Int, v: Array[Float]): Array[Float] =
      v.zipWithIndex.map { case (x, i) =>
        var z = b.toLong * 0x9E3779B97F4A7C15L + i.toLong * 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
        z = z ^ (z >>> 31)
        if (b == 0 || z > 0) x else -x
      }
    val vmem = MemoryStream[VecRow]
    val topkQ = StreamingSimilarity.incrementalTopK(vmem.toDS(), panel, k = 5)
      .writeStream.outputMode("append").format("memory").queryName("inc_topk").start()
    val topkTimes = ArrayBuffer[(Int, Int, Double)]()
    for (b <- 0 until nBatches) {
      val batch = emb.map { case (id, v) =>
        VecRow(id + b.toLong * 10000000L, signed(b, v))
      }
      vmem.addData(batch.toIndexedSeq: _*)
      val t0 = System.nanoTime()
      topkQ.processAllAvailable()
      val sec = (System.nanoTime() - t0) / 1e9
      topkTimes += ((b, batch.length, sec))
      println(f"[streambench] topk batch $b: ${batch.length} vectors in $sec%.2f s " +
        f"(${batch.length / sec}%.0f vec/s)")
    }
    topkQ.stop()
    summary(trig, gateTimes, gateIxTimes, topkTimes)
    spark.stop()
  }

  private def summary(trig: ArrayBuffer[(String, Long, Long)],
                      gateTimes: ArrayBuffer[(Int, Int, Double)],
                      gateIxTimes: ArrayBuffer[(Int, Int, Double)],
                      topkTimes: ArrayBuffer[(Int, Int, Double)]): Unit = {
    Thread.sleep(500) // let listener events drain
    println("\n| tier | batch | rows | wall s | rows/s | triggerExecution ms |")
    println("|---|---|---|---|---|---|")
    val gateTrig = trig.synchronized(trig.filter(_._1 == "ingest").toSeq)
    gateTimes.zipWithIndex.foreach { case ((b, n, sec), i) =>
      val t = if (i < gateTrig.length) gateTrig(i)._3.toString else "-"
      println(f"| ingest-gate | $b | $n | $sec%.2f | ${n / sec}%.0f | $t |")
    }
    gateIxTimes.zipWithIndex.foreach { case ((b, n, sec), i) =>
      val j = gateTimes.length + i // indexed-gate batches follow in the same unnamed-query log
      val t = if (j < gateTrig.length) gateTrig(j)._3.toString else "-"
      println(f"| ingest-gate-indexed | $b | $n | $sec%.2f | ${n / sec}%.0f | $t |")
    }
    val topkTrig = trig.synchronized(trig.filter(_._1 == "inc_topk").toSeq)
    topkTimes.zipWithIndex.foreach { case ((b, n, sec), i) =>
      val t = if (i < topkTrig.length) topkTrig(i)._3.toString else "-"
      println(f"| inc-topk | $b | $n | $sec%.2f | ${n / sec}%.0f | $t |")
    }
  }
}
