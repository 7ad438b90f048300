package graft.tools

import graft.operators.{BloomDedup, Dsir}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** 1×→1000× scaling of the two fixed-memory curation gates:
  *
  *  - DSIR: fit (one gram scan into a dim-bounded aggregate) and the
  *    full weight+Gumbel-top-k selection, timed separately under the
  *    bench's honest toRdd action.
  *  - Bloom dedup: filter build (map-side-OR bitset aggregate) over the
  *    replicated corpus and the broadcast gate over the same corpus,
  *    with the filter sized to the load (m chosen so fill stays in the
  *    published regime; geometry printed beside the wall). The gate's
  *    admitted/duplicate split is printed as the funnel.
  *
  * Corpus: sf0.1 documents replicated k× with re-keyed ids (the
  * [[QualityScaleProbe]] pattern — token distributions and class balance
  * are scale-invariant, so per-doc costs are comparable across factors).
  * DSIR sees verbatim replicas; Bloom sees replica-suffixed texts so the
  * filter genuinely holds n distinct keys (see the in-loop comment).
  * Usage: DsirBloomScaleProbe [sfDir] [factors…] (default 1 10 100). */
object DsirBloomScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factors = if (args.length > 1) args.drop(1).map(_.toInt).toSeq else Seq(1, 10, 100)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val base = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"),
        col("source").isin(Dsir.TargetSources: _*).as("label"), col("text"))

    def timed[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[dsirbloom] $label%-34s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }

    factors.foreach { k =>
      def replicate = base
        .crossJoin(spark.range(k).select(col("id").as("rep")))
        .select((col("doc_id") * k + col("rep")).as("doc_id"),
          col("label"), col("text"))
        .repartition(spark.sparkContext.defaultParallelism)
      val n = replicate.count()
      println(s"[dsirbloom] ===== factor $k ($n docs) =====")

      // ---- DSIR ---- (SPARK_GRAFT_BLOOM_ONLY=1 skips, for clean
      // bloom-tier A/Bs on a noisy host)
      if (!sys.env.get("SPARK_GRAFT_BLOOM_ONLY").contains("1")) {
      val model = timed(s"dsir fit (gram scan, dim=${Dsir.DefaultDim})") {
        Dsir.fitLlr(spark, replicate, Dsir.DefaultDim)
      }
      timed("dsir weights+top-k select") {
        val raw = replicate.filter(!col("label")).select("doc_id", "text")
        val sel = Dsir.logWeights(raw, model, Dsir.DefaultDim)
          .withColumn("key", col("log_weight"))
          .orderBy(col("key").desc).limit(1000)
        sel.queryExecution.toRdd.count()
      }
      // the paper's acceptance metric: does selection move the hashed-
      // feature distribution toward the target? (On this corpus the
      // source labels are near-unlearnable from token distributions —
      // the classifier hold-out verdict — so small deltas are the honest
      // expectation here; the decisive case lives in DsirSpec's
      // constructed corpus.)
      val srcd = replicate.withColumn("source",
        when(col("label"), lit(Dsir.TargetSources.head)).otherwise(lit("srcX")))
      val selIds = Dsir.selectOn(spark,
        srcd.select("doc_id", "source", "text"), 1000, Dsir.DefaultDim)
        .select("doc_id")
      val target = replicate.filter(col("label")).select("text")
      val rawTexts = replicate.filter(!col("label")).select("doc_id", "text")
      val klRaw = Dsir.featureKl(spark, target, rawTexts, Dsir.DefaultDim)
      val klSel = Dsir.featureKl(spark, target,
        rawTexts.join(selIds, "doc_id"), Dsir.DefaultDim)
      println(f"[dsirbloom] KL(target||raw)=$klRaw%.5f  KL(target||selected)=$klSel%.5f")
      }

      // ---- Bloom ----
      // Bloom gets DISTINCT texts per replica (suffix carries the replica
      // id): identical replicas would insert identical positions and the
      // filter load would stay at the base corpus's 5k keys whatever the
      // factor — the build cost would be real but the fill (and therefore
      // the false-positive regime) would not be the n-key regime the
      // probe claims to measure.
      def bloomCorpus = base
        .crossJoin(spark.range(k).select(col("id").as("rep")))
        .select((col("doc_id") * k + col("rep")).as("doc_id"),
          concat(col("text"), lit(" r"), col("rep")).as("text"))
        .repartition(spark.sparkContext.defaultParallelism)
      // size m to the load: smallest power of two with fill <= ~30%
      // (inserts = n·hashes; fill = 1 − exp(−inserts/m))
      val inserts = n * BloomDedup.DefaultHashes
      var m = 1 << 16
      while (m < inserts * 3 && m < (1 << 30)) m <<= 1
      println(s"[dsirbloom] bloom geometry: m=$m (${m / 8 / 1024} KiB), " +
        s"k=${BloomDedup.DefaultHashes}, predicted fill=" +
        f"${1 - math.exp(-inserts.toDouble / m)}%.3f")
      val words = timed(s"bloom build ($n inserts)") {
        BloomDedup.build(spark, bloomCorpus, BloomDedup.DefaultHashes, m)
      }
      // measured fill beside the prediction (distinct-key insertions, so
      // the two should agree up to hash collisions)
      val setBits = words.map(java.lang.Long.bitCount).sum
      println(f"[dsirbloom] actual fill: ${setBits.toDouble / m}%.3f ($setBits bits)")
      val dups = timed("bloom gate (full corpus)") {
        BloomDedup.gate(spark, bloomCorpus, words, BloomDedup.DefaultHashes, m)
          .filter(col("bloom_dup")).count()
      }
      // every text was inserted → everything must flag duplicate (the
      // no-false-negative invariant at scale); fresh-text FPR is probed
      // by mutating the text before gating
      require(dups == n, s"false negatives at scale: $dups of $n flagged")
      val fp = timed("bloom gate (mutated fresh texts)") {
        BloomDedup.gate(spark,
          bloomCorpus.withColumn("text", concat(col("text"), lit(" #fresh"))),
          words, BloomDedup.DefaultHashes, m)
          .filter(col("bloom_dup")).count()
      }
      println(f"[dsirbloom] fresh-text false positives: $fp of $n " +
        f"(rate ${fp.toDouble / n}%.2e)")
      // SPARK_GRAFT_BLOOM_DIST=1: time the r12 DISTRIBUTED build (sparse
      // bit_or aggregate, never on the driver) at the same geometry and
      // at a Long m past Int positions — the driver-build-vs-distributed
      // price, and proof the Long regime runs at corpus scale
      if (sys.env.get("SPARK_GRAFT_BLOOM_DIST").contains("1")) {
        val distRows = timed(s"bloom buildRelational (same m=$m)") {
          BloomDedup.buildRelational(bloomCorpus, BloomDedup.DefaultHashes, m.toLong).count()
        }
        println(f"[dsirbloom] distributed filter: $distRows%,d sparse words " +
          f"(driver array would be ${(m + 63) / 64}%,d longs)")
        val mL = 1L << 33
        val distRowsL = timed(f"bloom buildRelational (Long m=2^33)") {
          BloomDedup.buildRelational(bloomCorpus, BloomDedup.DefaultHashes, mL).count()
        }
        println(f"[dsirbloom] Long-m filter: $distRowsL%,d sparse words " +
          f"(array form would need 1 GiB + Long positions — unreachable before r12)")
      }
      // SPARK_GRAFT_BLOOM_REL=1: time the past-broadcast relational tier
      // on the same filter + corpus (the join-price-vs-broadcast number)
      if (sys.env.get("SPARK_GRAFT_BLOOM_REL").contains("1")) {
        val tag = "dbrel_probe"
        BloomDedup.persist(spark, tag, words, m, BloomDedup.DefaultHashes)
        val dupsRel = timed("bloom gate RELATIONAL (full corpus)") {
          BloomDedup.gateRelational(spark, tag, bloomCorpus)
            .filter(col("bloom_dup")).count()
        }
        require(dupsRel == n, s"relational tier false negatives: $dupsRel of $n")
        graft.operators.ModelStore.drop(spark, BloomDedup.storeName(tag))
      }
    }
    spark.stop()
  }
}
