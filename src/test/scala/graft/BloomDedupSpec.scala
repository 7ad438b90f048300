package graft

import graft.operators.{BloomDedup, ModelStore}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bloom-gate invariants: the packed bit array equals the distinct
  * position set (the oracle's relational form), duplicates are NEVER
  * missed (no false negatives), false positives appear exactly when an
  * undersized filter says they should, OR-union equals a fresh combined
  * build, persistence round-trips with torn-state loudness, and the gate
  * plan is shuffle-free. */
class BloomDedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // independent replica of the Kirsch–Mitzenmacher position family
  private def posOf(text: String, i: Int, m: Int): Long = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(text.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val h1 = java.lang.Long.parseLong(h.substring(0, 13), 16)
    val h2 = java.lang.Long.parseLong(h.substring(13, 26), 16)
    (h1 + i * h2) % m
  }

  test("packed bit array == distinct position set (hand-replicated hashes)") {
    val m = 1 << 10
    val k = 4
    val corpus = Seq("alpha", "beta", "gamma", "alpha").toDF("text")
    val words = BloomDedup.build(spark, corpus, k, m)
    val setBits = (0 until m).filter(p => (words(p >>> 6) & (1L << (p & 63))) != 0).toSet
    val want = Seq("alpha", "beta", "gamma")
      .flatMap(t => (0 until k).map(i => posOf(t, i, m).toInt)).toSet
    assert(setBits == want)
  }

  test("hex-digest build == exploded-positions reference build, bit for bit") {
    import spark.implicits._
    val m = 1 << 12
    val k = 4
    val corpus = (1 to 300).map(i => s"ref text $i").toDF("text")
    val shipped = BloomDedup.build(spark, corpus, k, m)
    val reference = corpus
      .select(explode(BloomDedup.positions(col("text"), k, m)).as("pos"))
      .as[Long]
      .select(new BloomDedup.BitsetAgg(m).toColumn.name("bloom"))
      .collect()(0).words
    assert(shipped.toSeq == reference.toSeq)
  }

  test("no false negatives: every seen text gates as bloom_dup") {
    val m = 1 << 12
    val seen = (1 to 200).map(i => s"document number $i").toDF("text")
    val words = BloomDedup.build(spark, seen, 5, m)
    val gated = BloomDedup.gate(spark, seen, words, 5, m)
    assert(gated.filter(!col("bloom_dup")).count() == 0)
  }

  test("an undersized filter exhibits false positives; a sized one does not") {
    val seen = (1 to 500).map(i => s"seen $i").toDF("text")
    val fresh = (1 to 500).map(i => s"fresh $i").toDF("text")
    // m=512 at 2,500 insertions: fill ≈ 99%, nearly everything collides
    val tiny = BloomDedup.build(spark, seen, 5, 512)
    val fpTiny = BloomDedup.gate(spark, fresh, tiny, 5, 512)
      .filter(col("bloom_dup")).count()
    assert(fpTiny > 400, s"undersized filter should flood: $fpTiny")
    // m=2^16 at the same load: fill ≈ 4%, fpr ≈ 1e-7
    val sized = BloomDedup.build(spark, seen, 5, 1 << 16)
    val fpSized = BloomDedup.gate(spark, fresh, sized, 5, 1 << 16)
      .filter(col("bloom_dup")).count()
    assert(fpSized == 0, s"sized filter should be clean: $fpSized")
  }

  test("OR-union of two builds == one build over the concatenated corpus") {
    val m = 1 << 10
    val a = (1 to 50).map(i => s"a $i").toDF("text")
    val b = (1 to 50).map(i => s"b $i").toDF("text")
    val wa = BloomDedup.build(spark, a, 3, m)
    val wb = BloomDedup.build(spark, b, 3, m)
    val both = BloomDedup.build(spark, a.unionAll(b), 3, m)
    assert(wa.zip(wb).map { case (x, y) => x | y }.toSeq == both.toSeq)
  }

  test("oracled query: exact_dup implies bloom_dup on the sf corpus") {
    val rows = BloomDedup.query(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val bloom = r.getAs[Boolean]("bloom_dup")
      val exact = r.getAs[Boolean]("exact_dup")
      val fp = r.getAs[Boolean]("false_positive")
      assert(!exact || bloom, s"false negative at ${r.getAs[Long]("doc_id")}")
      assert(fp == (bloom && !exact))
    }
  }

  test("persist/load round-trip; absorb == rebuild over both corpora; torn is loud") {
    val tag = s"bloomspec_${System.nanoTime()}"
    val m = 1 << 10
    val a = (1 to 40).map(i => s"pa $i").toDF("text")
    val b = (1 to 40).map(i => s"pb $i").toDF("text")
    val wa = BloomDedup.build(spark, a, 3, m)
    BloomDedup.persist(spark, tag, wa, m, 3)
    val (loaded, lm, lk) = BloomDedup.load(spark, tag)
    assert(loaded.toSeq == wa.toSeq && lm == m && lk == 3)
    BloomDedup.absorb(spark, tag, b)
    val (after, _, _) = BloomDedup.load(spark, tag)
    assert(after.toSeq == BloomDedup.build(spark, a.unionAll(b), 3, m).toSeq)
    // torn state: drop the geometry row → load must refuse
    val stored = spark.read.parquet(
      ModelStore.current(spark, BloomDedup.storeName(tag)).partPath("filter"))
    ModelStore.publish(spark, BloomDedup.storeName(s"${tag}_torn"))(
      ModelStore.write(_, "filter", stored.filter(col("kind") =!= "m")))
    val e = intercept[IllegalArgumentException] {
      BloomDedup.load(spark, s"${tag}_torn")
    }
    assert(e.getMessage.contains("expected exactly one m row"))
    ModelStore.drop(spark, BloomDedup.storeName(tag))
    ModelStore.drop(spark, BloomDedup.storeName(s"${tag}_torn"))
  }

  test("an absorb that fails after the OR leaves the loaded filter unchanged") {
    val tag = s"bloomabsorb_${System.nanoTime()}"
    val m = 1 << 10
    val wa = BloomDedup.build(spark, (1 to 40).map(i => s"pa $i").toDF("text"), 3, m)
    BloomDedup.persist(spark, tag, wa, m, 3)
    assert(BloomDedup.load(spark, tag)._1.toSeq == wa.toSeq) // now cached
    // the publish of the absorbed filter fails: the store's data directory
    // is replaced by a plain file, so no new generation can be written
    val name = BloomDedup.storeName(tag)
    val data = new org.apache.hadoop.fs.Path(ModelStore.root(spark, name), "data")
    val aside = new org.apache.hadoop.fs.Path(ModelStore.root(spark, name), "data.aside")
    val fs = data.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.rename(data, aside)
    fs.create(data, false).close()
    try {
      intercept[Exception] {
        BloomDedup.absorb(spark, tag, (1 to 40).map(i => s"pb $i").toDF("text"))
      }
    } finally {
      fs.delete(data, false)
      fs.rename(aside, data)
    }
    val (after, am, ak) = BloomDedup.load(spark, tag)
    assert(after.toSeq == wa.toSeq && am == m && ak == 3,
      "a failed absorb leaked its bits into the cached generation")
    ModelStore.drop(spark, name)
  }

  test("gate survives a join-derived text column (Catalyst HOF-pushdown corner)") {
    // Regression pin for the Spark 4.1.2 optimizer bug positions()'s
    // scaladoc documents: with a transform(sequence, λ) position array, a
    // filter over the gate of a corpus whose text references BOTH sides
    // of a join was pushed below the join onto the side that cannot
    // resolve the text attribute (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND at
    // execution). The unrolled array(…) form must keep this working.
    val base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val corpus = base
      .crossJoin(spark.range(2).select(col("id").as("rep")))
      .select((col("doc_id") * 2 + col("rep")).as("doc_id"),
        concat(col("text"), lit(" r"), col("rep")).as("text"))
      .repartition(4)
    val words = BloomDedup.build(spark, corpus, 5, 1 << 16)
    val n = BloomDedup.gate(spark, corpus, words, 5, 1 << 16)
      .filter(col("bloom_dup")).count()
    assert(n == corpus.count()) // every inserted text flags duplicate
    // the non-UDF filter shape that originally tripped the pushdown
    val sized = corpus
      .filter(org.apache.spark.sql.functions.size(
        BloomDedup.positions(col("text"), 5, 1 << 16)) === 5)
      .count()
    assert(sized == corpus.count())
  }

  test("relational tier: verdicts identical to the broadcast gate; no m-sized broadcast") {
    import spark.implicits._
    val m = 1 << 12
    val k = 4
    val tag = s"bloomrel_${System.nanoTime()}"
    val seen = (1 to 200).map(i => s"seen text $i").toDF("text")
    BloomDedup.persist(spark, tag, BloomDedup.build(spark, seen, k, m), m, k)
    // arrivals: half seen (dup), half fresh — plus doc ids to compare on
    val arrivals = ((1 to 100).map(i => (i.toLong, s"seen text $i")) ++
      (1 to 100).map(i => (1000L + i, s"fresh text $i"))).toDF("doc_id", "text")
    val (words, _, _) = BloomDedup.load(spark, tag)
    val viaBroadcast = BloomDedup.gate(spark, arrivals, words, k, m)
      .select("doc_id", "bloom_dup").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val rel = BloomDedup.gateRelational(spark, tag, arrivals)
    val viaJoin = rel.select("doc_id", "bloom_dup").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(viaJoin == viaBroadcast)
    assert(viaJoin.count(_._2) == 100) // the seen half flags, fresh may fp-add
    // duplicate texts across DIFFERENT rows keep per-row verdicts (the
    // text-keyed probe must fan back out, never merge distinct rows)
    val dups = ((1 to 5).map(i => (2000L + i, "seen text 1")) ++
      Seq((3000L, "fresh text 1"))).toDF("doc_id", "text")
    val dupOut = BloomDedup.gateRelational(spark, tag, dups)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("bloom_dup")).toMap
    assert(dupOut.size == 6 && (1 to 5).forall(i => dupOut(2000L + i)))
    assert(dupOut(3000L) == viaBroadcast(1001L)) // same text, same verdict
    // the plan must carry NO broadcast of the words relation (the whole
    // point of this tier) — the membership is an equi-join; broadcasts
    // of the tiny arrival side are AQE's business, the FILTER side is not
    // collected anywhere (no broadcast variable, no literal array)
    val plan = rel.queryExecution.executedPlan.toString
    assert(plan.contains("Join"), plan)
    ModelStore.drop(spark, BloomDedup.storeName(tag))
  }

  test("plan shape: the gate is shuffle-free") {
    val arrivals = (1 to 100).map(i => s"arr $i").toDF("text")
    val words = BloomDedup.build(spark, arrivals, 5, 1 << 12)
    val gated = BloomDedup.gate(spark, arrivals, words, 5, 1 << 12)
    val plan = gated.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"gate must not shuffle:\n$plan")
  }
}
