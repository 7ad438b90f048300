package rpabench

import scala.collection.mutable
import scala.util.Random

import graft.operators.{LandingZone, ManifestLog, Sampling, ShingleIndex}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `corpus_ingest`: the curation half of the pipeline. A run starts with a
  * timed rebuild (`ShingleIndex.build` over the base corpus, then
  * `Sampling.buildCurationModels`), then runs a closed loop of arriving
  * batches: `ShingleIndex.probe` → `Sampling.serveCuration` (quota open) →
  * `ManifestLog.append` of the non-duplicates → `LandingZone
  * .absorbIntoShingleIndex`. Arrivals mix fresh documents, planted
  * near-duplicates of base and of earlier-landed documents, exact copies,
  * and (in the first batch) one replayed (writer, batch) append. No
  * invoice kernel runs here: the work is jobs, barriers, catalog DDL and
  * leases.
  *
  * The first batch is the warm-up: it runs every per-batch query shape
  * for the first time, and it is checked like the others but not timed.
  * A warm-up on an index of its own would cost a second rebuild. */
final class CorpusIngest(ctx: Ctx, baseDocs: Int, batchDocs: Int) extends Workload {
  import CorpusIngest._
  private val spark = ctx.spark

  private val base: IndexedSeq[Gen.Doc] = {
    val rnd = new Random(ctx.seed * 104729L + 3)
    (0 until baseDocs).map(i => Gen.doc(i.toLong, rnd))
  }
  private val docsPath = s"${ctx.dir}/documents.parquet"

  /** Planted duplicate → the document it copies (absent = fresh). */
  private final case class Arrival(doc: Gen.Doc, dupOf: Option[Long])

  /** One timed call: its kind, epoch-ms window and wall seconds. */
  private val calls = mutable.ArrayBuffer.empty[(String, Long, Long, Double)]
  private var timing = true
  private def call[T](kind: String)(f: => T): T = {
    val w0 = Clock.ms
    val (r, s) = Clock.timed(f)
    if (timing) calls += ((kind, w0, Clock.ms, s))
    r
  }

  // state of the timed index, accumulated across batches for the checks
  private val arrivals = mutable.ArrayBuffer.empty[Arrival]
  private val landed = mutable.ArrayBuffer.empty[Gen.Doc]
  private val served = mutable.HashMap.empty[Long, (String, Double, Double)]
  private val failures = mutable.ArrayBuffer.empty[String]
  private var failedOps = 0L
  private var planted = 0L
  private var plantedFound = 0L
  private var absorbedLanded = 0L
  private var absorbedFresh = 0L

  def prepare(): Unit =
    spark.createDataFrame(java.util.Arrays.asList(base.map(d =>
      Row(d.docId, d.text, d.lang, d.source, d.text.length.toLong)): _*), DocSchema)
      .repartition(ctx.cores).write.parquet(docsPath)

  private def rebuild(): Unit = {
    val docs = spark.read.parquet(docsPath).select("doc_id", "source", "text")
    call("index_build")(ShingleIndex.build(docs, indexPath, Tag))
    call("model_build")(Sampling.buildCurationModels(spark, docs, Tag))
  }

  private val indexPath = s"${ctx.dir}/index"
  private val landingRoot = s"${ctx.dir}/landing"


  /** The arrivals of batch `b`: 10% near-duplicates of base documents, 5%
    * exact copies, 5% near-duplicates of documents landed by earlier
    * batches, the rest fresh. */
  private def arrivalsOf(b: Int): Seq[Arrival] = {
    val rnd = new Random(ctx.seed * 15485863L + b)
    val recent = landed.toIndexedSeq
    (0 until batchDocs).map { i =>
      val id = ArrivalIdBase + b.toLong * batchDocs + i
      rnd.nextInt(20) match {
        case 0 | 1 =>
          val of = base(rnd.nextInt(base.size))
          Arrival(Gen.nearDup(of, id, rnd), Some(of.docId))
        case 2 =>
          val of = base(rnd.nextInt(base.size))
          Arrival(of.copy(docId = id), Some(of.docId))
        case 3 if recent.nonEmpty =>
          val of = recent(rnd.nextInt(recent.size))
          Arrival(Gen.nearDup(of, id, rnd), Some(of.docId))
        case _ => Arrival(Gen.doc(id, rnd), None)
      }
    }
  }

  private def frame(docs: Seq[Gen.Doc]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(docs.map(d => Row(d.docId, d.text)): _*), LandSchema)

  /** One arriving batch through probe → serve → land → absorb; its
    * outcomes are checked and kept for the final checks. */
  private def batch(b: Int): Double = {
    val in = arrivalsOf(b)
    val df = frame(in.map(_.doc))
    val t0 = System.nanoTime()
    val probed = call("probe")(ShingleIndex.probe(spark, Tag, df)
      .select("doc_id", "is_dup", "dup_of").collect()
      .map(r => r.getLong(0) -> (r.getBoolean(1), Option(r.get(2)).map(_.asInstanceOf[Long])))
      .toMap)
    val curated = call("serve_curation")(Sampling.serveCuration(spark, df, Tag, OpenQuota)
      .select("doc_id", "predicted_lang", "score", "ppl").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2), r.getDouble(3))))
    val fresh = in.filter(a => !probed.get(a.doc.docId).exists(_._1)).map(_.doc)
    val landDf = frame(fresh)
    val (segment, replay) = call("land") {
      val seg = ManifestLog.append(landDf, landingRoot, Writer, b.toLong)
      // the first batch's commit acknowledgement is "lost": the writer
      // appends the same (writer, batch) again, which must be a no-op
      (seg, if (b == 0) Some(ManifestLog.append(landDf, landingRoot, Writer, b.toLong)) else None)
    }
    val report = call("absorb")(LandingZone.absorbIntoShingleIndex(
      spark, landingRoot, LandSchema, Tag, indexPath))
    val secs = (System.nanoTime() - t0) / 1e9
    val plantedHere = in.filter(_.dupOf.nonEmpty)
    planted += plantedHere.size
    plantedFound += plantedHere.count(a => probed.get(a.doc.docId).exists(_._1))
    // a fresh doc's dup_of names its best match below the threshold
    val wrong = in.filter(a => !probed.get(a.doc.docId).exists {
      case (isDup, dupOf) => isDup == a.dupOf.nonEmpty && (!isDup || dupOf == a.dupOf)
    })
    fail(wrong.size, wrong.headOption.map(a =>
      s"probe of ${a.doc.docId}: got ${probed.get(a.doc.docId)}, planted ${a.dupOf}"))
    fail(if (replay.forall(_ == segment)) 0 else 1,
      Some(s"replayed append returned ${replay.get}, first commit $segment"))
    fail(if (report.segments.size == 1 && report.landedDocs == fresh.size &&
      report.freshDocs == fresh.size) 0 else fresh.size.max(1),
      Some(s"batch $b absorbed $report for ${fresh.size} landed docs"))
    absorbedLanded += report.landedDocs
    absorbedFresh += report.freshDocs
    arrivals ++= in
    landed ++= fresh
    served ++= curated
    secs
  }

  private def fail(n: Int, note: => Option[String]): Unit =
    if (n > 0) { failedOps += n; failures ++= note }

  def measure(seconds: Double, minIterations: Int, trace: Option[Trace]): Measured = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val (_, rebuildS) = Clock.timed(rebuild())
    Main.log(f"rebuild: $rebuildS%.2f s")
    timing = false
    Main.log(f"batch 0 (warm-up): ${batch(0)}%.3f s")
    timing = true
    val windows = new Windows
    val its = mutable.ArrayBuffer.empty[(Double, Long)]
    while (its.size < minIterations || System.nanoTime() < deadline) {
      val w0 = Clock.ms
      val s = batch(its.size + 1)
      windows.add(w0, Clock.ms)
      its += ((s, batchDocs.toLong))
      Main.log(f"batch ${its.size}: $s%.3f s")
    }
    val layers = trace.map { t =>
      t.settle()
      val perCall = calls.groupBy(_._1).flatMap { case (kind, cs) =>
        val ws = cs.map { case (_, a, b, _) => t.window(a, b) }
        Map(
          s"operators.${kind}_s" -> Stats.median(cs.map(_._4)),
          s"operators.${kind}_jobs" -> Stats.median(ws.map(_.jobs.toDouble)),
          s"operators.${kind}_driver_idle_s" -> Stats.median(ws.map(_.driverIdleS)))
      }
      perCall ++ Map(
        "operators.dup_recall" -> plantedFound.toDouble / math.max(1L, planted),
        "operators.absorb_fresh_ratio" -> absorbedFresh.toDouble / math.max(1L, absorbedLanded))
    }.getOrElse(Map.empty)
    Measured(its.toSeq, layers, windows)
  }

  /** Every landed document is in the index exactly once, and the per-batch
    * curation equals one serve of all arrivals (untimed). */
  def check(): Checked = {
    val sizes = spark.table(ShingleIndex.sizesTable(Tag)).groupBy("corpus_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val repeated = sizes.count(_._2 > 1)
    val unabsorbed = landed.count(d => !sizes.contains(d.docId))
    fail(repeated + unabsorbed, Some(s"index holds $repeated repeated ids; " +
      s"$unabsorbed landed docs missing"))
    val oneShot = Sampling.serveCuration(spark, frame(arrivals.map(_.doc).toSeq), Tag, OpenQuota)
      .select("doc_id", "predicted_lang", "score", "ppl").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2), r.getDouble(3))).toMap
    val differ = (oneShot.keySet ++ served.keySet).count(k => oneShot.get(k) != served.get(k))
    fail(differ, Some(s"$differ docs curated differently per batch than in one serve " +
      s"(${served.size} per batch, ${oneShot.size} one-shot)"))
    Checked(arrivals.size + 1L, failedOps, failures.toSeq.map(n => s"corpus_ingest: $n"))
  }
}

object CorpusIngest {
  val Tag = "bench_ingest"
  val Writer = "ingest"
  val ArrivalIdBase = 1000000L
  /** Larger than any batch: the per-language quota never binds, so the
    * curation of a batch does not depend on which batch a doc came in. */
  val OpenQuota = 1000000

  val DocSchema: StructType = new StructType().add("doc_id", LongType).add("text", StringType)
    .add("lang", StringType).add("source", StringType).add("n_chars", LongType)
  val LandSchema: StructType = new StructType().add("doc_id", LongType).add("text", StringType)
}
