package rpabench

import scala.collection.mutable
import scala.util.Random

import graft.streaming.Serving
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** The serving chain (EP3) as a closed loop with one client, run by the
  * per-layer census. Each round submits one batch of uploads through
  * `Serving.submit` (the admission gate + landing write), then drains
  * `Serving.serve` (an AvailableNow streaming query: decode → orchestrate
  * → envelope and quarantine sinks). Latency runs from the start of the
  * submit to the end of the drain; the landing zone and the checkpoint
  * grow round by round. */
final class InvoiceServe(ctx: Ctx) extends Workload {
  import InvoiceServe._
  private val spark = ctx.spark
  private val rnd = new Random(ctx.seed * 7919L + 1)
  private var nextNum = 0L
  private val uploads = mutable.HashMap.empty[String, Gen.Upload]
  private val receiptFailures = mutable.ArrayBuffer.empty[String]

  private val landing = s"${ctx.dir}/landing"
  private val envelope = s"${ctx.dir}/envelope"
  private val quarantineDir = s"${ctx.dir}/quarantine"
  private val checkpoint = s"${ctx.dir}/checkpoint"

  /** Submit + drain timings of one round, and the drain's query run id. */
  private final case class Round(submitS: Double, drainS: Double, runId: java.util.UUID)

  def prepare(): Unit = ()

  private def round(): Round = {
    val batch = (0 until RequestsPerRound).map { _ =>
      val u = Gen.upload(nextNum, rnd, MaxBytes)
      nextNum += 1
      uploads(u.requestId) = u
      u
    }
    val requests = spark.createDataFrame(
      java.util.Arrays.asList(batch.map(u => Row(u.requestId, u.tenant, u.filename, u.content)): _*),
      Serving.RequestSchema)
    val (receipts, submitS) = Clock.timed(
      Serving.submit(requests, landing, MaxBytes.toLong).collect())
    val (runId, drainS) = Clock.timed {
      val q = Serving.serve(spark, landing, envelope, quarantineDir, checkpoint)
      q.awaitTermination()
      q.runId
    }
    checkReceipts(batch, receipts.map(r => (r.getString(0), r.getBoolean(1), Option(r.getString(2)))))
    Round(submitS, drainS, runId)
  }

  /** One receipt per request, accepted exactly when the generator says. */
  private def checkReceipts(batch: Seq[Gen.Upload], got: Seq[(String, Boolean, Option[String])]): Unit = {
    val byId = got.groupBy(_._1)
    batch.foreach { u =>
      byId.get(u.requestId) match {
        case Some(Seq((_, accepted, reason))) if accepted == u.reason.isEmpty && reason == u.reason =>
        case other => receiptFailures += s"${u.requestId}: expected ${u.reason}, receipt $other"
      }
    }
    if (got.size != batch.size) receiptFailures += s"${got.size} receipts for ${batch.size} requests"
  }

  def measure(seconds: Double, minIterations: Int, trace: Option[Trace]): Measured = {
    val windows = new Windows
    val rounds = mutable.ArrayBuffer.empty[Round]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while (rounds.size < minIterations || System.nanoTime() < deadline) {
      val w0 = Clock.ms
      val r = round()
      windows.add(w0, Clock.ms)
      rounds += r
      Main.log(f"round ${rounds.size - 1}: submit ${r.submitS}%.3f s, drain ${r.drainS}%.3f s")
    }
    val layers = trace.map { t =>
      t.settle()
      val trig = rounds.map(r => t.triggerMs(r.runId) / 1e3)
      Map(
        "streaming.submit_s" -> Stats.median(rounds.map(_.submitS)),
        "streaming.drain_s" -> Stats.median(rounds.map(_.drainS)),
        "streaming.trigger_s" -> Stats.median(trig),
        "streaming.query_overhead_s" -> Stats.median(rounds.zip(trig).map { case (r, g) => r.drainS - g }),
        "sources.landing_files" -> Files.count(landing, ".parquet").toDouble)
    }.getOrElse(Map.empty)
    Measured(rounds.map(r => (r.submitS + r.drainS,
      RequestsPerRound.toLong)).toSeq, layers, windows)
  }

  /** Every accepted upload appears exactly once across the envelope and
    * quarantine outputs, with the fields the generator predicts; every
    * receipt matched. */
  def check(): Checked = {
    val env = spark.read.text(envelope)
      .select(from_json(col("value"), InvoiceBatch.EnvelopeSchema).as("e"))
      .select(regexp_extract(col("e.data.payload.invoice.raw_text"), "Numero: (\\d+)", 1).as("num"),
        col("e.data.payload.status"), col("e.data.payload.trust_score"),
        col("e.data.payload.invoice.financials.total"),
        col("e.data.payload.invoice.issuer.cnpj_cpf"),
        col("e.data.payload.invoice.chave_acesso"),
        size(col("e.data.payload.invoice.items")))
      .collect().map { r =>
        val e = Gen.Expected(r.getString(1), r.getDouble(2), Option(r.getString(3)),
          Option(r.getString(4)), Option(r.getString(5)), r.getInt(6))
        s"req-${r.getString(0)}" -> e
      }
    val quar = spark.read.parquet(quarantineDir).select("request_id", "trust_score").collect()
      .map(r => r.getString(0) -> Gen.Expected("error", r.getDouble(1), None, None, None, 0))
    val got = (env ++ quar).groupBy(_._1)
    val accepted = uploads.values.filter(_.reason.isEmpty).toSeq
    val bad = accepted.filterNot { u =>
      val want = u.invoice.get.expected
      got.get(u.requestId) match {
        case Some(Array((_, e))) if want.status == "error" =>
          e.status == "error" && e.trust == want.trust
        case Some(Array((_, e))) => e == want
        case _ => false
      }
    }
    val stray = got.keySet.count(k => !uploads.get(k).exists(_.reason.isEmpty))
    val notes = receiptFailures.take(3).toSeq ++
      bad.take(3).map(u => s"invoice_serve ${u.requestId}: got ${got.get(u.requestId).map(_.toSeq)} " +
        s"expected ${u.invoice.get.expected}") ++
      (if (stray > 0) Seq(s"invoice_serve: $stray outputs for requests that were not accepted") else Nil)
    Checked(uploads.size.toLong, (receiptFailures.size + bad.size + stray).toLong, notes)
  }
}

object InvoiceServe {
  val RequestsPerRound = 32
  /** The lowered upload cap: every generated invoice fits under it. */
  val MaxBytes = 16384
}
