package rpabench

import scala.util.Random

import graft.functions.{InvoiceParser, Normalizer, Validators}
import graft.operators.Orchestrate
import graft.sources.{DocumentSource, PdfTextCodec, Sinks}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Per-layer probes every traced run reports, on inputs fixed across
  * seeds (so they compare run to run and commit to commit):
  *
  *  - kernel timings: single-threaded calls to `PdfTextCodec.extractPages`,
  *    `Normalizer.normalizeText`, `InvoiceParser.extractFromText` and the
  *    `Validators` battery over a fixed sample, in microseconds per doc;
  *  - stage isolation: the decode (`DocumentSource.fromBytes`), the
  *    orchestration (`Orchestrate.run`) and the envelope sink
  *    (`Sinks.eventEnvelopeJson`) each materialized alone on one fixed
  *    shard, in seconds. */
object Probes {

  val SampleSeed = 20240601L
  val KernelSample = 300
  val StageShard = 2000
  private val Rounds = 5

  def all(spark: SparkSession, dir: String, cores: Int): Map[String, Double] =
    kernels() ++ stages(spark, dir, cores)

  /** Median over rounds of µs per document, after two untimed rounds. */
  private def perDoc[A](inputs: IndexedSeq[A])(f: A => Any): Double = {
    var sink = 0
    def round(): Double = {
      val t0 = System.nanoTime()
      inputs.foreach(x => sink += f(x).hashCode)
      (System.nanoTime() - t0) / 1e3 / inputs.size
    }
    round(); round()
    val r = Stats.median(Seq.fill(Rounds)(round()))
    if (sink == 42) Main.log("") // keeps the results observable to the JIT
    r
  }

  def kernels(): Map[String, Double] = {
    val rnd = new Random(SampleSeed)
    val pdfs = (0 until KernelSample).map(i => Gen.invoice(i, rnd).pdf)
    val texts = pdfs.map(b => PdfTextCodec.extractPages(b).map(_.mkString("\n")).getOrElse(""))
    val norm = texts.map(Normalizer.normalizeText)
    val parsed = norm.map(t => InvoiceParser.extractFromText(t))
    val fields = parsed.map(p => (p.issuer.flatMap(_.cnpj_cpf).getOrElse(""),
      p.financials.total.getOrElse(""), p.chave_acesso.getOrElse("")))
    Map(
      "sources.pdf_decode_us_per_doc" -> perDoc(pdfs)(PdfTextCodec.extractPages),
      "functions.normalize_us_per_doc" -> perDoc(texts)(Normalizer.normalizeText),
      "functions.parse_us_per_doc" -> perDoc(norm)(t => InvoiceParser.extractFromText(t)),
      "functions.validate_us_per_doc" -> perDoc(fields) { case (c, t, k) =>
        (Validators.cnpjValidator(c), Validators.validatorValorFiscalBrasileiro(t),
          Validators.nfeKeyValidator(k))
      })
  }

  /** Each stage of the batch pass run alone over one fixed shard (its input
    * materialized first); the median of three materializations. */
  def stages(spark: SparkSession, dir: String, cores: Int): Map[String, Double] = {
    val rnd = new Random(SampleSeed + 1)
    val rows = (0 until StageShard).map { i =>
      val inv = Gen.invoice(i, rnd)
      Row(InvoiceBatch.pathOf(inv), inv.pdf)
    }
    val input = spark.createDataFrame(java.util.Arrays.asList(rows: _*), InvoiceBatch.InputSchema)
      .repartition(cores).localCheckpoint()
    val decoded = DocumentSource.fromBytes(input, "path", "content").toDF().localCheckpoint()
    val processed = InvoiceBatch.orchestrate(decoded).localCheckpoint()
    val envelopes = Orchestrate.toEventEnvelope(processed.filter(col("status") =!= "error"))
      .localCheckpoint()
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    def med(f: Int => Unit): Double = Stats.median((0 until 3).map(i => Clock.timed(f(i))._2))
    val out = Map(
      "sources.decode_stage_s" -> med(_ => noop(DocumentSource.fromBytes(input, "path", "content").toDF())),
      "operators.orchestrate_s" -> med(_ => noop(InvoiceBatch.orchestrate(decoded))),
      "sources.sink_write_s" -> med(i => Sinks.eventEnvelopeJson(envelopes, s"$dir/sink-$i")))
    Files.delete(dir)
    out
  }
}
