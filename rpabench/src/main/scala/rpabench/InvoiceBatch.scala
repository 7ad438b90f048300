package rpabench

import scala.collection.mutable
import scala.util.Random

import graft.operators.Orchestrate
import graft.sources.{DocumentSource, Sinks}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** `invoice_batch`: EP1+EP2 as a batch job. Each timed pass reads one
  * parquet shard of generated invoice PDFs, decodes it
  * (`DocumentSource.fromBytes`), runs the orchestrated pipeline
  * (`Orchestrate.run`), writes the non-error envelopes
  * (`Orchestrate.toEventEnvelope` → `Sinks.eventEnvelopeJson`) and the
  * error documents to a quarantine parquet. The per-document kernels do
  * most of the work; the plan is one narrow stage per write. */
final class InvoiceBatch(ctx: Ctx) extends Workload {
  import InvoiceBatch._
  private val spark = ctx.spark
  private val expected = mutable.HashMap.empty[String, Gen.Expected]
  /** shard read by each timed pass, in pass order */
  private val passShards = mutable.ArrayBuffer.empty[Int]

  private def shardDir(s: Int) = s"${ctx.dir}/corpus/shard-$s"
  private def passDir(p: Int) = s"${ctx.dir}/out/pass-$p"

  def prepare(): Unit = {
    (0 until Shards).foreach { s =>
      val rnd = new Random(ctx.seed * 1000003L + s)
      val (rows, g) = Clock.timed((0 until DocsPerShard).map { i =>
        val inv = Gen.invoice(s.toLong * DocsPerShard + i, rnd)
        expected(nameFor(inv.num)) = inv.expected
        Row(pathOf(inv), inv.pdf)
      })
      val (_, w) = Clock.timed(spark.createDataFrame(java.util.Arrays.asList(rows: _*), InputSchema)
        .repartition(ctx.cores).write.parquet(shardDir(s)))
      Main.log(f"shard $s generated in $g%.2f s, written in $w%.2f s")
    }
    (0 until WarmupPasses).foreach { w =>
      val (_, s) = Clock.timed(pass(w % Shards, s"${ctx.dir}/warmup/pass-$w"))
      Main.log(f"warm-up pass $w: $s%.2f s")
    }
    Files.delete(s"${ctx.dir}/warmup")
  }

  def measure(seconds: Double, minIterations: Int, trace: Option[Trace]): Measured = {
    val windows = new Windows
    val its = mutable.ArrayBuffer.empty[(Double, Long)]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while (its.size < minIterations || System.nanoTime() < deadline) {
      val p = its.size
      val shard = p % Shards
      val w0 = Clock.ms
      val (_, s) = Clock.timed(pass(shard, passDir(p)))
      windows.add(w0, Clock.ms)
      passShards += shard
      its += ((s, DocsPerShard.toLong))
      Main.log(f"pass $p: $s%.3f s")
    }
    Measured(its.toSeq, Map.empty, windows)
  }

  /** One pass: decode → orchestrate → envelope sink + quarantine. */
  private def pass(shard: Int, out: String): Unit = {
    val processed = orchestrate(DocumentSource.fromBytes(
      spark.read.parquet(shardDir(shard)), "path", "content").toDF())
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      Sinks.eventEnvelopeJson(
        Orchestrate.toEventEnvelope(processed.filter(col("status") =!= "error")),
        s"$out/envelope")
      quarantine(processed).write.parquet(s"$out/quarantine")
    } finally processed.unpersist(blocking = true)
  }

  def check(): Checked = {
    val rows = readOutputs(spark, s"${ctx.dir}/out/pass-*")
    val byPass = rows.groupBy(_.pass)
    val results = passShards.zipWithIndex.map { case (shard, p) =>
      val got = byPass.getOrElse(p, Seq.empty).groupBy(_.path)
      val want = (0 until DocsPerShard).map(i => nameFor(shard.toLong * DocsPerShard + i)).toSet
      val missing = want.count(w => !got.contains(w))
      val dup = got.values.count(_.size > 1)
      val wrong = got.values.flatten.count(r => !expected.get(r.path).exists(r.matches))
      val stray = got.keySet.count(k => !want.contains(k))
      Checked(DocsPerShard.toLong, (missing + dup + wrong + stray).toLong,
        if (missing + dup + wrong + stray > 0)
          Seq(s"invoice_batch pass $p: missing=$missing dup=$dup wrong=$wrong stray=$stray" +
            got.values.flatten.find(r => !expected.get(r.path).exists(r.matches))
              .map(r => s" e.g. $r expected ${expected.get(r.path)}").getOrElse(""))
        else Nil)
    }
    results.foldLeft(Checked(0, 0, Nil))(_ + _)
  }
}

object InvoiceBatch {
  val DocsPerShard = 2000
  val Shards = 2
  /** Two passes: the first compiles, the second still runs ~20% slow. */
  val WarmupPasses = 2

  val InputSchema: StructType = new StructType()
    .add("path", StringType).add("content", BinaryType)

  /** The tenant rides in the path's first segment; checks key on the
    * file name after it. */
  def nameFor(num: Long): String = s"inv-$num.pdf"
  def pathOf(inv: Gen.Invoice): String = s"${inv.tenant}/${nameFor(inv.num)}"

  /** `Orchestrate.run` over decoded documents; the source filename is the
    * path, so every payload names its input. */
  def orchestrate(decoded: DataFrame): DataFrame =
    Orchestrate.run(decoded, textCol = "text",
      tenantCol = regexp_extract(col("path"), "^([^/]+)/", 1),
      sourceCol = col("path"))

  def quarantine(processed: DataFrame): DataFrame =
    processed.filter(col("status") === "error").select(
      col("path"), col("tenant_id"), col("status"), col("trust_score"),
      col("validation_issues.code").as("issue_codes"),
      col("invoice.issuer.cnpj_cpf").as("issuer_cnpj"),
      col("invoice.financials.total").as("total"),
      col("invoice.chave_acesso").as("chave"),
      size(col("invoice.items")).as("items"))

  /** The fields the checks compare, from either sink. */
  final case class OutRow(pass: Int, path: String, status: String, trust: Double,
                          total: Option[String], issuerCnpj: Option[String],
                          chave: Option[String], items: Int) {
    def matches(e: Gen.Expected): Boolean =
      status == e.status && trust == e.trust && total == e.total &&
        issuerCnpj == e.issuerCnpj && chave == e.chave && items == e.items
  }

  val EnvelopeSchema: StructType = StructType.fromDDL(
    "data STRUCT<payload: STRUCT<invoice: STRUCT<chave_acesso: STRING, " +
      "issuer: STRUCT<cnpj_cpf: STRING>, items: ARRAY<STRUCT<description: STRING>>, " +
      "financials: STRUCT<total: STRING>, raw_text: STRING, source_filename: STRING>, " +
      "trust_score: DOUBLE, status: STRING>>")

  /** Read back the envelope JSON and the quarantine parquet under the
    * `pass-N` directories matched by `glob`. */
  def readOutputs(spark: org.apache.spark.sql.SparkSession, glob: String): Seq[OutRow] = {
    val passOf = regexp_extract(input_file_name(), "pass-(\\d+)", 1).cast("int")
    val env = spark.read.schema("value STRING").json(s"$glob/envelope")
      .select(passOf.as("pass"), from_json(col("value"), EnvelopeSchema).as("e"))
      .select(col("pass"),
        regexp_replace(col("e.data.payload.invoice.source_filename"), "^[^/]+/", "").as("path"),
        col("e.data.payload.status").as("status"),
        col("e.data.payload.trust_score").as("trust"),
        col("e.data.payload.invoice.financials.total").as("total"),
        col("e.data.payload.invoice.issuer.cnpj_cpf").as("issuer_cnpj"),
        col("e.data.payload.invoice.chave_acesso").as("chave"),
        size(col("e.data.payload.invoice.items")).as("items"))
    val q = spark.read.parquet(s"$glob/quarantine")
      .select(passOf.as("pass"), regexp_replace(col("path"), "^[^/]+/", "").as("path"),
        col("status"), col("trust_score").as("trust"), col("total"),
        col("issuer_cnpj"), col("chave"), col("items"))
    env.unionByName(q).collect().toSeq.map { r =>
      OutRow(r.getInt(0), r.getString(1), r.getString(2), r.getDouble(3),
        Option(r.getString(4)), Option(r.getString(5)), Option(r.getString(6)),
        r.getInt(7))
    }
  }
}

object Files {
  def delete(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.delete(f))
  }
  def count(path: String, suffix: String): Long = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) 0L
    else java.nio.file.Files.walk(p).filter(f => f.toString.endsWith(suffix)).count()
  }
}
