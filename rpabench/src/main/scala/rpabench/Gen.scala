package rpabench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.ISO_8859_1
import scala.util.Random

import graft.operators.InvoicePipeline

/** Seeded input generators. Every input the engine sees is built here from
  * the workload seed, and every expectation the output checks compare
  * against is this file's own arithmetic (the way
  * `InvoicePipeline.oracleSql` derives expected parse results from the
  * construction, never from a parse). */
object Gen {

  // ---------------------------------------------------------------------
  // Invoices
  // ---------------------------------------------------------------------

  /** What the pipeline must report for one generated invoice. */
  final case class Expected(status: String, trust: Double, total: Option[String],
                            issuerCnpj: Option[String], chave: Option[String],
                            items: Int)

  final case class Invoice(num: Long, tenant: String, pdf: Array[Byte],
                           expected: Expected)

  val Tenants: Seq[String] = Seq("tenant_a", "tenant_b", "tenant_c", "tenant_d")

  private val InvalidCnpj = "12.345.678/0001-00"

  private val ItemWords: Seq[String] = Seq(
    "Serviço de manutenção elétrica", "Consultoria técnica em sistemas",
    "Instalação de equipamentos", "Servico consultoria tipo A",
    "Treinamento da equipe operacional", "Suporte técnico remoto",
    "Licença de software anual", "Auditoria de processos fiscais",
    "Limpeza e conservação predial", "Transporte de materiais")

  /** "1234,56" — the un-separated form the documents print. */
  private def plain(cents: Long): String = f"${cents / 100},${cents % 100}%02d"

  /** "R$ 1.234,56" — the fiscal validator's formatted form. */
  def formatted(cents: Long): String = {
    val reais = cents / 100
    val grouped = reais.toString.reverse.grouped(3).mkString(".").reverse
    f"R$$ $grouped,${cents % 100}%02d"
  }

  private def groupKey(k: String): String = k.grouped(4).mkString(" ")

  /** One invoice document. `num` is unique within a run and is printed in
    * the document ("Numero: n"), so any output row can be traced back to
    * its input through the payload's raw text. About 1/13 carry an invalid
    * issuer CNPJ, 1/5 no recipient, half an NF-e key (1/11 of those
    * corrupted), 1/3 a liquid-value line; 1/40 are malformed PDFs. */
  def invoice(num: Long, rnd: Random): Invoice = {
    val tenant = Tenants(rnd.nextInt(Tenants.size))
    if (rnd.nextInt(40) == 0) {
      // %PDF magic, no object structure: decodes to an empty page set
      val junk = ("%PDF-1.4\n% truncated upload " + num + "\n" +
        "x" * (50 + rnd.nextInt(400))).getBytes(ISO_8859_1)
      return Invoice(num, tenant, junk,
        Expected("error", 0.0, None, None, None, 0))
    }
    val badIssuer = rnd.nextInt(13) == 0
    val noRecipient = rnd.nextInt(5) == 0
    val keyIdx = rnd.nextInt(InvoicePipeline.ValidKeys.size)
    val hasKey = rnd.nextBoolean()
    val badKey = hasKey && rnd.nextInt(11) == 0
    val hasLiquid = rnd.nextInt(3) == 0
    val nItems = 1 + rnd.nextInt(12)
    val cents = Seq.fill(nItems)(10000L + rnd.nextInt(90000))
    val total = cents.sum
    val liquid = total - (7 + rnd.nextInt(9000))
    val issuerIdx = rnd.nextInt(10)
    val issuer = InvoicePipeline.ValidCnpjsFmt(issuerIdx)
    // never the issuer's own CNPJ: the parser reads a repeated CNPJ as one party
    val recipient = InvoicePipeline.ValidCnpjsFmt((issuerIdx + 1 + rnd.nextInt(9)) % 10)
    val day = 1 + rnd.nextInt(28)
    val month = 1 + rnd.nextInt(12)

    val lines = Seq.newBuilder[String]
    lines += "PREFEITURA MUNICIPAL DE SÃO PAULO"
    lines += "NOTA FISCAL DE SERVIÇOS ELETRÔNICA - NFS-e"
    lines += s"Numero: $num"
    lines += f"Data de Emissão: $day%02d/$month%02d/2024 10:30:00"
    lines += f"Competência: $month%02d/2024"
    if (hasKey) lines += "Chave de Acesso: " + (
      if (badKey) InvoicePipeline.InvalidKeys(keyIdx) else InvoicePipeline.ValidKeys(keyIdx))
    lines += "PRESTADOR DE SERVIÇOS"
    lines += s"EMPRESA ${"ABCDEFGH".charAt(rnd.nextInt(8))} SERVIÇOS LTDA"
    lines += "CNPJ: " + (if (badIssuer) InvalidCnpj else issuer)
    if (!noRecipient) {
      lines += "TOMADOR DE SERVIÇOS"
      lines += "CLIENTE BRASIL COMERCIO SA"
      lines += s"CNPJ: $recipient"
    }
    lines += "DISCRIMINAÇÃO DOS SERVIÇOS"
    cents.zipWithIndex.foreach { case (c, i) =>
      lines += s"${ItemWords((i + num.toInt) % ItemWords.size)} ${i + 1} horas R$$ ${plain(c)}"
    }
    lines += s"VALOR TOTAL: R$$ ${plain(total)}"
    if (hasLiquid) lines += s"VALOR LÍQUIDO: R$$ ${plain(liquid)}"
    lines += "OBSERVAÇÕES: contrato interno"

    val status = if (badIssuer) "error" else if (noRecipient) "partial" else "success"
    val trust = if (badIssuer) 0.0 else if (noRecipient) 0.9 else 1.0
    val expected = Expected(status, trust,
      Some(formatted(if (hasLiquid) liquid else total)),
      if (badIssuer) None else Some(issuer),
      if (hasKey && !badKey) Some(groupKey(InvoicePipeline.ValidKeys(keyIdx))) else None,
      nItems)
    Invoice(num, tenant, pdf(lines.result(), compress = rnd.nextBoolean()), expected)
  }

  /** A real PDF: catalog, page tree, one content stream per page (at most
    * 18 lines a page, so long invoices span pages), text shown with Tj
    * and broken with Td; optionally FlateDecode-compressed. */
  def pdf(lines: Seq[String], compress: Boolean): Array[Byte] = {
    val pages = lines.grouped(18).toSeq
    val out = new ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes(ISO_8859_1))
    val firstPage = 3
    w("%PDF-1.4\n")
    w("1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n")
    val kids = pages.indices.map(i => s"${firstPage + 2 * i} 0 R").mkString(" ")
    w(s"2 0 obj\n<< /Type /Pages /Kids [$kids] /Count ${pages.size} >>\nendobj\n")
    pages.zipWithIndex.foreach { case (pageLines, i) =>
      val pageId = firstPage + 2 * i
      w(s"$pageId 0 obj\n<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
        s"/Contents ${pageId + 1} 0 R >>\nendobj\n")
      val content = pageLines.map(l => s"(${escape(l)}) Tj\n0 -14 Td\n")
        .mkString("BT\n72 740 Td\n", "", "ET\n").getBytes(ISO_8859_1)
      val (data, filter) =
        if (compress) (deflate(content), " /Filter /FlateDecode") else (content, "")
      w(s"${pageId + 1} 0 obj\n<< /Length ${data.length}$filter >>\nstream\n")
      out.write(data)
      w("\nendstream\nendobj\n")
    }
    w(s"trailer\n<< /Size ${firstPage + 2 * pages.size} /Root 1 0 R >>\n%%EOF\n")
    out.toByteArray
  }

  /** PDF literal-string escaping: delimiters escaped, non-ASCII latin-1
    * characters as octal escapes. */
  private def escape(s: String): String = s.flatMap {
    case c @ ('(' | ')' | '\\') => "\\" + c
    case c if c > 126 => f"\\${c.toInt}%03o"
    case c => c.toString
  }

  private def deflate(b: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    d.setInput(b); d.finish()
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](4096)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  // ---------------------------------------------------------------------
  // Upload requests (serving front end)
  // ---------------------------------------------------------------------

  /** One upload and the admission decision the gate must make for it
    * (`None` = accepted). */
  final case class Upload(requestId: String, tenant: String, filename: String,
                          content: Array[Byte], reason: Option[String],
                          invoice: Option[Invoice])

  /** About 1/16 each: empty body, wrong magic, missing tenant, over the
    * lowered size cap; the rest are accepted invoices. */
  def upload(num: Long, rnd: Random, maxBytes: Int): Upload = {
    val id = s"req-$num"
    rnd.nextInt(16) match {
      case 0 => Upload(id, Tenants(0), s"$id.pdf", Array.emptyByteArray, Some("EMPTY_BODY"), None)
      case 1 => Upload(id, Tenants(1), s"$id.txt",
        s"plain text upload $num".getBytes(ISO_8859_1), Some("INVALID_CONTENT_TYPE"), None)
      case 2 =>
        val inv = invoice(num, rnd)
        Upload(id, null, s"$id.pdf", inv.pdf, Some("MISSING_CONTEXT"), None)
      case 3 =>
        val inv = invoice(num, rnd)
        val padded = inv.pdf ++ ("\n%" + "p" * maxBytes + "\n").getBytes(ISO_8859_1)
        Upload(id, inv.tenant, s"$id.pdf", padded, Some("FILE_TOO_LARGE"), None)
      case _ =>
        val inv = invoice(num, rnd)
        require(inv.pdf.length <= maxBytes, s"invoice $num is over the upload cap")
        Upload(id, inv.tenant, s"$id.pdf", inv.pdf, None, Some(inv))
    }
  }

  // ---------------------------------------------------------------------
  // Curation corpus (documents.parquet shape)
  // ---------------------------------------------------------------------

  final case class Doc(docId: Long, text: String, lang: String, source: String)

  private val LangStop: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "is"), "de" -> Seq("der", "und", "die", "ist"),
    "es" -> Seq("el", "la", "los", "es"), "fr" -> Seq("le", "la", "et", "est"))
  private val Langs = LangStop.keys.toSeq.sorted

  /** A fixed 4,000-word synthetic vocabulary (consonant-vowel syllables). */
  val Vocab: IndexedSeq[String] = {
    val r = new Random(7L)
    val cons = "bcdfghjklmnprstvz"; val vow = "aeiou"
    Iterator.continually {
      (0 until 2 + r.nextInt(3)).map(_ => s"${cons(r.nextInt(cons.length))}${vow(r.nextInt(vow.length))}").mkString
    }.distinct.take(4000).toIndexedSeq
  }

  /** A word-soup document of 40–120 tokens: about one token in six is a
    * stop word of its language (so language ID has evidence), and the
    * quality sources src0–src2 draw from the lower half of the vocabulary
    * (so the classifier has signal). */
  def doc(docId: Long, rnd: Random): Doc = {
    val lang = Langs(rnd.nextInt(Langs.size))
    val src = rnd.nextInt(20)
    val positive = src < 3
    val n = 40 + rnd.nextInt(81)
    val toks = Array.fill(n) {
      if (rnd.nextInt(6) == 0) LangStop(lang)(rnd.nextInt(4))
      else {
        val half = Vocab.size / 2
        val lower = if (positive) rnd.nextInt(10) < 8 else rnd.nextInt(10) < 3
        Vocab(rnd.nextInt(half) + (if (lower) 0 else half))
      }
    }
    Doc(docId, toks.mkString(" "), lang, s"src$src")
  }

  /** A near-duplicate: one token replaced (two for docs of 80+ tokens),
    * which keeps word-3-shingle Jaccard with the original above 0.7. */
  def nearDup(of: Doc, docId: Long, rnd: Random): Doc = {
    val toks = of.text.split(" ")
    val edits = if (toks.length >= 80) 2 else 1
    (0 until edits).foreach { e =>
      val at = (toks.length / (edits + 1)) * (e + 1) + rnd.nextInt(5) - 2
      toks(at) = Vocab(rnd.nextInt(Vocab.size)) + "x"
    }
    of.copy(docId = docId, text = toks.mkString(" "))
  }
}
