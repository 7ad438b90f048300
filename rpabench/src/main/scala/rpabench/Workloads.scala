package rpabench

/** Workload registry, sizes, and the metric catalogue. */
object Workloads {

  /** The benchmark's workloads. The serving chain (`invoice_serve`) is
    * not a workload of its own: its layers are measured by the census
    * below, in every traced run. */
  val Names: Seq[String] = Seq("invoice_batch", "corpus_ingest")

  /** A run times at least this many iterations, so a median always has
    * samples on both sides. */
  private val MinIterations = 3

  /** The workload, and the least number of timed iterations its median
    * takes: an ingest batch costs about ten seconds after an untimed
    * first batch, so that loop stops at two. */
  def make(name: String, ctx: Ctx): (Workload, Int) = name match {
    case "invoice_batch" => (new InvoiceBatch(ctx), MinIterations)
    case "corpus_ingest" => (new CorpusIngest(ctx, baseDocs = 1000, batchDocs = 100), 2)
    case other => sys.error(s"unknown workload '$other' (known: ${Names.mkString(", ")})")
  }

  /** End-to-end metrics: (name, value, unit). */
  def endToEnd(setupS: Double, m: Measured, rssMb: Double): Seq[(String, Double, String)] = {
    val lat = m.iterations.map(_._1)
    Seq(
      ("setup_s", setupS, "s"),
      ("docs_per_s", Stats.median(m.iterations.map { case (s, d) => d / s }), "docs/s"),
      ("latency_p50_s", Stats.median(lat), "s"),
      ("peak_rss_mb", rssMb, "MB"))
  }

  /** End-to-end metrics the traced run repeats under tracing. */
  val TracedE2e: Set[String] = Set("docs_per_s", "latency_p50_s")

  /** Every traced run reports every per-layer metric. A chain the
    * workload does not call is run here once, small and cold, so its
    * layers still have a measured value: the serving chain in every traced
    * run, the curation chain in the invoice workload's. */
  def census(workload: String, ctx: Ctx, trace: Trace): (Map[String, Double], Checked) = {
    // (name, chain, timed iterations): a serving round is cheap after the
    // first, an ingest batch is not
    val chains: Seq[(String, () => Workload, Int)] = Seq(
      ("invoice_serve", () => new InvoiceServe(ctx.sub("census-serve")), 3),
      ("corpus_ingest", () => new CorpusIngest(ctx.sub("census-ingest"),
        baseDocs = 300, batchDocs = 50), 1))
    chains.filter(_._1 != workload).map { case (name, make, iterations) =>
      val w = make()
      val (r, s) = Clock.timed {
        w.prepare()
        (w.measure(0, iterations, Some(trace)).layers, w.check())
      }
      Main.log(f"census of $name: $s%.2f s")
      r
    }.foldLeft((Map.empty[String, Double], Checked(0, 0, Nil))) {
      case ((m, c), (m2, c2)) => (m ++ m2, c + c2)
    }
  }

  def perLayer(values: Map[String, Double]): Seq[(String, Double, String)] =
    values.toSeq.sortBy(_._1).map { case (n, v) => (n, v, unitOf(n)) }

  def unitOf(name: String): String =
    if (name.endsWith("_us_per_doc")) "us"
    else if (name.endsWith("docs_per_s")) "docs/s"
    else if (name.endsWith("_s")) "s"
    else if (name.endsWith("_bytes")) "bytes"
    else if (name.endsWith("_ratio") || name.endsWith("_recall") || name.endsWith("_skew")) "ratio"
    else "count"
}
