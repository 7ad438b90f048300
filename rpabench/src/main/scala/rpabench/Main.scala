package rpabench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** Benchmark entry point (launched by run.py, which builds the classpath):
  *
  * {{{
  *   rpabench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                 --dir <scratch dir> --cores <n>
  * }}}
  *
  * Prints one JSON line last: `correct`, `attempted`, `failed` and
  * `metrics` (every end-to-end metric untraced, every per-layer metric
  * traced). Exits 1 when any output check failed. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, traced: Boolean,
                        dir: String, cores: Int)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("dir"), need("cores").toInt)
  }

  def session(dir: String, cores: Int): SparkSession = {
    val spark = graft.GraftSession.getOrCreate(_.master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.cleaner.referenceTracking.blocking.shuffle", "true"))
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit =
    try run(parse(argv))
    catch {
      case e: Throwable =>
        // Spark's non-daemon threads would otherwise keep the JVM alive
        e.printStackTrace()
        sys.exit(2)
    }

  private def run(a: Args): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(a.dir, a.cores)
    log(f"session up after ${(System.currentTimeMillis() - jvmStart) / 1e3}%.2f s")
    val ctx = Ctx(spark, s"${a.dir}/${a.workload}", a.seed, a.cores)
    val (workload, minIterations) = Workloads.make(a.workload, ctx)
    workload.prepare()
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3
    log(f"setup done after $setupS%.2f s")

    val trace = if (a.traced) Some(new Trace(spark)) else None
    val measured = workload.measure(a.seconds, minIterations, trace)
    val rssMb = peakRssMb()
    trace.foreach(_.settle())
    val (firstCheck, checkS) = Clock.timed(workload.check())
    var checked = firstCheck
    log(f"output checks: $checkS%.2f s")

    val e2e = Workloads.endToEnd(setupS, measured, rssMb)
    val metrics: Seq[(String, Double, String)] = trace match {
      case None => e2e
      case Some(t) =>
        val layers = measured.layers ++ measured.windows.sparkMetrics(t)
        val (census, censusChecked) = Workloads.census(a.workload, ctx, t)
        checked = checked + censusChecked
        val probes = Probes.all(spark, s"${a.dir}/probes", a.cores)
        t.stop()
        val traced = e2e.filter(m => Workloads.TracedE2e.contains(m._1))
          .map { case (n, v, u) => (s"trace.$n", v, u) }
        Workloads.perLayer(layers ++ census ++ probes ++ traced.map(m => m._1 -> m._2))
    }
    checked.notes.foreach(n => System.err.println(s"[rpabench] CHECK FAILED: $n"))
    log(f"cleanup: ${Clock.timed(cleanup(spark))._2}%.2f s")
    println(json(checked, metrics))
    sys.exit(if (checked.failed == 0) 0 else 1)
  }

  def log(msg: String): Unit = System.err.println(s"[rpabench] $msg")

  /** Drop every catalog table the run created, then stop the session. */
  def cleanup(spark: SparkSession): Unit = {
    spark.streams.active.foreach(_.stop())
    spark.catalog.listTables().collect().foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS `${t.name}`")
    }
    spark.stop()
  }

  /** VmHWM of this process (peak resident set), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(sys.error("VmHWM not available"))

  def json(c: Checked, metrics: Seq[(String, Double, String)]): String = {
    val ms = metrics.map { case (n, v, u) =>
      require(!v.isNaN && !v.isInfinite, s"metric $n is not finite: $v")
      s""""$n": {"value": $v, "unit": "$u"}"""
    }.mkString(", ")
    s"""{"correct": ${c.failed == 0}, "attempted": ${c.attempted}, "failed": ${c.failed}, "metrics": {$ms}}"""
  }
}
