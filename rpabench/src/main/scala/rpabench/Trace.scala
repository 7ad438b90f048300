package rpabench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Order statistics over the samples a run collects. */
object Stats {
  def median(xs: Iterable[Double]): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.toIndexedSeq.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}

/** Harness-side tracing: one `SparkListener` and one
  * `StreamingQueryListener`, registered only in traced runs. Events carry
  * their own wall-clock times, so a layer call is attributed its jobs and
  * tasks by time window: the harness calls one layer at a time from one
  * thread, and every job a call starts (its own overlapped jobs included)
  * starts inside the call's window. */
final class Trace(spark: SparkSession) {
  import Trace._

  private val jobs = new ConcurrentHashMap[Int, Array[Long]]()
  private val tasks = new ConcurrentLinkedQueue[Task]()
  /** (runId, triggerExecution ms) per streaming progress event. */
  private val progress = new ConcurrentLinkedQueue[(java.util.UUID, Long)]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.put(e.jobId, Array(e.time, Long.MaxValue))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_(1) = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach { m =>
        val sh = m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        tasks.add(Task(e.stageId, e.taskInfo.finishTime, e.taskInfo.duration,
          m.executorCpuTime, m.jvmGCTime, sh))
      }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add((e.progress.runId,
        Option(e.progress.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)))
  }

  spark.sparkContext.addSparkListener(listener)
  spark.streams.addListener(streamListener)

  /** Wait until every posted event has reached the listeners. */
  def settle(): Unit = org.apache.spark.rpabench.BusShim.waitUntilEmpty(spark.sparkContext)

  def stop(): Unit = {
    settle()
    spark.streams.removeListener(streamListener)
    spark.sparkContext.removeSparkListener(listener)
  }

  def window(t0: Long, t1: Long): Window = {
    val js = jobs.values.asScala.filter(j => j(0) >= t0 && j(0) <= t1).toSeq
    // union of the job intervals, clipped to the window
    val covered = js.map(j => (j(0), math.min(j(1), t1))).sortBy(_._1)
      .foldLeft((0L, t0)) { case ((sum, reach), (s, e)) =>
        val from = math.max(s, reach)
        if (e > from) (sum + (e - from), e) else (sum, reach)
      }._1
    val ts = tasks.asScala.filter(t => t.finish >= t0 && t.finish <= t1).toSeq
    Window(js.size, ts.size, ts.map(_.cpuNs).sum / 1e9, ts.map(_.gcMs).sum / 1e3,
      ts.map(_.shuffleBytes).sum, math.max(0L, (t1 - t0) - covered) / 1e3,
      ts.groupBy(_.stage).map { case (s, g) => s -> g.map(_.durMs) })
  }

  /** Sum of triggerExecution over the progress events of one query run. */
  def triggerMs(runId: java.util.UUID): Long =
    progress.asScala.filter(_._1 == runId).map(_._2).sum
}

object Trace {
  private final case class Task(stage: Int, finish: Long, durMs: Long, cpuNs: Long,
                                gcMs: Long, shuffleBytes: Long)

  /** Spark activity inside one wall-clock window [t0, t1] (epoch ms). */
  final case class Window(jobs: Int, tasks: Int, cpuS: Double, gcS: Double,
                          shuffleBytes: Long, driverIdleS: Double,
                          taskDurations: Map[Int, Seq[Long]])
}

/** Wall-clock windows of the timed units of work (one per iteration). */
final class Windows {
  private val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
  def add(t0: Long, t1: Long): Unit = buf += ((t0, t1))
  def all: Seq[(Long, Long)] = buf.toSeq

  /** Per-iteration Spark totals over every window, plus task skew (the
    * median over multi-task stages of max/median task time). */
  def sparkMetrics(trace: Trace): Map[String, Double] = {
    val ws = all.map { case (a, b) => trace.window(a, b) }
    val n = ws.size.toDouble
    val skews = ws.flatMap(_.taskDurations.values).filter(_.size >= 2).map { d =>
      d.max.toDouble / math.max(1.0, Stats.median(d.map(_.toDouble)))
    }
    Map(
      "spark.jobs" -> ws.map(_.jobs).sum / n,
      "spark.tasks" -> ws.map(_.tasks).sum / n,
      "spark.task_cpu_s" -> ws.map(_.cpuS).sum / n,
      "spark.gc_s" -> ws.map(_.gcS).sum / n,
      "spark.shuffle_bytes" -> ws.map(_.shuffleBytes).sum / n,
      "spark.task_skew" -> (if (skews.isEmpty) 1.0 else Stats.median(skews)),
      "spark.driver_idle_s" -> ws.map(_.driverIdleS).sum / n)
  }
}
