package perfbench

import org.apache.spark.SparkConf
import org.apache.spark.scheduler._
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** One traced interval. Times are epoch milliseconds (fractional), so
  * spans from the benchmark JVM and from a child JVM share one clock.
  */
final case class Span(name: String, startMs: Double, endMs: Double, parent: String, runId: String) {
  def ms: Double = endMs - startMs
}

/** In-memory span recorder; written out once, when the benchmark ends.
  * While `on` is false, `span` only runs its body: a traced run switches
  * it on for its traced part only.
  */
final class Tracer(val runId: String) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  @volatile var on = false

  def add(s: Span): Unit = if (on) spans.add(s)

  def span[A](name: String, parent: String = "")(body: => A): A = {
    val t0 = Tracer.nowMs()
    try body finally add(Span(name, t0, Tracer.nowMs(), parent, runId))
  }

  def all: Seq[Span] = spans.asScala.toSeq

  def write(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    Files.writeString(path, all.map { s =>
      f"""{"name":"${s.name}","start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f,""" +
        s""""parent":"${s.parent}","run_id":"${s.runId}"}"""
    }.mkString("[\n", ",\n", "\n]\n"))
  }
}

object Tracer {
  private val epochAtNano = System.currentTimeMillis() * 1e6 - System.nanoTime()
  def nowMs(): Double = (epochAtNano + System.nanoTime()) / 1e6
}

/** Scheduler totals over a set of jobs. `busyS` sums each job's own
  * start → end, so driver time between jobs is not in it.
  */
final case class JobStats(
    jobs: Int, tasks: Long, firstStartMs: Double, lastEndMs: Double, busyS: Double,
    runS: Double, cpuS: Double, gcS: Double) {
  def wallS: Double = if (jobs == 0) 0.0 else (lastEndMs - firstStartMs) / 1e3
}

/** The benchmark's SparkListener. It records job start/end times and
  * task time, CPU and GC per job, plus the JVM's own start time and the
  * application start time. It is
  * registered in-process with `addSparkListener`, and in a child JVM with
  * `-Dspark.extraListeners=perfbench.JobRecorder`; there it writes its
  * record to the file named by `-Dperfbench.jobsFile` when the
  * application ends.
  */
final class JobRecorder extends SparkListener {
  import JobRecorder.Job
  def this(conf: SparkConf) = this()

  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  @volatile var appStartMs: Double = 0.0
  @volatile var appEndMs: Double = 0.0
  private val ended = new AtomicLong(0)

  override def onApplicationStart(e: SparkListenerApplicationStart): Unit =
    appStartMs = e.time.toDouble

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.put(e.jobId, Job(e.jobId, e.time.toDouble, Double.NaN,
      new AtomicLong, new AtomicLong, new AtomicLong, new AtomicLong))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val j = jobs.get(stageJob.getOrDefault(e.stageId, -1))
    if (j != null && e.taskMetrics != null) {
      j.tasks.incrementAndGet()
      j.runMs.addAndGet(e.taskMetrics.executorRunTime)
      j.cpuNs.addAndGet(e.taskMetrics.executorCpuTime)
      j.gcMs.addAndGet(e.taskMetrics.jvmGCTime)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val j = jobs.get(e.jobId)
    if (j != null) j.endMs = e.time.toDouble
    ended.incrementAndGet()
  }

  override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
    appEndMs = e.time.toDouble
    sys.props.get("perfbench.jobsFile").foreach { f =>
      val s = stats(0, Double.MaxValue)
      Files.writeString(Paths.get(f),
        Seq("app_start_ms" -> appStartMs, "app_end_ms" -> appEndMs,
          "jvm_start_ms" -> ManagementFactory.getRuntimeMXBean.getStartTime.toDouble,
          "jobs" -> s.jobs.toDouble, "tasks" -> s.tasks.toDouble,
          "first_job_start_ms" -> s.firstStartMs, "last_job_end_ms" -> s.lastEndMs,
          "busy_s" -> s.busyS,
          "run_s" -> s.runS, "cpu_s" -> s.cpuS, "gc_s" -> s.gcS)
          .map { case (k, v) => f"$k $v%.3f" }.mkString("", "\n", "\n"))
    }
  }

  /** Block until every job started so far has ended (the listener bus is
    * asynchronous), at most `timeoutMs`.
    */
  def drain(timeoutMs: Long = 5000): Unit = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    while (ended.get() < jobs.size && System.nanoTime() < deadline) Thread.sleep(2)
  }

  /** Totals over the jobs that started in [fromMs, toMs). */
  def stats(fromMs: Double, toMs: Double): JobStats = {
    val js = jobs.values.asScala.filter(j => j.startMs >= fromMs && j.startMs < toMs).toSeq
    def end(j: Job) = if (j.endMs.isNaN) j.startMs else j.endMs
    if (js.isEmpty) JobStats(0, 0, 0, 0, 0, 0, 0, 0)
    else JobStats(js.size, js.map(_.tasks.get).sum, js.map(_.startMs).min, js.map(end).max,
      js.map(j => end(j) - j.startMs).sum / 1e3, js.map(_.runMs.get).sum / 1e3,
      js.map(_.cpuNs.get).sum / 1e9, js.map(_.gcMs.get).sum / 1e3)
  }
}

object JobRecorder {
  private final case class Job(id: Int, startMs: Double, var endMs: Double,
      tasks: AtomicLong, runMs: AtomicLong, cpuNs: AtomicLong, gcMs: AtomicLong)

  def readFile(p: Path): Map[String, Double] =
    Files.readAllLines(p).asScala.filter(_.nonEmpty).map { l =>
      val Array(k, v) = l.split(" ")
      k -> v.toDouble
    }.toMap
}
