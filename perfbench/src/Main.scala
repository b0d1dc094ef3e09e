package perfbench

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** Benchmark entry point (see perfbench/README.md).
  *
  *   perfbench.Main --workload x2_fresh|x15_slab|lookup_clicks --seed N
  *     --seconds S --trace 0|1 --work DIR --out FILE
  *
  * Writes one JSON object to FILE: the end-to-end metrics (trace 0) or
  * the per-layer metrics (trace 1), the op counts, and a report of the
  * environment, the samples and every failure's exception class.
  */
object Main {

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val ctx = new Ctx(a("workload"), a("seed").toLong, a("seconds").toDouble,
      a("trace") == "1", Paths.get(a("work")).toAbsolutePath)
    val w: Workload = ctx.workload match {
      case "x2_fresh" => new X2Fresh(ctx)
      case "x15_slab" => new X15Slab(ctx)
      case "lookup_clicks" => new LookupClicks(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
    try {
      w.run()
      ctx.tracer.write(ctx.work.resolve("spans").resolve(s"${ctx.workload}-${ctx.seed}.json"))
      Files.writeString(Paths.get(a("out")), ctx.resultJson(w.metrics))
    } finally ctx.stopSpark()
  }
}

/** What one run shares: arguments, the work directory, the lazily
  * started Spark session, the tracer, op accounting and the report.
  */
final class Ctx(val workload: String, val seed: Long, val seconds: Double,
    val trace: Boolean, val work: Path) {
  val cores: Int = Runtime.getRuntime.availableProcessors()
  val tracer = new Tracer(s"$workload-$seed-${ProcessHandle.current().pid()}")
  val dir: Path = Files.createDirectories(work.resolve(workload))

  var attempted = 0L
  var failed = 0L
  var wrong = 0L
  val errors: mutable.Map[String, Long] = mutable.TreeMap[String, Long]()
  val report: mutable.Map[String, String] = mutable.LinkedHashMap[String, String]()

  /** Count one op; `error` names the exception class when it threw. */
  def op(name: String, error: Option[String]): Unit = {
    attempted += 1
    error.foreach(fail(name, _))
  }

  /** Count an op already counted by [[op]] as failed: an output check
    * found a wrong answer in it.
    */
  def wrongAnswer(name: String, detail: String): Unit = {
    wrong += 1
    fail(name, s"wrong answer ($detail)")
  }

  private def fail(name: String, error: String): Unit = {
    failed += 1
    errors(s"$name: $error") = errors.getOrElse(s"$name: $error", 0L) + 1
  }

  private var session: SparkSession = null
  /** The in-process listener. Only the traced part of a run attaches it. */
  lazy val recorder = new JobRecorder

  /** Run `body` traced: listener attached, spans on. */
  def traced[A](body: => A): A = {
    spark.sparkContext.addSparkListener(recorder)
    tracer.on = true
    try body
    finally {
      recorder.drain()
      tracer.on = false
      spark.sparkContext.removeSparkListener(recorder)
    }
  }

  def spark: SparkSession = {
    if (session == null) {
      session = SparkSession.builder()
        .master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", work.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
        .getOrCreate()
      session.sparkContext.setLogLevel("WARN")
    }
    session
  }

  def stopSpark(): Unit = if (session != null) { session.stop(); session = null }

  def resultJson(metrics: Seq[(String, Double, String)]): String = {
    val heapMib = Runtime.getRuntime.maxMemory() / (1 << 20)
    report.put("cores", cores.toString)
    report.put("bench_heap_mib", heapMib.toString)
    report.put("jdk", System.getProperty("java.version"))
    report.put("ops_attempted", attempted.toString)
    report.put("ops_failed", failed.toString)
    val m = metrics.map { case (k, v, u) =>
      s""""$k": {"value": ${Json.num(v)}, "unit": "$u"}""" }.mkString("{", ", ", "}")
    val rep = report.map { case (k, v) => s""""$k": ${Json.str(v)}""" }.mkString("{", ", ", "}")
    val err = errors.map { case (k, v) => s"${Json.str(k)}: $v" }.mkString("{", ", ", "}")
    s"""{"correct": ${wrong == 0}, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": $m, "report": $rep, "errors": $err}""" + "\n"
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}

/** One workload: `run` measures, checks and fills `metrics`. */
trait Workload {
  def run(): Unit
  /** (name, value, unit) — the end-to-end set with trace 0, the
    * per-layer set with trace 1.
    */
  def metrics: Seq[(String, Double, String)]
}

object Util {
  def nowMs(): Double = Tracer.nowMs()

  def timedMs[A](body: => A): (A, Double) = {
    val t0 = nowMs()
    val r = body
    (r, nowMs() - t0)
  }

  /** Quantile by linear interpolation between order statistics. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.length - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Peak resident set (VmHWM) of a live process, in MiB. */
  def vmHwmMib(pid: Long): Double =
    try {
      val line = Files.readAllLines(Paths.get(s"/proc/$pid/status")).toArray
        .map(_.toString).find(_.startsWith("VmHWM:"))
      line.map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    } catch { case _: java.io.IOException => Double.NaN }

  /** (files, bytes) under a directory tree. */
  def treeSize(p: Path): (Long, Long) = {
    if (!Files.exists(p)) return (0L, 0L)
    var n = 0L; var b = 0L
    val s = Files.walk(p)
    try s.forEach(f => if (Files.isRegularFile(f)) { n += 1; b += Files.size(f) })
    finally s.close()
    (n, b)
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally s.close()
  }

  /** The root cause's class in a Throwable chain. */
  def rootClass(e: Throwable): String = {
    var c = e
    while (c.getCause != null && c.getCause != c) c = c.getCause
    if (c eq e) e.getClass.getName else s"${e.getClass.getName} <- ${c.getClass.getName}"
  }

  /** How many timed ops a run makes: `--seconds` over the op's nominal
    * time on a 4-core box, and at least `min`. The count depends on the
    * arguments alone, not on how fast the machine is this minute, so
    * every run of a workload attempts the same number of ops.
    */
  def opCount(seconds: Double, nominalS: Double, min: Int = 1): Int =
    math.max(min, math.round(seconds / nominalS).toInt)

  /** Run a set-up five times, return the median wall seconds. The
    * x15_slab set-up takes about 0.2 s; with the median of three, its
    * spread between runs was 18–31%.
    */
  def setupMedianS(body: => Unit): Double =
    median((1 to 5).map(_ => timedMs(body)._2 / 1e3))
}
