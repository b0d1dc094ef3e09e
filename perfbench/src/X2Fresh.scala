package perfbench

import graft.volume.{ChunkStore, ChunkVolume, MhdMeta, MhdReader, ZarrStore}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import java.util.concurrent.TimeUnit
import scala.jdk.CollectionConverters._

/** x2_fresh: the reference's headline, a fresh child JVM running
  * `UpscaleCli --scale 2` on the atlas-shaped (456,320,528) uint32
  * fixture with the reference chunk plan (`--chunk-mb 128` →
  * (37,320,528), whose last chunk is a ragged 12-plane edge). The timed
  * op writes `--format graftchunks`; every run also attempts the
  * reference's default invocation (`--format zarr`) once, counted as an
  * op whether it succeeds or fails.
  */
final class X2Fresh(ctx: Ctx) extends Workload {
  import X2Fresh.Child
  private val S = 2
  private val ChildHeap = "3g"
  /** One timed op on a 4-core box: 9–15 s. */
  private val NominalOpS = 12.0
  private val (dimZ, dimY, dimX) = Atlas.Shape

  var metrics: Seq[(String, Double, String)] = Nil

  private var atlas: Atlas = null
  private var mhd: Path = null
  private val outChunks = ctx.dir.resolve("x2_graftchunks")
  private val outZarr = ctx.dir.resolve("x2_zarr")

  private def setup(): Unit = {
    atlas = Atlas(ctx.seed, Ontology.generate(ctx.seed))
    mhd = atlas.writeMhd(ctx.dir, "atlas", 0, dimZ)
  }

  /** Launch `UpscaleCli` in a fresh JVM, as a user would; its peak RSS is
    * sampled from /proc while it runs. `jobsFile` attaches the
    * benchmark's listener through Spark configuration alone.
    */
  private def launch(args: Seq[String], log: String, jobsFile: Option[Path]): Child = {
    val java = ProcessHandle.current().info().command().orElse("java")
    val inherited = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
      .filter(a => a.startsWith("--add-opens") || a.startsWith("-Dspark.sql.session.timeZone"))
    val listener = jobsFile.toSeq.flatMap(f => Seq(
      "-Dspark.extraListeners=perfbench.JobRecorder", s"-Dperfbench.jobsFile=$f"))
    val cmd = Seq(java, s"-Xmx$ChildHeap", "-XX:G1HeapRegionSize=32m",
      "-Dspark.ui.enabled=false", s"-Djava.io.tmpdir=${ctx.work.resolve("tmp")}",
      s"-Dspark.local.dir=${ctx.work.resolve("spark-local")}") ++ inherited ++ listener ++
      Seq("-cp", System.getProperty("java.class.path"), "graft.volume.UpscaleCli") ++ args
    val pb = new ProcessBuilder(cmd: _*)
    pb.environment().put("SPARK_GRAFT_MASTER", s"local[${ctx.cores}]")
    pb.environment().put("SPARK_GRAFT_CPUS", ctx.cores.toString)
    val err = ctx.dir.resolve(s"$log.stderr")
    pb.redirectOutput(ctx.dir.resolve(s"$log.stdout").toFile).redirectError(err.toFile)
    val t0 = Util.nowMs()
    val p = pb.start()
    var hwm = 0.0
    while (!p.waitFor(20, TimeUnit.MILLISECONDS)) {
      val v = Util.vmHwmMib(p.pid()) // NaN once the process is a zombie
      if (!v.isNaN) hwm = math.max(hwm, v)
    }
    val t1 = Util.nowMs()
    val error = if (p.exitValue() == 0) None else Some(exceptionOf(err, p.exitValue()))
    Child(t0, t1, hwm, error)
  }

  /** "Top <- root cause" exception classes from a JVM's stderr. */
  private def exceptionOf(stderr: Path, exit: Int): String = {
    val lines = Files.readAllLines(stderr).asScala
    val top = lines.collectFirst {
      case l if l.startsWith("Exception in thread") => l.split("\\s+")(4).stripSuffix(":")
    }
    val root = lines.filter(_.startsWith("Caused by:")).lastOption.map(_.split("\\s+")(2).stripSuffix(":"))
    (top, root) match {
      case (Some(t), Some(r)) => s"$t <- $r"
      case (Some(t), None) => t
      case _ => s"exit $exit"
    }
  }

  /** Delete a store and the staging siblings a failed write leaves behind. */
  private def clearStore(store: Path): Unit = {
    val name = store.getFileName.toString
    val s = Files.list(store.getParent)
    try s.toArray.map(_.asInstanceOf[Path]).filter(_.getFileName.toString.startsWith(name))
      .foreach(Util.deleteTree)
    finally s.close()
  }

  private def cliArgs(out: Path, format: Option[String]): Seq[String] =
    Seq("--input", mhd.toString, "--output", out.toString, "--scale", S.toString) ++
      format.toSeq.flatMap(f => Seq("--chunk-mb", "128", "--format", f))

  def run(): Unit = {
    val setupS = Util.setupMedianS(setup())
    // the reference's own invocation: default --format zarr, --chunk-mb 128
    clearStore(outZarr)
    val z = launch(cliArgs(outZarr, None), "zarr", None)
    ctx.op("x2_zarr_default", z.error)
    val ok = (0 until Util.opCount(ctx.seconds, NominalOpS)).flatMap { n =>
      clearStore(outChunks)
      val c = launch(cliArgs(outChunks, Some("graftchunks")), s"graftchunks-$n", None)
      ctx.op("x2_graftchunks", c.error)
      if (c.error.isEmpty) Some(c) else None
    }
    require(ok.nonEmpty, s"no x2 graftchunks run succeeded: ${ctx.errors}")
    check(ChunkStore.read(ctx.spark, outChunks.toString), "x2_graftchunks")
    if (z.error.isEmpty) check(ZarrStore.read(ctx.spark, outZarr.toString), "x2_zarr_default")
    val wallMs = ok.map(_.wallMs)
    val (files, bytes) = Util.treeSize(outChunks)
    val rssMib = Util.median(ok.map(_.hwmMib))
    ctx.report.put("samples", wallMs.size.toString)
    ctx.report.put("wall_ms", wallMs.map(t => f"$t%.1f").mkString(" "))
    ctx.report.put("zarr_default_wall_ms", f"${z.wallMs}%.1f")
    ctx.report.put("child_heap", ChildHeap)
    ctx.report.put("child_peak_rss_mib", ok.map(c => f"${c.hwmMib}%.1f").mkString(" "))
    ctx.report.put("atlas_regions", atlas.regionCount.toString)
    if (!ctx.trace)
      metrics = Seq(
        ("setup_s", setupS, "s"),
        ("op_p50_ms", Util.median(wallMs), "ms"),
        ("op_p75_ms", Util.quantile(wallMs, 0.75), "ms"),
        ("store_mib", bytes / 1048576.0, "MiB"))
    else metrics = Layers.metrics(
      traced(Util.median(wallMs) / 1e3, files, bytes) + ("mem.peak_rss_mib" -> rssMib))
  }

  /** One traced child run (launch → plan → jobs → stop from its
    * listener) plus the in-process sink-free probes on the same plan.
    */
  private def traced(untracedS: Double, files: Long, bytes: Long): Map[String, Double] = ctx.traced {
    val jobsFile = ctx.dir.resolve("jobs.txt")
    Files.deleteIfExists(jobsFile)
    clearStore(outChunks)
    val c = launch(cliArgs(outChunks, Some("graftchunks")), "graftchunks-traced", Some(jobsFile))
    require(c.error.isEmpty, s"traced x2 run failed: ${c.error}")
    val j = JobRecorder.readFile(jobsFile)
    // launch.jvm_ms starts at the JVM's own start stamp and the jobs part
    // is each job's own start → end, so process spawn and driver time
    // between jobs fall in no part: the self-time check shows them
    val jvmMs = j("app_start_ms") - j("jvm_start_ms")
    val planMs = j("first_job_start_ms") - j("app_start_ms")
    val stopMs = c.endMs - j("last_job_end_ms")
    ctx.report.put("spawn_ms", f"${j("jvm_start_ms") - c.startMs}%.0f")
    Seq(("child.jvm", j("jvm_start_ms"), j("app_start_ms")),
      ("child.plan", j("app_start_ms"), j("first_job_start_ms")),
      ("child.jobs", j("first_job_start_ms"), j("last_job_end_ms")),
      ("child.stop", j("last_job_end_ms"), c.endMs))
      .foreach { case (n, a, b) => ctx.tracer.add(Span(n, a, b, "x2.op", ctx.tracer.runId)) }
    ctx.tracer.add(Span("x2.op", c.startMs, c.endMs, "", ctx.tracer.runId))
    val jobs = JobStats(j("jobs").toInt, j("tasks").toLong, j("first_job_start_ms"),
      j("last_job_end_ms"), j("busy_s"), j("run_s"), j("cpu_s"), j("gc_s"))

    val spark = ctx.spark
    val meta = MhdMeta.parse(mhd.toString)
    val (cz, cy, cx) = graft.volume.ChunkPlanner.chooseChunks(meta.shapeZyx, 4, 128)
    def up(): ChunkVolume = MhdReader.readUpscaled(spark, meta, cz, cy, cx, S, reuseChildBuffers = true)
    val (_, scanMs) = Util.timedMs(ctx.tracer.span("probe.scan")(
      Probes.consume(MhdReader.read(spark, meta, cz, cy, cx))))
    val (_, kernMs) = Util.timedMs(ctx.tracer.span("probe.kernel")(Probes.consume(up())))
    // the chunk store's codec: zstd level 1 over each chunk's bytes
    val ((raw, comp), encMs) = Util.timedMs(ctx.tracer.span("probe.encode")(
      Probes.encode(up(), ZarrStore.ZstdCodec(1))))
    val inBytes = meta.nVoxels * 4
    Layers.sched(Seq(jobs), ctx.cores) ++ Map(
      "launch.jvm_ms" -> jvmMs, "launch.plan_ms" -> planMs, "launch.stop_ms" -> stopMs,
      "scan.s" -> scanMs / 1e3, "scan.gb_per_s" -> inBytes / 1e6 / scanMs,
      "kernel.s" -> (kernMs - scanMs) / 1e3, "kernel.out_gb_per_s" -> raw / 1e6 / (kernMs - scanMs),
      "encode.s" -> (encMs - kernMs) / 1e3, "encode.raw_gb_per_s" -> raw / 1e6 / (encMs - kernMs),
      "encode.ratio" -> raw.toDouble / comp,
      "write.files" -> files.toDouble, "write.mib" -> bytes / 1048576.0,
    ) ++ Layers.selfTimes(ctx, Seq("jvm" -> jvmMs / 1e3, "plan" -> planMs / 1e3,
      "jobs" -> jobs.busyS, "stop" -> stopMs / 1e3), untracedS, c.wallMs / 1e3)
  }

  /** Read a written store back and compare a seeded voxel sample — the
    * ragged edge chunk and the last plane included — with the generator
    * at (z/s, y/s, x/s).
    */
  private def check(vol: ChunkVolume, op: String): Unit = {
    val rnd = new SplittableRandom(ctx.seed + 2)
    val (oz, oy, ox) = (dimZ * S, dimY * S, dimX * S)
    val edgeZ0 = (dimZ / 37) * 37 * S // first output plane of the ragged edge chunk
    val pts = (0 until 3000).map { k =>
      val z = if (k < 200) oz - 1 else if (k < 1000) edgeZ0 + rnd.nextInt(oz - edgeZ0) else rnd.nextInt(oz)
      (z.toLong, rnd.nextInt(oy).toLong, rnd.nextInt(ox).toLong)
    } :+ ((oz - 1).toLong, (oy - 1).toLong, (ox - 1).toLong)
    val want = pts.map { case (z, y, x) => atlas.label((z / S).toInt, (y / S).toInt, (x / S).toInt) }
    val (covered, bad) = VoxelCheck.compare(vol, pts.toArray, want.toArray)
    if (covered != pts.size || bad > 0)
      ctx.wrongAnswer(op, s"$bad of ${pts.size} sampled voxels differ, $covered found")
  }
}

object X2Fresh {
  private final case class Child(startMs: Double, endMs: Double, hwmMib: Double,
      error: Option[String]) {
    def wallMs: Double = endMs - startMs
  }
}

object VoxelCheck {
  /** (points found in some chunk, points whose uint32 value differs). */
  def compare(vol: ChunkVolume, pts: Array[(Long, Long, Long)], want: Array[Long]): (Long, Long) =
    vol.chunks.rdd.mapPartitions { it =>
      var covered = 0L; var bad = 0L
      it.foreach { c =>
        var k = 0
        while (k < pts.length) {
          val (z, y, x) = pts(k)
          if (z >= c.z0 && z < c.z0 + c.nz && y >= c.y0 && y < c.y0 + c.ny && x >= c.x0 && x < c.x0 + c.nx) {
            covered += 1
            val i = ((((z - c.z0) * c.ny + (y - c.y0)) * c.nx + (x - c.x0)) * 4).toInt
            val v = (c.data(i) & 0xFFL) | (c.data(i + 1) & 0xFFL) << 8 |
              (c.data(i + 2) & 0xFFL) << 16 | (c.data(i + 3) & 0xFFL) << 24
            if (v != want(k)) bad += 1
          }
          k += 1
        }
      }
      Iterator((covered, bad))
    }.reduce((a, b) => (a._1 + b._1, a._2 + b._2))
}
