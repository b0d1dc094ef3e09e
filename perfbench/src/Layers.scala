package perfbench

import graft.io.{Fio, FioConf}
import graft.volume.{ChunkVolume, ZarrStore}
import org.apache.spark.rdd.RDD
import org.apache.spark.storage.StorageLevel

/** The per-layer metric set. A traced run reports every name; a layer
  * that does no work on a workload reports 0.
  */
object Layers {
  val Units: Seq[(String, String)] = Seq(
    "launch.jvm_ms" -> "ms", "launch.plan_ms" -> "ms", "launch.stop_ms" -> "ms",
    "sched.tasks" -> "count", "sched.job_wall_s" -> "s", "sched.executor_run_s" -> "s",
    "sched.executor_cpu_s" -> "s", "sched.gc_s" -> "s", "sched.core_occupancy" -> "ratio",
    "scan.s" -> "s", "scan.gb_per_s" -> "GB/s",
    "kernel.s" -> "s", "kernel.out_gb_per_s" -> "GB/s",
    "encode.s" -> "s", "encode.raw_gb_per_s" -> "GB/s", "encode.ratio" -> "ratio",
    "write.s" -> "s", "write.files" -> "count", "write.mib" -> "MiB", "commit.ms" -> "ms",
    "lookup.open_ms" -> "ms", "lookup.point_ms" -> "ms", "lookup.tasks_per_click" -> "count",
    "lookup.executor_cpu_ms_per_click" -> "ms", "lookup.useful_ratio" -> "ratio",
    "ontology.name_ms" -> "ms",
    "mem.peak_rss_mib" -> "MiB",
    "trace.overhead_s" -> "s", "trace.untraced_s" -> "s",
    "trace.selftime_gap" -> "ratio",
  )

  /** Self-times must add up to the untraced time within this share. */
  val SelfTimeTolerance = 0.15

  def metrics(values: Map[String, Double]): Seq[(String, Double, String)] = {
    val unknown = values.keySet -- Units.map(_._1)
    require(unknown.isEmpty, s"unlisted per-layer metrics: $unknown")
    Units.map { case (k, u) => (k, values.getOrElse(k, 0.0), u) }
  }

  /** The sched.* block, summed over groups of jobs. */
  def sched(groups: Seq[JobStats], cores: Int): Map[String, Double] = {
    val wall = groups.map(_.wallS).sum
    val run = groups.map(_.runS).sum
    Map("sched.tasks" -> groups.map(_.tasks).sum.toDouble, "sched.job_wall_s" -> wall,
      "sched.executor_run_s" -> run, "sched.executor_cpu_s" -> groups.map(_.cpuS).sum,
      "sched.gc_s" -> groups.map(_.gcS).sum,
      "sched.core_occupancy" -> (if (wall <= 0) 0.0 else run / (wall * cores)))
  }

  /** The self-time check. Each part is measured on its own, so their sum
    * can miss the untraced time; a gap above the tolerance is a failed
    * check, counted in `failed`. Returns the gap, the untraced time and
    * the tracing overhead.
    */
  def selfTimes(ctx: Ctx, parts: Seq[(String, Double)], untracedS: Double, tracedS: Double): Map[String, Double] = {
    val gap = math.abs(parts.map(_._2).sum - untracedS) / untracedS
    val verdict = f"gap $gap%.3f, tolerance $SelfTimeTolerance"
    ctx.report.put("selftime_parts_s", parts.map { case (n, p) => f"$n $p%.3f" }.mkString(" + "))
    ctx.report.put("selftime_check", verdict)
    ctx.op("selftime_check",
      if (gap > SelfTimeTolerance) Some(s"self-times do not add up to the untraced time ($verdict)") else None)
    Map("trace.untraced_s" -> untracedS, "trace.selftime_gap" -> gap,
      "trace.overhead_s" -> (tracedS - untracedS))
  }
}

/** Probes. The sink-free ones run the volume flow on the executors with
  * no store, so that subtracting one from the next isolates a layer; the
  * write probe times the file writes on their own.
  */
object Probes {
  /** Consume every chunk; returns the bytes seen. */
  def consume(vol: ChunkVolume): Long =
    vol.chunks.rdd.mapPartitions(it => Iterator(it.map(_.data.length.toLong).sum)).sum().toLong

  /** Compress every chunk and discard the output; returns (raw, compressed) bytes. */
  def encode(vol: ChunkVolume, codec: ZarrStore.Codec): (Long, Long) =
    vol.chunks.rdd.mapPartitions { it =>
      var raw = 0L; var out = 0L
      it.foreach { c => raw += c.data.length; out += codec.compress(c.data).length }
      Iterator((raw, out))
    }.reduce((a, b) => (a._1 + b._1, a._2 + b._2))

  /** Every chunk compressed and named as a zarr v2 chunk file, held in
    * memory (the caller unpersists it).
    */
  def encoded(vol: ChunkVolume, codec: ZarrStore.Codec): RDD[(String, Array[Byte])] = {
    val r = vol.chunks.rdd.map(c => (s"${c.cz}.${c.cy}.${c.cx}", codec.compress(c.data)))
      .persist(StorageLevel.MEMORY_ONLY)
    r.count()
    r
  }

  /** Write the files with the zarr sink's own file call, `Fio.writeBytes`,
    * from executor tasks into `dir`: the file writes alone.
    */
  def write(files: RDD[(String, Array[Byte])], dir: String)(implicit fc: FioConf): Unit = {
    Fio.mkdirs(dir)
    files.foreachPartition(_.foreach { case (name, bytes) => Fio.writeBytes(Fio.child(dir, name), bytes) })
  }
}
