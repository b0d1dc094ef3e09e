package perfbench

import graft.io.FioConf
import graft.volume.{ChunkVolume, MhdMeta, MhdReader, ZarrStore}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

/** x15_slab: warm, in-process ×15 upscale of a 16-plane slab from the
  * middle of the atlas (16,320,528) into the reference's ×15 sink
  * configuration — zarr v2, blosc-zstd-3, byte shuffle, input chunks
  * (8,320,528). 9.1 G output voxels (36 GB logical) land as 6,750 chunk
  * files. Sixteen planes, not forty, so that a run, with its untimed
  * warm-up op and set-up, stays short enough for the benchmark's time
  * budget; a run still holds only one timed op.
  */
final class X15Slab(ctx: Ctx) extends Workload {
  private val S = 15
  private val Planes = 16
  /** One timed op on a 4-core box: 11–16 s. */
  private val NominalOpS = 13.0
  private val (chunkZ, dimY, dimX) = (8, Atlas.Shape._2, Atlas.Shape._3)
  private val sink = ZarrStore.BloscCodec("zstd", 3, shuffle = 1)
  private val probeCodec = ZarrStore.BloscCodec("zstd", 3, shuffle = 1, typesize = 4)
  private val outVoxels = Planes.toLong * dimY * dimX * S * S * S

  var metrics: Seq[(String, Double, String)] = Nil

  private var atlas: Atlas = null
  private var z0 = 0
  private var slab: Path = null
  /** A small input for the untimed first op: JIT and lazy set-up. */
  private var warm: Path = null
  private val warmShape = (chunkZ, dimY / 4, dimX / 4)
  private def out: Path = ctx.dir.resolve("x15.zarr")

  private def setup(): Unit = {
    atlas = Atlas(ctx.seed, Ontology.generate(ctx.seed))
    z0 = Atlas.Shape._1 / 2 - Planes / 2
    slab = atlas.writeMhd(ctx.dir, "slab", z0, z0 + Planes)
    warm = new Atlas(ctx.seed, warmShape._1, warmShape._2, warmShape._3, Ontology.generate(ctx.seed))
      .writeMhd(ctx.dir, "warm", 0, warmShape._1)
  }

  private def upscaled(mhd: Path): ChunkVolume = {
    val meta = MhdMeta.parse(mhd.toString)
    MhdReader.readUpscaled(ctx.spark, meta, chunkZ, meta.dimY.toInt, meta.dimX.toInt, S,
      reuseChildBuffers = true)
  }

  /** One timed op: the sink call returns once the store is committed.
    * Returns (start, end) in epoch ms.
    */
  private def upscaleOnce(mhd: Path): (Double, Double) = {
    Util.deleteTree(out)
    val t0 = Util.nowMs()
    val vol = ctx.tracer.span("x15.plan", "x15.op")(upscaled(mhd))
    ctx.tracer.span("x15.zarr_write", "x15.op")(ZarrStore.write(vol, out.toString, sink))
    val t1 = Util.nowMs()
    ctx.tracer.add(Span("x15.op", t0, t1, "", ctx.tracer.runId))
    (t0, t1)
  }

  def run(): Unit = {
    val setupS = Util.setupMedianS(setup())
    val (_, sessionMs) = Util.timedMs(ctx.spark)
    val (_, warmMs) = Util.timedMs(upscaleOnce(warm))
    ctx.report.put("session_ms", f"$sessionMs%.0f")
    ctx.report.put("warmup_ms", f"$warmMs%.0f")
    val times = Seq.newBuilder[Double]
    var lastOk = false
    for (_ <- 0 until Util.opCount(ctx.seconds, NominalOpS)) {
      lastOk =
        try { val (t0, t1) = upscaleOnce(slab); times += t1 - t0; true }
        catch { case e: Exception => ctx.op("x15_upscale", Some(Util.rootClass(e))); false }
      if (lastOk) ctx.op("x15_upscale", None)
    }
    val opMs = times.result()
    require(opMs.nonEmpty, s"no x15 upscale succeeded: ${ctx.errors}")
    if (lastOk) check()
    val (files, bytes) = Util.treeSize(out)
    ctx.report.put("samples", opMs.size.toString)
    ctx.report.put("op_ms", opMs.map(t => f"$t%.1f").mkString(" "))
    ctx.report.put("slab_z0", z0.toString)
    ctx.report.put("out_voxels", outVoxels.toString)
    ctx.report.put("gvox_per_s", f"${outVoxels / 1e9 / (Util.median(opMs) / 1e3)}%.4f")
    ctx.report.put("store_files", files.toString)
    ctx.report.put("store_mib_per_plane", f"${bytes / 1048576.0 / Planes}%.2f (planned figure ${Atlas.X15MibPerPlane}%.2f)")
    ctx.report.put("atlas_regions", atlas.regionCount.toString)
    if (!ctx.trace)
      metrics = Seq(
        ("setup_s", setupS, "s"),
        ("op_p50_ms", Util.median(opMs), "ms"),
        ("op_p75_ms", Util.quantile(opMs, 0.75), "ms"),
        ("store_mib", bytes / 1048576.0, "MiB"))
    else metrics = Layers.metrics(traced(files, bytes) +
      ("mem.peak_rss_mib" -> Util.vmHwmMib(ProcessHandle.current().pid())))
  }

  /** One untraced and one traced headline, then the sink-free probes,
    * which give the scan → kernel → encode ladder, and the write probe,
    * which writes the same compressed chunk files again on their own. The
    * untraced op runs right before the traced one, so that the overhead
    * and the self-time check compare two ops made under the same machine
    * load, not ops a minute apart.
    */
  private def traced(files: Long, bytes: Long): Map[String, Double] = {
    val (u0, u1) = upscaleOnce(slab)
    ctx.report.put("untraced_op_ms", f"${u1 - u0}%.1f")
    tracedProbes((u1 - u0) / 1e3, files, bytes)
  }

  private def tracedProbes(untracedS: Double, files: Long, bytes: Long): Map[String, Double] = ctx.traced {
    val spark = ctx.spark
    val (t0, t1) = upscaleOnce(slab)
    ctx.recorder.drain()
    val jobs = ctx.recorder.stats(t0, t1)
    val headS = (t1 - t0) / 1e3
    val meta = MhdMeta.parse(slab.toString)
    val (_, scanMs) = Util.timedMs(ctx.tracer.span("probe.scan")(
      Probes.consume(MhdReader.read(spark, meta, chunkZ, dimY, dimX))))
    val (_, kernMs) = Util.timedMs(ctx.tracer.span("probe.kernel")(Probes.consume(upscaled(slab))))
    val ((raw, comp), encMs) =
      Util.timedMs(ctx.tracer.span("probe.encode")(Probes.encode(upscaled(slab), probeCodec)))
    val chunkFiles = Probes.encoded(upscaled(slab), probeCodec)
    val probeDir = ctx.dir.resolve("x15_write_probe")
    // one write probe took 0.4–1.5 s on the same input: the median of three
    val writeMs = try Util.median((0 until 3).map { _ =>
      Util.deleteTree(probeDir)
      Util.timedMs(ctx.tracer.span("probe.write")(
        Probes.write(chunkFiles, probeDir.toString)(FioConf.of(spark))))._2
    }) finally { chunkFiles.unpersist(); Util.deleteTree(probeDir) }
    val scanS = scanMs / 1e3
    val kernelS = (kernMs - scanMs) / 1e3
    val encodeS = (encMs - kernMs) / 1e3
    val writeS = writeMs / 1e3
    val inBytes = Planes.toLong * dimY * dimX * 4
    Layers.sched(Seq(jobs), ctx.cores) ++ Map(
      "scan.s" -> scanS, "scan.gb_per_s" -> inBytes / 1e9 / scanS,
      "kernel.s" -> kernelS, "kernel.out_gb_per_s" -> raw / 1e9 / kernelS,
      "encode.s" -> encodeS, "encode.raw_gb_per_s" -> raw / 1e9 / encodeS,
      "encode.ratio" -> raw.toDouble / comp,
      "write.s" -> writeS, "write.files" -> files.toDouble, "write.mib" -> bytes / 1048576.0,
      "commit.ms" -> (t1 - jobs.lastEndMs),
    ) ++ Layers.selfTimes(ctx, Seq("scan" -> scanS, "kernel" -> kernelS, "encode" -> encodeS,
      "write" -> writeS), untracedS, headS)
  }

  /** Decode sampled chunks completely and compare each with a
    * brute-force ×15 of its source RAW; compare a seeded voxel sample in
    * them, the last plane included, with the generator.
    */
  private def check(): Unit = {
    val src = ByteBuffer.wrap(Files.readAllBytes(ctx.dir.resolve("slab.raw")))
      .order(ByteOrder.LITTLE_ENDIAN).asIntBuffer()
    val (zm, vm) = ZarrStore.readMeta(out.toString)
    val rnd = new SplittableRandom(ctx.seed + 15)
    val picks = Seq((0, 0, 0), (vm.ncz - 1, vm.ncy - 1, vm.ncx - 1)) ++
      Seq.fill(4)((rnd.nextInt(vm.ncz), rnd.nextInt(vm.ncy), rnd.nextInt(vm.ncx)))
    val badChunks = picks.flatMap { case (cz, cy, cx) =>
      val name = s"$cz.$cy.$cx"
      val bytes = Files.readAllBytes(out.resolve(name))
      val got = ByteBuffer.wrap(zm.codec.decompress(bytes, zm.chunkElems * 4))
        .order(ByteOrder.LITTLE_ENDIAN).asIntBuffer()
      val (oz, oy, ox) = (cz.toLong * vm.chunkZ, cy.toLong * vm.chunkY, cx.toLong * vm.chunkX)
      var bad = 0L
      var i = 0
      for (z <- 0 until vm.chunkZ; y <- 0 until vm.chunkY; x <- 0 until vm.chunkX) {
        val sz = ((oz + z) / S).toInt; val sy = ((oy + y) / S).toInt; val sx = ((ox + x) / S).toInt
        if (got.get(i) != src.get((sz * dimY + sy) * dimX + sx)) bad += 1
        i += 1
      }
      // the generator, at (z/s, y/s, x/s); the last chunk's last plane is
      // sampled on purpose
      for (k <- 0 until 400) {
        val z = if (k < 40) vm.chunkZ - 1 else rnd.nextInt(vm.chunkZ)
        val y = rnd.nextInt(vm.chunkY); val x = rnd.nextInt(vm.chunkX)
        val want = atlas.label(z0 + ((oz + z) / S).toInt, ((oy + y) / S).toInt, ((ox + x) / S).toInt)
        if ((got.get((z * vm.chunkY + y) * vm.chunkX + x) & 0xFFFFFFFFL) != want) bad += 1
      }
      if (bad > 0) Some(s"$name: $bad voxels") else None
    }
    if (badChunks.nonEmpty) ctx.wrongAnswer("x15_upscale", s"differ in chunk ${badChunks.mkString(", ")}")
    ctx.report.put("checked_chunks", picks.map { case (a, b, c) => s"$a.$b.$c" }.mkString(" "))
  }
}
