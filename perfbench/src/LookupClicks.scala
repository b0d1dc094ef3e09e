package perfbench

import graft.volume.{ChunkPlanner, ChunkStore, ChunkVolume, MhdMeta, MhdReader, RegionTable, ZarrStore}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

/** lookup_clicks: a warm, closed-loop, single-client click-to-name loop
  * over two ×2 atlas stores built in set-up — the internal chunk store
  * on the reference chunk plan (ragged edge chunk included) and a zarr
  * v2 store. The source is the atlas at half resolution (228,160,264),
  * so both stores have the reference atlas shape (456,320,528); a ×2 store
  * of the full atlas costs seconds per click today, too slow for forty
  * clicks in one run. A click is store read → `pointLookup` →
  * `RegionTable.lookupById` on the seeded ontology, as in
  * verify_labels.py / lookup_test2.py / view_with_labels.py.
  */
final class LookupClicks(ctx: Ctx) extends Workload {
  import LookupClicks._
  private val S = 2
  private val MinClicks = 40
  /** One timed click on a 4-core box: 0.3–0.4 s. */
  private val NominalClickS = 0.35
  /** Untimed first clicks: the click path's JIT and lazy set-up. */
  private val Warmup = 30
  private val (dimZ, dimY, dimX) = (Atlas.Shape._1 / 2, Atlas.Shape._2 / 2, Atlas.Shape._3 / 2)
  /** zarr v2 needs a uniform output grid; 12 divides the source depth. */
  private val ZarrChunks = (12, dimY, dimX)

  var metrics: Seq[(String, Double, String)] = Nil

  private var ontology: IndexedSeq[Region] = null
  private var atlas: Atlas = null
  private var refPlan = (0, 0, 0)
  private val internal = ctx.dir.resolve("x2_internal")
  private val zarr = ctx.dir.resolve("x2_zarr")
  private val csv = ctx.dir.resolve("regions.csv")

  private def setup(): Unit = {
    ontology = Ontology.generate(ctx.seed)
    Ontology.writeCsv(ontology, csv)
    atlas = new Atlas(ctx.seed, dimZ, dimY, dimX, ontology, step = 2)
    val meta = MhdMeta.parse(atlas.writeMhd(ctx.dir, "atlas", 0, dimZ).toString)
    refPlan = ChunkPlanner.chooseChunks(meta.shapeZyx, meta.bytesPerVoxel, 128)
    val spark = ctx.spark
    ChunkStore.write(MhdReader.readUpscaled(spark, meta, refPlan._1, refPlan._2, refPlan._3, S,
      reuseChildBuffers = true), internal.toString)
    ZarrStore.write(MhdReader.readUpscaled(spark, meta, ZarrChunks._1, ZarrChunks._2,
      ZarrChunks._3, S, reuseChildBuffers = true), zarr.toString, ZarrStore.ZstdCodec())
  }

  /** Seeded clicks on labelled voxels, alternating stores; every fourth
    * internal-store click lands in the ragged edge chunk.
    */
  private def clicks(n: Int): IndexedSeq[Click] = {
    val rnd = new SplittableRandom(ctx.seed + 3)
    val edgeZ0 = (dimZ / refPlan._1) * refPlan._1 * S
    (0 until n).map { k =>
      var c: Click = null
      while (c == null) {
        val z = if (k % 8 == 1) edgeZ0 + rnd.nextInt(dimZ * S - edgeZ0) else rnd.nextInt(dimZ * S)
        val y = rnd.nextInt(dimY * S); val x = rnd.nextInt(dimX * S)
        if (atlas.label(z / S, y / S, x / S) != 0L) c = Click(k % 2 == 0, z, y, x)
      }
      c
    }
  }

  /** One click, checked; `None` if it threw. */
  private def click(c: Click, regions: org.apache.spark.sql.DataFrame): Option[Timing] = {
    val op = if (c.zarrStore) "click_zarr" else "click_internal"
    val spark = ctx.spark
    val t0 = Util.nowMs()
    try {
      val (vol, openMs) = Util.timedMs(ctx.tracer.span("click.open", "click")(
        if (c.zarrStore) ZarrStore.read(spark, zarr.toString) else ChunkStore.read(spark, internal.toString)))
      val (label, pointMs) = Util.timedMs(ctx.tracer.span("click.point", "click")(vol.pointLookup(c.z, c.y, c.x)))
      val (name, nameMs) = Util.timedMs(ctx.tracer.span("click.name", "click")(
        RegionTable.lookupById(regions, label.getOrElse(-1L).toString)))
      ctx.tracer.add(Span("click", t0, Util.nowMs(), "", ctx.tracer.runId))
      val wantId = atlas.label((c.z / S).toInt, (c.y / S).toInt, (c.x / S).toInt)
      val r = ontology.find(_.id == wantId).get
      val wantName = s"Region $wantId: ${r.name} (${r.abbr}), level ${r.level}"
      ctx.op(op, None)
      if (!label.contains(wantId)) ctx.wrongAnswer(op, s"label at (${c.z},${c.y},${c.x}) $label != $wantId")
      else if (name != wantName) ctx.wrongAnswer(op, s"name of $wantId '$name' != '$wantName'")
      Some(Timing(openMs, pointMs, nameMs, t0))
    } catch { case e: Exception => ctx.op(op, Some(Util.rootClass(e))); None }
  }

  /** The timed clicks: as many as fill the run time, and at least `MinClicks`. */
  private def loop(all: IndexedSeq[Click], regions: org.apache.spark.sql.DataFrame): Seq[(Click, Timing)] =
    (0 until Util.opCount(ctx.seconds, NominalClickS, MinClicks)).flatMap { n =>
      val c = all((Warmup + n) % all.size)
      click(c, regions).map(c -> _)
    }

  def run(): Unit = {
    ctx.spark
    val setupS = Util.setupMedianS(setup())
    val regions = RegionTable.readCsv(ctx.spark, csv.toString)
    val all = clicks(400)
    all.take(Warmup).foreach(click(_, regions)) // counted as ops, untimed
    val timed = loop(all, regions)
    val ms = timed.map(_._2.ms)
    require(ms.nonEmpty, s"no click succeeded: ${ctx.errors}")
    val (_, bytesI) = Util.treeSize(internal)
    val (_, bytesZ) = Util.treeSize(zarr)
    ctx.report.put("samples", ms.size.toString)
    ctx.report.put("click_ms", ms.map(t => f"$t%.0f").mkString(" "))
    ctx.report.put("ref_plan", refPlan.toString)
    ctx.report.put("zarr_chunks", ZarrChunks.toString)
    ctx.report.put("atlas_regions", atlas.regionCount.toString)
    for ((name, isZarr) <- Seq("internal" -> false, "zarr" -> true)) {
      val xs = timed.filter(_._1.zarrStore == isZarr).map(_._2.ms)
      ctx.report.put(s"${name}_p50_ms", f"${Util.median(xs)}%.1f")
    }
    if (!ctx.trace)
      metrics = Seq(
        ("setup_s", setupS, "s"),
        ("op_p50_ms", Util.median(ms), "ms"),
        ("op_p75_ms", Util.quantile(ms, 0.75), "ms"),
        ("store_mib", (bytesI + bytesZ) / 1048576.0, "MiB"))
    else metrics = Layers.metrics(traced(all, regions, timed.size) +
      ("mem.peak_rss_mib" -> Util.vmHwmMib(ProcessHandle.current().pid())))
  }

  /** Each timed click twice more, once traced and once not, in
    * alternating order: a repeated click runs faster (its generated code
    * is cached), so the order must not favour either side. Gives per-click
    * tasks and executor CPU, the tracing overhead, and the decode CPU of
    * one chunk of each store, whose ratio estimates how many chunks one
    * click decodes.
    */
  private def traced(all: IndexedSeq[Click], regions: org.apache.spark.sql.DataFrame,
      clicks: Int): Map[String, Double] = {
    val pairs = (0 until clicks).map { n =>
      val c = all((Warmup + n) % all.size)
      def tracedClick() = ctx.traced(click(c, regions)).map { t =>
        (c, t, ctx.recorder.stats(t.startMs, t.startMs + t.ms + 1e-3))
      }
      if (n % 2 == 0) { val u = click(c, regions); (u, tracedClick()) }
      else { val t = tracedClick(); (click(c, regions), t) }
    }.collect { case (Some(u), Some(t)) => (u, t) }
    val timed = pairs.map(_._2)
    val untracedMs = pairs.map(_._1.ms)
    val n = timed.size.toDouble
    val decodeMs = Map(true -> decodeCpuMs(zarrStore = true), false -> decodeCpuMs(zarrStore = false))
    val useful = timed.map { case (c, _, s) => math.min(1.0, decodeMs(c.zarrStore) / (s.cpuS * 1e3)) }
    ctx.report.put("decode_cpu_ms_per_chunk",
      f"internal ${decodeMs(false)}%.1f zarr ${decodeMs(true)}%.1f")
    val med = (f: Timing => Double) => Util.median(timed.map(x => f(x._2)))
    val mean = (f: Timing => Double) => timed.map(x => f(x._2)).sum / n
    Layers.sched(timed.map(_._3), ctx.cores) ++ Map(
      "lookup.open_ms" -> med(_.openMs), "lookup.point_ms" -> med(_.pointMs),
      "lookup.tasks_per_click" -> timed.map(_._3.tasks).sum / n,
      "lookup.executor_cpu_ms_per_click" -> timed.map(_._3.cpuS * 1e3).sum / n,
      "lookup.useful_ratio" -> Util.median(useful),
      "ontology.name_ms" -> med(_.nameMs),
      // no self-time check: a click is its three timed calls, so their sum
      // is the click by construction
      "trace.untraced_s" -> untracedMs.sum / n / 1e3,
      "trace.overhead_s" -> (mean(_.ms) - untracedMs.sum / n) / 1e3,
    )
  }

  /** CPU ms to decode one full chunk of a store on this thread (median of 5). */
  private def decodeCpuMs(zarrStore: Boolean): Double = {
    val bean = ManagementFactory.getThreadMXBean
    val xs = (0 until 5).map { _ =>
      val t0 = bean.getCurrentThreadCpuTime
      if (zarrStore) {
        val (zm, _) = ZarrStore.readMeta(zarr.toString)
        zm.codec.decompress(Files.readAllBytes(zarr.resolve("1.0.0")), zm.chunkElems * zm.bpp)
      } else {
        val bytes = Files.readAllBytes(internal.resolve("1.0.0"))
        val h = ChunkStore.readHeader(bytes)
        val data = new Array[Byte](h.rawLen)
        com.github.luben.zstd.Zstd.decompressByteArray(data, 0, h.rawLen, bytes,
          ChunkStore.HeaderBytes, bytes.length - ChunkStore.HeaderBytes)
      }
      (bean.getCurrentThreadCpuTime - t0) / 1e6
    }
    Util.median(xs)
  }
}

object LookupClicks {
  private final case class Click(zarrStore: Boolean, z: Long, y: Long, x: Long)
  private final case class Timing(openMs: Double, pointMs: Double, nameMs: Double, startMs: Double) {
    def ms: Double = openMs + pointMs + nameMs
  }
}
