package graft.volume

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** End-to-end invariants of the chunked representation (FIXTURES.md §1):
  * label preservation under upscale, s³ count multiplication, value-set
  * equality, pyramid decimation algebra, outline parity with the long form,
  * round-trips, and the MHD/RAW reader incl. big-endian raws.
  */
class ChunkVolumeSpec extends AnyFunSuite with SparkSpec {

  private val (dz, dy, dx) = (12L, 10L, 14L)

  /** Dense fixture grid with blobby labels (real region-id range). */
  private def vox: DataFrame =
    spark.range(dz * dy * dx).select(
      expr(s"id div ${dy * dx}").as("z"),
      expr(s"(id div $dx) % $dy").as("y"),
      expr(s"id % $dx").as("x"),
      expr(s"15564 + (id div ${dy * dx}) div 3 * 100 + ((id div $dx) % $dy) div 4 * 10 + (id % $dx) div 5").as("label"),
    )

  private def vol: ChunkVolume = ChunkVolume.fromVoxels(vox, dz, dy, dx, 5, 4, 6)

  private def collectVox(df: DataFrame): Map[(Long, Long, Long), Long] =
    df.collect().map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)), r.getLong(3))).toMap

  test("fromVoxels → toVoxels is the identity on a dense grid") {
    val back = collectVox(vol.toVoxels)
    val orig = collectVox(vox)
    assert(back === orig)
  }

  test("upscale: label preservation at mapped coords, s^3 count, value set (s=2,3)") {
    val orig = collectVox(vox)
    for (s <- Seq(2, 3)) {
      val up = collectVox(vol.upscale(s).toVoxels)
      assert(up.size === orig.size * s * s * s)
      // verify_labels.py generalized: EVERY source voxel survives at (s·z..)
      for (((z, y, x), l) <- orig) {
        assert(up((z * s, y * s, x * s)) === l)
        // and the whole s³ block carries the same label
        assert(up((z * s + s - 1, y * s + s - 1, x * s + s - 1)) === l)
      }
      assert(up.values.toSet === orig.values.toSet)
    }
  }

  test("pyramid: level i+1 (z,y,x) == level i (2z,2y,2x)") {
    val pyr = vol.pyramid(3).map(v => collectVox(v.toVoxels))
    for (i <- 0 until 2; ((z, y, x), l) <- pyr(i + 1)) {
      assert(pyr(i)((z * 2, y * 2, x * 2)) === l)
    }
    assert(pyr(1).size === ((dz + 1) / 2) * ((dy + 1) / 2) * ((dx + 1) / 2))
  }

  test("outline: chunk-form halo exchange matches the long-form self-join") {
    val chunkForm = collectVox(vol.outline().toVoxels)
    val longForm = VoxelOps.outline(vox, dz, dy, dx)
      .collect().map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)), r.getLong(3))).toMap
    assert(chunkForm === longForm)
  }

  test("write → read round-trip with sidecar; pointLookup hits single chunks") {
    val dir = Files.createTempDirectory("chunkstore").toString + "/vol"
    vol.write(dir, Map("source" -> "fixture"))
    val back = ChunkVolume.read(spark, dir)
    assert(back.meta === vol.meta)
    assert(collectVox(back.toVoxels) === collectVox(vox))
    val orig = collectVox(vox)
    for (p <- Seq((0L, 0L, 0L), (11L, 9L, 13L), (6L, 5L, 7L))) {
      assert(back.pointLookup(p._1, p._2, p._3) === Some(orig(p)))
    }
    assert(back.pointLookup(99L, 0L, 0L) === None)
  }

  test("MhdReader: chunked RAW read, little- and big-endian, matches expected voxels") {
    val dir = Files.createTempDirectory("mhdfix")
    val (nz, ny, nx) = (6, 5, 7)
    def label(z: Int, y: Int, x: Int): Long = 15564L + z * 100 + y * 10 + x
    // little-endian u32 raw in C-order (z,y,x)
    val le = new Array[Byte](nz * ny * nx * 4)
    for (z <- 0 until nz; y <- 0 until ny; x <- 0 until nx)
      ChunkKernels.encodeLong(label(z, y, x), le, (z * ny + y) * nx + x, 4)
    val be = le.clone(); ChunkKernels.swapEndianInPlace(be, 4)
    Files.write(dir.resolve("vol_le.raw"), le)
    Files.write(dir.resolve("vol_be.raw"), be)
    def header(raw: String, msb: Boolean): String =
      s"""ObjectType = Image
         |NDims = 3
         |DimSize = $nx $ny $nz
         |ElementType = MET_UINT
         |ElementSpacing = 25.0 25.0 25.0
         |ByteOrderMSB = ${if (msb) "True" else "False"}
         |ElementDataFile = $raw
         |""".stripMargin
    Files.writeString(dir.resolve("vol_le.mhd"), header("vol_le.raw", msb = false))
    Files.writeString(dir.resolve("vol_be.mhd"), header("vol_be.raw", msb = true))

    for (name <- Seq("vol_le.mhd", "vol_be.mhd")) {
      val meta = MhdMeta.parse(dir.resolve(name).toString)
      val v = MhdReader.read(spark, meta, chunkZ = 4, chunkY = 3, chunkX = 5)
      assert(v.meta.ncz === 2 && v.meta.ncy === 2 && v.meta.ncx === 2)
      val got = collectVox(v.toVoxels)
      assert(got.size === nz * ny * nx)
      for (z <- 0 until nz; y <- 0 until ny; x <- 0 until nx)
        assert(got((z.toLong, y.toLong, x.toLong)) === label(z, y, x), s"$name voxel($z,$y,$x)")
    }
  }

  test("float dtypes: MET_FLOAT volume reads and decodes as doubles") {
    val dir = Files.createTempDirectory("floatvol")
    val (nz, ny, nx) = (3, 4, 5)
    val raw = java.nio.ByteBuffer.allocate(nz * ny * nx * 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    for (z <- 0 until nz; y <- 0 until ny; x <- 0 until nx)
      raw.putFloat(z * 1.5f + y * 0.25f + x * 0.125f)
    Files.write(dir.resolve("f.raw"), raw.array())
    Files.writeString(dir.resolve("f.mhd"),
      s"DimSize = $nx $ny $nz\nElementType = MET_FLOAT\nElementDataFile = f.raw\n")
    val v = MhdReader.read(spark, MhdMeta.parse(dir.resolve("f.mhd").toString), 2, 3, 3)
    assert(v.meta.isFloating)
    intercept[IllegalArgumentException](v.toVoxels)
    val got = v.toVoxelsDouble.collect()
      .map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)), r.getDouble(3))).toMap
    assert(got.size === nz * ny * nx)
    for (z <- 0 until nz; y <- 0 until ny; x <- 0 until nx)
      assert(got((z.toLong, y.toLong, x.toLong)) === (z * 1.5f + y * 0.25f + x * 0.125f).toDouble)
    // byte kernels still work on float payloads (dtype-agnostic): ×2 then decode
    val up = v.upscale(2)
    val upv = up.toVoxelsDouble.collect()
      .map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)), r.getDouble(3))).toMap
    assert(upv((4L, 6L, 8L)) === got((2L, 3L, 4L)))
  }

  test("MhdReader → upscale → chunk store → pruned lookup (the flagship slice)") {
    // SURVEY §7.2: header → chunked scan → ×2 chunk kernel → sink → point
    // lookup at (2z,2y,2x) must equal the source label (verify_labels.py).
    val dir = Files.createTempDirectory("slice")
    val (nz, ny, nx) = (4, 4, 4)
    val raw = new Array[Byte](nz * ny * nx * 2)
    def label(z: Int, y: Int, x: Int): Long = (z * 16 + y * 4 + x).toLong
    for (z <- 0 until nz; y <- 0 until ny; x <- 0 until nx)
      ChunkKernels.encodeLong(label(z, y, x), raw, (z * ny + y) * nx + x, 2)
    Files.write(dir.resolve("s.raw"), raw)
    Files.writeString(dir.resolve("s.mhd"),
      s"DimSize = $nx $ny $nz\nElementType = MET_USHORT\nElementDataFile = s.raw\n")
    val v = MhdReader.read(spark, MhdMeta.parse(dir.resolve("s.mhd").toString), 2, 2, 2)
    val store = dir.toString + "/up2"
    v.upscale(2).write(store)
    val up = ChunkVolume.read(spark, store)
    assert(up.meta.dimZ === 8 && up.meta.elementType === "MET_USHORT")
    assert(up.pointLookup(6, 4, 2) === Some(label(3, 2, 1)))
    assert(up.pointLookup(7, 5, 3) === Some(label(3, 2, 1)))
  }

  test("meanPool: chunk form == voxel form == hand computation, incl. odd-dim edge blocks") {
    // odd dims force volume-edge blocks with 1/2/4-voxel counts; the
    // (3,2,4) chunk grid is non-aligned so blocks straddle chunks too
    val (oz, oy, ox) = (7L, 6L, 5L)
    val oddVox = spark.range(oz * oy * ox).select(
      expr(s"id div ${oy * ox}").as("z"),
      expr(s"(id div $ox) % $oy").as("y"),
      expr(s"id % $ox").as("x"),
      expr(s"(id * 37) % 251").as("label"),
    )
    val oddVol = ChunkVolume.fromVoxels(oddVox, oz, oy, ox, 3, 2, 4)
    val chunkForm = collectVox(oddVol.meanPoolVoxels.orderBy("z", "y", "x"))
    val voxForm = collectVox(VoxelOps.meanPool(oddVox).orderBy("z", "y", "x"))
    // hand computation from the raw voxel map
    val raw = collectVox(oddVox)
    val expect = raw.groupBy { case ((z, y, x), _) => (z / 2, y / 2, x / 2) }
      .map { case (k, vs) => k -> vs.values.sum / vs.size }
    assert(chunkForm.size === ((oz + 1) / 2 * ((oy + 1) / 2) * ((ox + 1) / 2)))
    assert(chunkForm === expect)
    assert(voxForm === expect)
    // edge blocks really are partial: the corner block has exactly 1 voxel
    assert(raw.keys.count { case (z, y, x) => z / 2 == 3 && y / 2 == 2 && x / 2 == 2 } === 2)
  }

  test("maxPool: chunk form == voxel form == hand computation on the odd-dim fixture") {
    val (oz, oy, ox) = (7L, 6L, 5L)
    val oddVox = spark.range(oz * oy * ox).select(
      expr(s"id div ${oy * ox}").as("z"),
      expr(s"(id div $ox) % $oy").as("y"),
      expr(s"id % $ox").as("x"),
      expr(s"(id * 37) % 251").as("label"),
    )
    val oddVol = ChunkVolume.fromVoxels(oddVox, oz, oy, ox, 3, 2, 4)
    val chunkForm = collectVox(oddVol.maxPoolVoxels.orderBy("z", "y", "x"))
    val voxForm = collectVox(VoxelOps.maxPool(oddVox).orderBy("z", "y", "x"))
    val raw = collectVox(oddVox)
    val expect = raw.groupBy { case ((z, y, x), _) => (z / 2, y / 2, x / 2) }
      .map { case (k, vs) => k -> vs.values.max }
    assert(chunkForm === expect)
    assert(voxForm === expect)
    // max differs from mean on at least one straddled block (mode matters)
    val mean = collectVox(oddVol.meanPoolVoxels)
    assert(chunkForm.exists { case (k, v) => mean(k) != v })
  }

  test("boxSum3: chunk halo form == voxel scatter form == hand computation, zero-padded edges") {
    val (oz, oy, ox) = (7L, 6L, 5L)
    val oddVox = spark.range(oz * oy * ox).select(
      expr(s"id div ${oy * ox}").as("z"),
      expr(s"(id div $ox) % $oy").as("y"),
      expr(s"id % $ox").as("x"),
      expr(s"(id * 37) % 251").as("label"),
    )
    // (3,2,4) chunk grid: interior chunk boundaries exercise face, edge
    // AND corner slabs; volume edges exercise the zero padding
    val oddVol = ChunkVolume.fromVoxels(oddVox, oz, oy, ox, 3, 2, 4)
    def collectSum(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)), r.getLong(3))).toMap
    val chunkForm = collectSum(oddVol.boxSumVoxels)
    val voxForm = collectSum(VoxelOps.boxSum3(oddVox, oz, oy, ox))
    val raw = collectVox(oddVox)
    val expect = raw.keys.map { case (z, y, x) =>
      var s = 0L
      for (dz <- -1 to 1; dy <- -1 to 1; dx <- -1 to 1)
        s += raw.getOrElse((z + dz, y + dy, x + dx), 0L)
      (z, y, x) -> s
    }.toMap
    assert(chunkForm.size === (oz * oy * ox))
    assert(chunkForm === expect)
    assert(voxForm === expect)
    // the interior cell really sums 27 values, the corner only 8
    assert(raw.keys.count { case (z, y, x) => z == 0 && y == 0 && x == 0 } === 1)
  }

  test("chunk histogram equals long-form histogram; resize generalizes upscale") {
    val chunkHist = vol.histogram().collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val longHist = VoxelOps.histogram(vol.toVoxels)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(chunkHist === longHist)
    // integer-factor resize == upscale
    val resized = VoxelOps.resizeNearest(vox, (dz, dy, dx), (dz * 2, dy * 2, dx * 2))
      .collect().map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)), r.getLong(3))).toMap
    val upscaled = collectVox(vol.upscale(2).toVoxels)
    assert(resized === upscaled)
    // downscale every axis: the (0,0,0) voxel survives, count = product
    val down = VoxelOps.resizeNearest(vox, (dz, dy, dx), (3L, 5L, 7L)).collect()
    assert(down.length === 3 * 5 * 7)
  }

  test("rechunk: re-blocks to a new uniform grid without touching voxels") {
    val orig = collectVox(vox)
    for ((cz, cy, cx) <- Seq((3, 3, 3), (12, 10, 14), (7, 2, 5))) {
      val r = vol.rechunk(cz, cy, cx)
      assert(r.meta.chunkZ === cz && r.meta.ncz === ((dz + cz - 1) / cz).toInt)
      assert(collectVox(r.toVoxels) === orig)
      // grid is uniform: every chunk origin is a multiple of the chunk dims
      val cs = r.chunks.collect()
      assert(cs.forall(c => c.z0 % cz == 0 && c.y0 % cy == 0 && c.x0 % cx == 0))
      // outline still works on the rechunked grid (adjacency preserved)
      assert(collectVox(r.outline().toVoxels) === collectVox(vol.outline().toVoxels))
    }
  }

  test("ChunkStore: zarr-style directory store round-trip + overwrite") {
    val dir = Files.createTempDirectory("cstore").toString + "/vol"
    ChunkStore.write(vol, dir, extraProvenance = Map("source" -> "fixture"))
    // one file per chunk named cz.cy.cx + sidecar
    val names = Files.list(java.nio.file.Paths.get(dir)).toArray.map(_.toString)
    assert(names.exists(_.endsWith("/0.0.0")))
    assert(names.exists(_.endsWith(ChunkVolume.SidecarName)))
    val back = ChunkStore.read(spark, dir)
    assert(back.meta === vol.meta)
    assert(collectVox(back.toVoxels) === collectVox(vox))
    // overwrite replaces wholesale (reference rmtree semantics)
    ChunkStore.write(vol.decimate(), dir)
    val dec = ChunkStore.read(spark, dir)
    assert(dec.meta.dimZ === (dz + 1) / 2)
    assert(collectVox(dec.toVoxels) === collectVox(vol.decimate().toVoxels))
  }

  test("ChunkStore point lookups on a ragged store match brute force; read plans no Exchange") {
    val dir = Files.createTempDirectory("cstore").toString + "/ragged"
    ChunkStore.write(vol.upscale(2), dir)
    val store = ChunkStore.read(spark, dir)
    // ×2 children of the 2-plane edge chunks are 2 planes thick, so the
    // second starts off the (5,4,6) grid: only the chunk headers know it
    val boxes = store.chunks.select("z0", "nz").collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(boxes.contains((22L, 2)) && boxes.exists(_._1 % store.meta.chunkZ != 0))
    assert(graft.plans.PlanAudit.shuffleExchanges(store.chunks.toDF()) === 0)
    val orig = collectVox(vox)
    val (uz, uy, ux) = (2 * dz, 2 * dy, 2 * dx)
    val rnd = new scala.util.Random(7)
    val pts = Seq((0L, 0L, 0L), (uz - 1, uy - 1, ux - 1), (22L, 17L, 25L), (20L, 0L, 27L)) ++
      Seq.fill(12)((uz - 4 + rnd.nextInt(4).toLong, rnd.nextInt(uy.toInt).toLong, rnd.nextInt(ux.toInt).toLong)) ++
      Seq.fill(12)((rnd.nextInt(uz.toInt).toLong, rnd.nextInt(uy.toInt).toLong, rnd.nextInt(ux.toInt).toLong))
    for ((z, y, x) <- pts)
      assert(store.pointLookup(z, y, x) === Some(orig((z / 2, y / 2, x / 2))), s"voxel ($z,$y,$x)")
    for ((z, y, x) <- Seq((uz, 0L, 0L), (0L, uy, 0L), (0L, 0L, ux), (-1L, 0L, 0L)))
      assert(store.pointLookup(z, y, x) === None, s"voxel ($z,$y,$x)")
    // a box across the ragged edge chunks
    val crop = collectVox(store.cropVoxels(19, 24, 15, 20, 22, 28))
    assert(crop.size === 5 * 5 * 6)
    for (((z, y, x), l) <- crop) assert(l === orig((z / 2, y / 2, x / 2)), s"voxel ($z,$y,$x)")
  }

  test("ChunkStore read takes chunk boxes from the stats index: a point lookup opens one file") {
    val dir = Files.createTempDirectory("cstore").toString + "/indexed"
    ChunkStore.write(vol.upscale(2), dir)
    spark.sparkContext.hadoopConfiguration.set("fs.countfs.impl", classOf[OpenCountingFs].getName)
    spark.sparkContext.hadoopConfiguration.setBoolean("fs.countfs.impl.disable.cache", true)
    val url = "countfs://" + dir
    def opens(f: => Any): Int = { val n0 = OpenCountingFs.opened.get; f; OpenCountingFs.opened.get - n0 }
    val store = ChunkStore.read(spark, url)
    val nChunks = store.chunks.select("cz").count().toInt
    val orig = collectVox(vox)
    assert(opens(assert(store.pointLookup(22, 17, 25) === Some(orig((11, 8, 12))))) === 1)
    assert(opens(store.chunks.select("z0", "nz").collect()) === 0)
    assert(opens(store.toVoxels.count()) === nChunks)
    // an index without boxes (format 1) or none at all: each action peeks
    // every header once, and the ragged boxes are the same
    val boxes = store.chunks.select("cz", "cy", "cx", "z0", "y0", "x0", "nz", "ny", "nx")
      .collect().map(_.toSeq).sortBy(_.mkString(",")).toSeq
    val idx = java.nio.file.Paths.get(dir, ChunkStore.StatsIndexName)
    val v1 = ChunkStore.readStatsIndex(dir).get.toSeq.sorted
      .map { case (n, (lo, hi)) => s"$n $lo $hi" }.mkString("GRAFT_STATS 1\n", "\n", "\n")
    for (index <- Seq(Some(v1), None)) {
      index match { case Some(body) => Files.writeString(idx, body); case None => Files.delete(idx) }
      val peeked = ChunkStore.read(spark, url)
      assert(opens(assert(peeked.pointLookup(22, 17, 25) === Some(orig((11, 8, 12))))) === nChunks + 1)
      assert(peeked.chunks.select("cz", "cy", "cx", "z0", "y0", "x0", "nz", "ny", "nx")
        .collect().map(_.toSeq).sortBy(_.mkString(",")).toSeq === boxes)
    }
  }

  test("MhdReader: 200 point lookups and 200 partial scans close every handle they open") {
    val dir = Files.createTempDirectory("mhdfd")
    val (nz, ny, nx) = (6, 5, 7)
    val raw = new Array[Byte](nz * ny * nx * 4)
    for (i <- 0 until nz * ny * nx) ChunkKernels.encodeLong(15564L + i, raw, i, 4)
    Files.write(dir.resolve("v.raw"), raw)
    Files.writeString(dir.resolve("v.mhd"),
      s"""ObjectType = Image
         |NDims = 3
         |DimSize = $nx $ny $nz
         |ElementType = MET_UINT
         |ElementDataFile = v.raw
         |""".stripMargin)
    // read through a file system that counts its open input streams: a
    // leaked stream is garbage the JVM may close on its own at any GC, so
    // the descriptor count alone cannot be trusted to show a leak
    spark.sparkContext.hadoopConfiguration.set("fs.countfs.impl", classOf[OpenCountingFs].getName)
    spark.sparkContext.hadoopConfiguration.setBoolean("fs.countfs.impl.disable.cache", true)
    val meta = MhdMeta.parse("countfs://" + dir.resolve("v.mhd"))(graft.io.FioConf.of(spark))
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.UnixOperatingSystemMXBean]
    def round(k: Int): Unit = {
      val (z, y, x) = (k % nz, k % ny, k % nx)
      val want = 15564L + (z * ny + y) * nx + x
      val (vol, s) = if (k % 2 == 0) (MhdReader.read(spark, meta, 1, 1, nx), 1L)
        else (MhdReader.readUpscaled(spark, meta, 1, 1, nx, 2), 2L)
      assert(vol.pointLookup(s * z, s * y, s * x) === Some(want))
      // a scan that stops after its first chunk: the task ends before its
      // iterator (several chunks, or one unit's several children) is exhausted
      assert(vol.chunks.take(1).length === 1)
    }
    (0 until 20).foreach(round)
    val before = os.getOpenFileDescriptorCount
    (0 until 200).foreach(round)
    val grown = os.getOpenFileDescriptorCount - before
    assert(OpenCountingFs.open.get === 0, "input streams left open")
    assert(grown < 20, s"open descriptors grew by $grown over 200 rounds")
  }

  test("PyramidWriter: levels on disk + OME multiscales metadata") {
    val dir = Files.createTempDirectory("pyr").toString + "/ome"
    PyramidWriter.write(vol, levels = 3, dir, upscaleFactor = 2)
    val attrs = Files.readString(java.nio.file.Paths.get(dir, ".zattrs"))
    assert(attrs.contains("\"multiscales\""))
    assert(attrs.contains("\"image-label\": true"))
    // spacing 1.0, upscale 2 → level scales 0.5, 1.0, 2.0 (z,y,x equal here)
    assert(attrs.contains("[0.5, 0.5, 0.5]"))
    assert(attrs.contains("[2.0, 2.0, 2.0]"))
    val l1 = PyramidWriter.readLevel(spark, dir, 1)
    assert(l1.meta.dimZ === (dz + 1) / 2)
    val expect = collectVox(vol.decimate().toVoxels)
    assert(collectVox(l1.toVoxels) === expect)
  }
}

/** The local file system under the `countfs` scheme, counting the input
  * streams it has opened and not yet closed.
  */
class OpenCountingFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  import org.apache.hadoop.fs.{FSDataInputStream, Path}
  override def getUri: java.net.URI = java.net.URI.create("countfs:///")
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    val in = super.open(f, bufferSize)
    OpenCountingFs.open.incrementAndGet()
    OpenCountingFs.opened.incrementAndGet()
    val closed = new java.util.concurrent.atomic.AtomicBoolean(false)
    new FSDataInputStream(in.getWrappedStream) {
      override def close(): Unit = {
        super.close()
        if (closed.compareAndSet(false, true)) OpenCountingFs.open.decrementAndGet()
      }
    }
  }
}

object OpenCountingFs {
  val open = new java.util.concurrent.atomic.AtomicInteger // streams open now
  val opened = new java.util.concurrent.atomic.AtomicInteger // streams ever opened
}
