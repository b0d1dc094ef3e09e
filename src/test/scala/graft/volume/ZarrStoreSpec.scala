package graft.volume

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** Spec-compliance and round-trip tests for the zarr v2 DirectoryStore
  * (the reference's on-disk format: upscale_streaming.py:103–127).
  */
class ZarrStoreSpec extends AnyFunSuite with SparkSpec {

  private val (dz, dy, dx) = (7L, 6L, 5L)

  // deterministic voxels, deliberately non-aligned (3,4,2) chunk grid so
  // every axis has a padded edge chunk
  private lazy val vox = {
    val s = spark
    s.range(dz * dy * dx).selectExpr(
      s"id div ${dy * dx} as z",
      s"(id div $dx) % $dy as y",
      s"id % $dx as x",
      s"(id * 7) % 250 as label")
  }
  private lazy val vol = ChunkVolume.fromVoxels(vox, dz, dy, dx, 3, 4, 2)

  private def collectVox(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long, Long)] =
    df.select("z", "y", "x", "label").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(identity).toSeq

  test(".zarray metadata is byte-level zarr v2 for uint32") {
    val dir = Files.createTempDirectory("zarr").toString + "/a.zarr"
    ZarrStore.write(vol, dir, ZarrStore.Zlib(5))
    val zarray = Files.readString(Paths.get(dir, ".zarray"))
    // golden: every REQUIRED zarr v2 array-metadata key, exact values
    assert(zarray ===
      """{
        |    "zarr_format": 2,
        |    "shape": [7, 6, 5],
        |    "chunks": [3, 4, 2],
        |    "dtype": "<u4",
        |    "compressor": {"id": "zlib", "level": 5},
        |    "fill_value": 0,
        |    "order": "C",
        |    "filters": null,
        |    "dimension_separator": "."
        |}""".stripMargin)
    // chunk files named z.y.x over the full ceil-div grid
    val names = Files.list(Paths.get(dir)).toArray.map(_.toString.split("/").last).toSet
    assert(names.contains("0.0.0") && names.contains("2.1.2"))
    assert(names.count(_.matches("\\d+\\.\\d+\\.\\d+")) === 3 * 2 * 3)
    // every chunk file decompresses to the FULL chunk shape (edge padded)
    val full = 3 * 4 * 2 * 4
    for (n <- names if n.matches("\\d+\\.\\d+\\.\\d+")) {
      val raw = ZarrStore.Zlib(5).decompress(Files.readAllBytes(Paths.get(dir, n)), full)
      assert(raw.length === full, s"chunk $n not padded to full shape")
    }
  }

  test("parseZarray: spec fields, defaults, and unsupported-codec guard") {
    val m = ZarrStore.parseZarray(
      """{"zarr_format": 2, "shape": [10, 20, 30], "chunks": [5, 5, 5],
         "dtype": ">u2", "compressor": null, "fill_value": 7, "order": "C",
         "filters": null}""")
    assert(m.shape === Seq(10L, 20L, 30L))
    assert(m.chunks === Seq(5, 5, 5))
    assert(m.bigEndian && m.bpp === 2 && m.elementType === "MET_USHORT")
    assert(m.codec === ZarrStore.Raw && m.fillValue === 7L)
    assert(m.dimSeparator === ".") // spec default when absent
    val e = intercept[IllegalArgumentException] {
      ZarrStore.parseZarray(
        """{"zarr_format": 2, "shape": [1,1,1], "chunks": [1,1,1], "dtype": "<u4",
           "compressor": {"id": "blosc", "cname": "snappy", "clevel": 5, "shuffle": 1},
           "fill_value": 0, "order": "C", "filters": null}""")
    }
    assert(e.getMessage.contains("snappy"))
    // bitshuffle (the reference CLI's default) now parses
    val mb = ZarrStore.parseZarray(
      """{"zarr_format": 2, "shape": [1,1,1], "chunks": [1,1,1], "dtype": "<u4",
         "compressor": {"id": "blosc", "cname": "zstd", "clevel": 5, "shuffle": 2},
         "fill_value": 0, "order": "C", "filters": null}""")
    assert(mb.codec === ZarrStore.BloscCodec("zstd", 5, 2))
  }

  test("round-trip through raw, zlib, zstd, and blosc codecs preserves every voxel") {
    val expect = collectVox(vox)
    for (codec <- Seq(
        ZarrStore.Raw, ZarrStore.Zlib(5), ZarrStore.ZstdCodec(3),
        ZarrStore.Lz4Codec(),
        ZarrStore.BloscCodec("zstd", 5, shuffle = 0),
        ZarrStore.BloscCodec("zstd", 5, shuffle = 1),
        ZarrStore.BloscCodec("zlib", 5, shuffle = 1),
        ZarrStore.BloscCodec("zstd", 5, shuffle = 2), // reference --compressor zstd
        ZarrStore.BloscCodec("lz4", 5, shuffle = 2))) { // reference --compressor lz4
      val dir = Files.createTempDirectory("zarr").toString + "/c.zarr"
      ZarrStore.write(vol, dir, codec)
      val back = ZarrStore.read(spark, dir)
      assert(back.meta.dimZ === dz && back.meta.chunkZ === 3)
      assert(back.meta.elementType === "MET_UINT")
      assert(collectVox(back.toVoxels) === expect, s"codec $codec")
    }
  }

  test("blosc: container metadata round-trips; multi-block + stored blocks; every (codec, shuffle)") {
    val m = ZarrStore.parseZarray(
      """{"zarr_format": 2, "shape": [4, 4, 4], "chunks": [2, 2, 2], "dtype": "<u4",
         "compressor": {"id": "blosc", "cname": "zstd", "clevel": 7, "shuffle": 1, "blocksize": 0},
         "fill_value": 0, "order": "C", "filters": null}""")
    assert(m.codec === ZarrStore.BloscCodec("zstd", 7, 1))
    // incompressible data exercises the stored-block (csize == neblock)
    // path; lz4 at 64 KiB/t=4 also exercises c-blosc block SPLITTING
    val rnd = new scala.util.Random(7)
    val noise = Array.fill[Byte](64 * 1024)(rnd.nextInt().toByte)
    for (sh <- Seq(-1, 0, 1, 2); cn <- Seq("zstd", "zlib", "lz4"); t <- Seq(1, 2, 4, 8)) {
      val c = ZarrStore.BloscCodec(cn, 5, sh, typesize = t)
      assert(c.decompress(c.compress(noise), noise.length).toSeq === noise.toSeq, s"$cn/$sh/$t")
    }
    // compressible data larger than one block (forces the multi-block path)
    for (cn <- Seq("zstd", "lz4"); sh <- Seq(1, 2)) {
      val big = Array.tabulate[Byte](9 << 20)(i => (i % 251).toByte)
      val c = ZarrStore.BloscCodec(cn, 3, sh, typesize = 4)
      assert(java.util.Arrays.equals(c.decompress(c.compress(big), big.length), big), s"$cn/$sh")
    }
    // ragged tails: lengths not divisible by typesize·8 exercise the
    // verbatim-copy remainders of both shuffles and the leftover block
    for (len <- Seq(1, 7, 31, 4093); sh <- Seq(1, 2); t <- Seq(3, 4)) {
      val odd = Array.tabulate[Byte](len)(i => ((i * 17) % 251).toByte)
      val c = ZarrStore.BloscCodec("lz4", 5, sh, typesize = t)
      assert(c.decompress(c.compress(odd), odd.length).toSeq === odd.toSeq, s"len=$len/$sh/$t")
    }
  }

  test("bitshuffle kernel: matches the naive bit-matrix transpose; involution; tail verbatim") {
    val rnd = new scala.util.Random(11)
    // independent naive reference: out[(k*8+j)*(m/8)+q] bit r = bit j of
    // element (8q+r)'s byte k — the published bitshuffle layout
    def naive(src: Array[Byte], t: Int): Array[Byte] = {
      val len = src.length
      val n = len / t
      val m = n - n % 8
      val out = new Array[Byte](len)
      val rowB = m / 8
      for (k <- 0 until t; j <- 0 until 8; q <- 0 until rowB) {
        var b = 0
        for (r <- 0 until 8) {
          val bit = (src((8 * q + r) * t + k) >> j) & 1
          b |= bit << r
        }
        out((k * 8 + j) * rowB + q) = b.toByte
      }
      for (i <- m * t until len) out(i) = src(i)
      out
    }
    for (t <- Seq(1, 2, 3, 4, 8); len <- Seq(0, 5, t * 8, t * 8 * 5, t * 8 * 5 + t * 3 + 1)) {
      val src = Array.fill[Byte](len)(rnd.nextInt().toByte)
      val fwd = ZarrStore.BitShuffle.shuffle(src, 0, len, t)
      assert(fwd.toSeq === naive(src, t).toSeq, s"t=$t len=$len forward")
      assert(ZarrStore.BitShuffle.unshuffle(fwd, len, t).toSeq === src.toSeq, s"t=$t len=$len inverse")
    }
  }

  test("float dtype (<f4) round-trips through zarr bit-exactly") {
    import spark.implicits._
    // a MET_FLOAT volume built directly from packed float chunks
    val (fz, fy, fx) = (4, 3, 5)
    val meta = VolumeMeta(fz, fy, fx, 2, 3, 5, 2, 1, 1, "MET_FLOAT", 1.0, 1.0, 1.0)
    def mkChunk(cz: Int, z0: Long, nz: Int): Chunk = {
      val data = new Array[Byte](nz * fy * fx * 4)
      val bb = java.nio.ByteBuffer.wrap(data).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      for (z <- 0 until nz; y <- 0 until fy; x <- 0 until fx)
        bb.putFloat((((z0 + z) * fy + y) * fx + x) * 0.25f)
      Chunk(cz, 0, 0, z0, 0, 0, nz, fy, fx, data)
    }
    val fvol = ChunkVolume(spark.createDataset(Seq(mkChunk(0, 0, 2), mkChunk(1, 2, 2))), meta)
    val dir = Files.createTempDirectory("zarr").toString + "/f.zarr"
    ZarrStore.write(fvol, dir, ZarrStore.BloscCodec("zstd", 3, shuffle = 1))
    val za = ZarrStore.parseZarray(Files.readString(Paths.get(dir, ".zarray")))
    assert(za.dtype === "<f4" && za.elementType === "MET_FLOAT")
    val back = ZarrStore.read(spark, dir)
    assert(back.meta.elementType === "MET_FLOAT")
    val got = back.toVoxelsDouble.collect()
      .map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)), r.getDouble(3))).toMap
    for (z <- 0 until fz; y <- 0 until fy; x <- 0 until fx)
      assert(got((z.toLong, y.toLong, x.toLong)) === ((z * fy + y) * fx + x) * 0.25)
  }

  test("absent chunk file decodes as fill_value per the spec") {
    val dir = Files.createTempDirectory("zarr").toString + "/m.zarr"
    ZarrStore.write(vol, dir, ZarrStore.Zlib(5))
    Files.delete(Paths.get(dir, "0.0.0"))
    val backMap = collectVox(ZarrStore.read(spark, dir).toVoxels)
      .map { case (z, y, x, l) => (z, y, x) -> l }.toMap
    for (((z, y, x, l)) <- collectVox(vox)) {
      val inDeleted = z < 3 && y < 4 && x < 2
      assert(backMap((z, y, x)) === (if (inDeleted) 0L else l))
    }
  }

  test("big-endian dtype tag: reader byte-swaps >u4 chunks") {
    val dir = Files.createTempDirectory("zarr").toString + "/be.zarr"
    ZarrStore.write(vol, dir, ZarrStore.Raw)
    // flip the store to big-endian out-of-band: swap payload bytes + dtype tag
    for (p <- Files.list(Paths.get(dir)).toArray.map(_.asInstanceOf[java.nio.file.Path])
         if p.getFileName.toString.matches("\\d+\\.\\d+\\.\\d+")) {
      val b = Files.readAllBytes(p)
      ZarrStore.byteSwap(b, 4)
      Files.write(p, b)
    }
    val za = Files.readString(Paths.get(dir, ".zarray")).replace("\"<u4\"", "\">u4\"")
    Files.writeString(Paths.get(dir, ".zarray"), za)
    val back = ZarrStore.read(spark, dir)
    assert(back.meta.elementType === "MET_UINT")
    assert(collectVox(back.toVoxels) === collectVox(vox))
  }

  test("point lookups match brute force: fill_value chunk, big-endian, v3, out of bounds; no Exchange") {
    val orig = collectVox(vox).map { case (z, y, x, l) => (z, y, x) -> l }.toMap
    // absent chunk file → fill_value (set non-zero so the fill is visible)
    val absent = Files.createTempDirectory("zarr").toString + "/fill.zarr"
    ZarrStore.write(vol, absent, ZarrStore.Zlib(5))
    Files.delete(Paths.get(absent, "1.0.1"))
    val za = Files.readString(Paths.get(absent, ".zarray"))
    Files.writeString(Paths.get(absent, ".zarray"), za.replace("\"fill_value\": 0", "\"fill_value\": 9"))
    def expectFill(z: Long, y: Long, x: Long) =
      if (z / 3 == 1 && y / 4 == 0 && x / 2 == 1) 9L else orig((z, y, x))
    // big-endian: payload bytes swapped and the dtype tag flipped
    val be = Files.createTempDirectory("zarr").toString + "/be.zarr"
    ZarrStore.write(vol, be, ZarrStore.Raw)
    for (p <- Files.list(Paths.get(be)).toArray.map(_.asInstanceOf[java.nio.file.Path])
         if p.getFileName.toString.matches("\\d+\\.\\d+\\.\\d+")) {
      val b = Files.readAllBytes(p)
      ZarrStore.byteSwap(b, 4)
      Files.write(p, b)
    }
    Files.writeString(Paths.get(be, ".zarray"),
      Files.readString(Paths.get(be, ".zarray")).replace("\"<u4\"", "\">u4\""))
    val v3 = Files.createTempDirectory("zarr3").toString + "/a.zarr"
    Zarr3Store.write(vol, v3, ZarrStore.ZstdCodec())
    val stores = Seq(
      ("fill", ZarrStore.read(spark, absent), expectFill _),
      ("big-endian", ZarrStore.read(spark, be), (z: Long, y: Long, x: Long) => orig((z, y, x))),
      ("v3", Zarr3Store.read(spark, v3), (z: Long, y: Long, x: Long) => orig((z, y, x))))
    for ((name, store, want) <- stores) {
      assert(graft.plans.PlanAudit.shuffleExchanges(store.chunks.toDF()) === 0, name)
      for (z <- 0L until dz; y <- Seq(0L, dy - 1); x <- 0L until dx)
        assert(store.pointLookup(z, y, x) === Some(want(z, y, x)), s"$name voxel ($z,$y,$x)")
      for ((z, y, x) <- Seq((dz, 0L, 0L), (0L, dy, 0L), (0L, 0L, dx), (0L, -1L, 0L)))
        assert(store.pointLookup(z, y, x) === None, s"$name voxel ($z,$y,$x)")
    }
  }

  test("format(\"zarr\") DSv2 WRITE: chunk frame → save → bit-exact read-back; append reuses metadata") {
    val dir = Files.createTempDirectory("zarr_w").toString + "/w.zarr"
    val expect = collectVox(vol.toVoxels)
    vol.chunks.toDF().write.format("zarr")
      .option("dimZ", dz).option("dimY", dy).option("dimX", dx)
      .option("chunkZ", 3).option("chunkY", 4).option("chunkX", 2)
      .option("elementType", vol.meta.elementType)
      .option("compressor", "blosc-zstd")
      .mode("overwrite").save(dir)
    val za = ZarrStore.parseZarray(Files.readString(Paths.get(dir, ".zarray")))
    assert(za.codec === ZarrStore.BloscCodec("zstd"))
    assert(collectVox(ZarrStore.read(spark, dir).toVoxels) === expect)
    // append: existing .zarray wins, no geometry options needed; chunk
    // re-lands are idempotent per coordinate
    vol.chunks.toDF().write.format("zarr").mode("append").save(dir)
    assert(collectVox(ZarrStore.read(spark, dir).toVoxels) === expect)
    // a NEW store without geometry options fails loudly
    val e = intercept[Exception] {
      vol.chunks.toDF().write.format("zarr").mode("overwrite")
        .save(Files.createTempDirectory("zarr_w2").toString + "/nope.zarr")
    }
    assert(e.getMessage != null)
  }

  test("format(\"zarr\") DSv2: reads the grid; coordinate filters prune partitions") {
    val dir = Files.createTempDirectory("zarr").toString + "/d.zarr"
    ZarrStore.write(vol, dir, ZarrStore.ZstdCodec(3))
    // maxPartitionBytes=1 → one partition per chunk: per-chunk PRUNING is
    // what this test pins down (packing is exercised separately below)
    val df = spark.read.format("zarr").option("maxPartitionBytes", 1).load(dir)
    assert(df.rdd.getNumPartitions === 3 * 2 * 3) // full grid, one per chunk
    val one = df.filter(col("cz") === 1 && col("cy") === 0 && col("cx") === 0)
    assert(one.rdd.getNumPartitions === 1) // point query plans ONE chunk
    assert(one.count() === 1)
    val slab = df.filter(col("cz") === 2)
    assert(slab.rdd.getNumPartitions === 2 * 3)
    // decode parity with the library reader, through DEFAULT (packed) scan
    import spark.implicits._
    val (_, meta) = ZarrStore.readMeta(dir)
    val viaDsv2 = ChunkVolume(spark.read.format("zarr").load(dir).as[Chunk], meta).toVoxels
    assert(collectVox(viaDsv2) === collectVox(vox))
  }

  test("DSv2 scan packs chunks per InputPartition to the byte target") {
    val dir = Files.createTempDirectory("zarr").toString + "/packed.zarr"
    // aligned grid: 8 uniform chunks of 2*8*8 uint32 = 2048 B payload each
    val (pz, py, px) = (16L, 8L, 8L)
    val pvox = spark.range(pz * py * px).selectExpr(
      s"id div ${py * px} as z", s"(id div $px) % $py as y",
      s"id % $px as x", "id % 97 as label")
    val pvol = ChunkVolume.fromVoxels(pvox, pz, py, px, 2, 8, 8)
    ZarrStore.write(pvol, dir, ZarrStore.ZstdCodec(3))
    val chunkB = 2L * 8 * 8 * pvol.meta.bytesPerVoxel
    def parts(target: Long): Int = spark.read.format("zarr")
      .option("maxPartitionBytes", target).load(dir).rdd.getNumPartitions
    // uniform chunks → exactly ceil(n / floor(target / chunkBytes))
    assert(parts(chunkB) === 8)
    assert(parts(chunkB * 3) === 3) // ceil(8/3)
    assert(parts(chunkB * 4) === 2)
    // default ~128 MB target swallows the whole tiny store in ONE task
    val packed = spark.read.format("zarr").load(dir)
    assert(packed.rdd.getNumPartitions === 1)
    // a point lookup still plans exactly one single-chunk partition at the
    // default target (pruning runs before packing)
    val one = packed.filter(col("cz") === 3 && col("cy") === 0 && col("cx") === 0)
    assert(one.rdd.getNumPartitions === 1)
    assert(one.count() === 1)
    // packed read is content-identical to the per-chunk read
    assert(packed.select(sum(length(col("data"))), sum(expr("cz*100 + z0"))).collect().head ===
      spark.read.format("zarr").option("maxPartitionBytes", 1).load(dir)
        .select(sum(length(col("data"))), sum(expr("cz*100 + z0"))).collect().head)
  }

  test("PyramidWriter emits a real OME-Zarr group: .zgroup + zarr array levels") {
    val dir = Files.createTempDirectory("zarr").toString + "/ome.zarr"
    PyramidWriter.write(vol, levels = 2, dir, upscaleFactor = 1)
    assert(Files.readString(Paths.get(dir, ".zgroup")).contains("\"zarr_format\": 2"))
    val l0 = ZarrStore.parseZarray(Files.readString(Paths.get(dir, "0", ".zarray")))
    assert(l0.shape === Seq(dz, dy, dx) && l0.dtype === "<u4")
    val l1 = ZarrStore.parseZarray(Files.readString(Paths.get(dir, "1", ".zarray")))
    assert(l1.shape === Seq((dz + 1) / 2, (dy + 1) / 2, (dx + 1) / 2))
    assert(Files.readString(Paths.get(dir, ".zattrs")).contains("\"multiscales\""))
    val back = PyramidWriter.readLevel(spark, dir, 1)
    assert(collectVox(back.toVoxels) === collectVox(vol.decimate().toVoxels))
    // consolidated metadata (.zmetadata): format tag + every group doc
    // present and identical to its on-disk source (what
    // zarr.open_consolidated would read)
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val zmeta = JsonMethods.parse(Files.readString(Paths.get(dir, ".zmetadata")))
    assert((zmeta \ "zarr_consolidated_format") === JInt(1))
    val md = (zmeta \ "metadata").asInstanceOf[JObject].obj.toMap
    for (key <- Seq(".zgroup", ".zattrs", "0/.zarray", "0/.zattrs", "1/.zarray")) {
      assert(md.contains(key), s"consolidated metadata missing $key")
      assert(md(key) === JsonMethods.parse(
        Files.readString(Paths.get(dir, key.split('/').toSeq: _*))),
        s"consolidated $key differs from the on-disk document")
    }
  }

  test("openGroup parses the pyramid group via .zmetadata AND via .zgroup/.zattrs fallback") {
    val dir = Files.createTempDirectory("zarr").toString + "/ome.zarr"
    PyramidWriter.write(vol, levels = 2, dir, upscaleFactor = 2)
    // consolidated path
    val g = PyramidWriter.openGroup(dir)
    assert(g.levels === 2)
    assert(g.levelPaths === Seq("0", "1"))
    assert(g.name === "labels")
    // scale_zyx(i) = spacing(z,y,x) * 2^i / upscaleFactor; vol spacing is
    // 1.0 here, so level 0 = 0.5, level 1 = 1.0 per axis
    assert(g.scalesZyx === Seq(Seq(0.5, 0.5, 0.5), Seq(1.0, 1.0, 1.0)))
    // fallback path: same parse without consolidated metadata
    Files.delete(Paths.get(dir, ".zmetadata"))
    assert(PyramidWriter.openGroup(dir) === g)
    // readLevel resolves THROUGH the metadata and bounds-checks it
    val back = PyramidWriter.readLevel(spark, dir, 1)
    assert(collectVox(back.toVoxels) === collectVox(vol.decimate().toVoxels))
    val oob = intercept[IllegalArgumentException] { PyramidWriter.readLevel(spark, dir, 2) }
    assert(oob.getMessage.contains("declares 2 levels"))
    // a bare zarr array is NOT a pyramid group: named error, no guessing
    val arr = Files.createTempDirectory("zarr").toString + "/bare"
    ZarrStore.write(vol, arr, ZarrStore.ZstdCodec())
    val notGroup = intercept[IllegalArgumentException] { PyramidWriter.openGroup(arr) }
    assert(notGroup.getMessage.contains(".zgroup"))
  }
}
