package graft.volume

import graft.io.{Fio, FioConf, FioRandom}
import org.apache.spark.sql.SparkSession

/** Chunked, out-of-core MHD+RAW reader (S1/S2/S3).
  *
  * The driver parses the header and plans the chunk grid (ChunkPlanner,
  * reference choose_chunks — upscale_streaming.py:59–74); executors then
  * read their chunks with positioned FileChannel reads — a chunk is nz·ny
  * row-runs of nx·bpp bytes, never the whole file (the Spark analog of
  * `np.memmap` + `da.from_array`, upscale_streaming.py:42–57). Big-endian
  * raws (ByteOrderMSB=True) are normalized to little-endian at read, like
  * the reference's `newbyteorder` (upscale_streaming.py:51–53, :82).
  *
  * Chunk indices are generated from `spark.range` — the grid is never
  * collected on the driver, so a 100 TB volume with ~1M chunks plans in
  * O(1) driver memory.
  */
object MhdReader {

  def read(spark: SparkSession, mhdPath: String, targetChunkMb: Int = 128): ChunkVolume = {
    val mhd = MhdMeta.parse(mhdPath)(FioConf.of(spark))
    val (cz, cy, cx) = ChunkPlanner.chooseChunks(mhd.shapeZyx, mhd.bytesPerVoxel, targetChunkMb)
    read(spark, mhd, cz, cy, cx)
  }

  def read(spark: SparkSession, mhd: MhdMeta, chunkZ: Int, chunkY: Int, chunkX: Int): ChunkVolume = {
    val meta = VolumeMeta(
      dimZ = mhd.dimZ, dimY = mhd.dimY, dimX = mhd.dimX,
      chunkZ = chunkZ, chunkY = chunkY, chunkX = chunkX,
      ncz = ((mhd.dimZ + chunkZ - 1) / chunkZ).toInt,
      ncy = ((mhd.dimY + chunkY - 1) / chunkY).toInt,
      ncx = ((mhd.dimX + chunkX - 1) / chunkX).toInt,
      elementType = mhd.elementType,
      spacingX = mhd.spacingXyz._1, spacingY = mhd.spacingXyz._2, spacingZ = mhd.spacingXyz._3)

    implicit val fc: FioConf = FioConf.of(spark)
    val rawPath = mhd.rawPath
    val msb = mhd.byteOrderMsb
    val bpp = meta.bytesPerVoxel
    val (dimZ, dimY, dimX) = (meta.dimZ, meta.dimY, meta.dimX)
    val (ncz, ncy, ncx) = (meta.ncz, meta.ncy, meta.ncx)
    val nChunks = ncz.toLong * ncy * ncx

    import spark.implicits._
    val chunks = spark.range(nChunks).mapPartitions { ids =>
      // one open stream per task, positioned reads per chunk row-run;
      // closed unconditionally at task end: hasNext-exhaustion alone would
      // leak the handle on a partially consumed scan (.limit, task abort)
      var raf: FioRandom = null
      Option(org.apache.spark.TaskContext.get()).foreach(_.addTaskCompletionListener[Unit] { _ =>
        if (raf != null) { raf.close(); raf = null }
      })
      def handle() = {
        if (raf == null) raf = Fio.openRandom(rawPath)
        raf
      }
      val it = ids.map { id =>
        val cz = (id / (ncy.toLong * ncx)).toInt
        val cy = ((id / ncx) % ncy).toInt
        val cx = (id % ncx).toInt
        val z0 = cz.toLong * chunkZ; val y0 = cy.toLong * chunkY; val x0 = cx.toLong * chunkX
        val nz = math.min(chunkZ.toLong, dimZ - z0).toInt
        val ny = math.min(chunkY.toLong, dimY - y0).toInt
        val nx = math.min(chunkX.toLong, dimX - x0).toInt
        val data = new Array[Byte](nz * ny * nx * bpp)
        val ch = handle()
        val rowBytes = nx * bpp
        // contiguity fast paths (bytes identical, fewer positioned reads):
        // a full-plane chunk is ONE source run; a full-x chunk is one run
        // per z. 410k 2 KB row reads on a cold page cache measured as the
        // dominant ambient-sensitive cost of the ×15 scan (r21).
        if (x0 == 0L && nx.toLong == dimX && y0 == 0L && ny.toLong == dimY) {
          ch.readFully(z0 * dimY * dimX * bpp, data, 0, nz * ny * rowBytes)
        } else if (x0 == 0L && nx.toLong == dimX) {
          var z = 0
          while (z < nz) {
            ch.readFully((((z0 + z) * dimY + y0) * dimX) * bpp,
              data, z * ny * rowBytes, ny * rowBytes)
            z += 1
          }
        } else {
          var z = 0
          while (z < nz) {
            var y = 0
            while (y < ny) {
              val srcOff = (((z0 + z) * dimY + (y0 + y)) * dimX + x0) * bpp
              ch.readFully(srcOff, data, (z * ny + y) * rowBytes, rowBytes)
              y += 1
            }
            z += 1
          }
        }
        if (msb) ChunkKernels.swapEndianInPlace(data, bpp)
        Chunk(cz, cy, cx, z0, y0, x0, nz, ny, nx, data)
      }
      // close the channel when the iterator is exhausted
      new Iterator[Chunk] {
        def hasNext: Boolean = {
          val h = it.hasNext
          if (!h && raf != null) { raf.close(); raf = null }
          h
        }
        def next(): Chunk = it.next()
      }
    }
    ChunkVolume(chunks, meta)
  }

  /** Fused read → ×s nearest-neighbor upscale with CHILD-SLAB task
    * granularity: the task unit is (input chunk, child z-index) — nChunks·s
    * units instead of nChunks — and each task reads ONLY the 1–2 source
    * rows its child slab maps back onto (positioned row-run reads, the
    * same I/O primitive as [[read]]).
    *
    * Why this exists (guide §2.6 — stragglers and idle capacity): the
    * composed `read(...).upscale(s)` plan carries whole chunks through
    * whole tasks, and with near-equal per-chunk work the scheduler
    * quantizes into rigid waves — the ×15 headline measured 32 tasks
    * (range default parallelism) of 1–2 chunks each at 86.9% core
    * occupancy, idling ~13% of the encode-dominated wall (ProfWaveR21,
    * r21). Slab units are ~s× finer and pack tightly at any core count.
    * Output chunks, bytes and metadata are IDENTICAL to
    * `read(...).upscale(s, reuseChildBuffers)` (UpscaleSlabSpec pins both
    * the child set and whole stores through every sink); only the task
    * decomposition changes. Task count is capped scale-adaptively (32×
    * defaultParallelism) so a 100 TB volume never plans millions of
    * single-slab tasks — above the cap each task walks several slabs.
    *
    * `reuseChildBuffers` has the [[ChunkVolume.upscale]] contract: opt in
    * only when the downstream is a strictly-streaming consumer.
    */
  def readUpscaled(spark: SparkSession, mhd: MhdMeta, chunkZ: Int, chunkY: Int,
      chunkX: Int, s: Int, reuseChildBuffers: Boolean = false): ChunkVolume = {
    require(s >= 1, s"scale must be >= 1, got $s")
    if (s == 1) return read(spark, mhd, chunkZ, chunkY, chunkX)
    val inMeta = VolumeMeta(
      dimZ = mhd.dimZ, dimY = mhd.dimY, dimX = mhd.dimX,
      chunkZ = chunkZ, chunkY = chunkY, chunkX = chunkX,
      ncz = ((mhd.dimZ + chunkZ - 1) / chunkZ).toInt,
      ncy = ((mhd.dimY + chunkY - 1) / chunkY).toInt,
      ncx = ((mhd.dimX + chunkX - 1) / chunkX).toInt,
      elementType = mhd.elementType,
      spacingX = mhd.spacingXyz._1, spacingY = mhd.spacingXyz._2, spacingZ = mhd.spacingXyz._3)
    implicit val fc: FioConf = FioConf.of(spark)
    val rawPath = mhd.rawPath
    val msb = mhd.byteOrderMsb
    val bpp = inMeta.bytesPerVoxel
    val (dimZ, dimY, dimX) = (inMeta.dimZ, inMeta.dimY, inMeta.dimX)
    val (ncz, ncy, ncx) = (inMeta.ncz, inMeta.ncy, inMeta.ncx)
    val nChunks = ncz.toLong * ncy * ncx
    val nUnits = nChunks * s
    val parts = math.min(nUnits,
      math.max(1, spark.sparkContext.defaultParallelism.toLong * 32)).toInt

    import spark.implicits._
    val chunks = spark.range(0, nUnits, 1, parts).mapPartitions { ids =>
      var raf: FioRandom = null
      // closed at task end, as in read()
      Option(org.apache.spark.TaskContext.get()).foreach(_.addTaskCompletionListener[Unit] { _ =>
        if (raf != null) { raf.close(); raf = null }
      })
      def handle() = {
        if (raf == null) raf = Fio.openRandom(rawPath)
        raf
      }
      val it = ids.flatMap { unit =>
        val id = unit / s // input chunk id, same decode as read()
        val i = (unit % s).toInt // child z-index within the chunk
        val cz = (id / (ncy.toLong * ncx)).toInt
        val cy = ((id / ncx) % ncy).toInt
        val cx = (id % ncx).toInt
        val z0 = cz.toLong * chunkZ; val y0 = cy.toLong * chunkY; val x0 = cx.toLong * chunkX
        val nz = math.min(chunkZ.toLong, dimZ - z0).toInt
        val ny = math.min(chunkY.toLong, dimY - y0).toInt
        val nx = math.min(chunkX.toLong, dimX - x0).toInt
        // source z rows child-i touches: ⌊i·nz/s⌋ .. ⌊((i+1)·nz − 1)/s⌋
        val zLo = i * nz / s
        val zHi = ((i + 1) * nz - 1) / s
        val slabNz = zHi - zLo + 1
        val rowBytes = nx * bpp
        val slab = new Array[Byte](slabNz * ny * rowBytes)
        val ch = handle()
        // same contiguity fast paths as read(): full-plane slab = ONE read
        if (x0 == 0L && nx.toLong == dimX && y0 == 0L && ny.toLong == dimY) {
          ch.readFully((z0 + zLo) * dimY * dimX * bpp, slab, 0, slabNz * ny * rowBytes)
        } else if (x0 == 0L && nx.toLong == dimX) {
          var z = 0
          while (z < slabNz) {
            ch.readFully((((z0 + zLo + z) * dimY + y0) * dimX) * bpp,
              slab, z * ny * rowBytes, ny * rowBytes)
            z += 1
          }
        } else {
          var z = 0
          while (z < slabNz) {
            var y = 0
            while (y < ny) {
              val srcOff = (((z0 + zLo + z) * dimY + (y0 + y)) * dimX + x0) * bpp
              ch.readFully(srcOff, slab, (z * ny + y) * rowBytes, rowBytes)
              y += 1
            }
            z += 1
          }
        }
        if (msb) ChunkKernels.swapEndianInPlace(slab, bpp)
        ChunkKernels.upscaleChildrenSlab(slab, zLo, nz, ny, nx, bpp, s,
          iLo = i, iHi = i + 1, reuse = reuseChildBuffers).map {
          case (ci, j, k, child) =>
            Chunk(
              cz * s + ci, cy * s + j, cx * s + k,
              z0 * s + ci.toLong * nz, y0 * s + j.toLong * ny, x0 * s + k.toLong * nx,
              nz, ny, nx, child)
        }
      }
      new Iterator[Chunk] {
        def hasNext: Boolean = {
          val h = it.hasNext
          if (!h && raf != null) { raf.close(); raf = null }
          h
        }
        def next(): Chunk = it.next()
      }
    }
    ChunkVolume(chunks, inMeta.copy(
      dimZ = dimZ * s, dimY = dimY * s, dimX = dimX * s,
      ncz = ncz * s, ncy = ncy * s, ncx = ncx * s))
  }
}
