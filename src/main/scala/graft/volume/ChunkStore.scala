package graft.volume

import graft.io.{Fio, FioConf}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.api.java.UDF6
import org.apache.spark.sql.functions.col
import com.github.luben.zstd.Zstd
import java.nio.{ByteBuffer, ByteOrder}

/** Zarr-style chunked directory store (K1/K2): one compressed file per
  * chunk at `path/cz.cy.cx`, written directly from executor tasks with
  * zstd — the high-throughput volume sink, mirroring the reference's
  * `zarr.DirectoryStore` + Blosc-zstd layout (upscale_streaming.py:103–127)
  * without parquet's page/dictionary machinery in the hot path.
  * (The parquet chunk table, [[ChunkVolume.write]], remains the
  * SQL-queryable interop format.)
  *
  * Chunk file layout (v2, 64-byte little-endian header + zstd payload):
  * magic "GCS2"; z0 y0 x0 (i64); nz ny nx (i32); raw payload length (i32);
  * label min/max (i64, widened) — a per-chunk VALUE index, so "which
  * chunks contain label X" resolves from header peeks alone, no
  * decompression (min > max marks stats-absent, e.g. float volumes).
  * Volume metadata travels in the usual JSON sidecar.
  */
object ChunkStore {

  val Magic = 0x32534347 // "GCS2" little-endian
  val HeaderBytes = 64

  /** Consolidated per-chunk stats index: ONE driver read replaces N
    * 64-byte header peeks at planning time (at ~1M chunks, one file vs 1M
    * sequential opens). Text lines `cz.cy.cx lmin lmax z0 y0 x0 nz ny nx`
    * (format 2; format-1 lines stop after `lmax`, so their chunks' boxes
    * come from header peeks). Chunk files stay self-describing (the header
    * remains the fallback + per-task truth).
    */
  val StatsIndexName = ".graft_stats"

  final case class Header(
      z0: Long, y0: Long, x0: Long,
      nz: Int, ny: Int, nx: Int,
      rawLen: Int, lmin: Long, lmax: Long)

  def readHeader(bytes: Array[Byte]): Header = {
    val buf = ByteBuffer.wrap(bytes, 0, HeaderBytes).order(ByteOrder.LITTLE_ENDIAN)
    require(buf.getInt == Magic, "not a GCS2 chunk file")
    Header(buf.getLong, buf.getLong, buf.getLong,
      buf.getInt, buf.getInt, buf.getInt, buf.getInt, buf.getLong, buf.getLong)
  }

  /** Overwrite semantics like the reference's rmtree, but ATOMIC and
    * without an O(files) driver delete (same [[AtomicDir]] protocol as
    * ZarrStore.write): the new store stages in a temp sibling and
    * publishes with O(1) renames, so a crashed overwrite can never leave
    * a mixed old/new store behind the old sidecar.
    */
  def write(vol: ChunkVolume, path: String, level: Int = 1,
      extraProvenance: Map[String, String] = Map.empty): Unit = {
    implicit val fc: FioConf = FioConf.of(vol.chunks.sparkSession)
    val dest = Fio.qualify(path)
    AtomicDir.sweepLeftovers(dest)
    val dir = AtomicDir.tempSibling(dest)
    Fio.mkdirs(dir)
    try {
      appendChunks(vol.chunks, dir, vol.meta, level)
      ChunkVolume.writeSidecar(dir, vol.meta, extraProvenance)
    } catch { case e: Throwable => AtomicDir.deleteInBackground(dir); throw e }
    AtomicDir.publish(dir, dest)
  }

  /** Append chunk files into an existing store (same file format, no
    * delete, no sidecar) — the incremental-ingest building block used by
    * the streaming path; a chunk re-appearing overwrites its own file
    * (idempotent per chunk coordinate). Each task returns its chunks'
    * boxes and label ranges, which merge into the consolidated
    * [[StatsIndexName]] index — stats ride back as the job result, so the
    * driver never re-reads what executors just wrote.
    */
  /** Stateful per-task chunk encoder: compresses and writes one GCS2
    * chunk file per call (reusing one compression buffer — multi-MB
    * chunks would otherwise churn 2 humongous allocations each through
    * the GC) and returns the chunk's stats-index entry.
    * Shared by [[appendChunks]] and the DSv2 write path.
    */
  private[graft] final class ChunkFileEncoder(pathStr: String, meta: VolumeMeta, level: Int)(
      implicit fc: FioConf) extends Serializable {
    private val bpp = meta.bytesPerVoxel
    private val unsigned = meta.isUnsigned
    private val integral = !meta.isFloating
    private var dst: Array[Byte] = null

    def encode(c: Chunk): Peek = {
      val bound = Zstd.compressBound(c.data.length.toLong).toInt
      if (dst == null || dst.length < bound) dst = ByteKernels.allocBytes(bound)
      // reused native context (the static compress entry builds and frees
      // a native zstd context per chunk — measurable at ~200k chunks)
      val n = ZarrStore.BloscCodec.scratch.get().zctx(level)
        .compressByteArray(dst, 0, dst.length, c.data, 0, c.data.length).toInt
      // per-chunk label stats (the value index); min>max = absent.
      // ByteKernels.minMax widens one element per load — the per-byte
      // decodeLong fold was ~1/3 of the ×15 internal-sink encode stage.
      var lmin = Long.MaxValue
      var lmax = Long.MinValue
      if (integral) {
        val mm = ByteKernels.minMax(c.data, c.nz * c.ny * c.nx, bpp, unsigned)
        lmin = mm(0)
        lmax = mm(1)
      } else { lmin = 1L; lmax = 0L }
      val buf = ByteBuffer.allocate(HeaderBytes).order(ByteOrder.LITTLE_ENDIAN)
      buf.putInt(Magic)
      buf.putLong(c.z0).putLong(c.y0).putLong(c.x0)
        .putInt(c.nz).putInt(c.ny).putInt(c.nx).putInt(c.data.length)
        .putLong(lmin).putLong(lmax)
      val out = Fio.createStream(Fio.child(pathStr, s"${c.cz}.${c.cy}.${c.cx}"))
      try { out.write(buf.array()); out.write(dst, 0, n) } finally out.close()
      Peek(c.cz, c.cy, c.cx, c.z0, c.y0, c.x0, c.nz, c.ny, c.nx, lmin, lmax)
    }
  }

  def appendChunks(chunks: Dataset[Chunk], path: String, meta: VolumeMeta, level: Int = 1): Unit = {
    implicit val fc: FioConf = FioConf.of(chunks.sparkSession)
    val pathStr = Fio.qualify(path)
    Fio.mkdirs(pathStr)
    import chunks.sparkSession.implicits._
    val stats = chunks.mapPartitions { (it: Iterator[Chunk]) =>
      val enc = new ChunkFileEncoder(pathStr, meta, level)
      it.map(enc.encode)
    }.collect() // ~100 B per chunk: 1M chunks ≈ 100 MB on the driver, once per write
    mergeStatsIndex(pathStr, stats)
  }

  /** Merge entries into the stats index atomically (re-appended coords
    * take the newest entry; format-1 lines of older writers are kept).
    */
  private[graft] def mergeStatsIndex(pathStr: String, entries: Seq[Peek])(
      implicit fc: FioConf): Unit = {
    val merged = readIndexLines(pathStr).getOrElse(Map.empty) ++ entries.map(e => e.name -> e.indexLine)
    val tmp = Fio.child(pathStr, StatsIndexName + ".tmp")
    val body = merged.toSeq.sorted.map(_._2).mkString("GRAFT_STATS 2\n", "\n", "\n")
    Fio.writeString(tmp, body)
    Fio.renameOverwrite(tmp, Fio.child(pathStr, StatsIndexName))
  }

  /** The stats index's lines by chunk name, if the index is present. */
  private def readIndexLines(pathStr: String)(implicit fc: FioConf): Option[Map[String, String]] = {
    val body = Fio.readStringIfExists(Fio.child(pathStr, StatsIndexName))
    if (body.isEmpty) return None
    val lines = body.get.split("\n", -1).toSeq
    if (lines.isEmpty || !Set("GRAFT_STATS 1", "GRAFT_STATS 2")(lines.head)) return None
    Some(lines.drop(1).filter(_.nonEmpty).map(l => l.takeWhile(_ != ' ') -> l).toMap)
  }

  /** One index line's label range, and its chunk's full entry when the
    * line records the box (format 2).
    */
  private def parseLine(line: String): (Long, Long, Option[Peek]) = {
    val f = line.split(" ")
    val (lmin, lmax) = (f(1).toLong, f(2).toLong)
    val peek = if (f.length < 9) None else {
      val Array(cz, cy, cx) = f(0).split("\\.").map(_.toInt)
      Some(Peek(cz, cy, cx, f(3).toLong, f(4).toLong, f(5).toLong,
        f(6).toInt, f(7).toInt, f(8).toInt, lmin, lmax))
    }
    (lmin, lmax, peek)
  }

  /** The consolidated stats index, if present: name -> (lmin, lmax). */
  def readStatsIndex(pathStr: String)(implicit fc: FioConf): Option[Map[String, (Long, Long)]] =
    readIndexLines(pathStr).map(_.map { case (n, l) =>
      val (lmin, lmax, _) = parseLine(l)
      n -> (lmin, lmax)
    })

  private[volume] def chunkFileNames(pathStr: String)(implicit fc: FioConf): Seq[String] =
    Fio.listNames(pathStr)
      .filter(_.matches("\\d+\\.\\d+\\.\\d+"))

  private[volume] def decodeFile(pathStr: String, name: String)(implicit fc: FioConf): Array[Byte] = {
    val bytes = Fio.readAllBytes(Fio.child(pathStr, name))
    val h = readHeader(bytes)
    val data = new Array[Byte](h.rawLen)
    Zstd.decompressByteArray(data, 0, h.rawLen, bytes, HeaderBytes, bytes.length - HeaderBytes)
    data
  }

  /** A chunk's descriptor and label range, as its header records them. */
  final case class Peek(
      cz: Int, cy: Int, cx: Int, z0: Long, y0: Long, x0: Long,
      nz: Int, ny: Int, nx: Int, lmin: Long, lmax: Long) {
    def name: String = s"$cz.$cy.$cx"
    def indexLine: String = s"$name $lmin $lmax $z0 $y0 $x0 $nz $ny $nx"
  }

  /** One descriptor row per chunk file plus the header's label range
    * (`lmin`, `lmax`). Ragged edge chunks do not start on `c·chunkZ`, so
    * only the header knows their box: the stats index records it at
    * write time, and a chunk the index does not cover is peeked (64-byte
    * header read) in the scan's tasks. The driver-side rows ride in an RDD
    * with one slice per core, so no action re-reads a file to find its box.
    */
  private def descriptors(spark: SparkSession, pathStr: String, names: Seq[String],
      index: Map[String, String])(implicit fc: FioConf): Dataset[Peek] = {
    import spark.implicits._
    val rows = names.map(n => (n, index.get(n).flatMap(parseLine(_)._3)))
    val peeked = spark.sparkContext.parallelize(rows, StoreScan.slices(spark, rows.size))
      .mapPartitions { it =>
        val hdr = new Array[Byte](HeaderBytes)
        it.map {
          case (_, Some(p)) => p
          case (name, None) =>
            val in = Fio.openStream(Fio.child(pathStr, name))
            try in.readFully(0L, hdr) finally in.close()
            val h = readHeader(hdr)
            val Array(cz, cy, cx) = name.split("\\.").map(_.toInt)
            Peek(cz, cy, cx, h.z0, h.y0, h.x0, h.nz, h.ny, h.nx, h.lmin, h.lmax)
        }
      }
    spark.createDataset(peeked)
  }

  /** The file's own header gives the payload length, so the box is unused. */
  private def decoder(pathStr: String)(implicit fc: FioConf): UDF6[Int, Int, Int, Int, Int, Int, Array[Byte]] =
    (cz, cy, cx, _, _, _) => decodeFile(pathStr, s"$cz.$cy.$cx")

  def read(spark: SparkSession, path: String): ChunkVolume = {
    implicit val fc: FioConf = FioConf.of(spark)
    val meta = ChunkVolume.readSidecar(path)
    val pathStr = Fio.qualify(path)
    val index = readIndexLines(pathStr).getOrElse(Map.empty)
    val desc = descriptors(spark, pathStr, chunkFileNames(pathStr), index)
    ChunkVolume(StoreScan.decodeLate(desc)(decoder(pathStr)), meta)
  }

  /** "Which chunks contain label X, and how often?" — candidates from ONE
    * read of the consolidated stats index when present (else every chunk
    * file), then the header's label range as a descriptor predicate that
    * the optimizer pushes below the decode: only chunks whose range holds
    * X decompress for the exact count (the region-location query,
    * value-indexed: lookup_test2.py's semantics over a whole store).
    */
  def findLabel(spark: SparkSession, path: String, label: Long): DataFrame = {
    implicit val fc: FioConf = FioConf.of(spark)
    val meta = ChunkVolume.readSidecar(path)
    require(!meta.isFloating, "findLabel requires an integral element type")
    val bpp = meta.bytesPerVoxel
    val unsigned = meta.isUnsigned
    val pathStr = Fio.qualify(path)
    val index = readIndexLines(pathStr).getOrElse(Map.empty)
    val candidateNames = chunkFileNames(pathStr).filter { name =>
      index.get(name).forall { l => val (lo, hi, _) = parseLine(l); lo <= label && label <= hi }
    }
    val desc = descriptors(spark, pathStr, candidateNames, index)
      .filter(col("lmin") <= label && col("lmax") >= label)
    import spark.implicits._
    StoreScan.decodeLate(desc)(decoder(pathStr))
      .map { c =>
        var n = 0L
        var i = 0
        while (i < c.nz * c.ny * c.nx) {
          if (ChunkKernels.decodeLong(c.data, i, bpp, unsigned) == label) n += 1
          i += 1
        }
        (c.cz, c.cy, c.cx, n)
      }
      .toDF("cz", "cy", "cx", "n_occurrences")
      .filter(col("n_occurrences") > 0)
  }
}
