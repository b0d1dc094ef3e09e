package graft.volume

import graft.io.{Fio, FioConf}
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods
import java.io.ByteArrayOutputStream
import java.util.zip.{Deflater, Inflater}

/** Spec-compliant Zarr v2 DirectoryStore — the reference's actual on-disk
  * world (`zarr.DirectoryStore` writes in upscale_streaming.py:103–127,
  * `da.from_zarr` reads in verify_labels.py:15 / view_upscaled.py:11):
  *
  *  - `.zarray` JSON metadata (zarr_format 2, C order, dot separator);
  *  - one file per chunk named `z.y.x` in chunk-grid coordinates;
  *  - every chunk file holds the FULL chunk shape in C order — edge chunks
  *    are padded with `fill_value` on write and trimmed on read;
  *  - a chunk file may be absent, meaning "entirely fill_value";
  *  - codecs: raw (`compressor: null`), numcodecs `zlib` (RFC-1950 via
  *    java.util.zip), numcodecs `zstd` (plain zstd frames), numcodecs
  *    `lz4` (4-byte length header + raw LZ4 block), and the numcodecs
  *    `blosc` C-Blosc v1 container with zlib/zstd/lz4 inner codecs and
  *    shuffle none/byte/bit — including the reference CLI's default
  *    output format, Blosc(zstd|lz4, BITSHUFFLE)
  *    (upscale_streaming.py:103–108; see [[BloscCodec]], [[BitShuffle]]).
  *  - dtype tags with explicit endianness (`<u4`, `>u4`, `|u1`, …): the
  *    writer emits little-endian (chunk payloads are LE in memory), the
  *    reader byte-swaps big-endian arrays on decode.
  *
  * This store is interop-first; the sibling [[ChunkStore]] (GCS2 headers
  * with per-chunk label stats) remains the value-indexed internal format.
  */
object ZarrStore {

  /** MET element type -> little-endian zarr dtype tag. */
  val DtypeOf: Map[String, String] = Map(
    "MET_UCHAR" -> "|u1", "MET_CHAR" -> "|i1",
    "MET_USHORT" -> "<u2", "MET_SHORT" -> "<i2",
    "MET_UINT" -> "<u4", "MET_INT" -> "<i4",
    "MET_FLOAT" -> "<f4", "MET_DOUBLE" -> "<f8",
  )
  private val MetOf: Map[String, String] = DtypeOf.map { case (k, v) => v.substring(1) -> k }

  sealed trait Codec {
    def id: Option[String]
    def compress(src: Array[Byte]): Array[Byte]
    def decompress(src: Array[Byte], rawLen: Int): Array[Byte]
  }

  case object Raw extends Codec {
    val id: Option[String] = None
    def compress(src: Array[Byte]): Array[Byte] = src
    def decompress(src: Array[Byte], rawLen: Int): Array[Byte] = src
  }

  /** numcodecs `zlib`: RFC-1950 stream, exactly python zlib.compress. */
  final case class Zlib(level: Int = 5) extends Codec {
    val id: Option[String] = Some("zlib")
    def compress(src: Array[Byte]): Array[Byte] = {
      val d = new Deflater(level)
      try {
        d.setInput(src); d.finish()
        val out = new ByteArrayOutputStream(math.max(64, src.length / 4))
        val buf = new Array[Byte](64 * 1024)
        while (!d.finished()) out.write(buf, 0, d.deflate(buf))
        out.toByteArray
      } finally d.end()
    }
    def decompress(src: Array[Byte], rawLen: Int): Array[Byte] = {
      val inf = new Inflater()
      try {
        inf.setInput(src)
        val out = new Array[Byte](rawLen)
        var off = 0
        while (off < rawLen && !inf.finished()) off += inf.inflate(out, off, rawLen - off)
        require(off == rawLen, s"zlib chunk shorter than expected: $off/$rawLen")
        out
      } finally inf.end()
    }
  }

  /** numcodecs `zstd`: plain zstd frames (zstd-jni, already on Spark's
    * classpath for shuffle compression).
    */
  final case class ZstdCodec(level: Int = 3) extends Codec {
    val id: Option[String] = Some("zstd")
    def compress(src: Array[Byte]): Array[Byte] =
      com.github.luben.zstd.Zstd.compress(src, level)
    def decompress(src: Array[Byte], rawLen: Int): Array[Byte] = {
      val out = new Array[Byte](rawLen)
      com.github.luben.zstd.Zstd.decompressByteArray(out, 0, rawLen, src, 0, src.length)
      out
    }
  }

  /** numcodecs `gzip`: RFC-1952 member (header + CRC32), exactly python
    * `gzip.compress` — distinct from `zlib`'s RFC-1950 stream. Also the
    * zarr v3 `gzip` codec ([[Zarr3Store]]).
    */
  final case class GzipCodec(level: Int = 5) extends Codec {
    val id: Option[String] = Some("gzip")
    def compress(src: Array[Byte]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream(src.length / 2 + 64)
      val gz = new java.util.zip.GZIPOutputStream(bos) {
        `def`.setLevel(level)
      }
      gz.write(src); gz.close()
      bos.toByteArray
    }
    def decompress(src: Array[Byte], rawLen: Int): Array[Byte] = {
      val in = new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(src))
      val out = new Array[Byte](rawLen)
      var off = 0
      while (off < rawLen) {
        val r = in.read(out, off, rawLen - off)
        require(r >= 0, s"gzip chunk truncated at $off of $rawLen")
        off += r
      }
      in.close()
      out
    }
  }

  /** numcodecs `lz4`: the standalone (non-blosc) LZ4 codec — a 4-byte LE
    * header holding the uncompressed length, then one raw LZ4 block
    * (numcodecs lz4.pyx `encode`/`decode`). Distinct from the raw
    * headerless blocks used INSIDE the blosc container.
    */
  final case class Lz4Codec(acceleration: Int = 1) extends Codec {
    val id: Option[String] = Some("lz4")
    def compress(src: Array[Byte]): Array[Byte] = {
      val comp = Lz4Block.compress(src)
      val out = java.nio.ByteBuffer.allocate(4 + comp.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      out.putInt(src.length).put(comp)
      out.array()
    }
    def decompress(src: Array[Byte], rawLen: Int): Array[Byte] = {
      val n = java.nio.ByteBuffer.wrap(src).order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt()
      require(n == rawLen, s"lz4 header length $n != expected $rawLen")
      Lz4Block.decompress(src, 4, rawLen)
    }
  }

  /** Raw LZ4 blocks (no frame, no length header) via lz4-java, which Spark
    * already ships for shuffle compression.
    */
  private[volume] case object Lz4Block extends Codec {
    private def factory = net.jpountz.lz4.LZ4Factory.fastestInstance()
    val id: Option[String] = Some("lz4")
    def compress(src: Array[Byte]): Array[Byte] = factory.fastCompressor().compress(src)
    def decompress(src: Array[Byte], rawLen: Int): Array[Byte] =
      decompress(src, 0, rawLen)
    def decompress(src: Array[Byte], off: Int, rawLen: Int): Array[Byte] = {
      val out = new Array[Byte](rawLen)
      factory.fastDecompressor().decompress(src, off, out, 0, rawLen)
      out
    }
  }

  /** The bitshuffle transform (kiyo-masui/bitshuffle, as embedded in
    * c-blosc's `shuffle: 2` mode): view `m` elements of `t` bytes as an
    * (m × t·8) bit matrix and emit its transpose — for each byte position
    * k and bit j, a row of m/8 bytes where byte q packs bit j of elements
    * 8q..8q+7 (element index = bit position, LSB first). c-blosc shuffles
    * only the largest multiple-of-8 element prefix of each block and
    * copies the remainder verbatim (shuffle.c `bitshuffle()` leftover
    * memcpy). Implemented as the reference's three stages (byte transpose,
    * 8×8 bit transpose, row regroup) with stages fused around the
    * Hacker's-Delight 64-bit transpose kernel.
    */
  private[volume] object BitShuffle {
    private def trans8x8(v: Long): Long = {
      var x = v
      var t = (x ^ (x >>> 7)) & 0x00AA00AA00AA00AAL; x = x ^ t ^ (t << 7)
      t = (x ^ (x >>> 14)) & 0x0000CCCC0000CCCCL; x = x ^ t ^ (t << 14)
      t = (x ^ (x >>> 28)) & 0x00000000F0F0F0F0L; x = x ^ t ^ (t << 28)
      x
    }

    def shuffle(src: Array[Byte], off: Int, len: Int, t: Int): Array[Byte] = {
      val out = ByteKernels.allocBytes(len)
      shuffleInto(src, off, len, t, out)
      out
    }

    /** [[shuffle]] into a caller-owned buffer (≥ len; only [0, len) is
      * written) — the hot-loop form: the blosc encoder shuffles one block
      * at a time and a fresh zeroed array per block is a full extra write
      * pass over the volume.
      */
    def shuffleInto(src: Array[Byte], off: Int, len: Int, t: Int, out: Array[Byte]): Unit = {
      val n = len / t
      val m = n - n % 8 // bitshuffle needs a multiple of 8 elements
      if (m > 0) {
        val rowB = m >>> 3
        var k = 0
        while (k < t) {
          // gather byte k of 8 consecutive elements into one little-endian
          // word, 8×8 bit-transpose it, scatter its bytes to the 8 (k,j)
          // bit rows — fully unrolled so the JIT keeps x in a register
          val srcK = off + k
          val o0 = k * 8 * rowB
          val o1 = o0 + rowB; val o2 = o1 + rowB; val o3 = o2 + rowB
          val o4 = o3 + rowB; val o5 = o4 + rowB; val o6 = o5 + rowB; val o7 = o6 + rowB
          val stride8 = t << 3
          var q = 0
          var p = srcK
          while (q < rowB) {
            var x = (src(p) & 0xffL) |
              ((src(p + t) & 0xffL) << 8) |
              ((src(p + 2 * t) & 0xffL) << 16) |
              ((src(p + 3 * t) & 0xffL) << 24) |
              ((src(p + 4 * t) & 0xffL) << 32) |
              ((src(p + 5 * t) & 0xffL) << 40) |
              ((src(p + 6 * t) & 0xffL) << 48) |
              ((src(p + 7 * t) & 0xffL) << 56)
            x = trans8x8(x)
            out(o0 + q) = x.toByte
            out(o1 + q) = (x >>> 8).toByte
            out(o2 + q) = (x >>> 16).toByte
            out(o3 + q) = (x >>> 24).toByte
            out(o4 + q) = (x >>> 32).toByte
            out(o5 + q) = (x >>> 40).toByte
            out(o6 + q) = (x >>> 48).toByte
            out(o7 + q) = (x >>> 56).toByte
            p += stride8
            q += 1
          }
          k += 1
        }
      }
      var i = m * t
      while (i < len) { out(i) = src(off + i); i += 1 }
    }

    def unshuffle(src: Array[Byte], len: Int, t: Int): Array[Byte] = {
      val n = len / t
      val m = n - n % 8
      val out = new Array[Byte](len)
      if (m > 0) {
        val rowB = m >>> 3
        var k = 0
        while (k < t) {
          val outK = k
          val o0 = k * 8 * rowB
          val o1 = o0 + rowB; val o2 = o1 + rowB; val o3 = o2 + rowB
          val o4 = o3 + rowB; val o5 = o4 + rowB; val o6 = o5 + rowB; val o7 = o6 + rowB
          val stride8 = t << 3
          var q = 0
          var p = outK
          while (q < rowB) {
            var x = (src(o0 + q) & 0xffL) |
              ((src(o1 + q) & 0xffL) << 8) |
              ((src(o2 + q) & 0xffL) << 16) |
              ((src(o3 + q) & 0xffL) << 24) |
              ((src(o4 + q) & 0xffL) << 32) |
              ((src(o5 + q) & 0xffL) << 40) |
              ((src(o6 + q) & 0xffL) << 48) |
              ((src(o7 + q) & 0xffL) << 56)
            x = trans8x8(x) // the 8×8 bit transpose is an involution
            out(p) = x.toByte
            out(p + t) = (x >>> 8).toByte
            out(p + 2 * t) = (x >>> 16).toByte
            out(p + 3 * t) = (x >>> 24).toByte
            out(p + 4 * t) = (x >>> 32).toByte
            out(p + 5 * t) = (x >>> 40).toByte
            out(p + 6 * t) = (x >>> 48).toByte
            out(p + 7 * t) = (x >>> 56).toByte
            p += stride8
            q += 1
          }
          k += 1
        }
      }
      var i = m * t
      while (i < len) { out(i) = src(i); i += 1 }
      out
    }
  }

  /** numcodecs `blosc`: the C-Blosc v1 container — 16-byte header
    * (version, versionlz, flags, typesize, nbytes, blocksize, cbytes, all
    * LE), per-block offset table, each block a sequence of
    * `[int32 csize][payload]` streams (csize == stream size marks a
    * stored stream), inner codec zlib/zstd (never split) or lz4 (split
    * into `typesize` streams per c-blosc's `split_block`: format
    * blosclz/lz4 only, typesize ≤ 16, blocksize/typesize ≥ 128, never the
    * leftover block), optional byte shuffle (`1`) or bitshuffle (`2`) per
    * block with the sub-unit remainder copied verbatim. This is what
    * `zarr.DirectoryStore` chunks look like, and the reference's
    * `--compressor zstd` / `lz4` write exactly this container with
    * BITSHUFFLE (upscale_streaming.py:103–108).
    *
    * `shuffle: -1` is numcodecs AUTOSHUFFLE: bitshuffle for 1-byte types,
    * byte shuffle otherwise (resolved against typesize at write time).
    * All shuffle modes are cross-validated against an independent
    * numpy/python implementation (ZarrInteropSpec, ZarrStoreSpec).
    *
    * Default clevel is 3 (r18 A/B on the ×15 headline: zstd-3 beat
    * zstd-5 on every paired rep — medians 95.0 vs 107.7 s — at
    * equal-or-smaller output, 1.1 vs 1.2 GB; PLANS.md "×15 zarr codec").
    * The reference-parity CLI flags (`lz4`, `zstd-bit`) pass clevel 5
    * explicitly, reproducing upscale_streaming.py:103–108 byte-for-byte.
    */
  final case class BloscCodec(
      cname: String = "zstd", clevel: Int = 3, shuffle: Int = 0, typesize: Int = 1)
      extends Codec {
    require(shuffle >= -1 && shuffle <= 2,
      s"blosc shuffle mode $shuffle unsupported (-1=auto, 0=none, 1=byte, 2=bit)")
    require(Set("zstd", "zlib", "lz4", "lz4hc").contains(cname),
      s"blosc inner codec $cname unsupported")
    require(typesize >= 1 && typesize <= 255, s"blosc typesize out of range: $typesize")
    val id: Option[String] = Some("blosc")

    private def inner: Codec = cname match {
      case "zstd" => ZstdCodec(clevel)
      case "zlib" => Zlib(clevel)
      case _ => Lz4Block // raw headerless lz4 blocks inside the container
    }
    // header bits 5-7 (blosc.h *_FORMAT codes; lz4 and lz4hc share 1)
    private def codecFlag: Int = cname match {
      case "zstd" => 4
      case "zlib" => 3
      case _ => 1
    }
    // numcodecs AUTOSHUFFLE resolves against the typesize at write time
    private def effShuffle: Int =
      if (shuffle == -1) { if (typesize == 1) 2 else 1 } else shuffle

    /** typesize drives the byte shuffle; the store sets it from the dtype. */
    private[graft] def withTypesize(t: Int): BloscCodec =
      copy(typesize = math.max(1, math.min(t, 255)))

    def compress(src: Array[Byte]): Array[Byte] = {
      val t = typesize
      val sh = effShuffle
      // one block per typesize·8-aligned MB-scale unit; whole chunk if
      // small (t·8 alignment keeps full blocks bitshuffle-exact: the
      // element count per block is a multiple of 8)
      val blockSize = {
        val target = math.min(src.length, 1 << 22)
        val aligned = target - target % (t * 8)
        if (aligned <= 0) src.length else aligned
      }
      val nBlocks = math.max(1, (src.length + blockSize - 1) / blockSize)
      val headerLen = 16 + 4 * nBlocks
      // All per-block working memory is REUSED thread-local scratch (one
      // shuffled-block buffer, one zstd destination, one payload
      // accumulator, one reused native zstd context): the former
      // alloc-per-block form paid a zeroed multi-MB allocation per 4 MB
      // block — at the ×15 headline's 1.04 TB that is a full extra write
      // pass over the volume in zeroing alone, plus the GC churn of a TB
      // of humongous short-lived arrays (guide §1.2 "per-task work").
      val scr = BloscCodec.scratch.get()
      // worst case per stream is stored-verbatim: 4 + ne bytes; splits
      // only for lz4 (≤ 16), so src.length + 4·(t·nBlocks) bounds it
      val payload = scr.ensurePayload(src.length + 4 * (t * nBlocks) + 16)
      var pLen = 0
      val bstarts = new Array[Int](nBlocks)
      val zstdInner = cname == "zstd"
      var b = 0
      while (b < nBlocks) {
        bstarts(b) = headerLen + pLen
        val off = b * blockSize
        val len = math.min(blockSize, src.length - off)
        // shuffled blocks land in scratch; unshuffled blocks compress
        // straight from `src` at their offset — no copy at all
        var plainArr: Array[Byte] = src
        var plainOff: Int = off
        sh match {
          case 1 =>
            plainArr = scr.ensurePlain(len); plainOff = 0
            ByteKernels.shuffleInto(src, off, len, t, plainArr)
          case 2 =>
            plainArr = scr.ensurePlain(len); plainOff = 0
            BitShuffle.shuffleInto(src, off, len, t, plainArr)
          case _ => ()
        }
        val leftover = len != blockSize
        val nsplits =
          if (!leftover && BloscCodec.splitsBlock(codecFlag, t, blockSize)) t else 1
        val ne = len / nsplits
        var s = 0
        while (s < nsplits) {
          val sOff = plainOff + s * ne
          // compressed stream bytes land in (compArr, 0, compLen);
          // compLen = -1 marks incompressible -> store the raw stream
          var compArr: Array[Byte] = null
          var compLen = -1
          if (zstdInner) {
            val dst = scr.ensureDst(
              com.github.luben.zstd.Zstd.compressBound(ne.toLong).toInt)
            val n = scr.zctx(clevel)
              .compressByteArray(dst, 0, dst.length, plainArr, sOff, ne).toInt
            if (n < ne) { compArr = dst; compLen = n }
          } else {
            val part = java.util.Arrays.copyOfRange(plainArr, sOff, sOff + ne)
            val c = inner.compress(part)
            if (c.length < ne) { compArr = c; compLen = c.length }
          }
          val outLen = if (compLen >= 0) compLen else ne
          // [int32 csize][payload]; csize == ne marks a stored stream
          payload(pLen) = (outLen & 0xff).toByte
          payload(pLen + 1) = ((outLen >> 8) & 0xff).toByte
          payload(pLen + 2) = ((outLen >> 16) & 0xff).toByte
          payload(pLen + 3) = ((outLen >> 24) & 0xff).toByte
          pLen += 4
          if (compLen >= 0) System.arraycopy(compArr, 0, payload, pLen, compLen)
          else System.arraycopy(plainArr, sOff, payload, pLen, ne)
          pLen += outLen
          s += 1
        }
        b += 1
      }
      val total = headerLen + pLen
      val out = ByteKernels.allocBytes(total)
      val buf = java.nio.ByteBuffer.wrap(out).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val flags = (sh match { case 1 => 0x1 case 2 => 0x4 case _ => 0x0 }) | (codecFlag << 5)
      buf.put(2.toByte).put(1.toByte).put(flags.toByte).put(t.toByte)
      buf.putInt(src.length).putInt(blockSize).putInt(total)
      var i = 0
      while (i < nBlocks) { buf.putInt(bstarts(i)); i += 1 }
      System.arraycopy(payload, 0, out, headerLen, pLen)
      out
    }

    def decompress(src: Array[Byte], rawLen: Int): Array[Byte] =
      BloscCodec.decode(src, rawLen)
  }

  object BloscCodec {
    /** Per-thread encoder scratch: one shuffled-block buffer, one zstd
      * destination buffer, one payload accumulator, and one reused native
      * zstd context (the static `Zstd.compress` entry builds and frees a
      * native context per call). Executor task threads are pooled, so the
      * working set is bounded by thread count × ~3 block sizes and lives
      * for the JVM — the per-block allocation churn it replaces was ~2×
      * the volume's logical bytes per sink write.
      */
    private[volume] final class Scratch {
      private var plain: Array[Byte] = Array.emptyByteArray
      private var dst: Array[Byte] = Array.emptyByteArray
      private var payload: Array[Byte] = Array.emptyByteArray
      private var ctx: com.github.luben.zstd.ZstdCompressCtx = null
      private var ctxLevel: Int = Int.MinValue
      def ensurePlain(n: Int): Array[Byte] = {
        if (plain.length < n) plain = ByteKernels.allocBytes(n)
        plain
      }
      def ensureDst(n: Int): Array[Byte] = {
        if (dst.length < n) dst = ByteKernels.allocBytes(n)
        dst
      }
      def ensurePayload(n: Int): Array[Byte] = {
        if (payload.length < n) payload = ByteKernels.allocBytes(n)
        payload
      }
      def zctx(level: Int): com.github.luben.zstd.ZstdCompressCtx = {
        if (ctx == null) ctx = new com.github.luben.zstd.ZstdCompressCtx()
        if (ctxLevel != level) { ctx.setLevel(level); ctxLevel = level }
        ctx
      }
    }
    private[volume] val scratch: ThreadLocal[Scratch] =
      ThreadLocal.withInitial(() => new Scratch)

    /** c-blosc 1.21.x `split_block` (blosc.c): a non-leftover block is
      * split into `typesize` independently-compressed streams iff the
      * codec FORMAT is blosclz (0) or lz4/lz4hc (1) — never the
      * high-compression-ratio codecs zlib/zstd — and typesize ≤
      * MAX_SPLITS (16) and blocksize/typesize ≥ MIN_BUFFERSIZE (128).
      * Both sides recompute this from the chunk header, so writer and
      * reader must agree exactly.
      */
    private[volume] def splitsBlock(codecFormat: Int, t: Int, blockSize: Int): Boolean =
      (codecFormat == 0 || codecFormat == 1) &&
        t <= 16 && t >= 1 && blockSize % t == 0 && blockSize / t >= 128

    /** Decode any C-Blosc v1 buffer with inner codec zlib/zstd/lz4 and
      * shuffle none/byte/bit, independent of the writer's block/split
      * choices.
      */
    def decode(src: Array[Byte], rawLen: Int): Array[Byte] = {
      val buf = java.nio.ByteBuffer.wrap(src).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val version = buf.get() & 0xff
      buf.get() // versionlz
      val flags = buf.get() & 0xff
      val t = buf.get() & 0xff
      val nbytes = buf.getInt()
      val blockSize = buf.getInt()
      buf.getInt() // cbytes
      require(version >= 1, s"bad blosc version $version")
      require(nbytes == rawLen, s"blosc nbytes $nbytes != expected $rawLen")
      val out = new Array[Byte](nbytes)
      if ((flags & 0x2) != 0) { // memcpyed
        System.arraycopy(src, 16, out, 0, nbytes)
        return out
      }
      val format = flags >> 5
      val codec: (Array[Byte], Int, Int, Int) => Array[Byte] = format match {
        case 1 => (b, off, len, n) => Lz4Block.decompress(b, off, n)
        case 3 => (b, off, len, n) => Zlib().decompress(java.util.Arrays.copyOfRange(b, off, off + len), n)
        case 4 => (b, off, len, n) => ZstdCodec().decompress(java.util.Arrays.copyOfRange(b, off, off + len), n)
        case other => throw new IllegalArgumentException(
          s"blosc inner codec id $other unsupported (1=lz4, 3=zlib, 4=zstd)")
      }
      val byteShuffle = (flags & 0x1) != 0
      val bitShuffle = (flags & 0x4) != 0
      require(!(byteShuffle && bitShuffle), "blosc flags set both byte and bit shuffle")
      val nBlocks = math.max(1, (nbytes + blockSize - 1) / blockSize)
      val bstarts = (0 until nBlocks).map(i => buf.getInt(16 + 4 * i))
      var b = 0
      while (b < nBlocks) {
        val off = b * blockSize
        val neblock = math.min(blockSize, nbytes - off)
        val leftover = neblock != blockSize
        val nsplits = if (!leftover && splitsBlock(format, t, blockSize)) t else 1
        val ne = neblock / nsplits
        val plain = new Array[Byte](neblock)
        var p = bstarts(b)
        var s = 0
        while (s < nsplits) {
          val csize = buf.getInt(p)
          val part =
            if (csize == ne) java.util.Arrays.copyOfRange(src, p + 4, p + 4 + ne)
            else codec(src, p + 4, csize, ne)
          System.arraycopy(part, 0, plain, s * ne, ne)
          p += 4 + csize
          s += 1
        }
        val restored =
          if (byteShuffle) {
            val tmp = new Array[Byte](neblock)
            val n = neblock / t
            var k = 0
            while (k < t) {
              var i = 0
              while (i < n) { tmp(i * t + k) = plain(k * n + i); i += 1 }
              k += 1
            }
            var r = n * t
            while (r < neblock) { tmp(r) = plain(r); r += 1 }
            tmp
          } else if (bitShuffle) {
            BitShuffle.unshuffle(plain, neblock, t)
          } else plain
        System.arraycopy(restored, 0, out, off, neblock)
        b += 1
      }
      out
    }
  }

  /** Parsed `.zarray` metadata (shape/chunks in zarr's (z,y,x) row-major
    * order, matching the reference's array axis convention).
    */
  final case class ZarrMeta(
      shape: Seq[Long],
      chunks: Seq[Int],
      dtype: String,
      codec: Codec,
      fillValue: Long,
      dimSeparator: String = ".",
  ) {
    require(shape.length == 3 && chunks.length == 3, "ZarrStore handles 3-D arrays")
    def bigEndian: Boolean = dtype.startsWith(">")
    def bpp: Int = dtype.substring(2).toInt
    def elementType: String = MetOf.getOrElse(
      dtype.substring(1),
      throw new IllegalArgumentException(s"unsupported zarr dtype: $dtype"))
    def gridShape: Seq[Int] =
      shape.zip(chunks).map { case (d, c) => ((d + c - 1) / c).toInt }
    def chunkElems: Int = chunks.product
  }

  /** The exact `.zarray` document. Key order and formatting follow the
    * zarr v2 spec examples (python-zarr accepts any valid JSON; goldens in
    * ZarrStoreSpec pin this form).
    */
  def zarrayJson(m: ZarrMeta): String = {
    val comp = m.codec match {
      case Raw => "null"
      case Zlib(l) => s"""{"id": "zlib", "level": $l}"""
      case GzipCodec(l) => s"""{"id": "gzip", "level": $l}"""
      case ZstdCodec(l) => s"""{"id": "zstd", "level": $l}"""
      case Lz4Codec(a) => s"""{"id": "lz4", "acceleration": $a}"""
      case BloscCodec(cname, clevel, shuffle, _) =>
        s"""{"id": "blosc", "cname": "$cname", "clevel": $clevel, "shuffle": $shuffle, "blocksize": 0}"""
      case Lz4Block => throw new IllegalArgumentException(
        "raw lz4 blocks are a blosc-internal codec, not a zarr compressor")
    }
    s"""{
       |    "zarr_format": 2,
       |    "shape": [${m.shape.mkString(", ")}],
       |    "chunks": [${m.chunks.mkString(", ")}],
       |    "dtype": "${m.dtype}",
       |    "compressor": $comp,
       |    "fill_value": ${m.fillValue},
       |    "order": "C",
       |    "filters": null,
       |    "dimension_separator": "${m.dimSeparator}"
       |}""".stripMargin
  }

  def parseZarray(json: String): ZarrMeta = {
    val v = JsonMethods.parse(json)
    def num(j: JValue): Long = j match {
      case JInt(n) => n.toLong
      case JLong(n) => n
      case JDouble(d) => d.toLong
      case JDecimal(d) => d.toLong
      case JNull => 0L // fill_value null -> 0
      case other => throw new IllegalArgumentException(s"expected number, got $other")
    }
    val JInt(fmt) = v \ "zarr_format"
    require(fmt == 2, s"only zarr v2 supported, got $fmt")
    val JArray(shape) = v \ "shape"
    val JArray(chunks) = v \ "chunks"
    val JString(dtype) = v \ "dtype"
    val JString(order) = v \ "order"
    require(order == "C", s"only C-order arrays supported, got $order")
    v \ "filters" match {
      case JNull | JNothing | JArray(Nil) => ()
      case f => throw new IllegalArgumentException(s"zarr filters unsupported: $f")
    }
    val codec = v \ "compressor" match {
      case JNull | JNothing => Raw
      case comp =>
        val JString(id) = comp \ "id"
        val level = comp \ "level" match { case JNothing => 5 case l => num(l).toInt }
        id match {
          case "zlib" => Zlib(level)
          case "gzip" => GzipCodec(level)
          case "zstd" => ZstdCodec(level)
          case "lz4" =>
            val acc = comp \ "acceleration" match { case JNothing => 1 case a => num(a).toInt }
            Lz4Codec(acc)
          case "blosc" =>
            val JString(cname) = comp \ "cname"
            val clevel = comp \ "clevel" match { case JNothing => 5 case l => num(l).toInt }
            val shuffle = comp \ "shuffle" match { case JNothing => 1 case s => num(s).toInt }
            BloscCodec(cname, clevel, shuffle) // typesize comes from each chunk's header on read
          case other => throw new IllegalArgumentException(s"unsupported zarr codec: $other")
        }
    }
    val sep = v \ "dimension_separator" match { case JString(s) => s case _ => "." }
    ZarrMeta(shape.map(num), chunks.map(num(_).toInt), dtype, codec, num(v \ "fill_value"), sep)
  }

  /** In-place little<->big endian element swap (no-op for bpp == 1). */
  private[volume] def byteSwap(data: Array[Byte], bpp: Int): Unit = {
    if (bpp <= 1) return
    var i = 0
    while (i < data.length) {
      var a = 0; var b = bpp - 1
      while (a < b) {
        val t = data(i + a); data(i + a) = data(i + b); data(i + b) = t
        a += 1; b -= 1
      }
      i += bpp
    }
  }

  private def metaOf(vol: VolumeMeta, codec: Codec): ZarrMeta = ZarrMeta(
    shape = Seq(vol.dimZ, vol.dimY, vol.dimX),
    chunks = Seq(vol.chunkZ, vol.chunkY, vol.chunkX),
    dtype = DtypeOf(vol.elementType),
    codec = codec match {
      case b: BloscCodec => b.withTypesize(vol.bytesPerVoxel)
      case c => c
    },
    fillValue = 0L)

  /** Write a ChunkVolume as a zarr v2 array directory. Chunk files are
    * written straight from executor tasks (the driver only writes the two
    * metadata documents), so the write parallelizes like the reference's
    * dask `to_zarr` and scales with the cluster, not the driver.
    *
    * Overwrite is ALL-OR-NOTHING like the reference's pre-delete+rewrite
    * (upscale_streaming.py:118–127), but via [[AtomicDir]]: the new store
    * is staged in a temp sibling and published with O(1) renames, so a
    * failure leaves the old store untouched and no driver walk ever
    * deletes O(files) synchronously.
    */
  def write(vol: ChunkVolume, path: String, codec: Codec = ZstdCodec(),
      extraAttrs: Map[String, String] = Map.empty): Unit = {
    implicit val fc: FioConf = FioConf.of(vol.chunks.sparkSession)
    val dest = Fio.qualify(path)
    AtomicDir.sweepLeftovers(dest)
    val dir = AtomicDir.tempSibling(dest)
    Fio.mkdirs(dir)
    val zm = metaOf(vol.meta, codec)
    Fio.writeString(Fio.child(dir, ".zarray"), zarrayJson(zm))
    // .zattrs: spacing + provenance (user attrs per the spec; zarr/dask
    // readers ignore unknown keys). Spacing is stored (x,y,z) like MHD's
    // ElementSpacing so round-trips preserve the header convention.
    val attrs = Map(
      "graft:spacing" -> s"[${vol.meta.spacingX}, ${vol.meta.spacingY}, ${vol.meta.spacingZ}]",
      "graft:elementType" -> ChunkVolume.jsonStr(vol.meta.elementType),
    ) ++ extraAttrs.map { case (k, v) => k -> ChunkVolume.jsonStr(v) }
    Fio.writeString(Fio.child(dir, ".zattrs"),
      attrs.toSeq.sortBy(_._1)
        .map { case (k, v) => s"    ${ChunkVolume.jsonStr(k)}: $v" }
        .mkString("{\n", ",\n", "\n}"))
    try writeChunkFiles(vol.chunks, dir, vol.meta, zm.codec)
    catch { case e: Throwable => AtomicDir.deleteInBackground(dir); throw e }
    AtomicDir.publish(dir, dest)
  }

  /** Append chunk files into an existing zarr array directory — the
    * incremental-ingest building block: zarr chunks are independent
    * files, so streaming micro-batches append idempotently (a re-landed
    * chunk coordinate overwrites its own file). Writes the metadata
    * documents on first call.
    */
  def appendChunks(
      chunks: org.apache.spark.sql.Dataset[Chunk],
      path: String,
      meta: VolumeMeta,
      codec: Codec = ZstdCodec()): Unit = {
    implicit val fc: FioConf = FioConf.of(chunks.sparkSession)
    val dir = Fio.qualify(path)
    Fio.mkdirs(dir)
    val zm = metaOf(meta, codec)
    val zarrayPath = Fio.child(dir, ".zarray")
    if (!Fio.exists(zarrayPath)) Fio.writeString(zarrayPath, zarrayJson(zm))
    writeChunkFiles(chunks, dir, meta, zm.codec)
  }

  /** Validate, pad, and compress ONE chunk to its zarr file bytes WITHOUT
    * writing — split from [[encodeChunkFile]] so the bench can isolate
    * codec CPU from file I/O (vol_atlas_x15_stage_encode).
    */
  private[graft] def encodeChunkBytes(c: Chunk, meta: VolumeMeta, codec: Codec): Array[Byte] = {
    val (ckZ, ckY, ckX) = (meta.chunkZ, meta.chunkY, meta.chunkX)
    val bpp = meta.bytesPerVoxel
    // zarr requires a UNIFORM grid (edge chunks trail); reject inputs
    // whose grid drifted (e.g. raw decimate output) instead of
    // silently misplacing voxels — callers rechunk first.
    require(
      c.z0 == c.cz.toLong * ckZ && c.y0 == c.cy.toLong * ckY && c.x0 == c.cx.toLong * ckX
        && c.nz == math.min(ckZ.toLong, meta.dimZ - c.z0).toInt
        && c.ny == math.min(ckY.toLong, meta.dimY - c.y0).toInt
        && c.nx == math.min(ckX.toLong, meta.dimX - c.x0).toInt,
      s"chunk (${c.cz},${c.cy},${c.cx}) at (${c.z0},${c.y0},${c.x0}) size " +
        s"(${c.nz},${c.ny},${c.nx}) is not on the uniform ($ckZ,$ckY,$ckX) grid — " +
        "rechunk before ZarrStore.write")
    val full = c.nz == ckZ && c.ny == ckY && c.nx == ckX
    val payload =
      if (full) c.data
      else { // pad edge chunks to the full chunk shape with fill 0
        val padded = new Array[Byte](ckZ * ckY * ckX * bpp)
        ChunkKernels.placeBox(padded, ckY, ckX, bpp, 0, 0, 0, c.nz, c.ny, c.nx, c.data)
        padded
      }
    codec.compress(payload)
  }

  /** Validate, pad, compress, and write ONE chunk's file — the per-row
    * kernel shared by the Dataset writer and the DSv2 write path.
    */
  private[graft] def encodeChunkFile(
      c: Chunk, pathStr: String, meta: VolumeMeta, codec: Codec)(implicit fc: FioConf): Unit =
    Fio.writeBytes(Fio.child(pathStr, s"${c.cz}.${c.cy}.${c.cx}"), encodeChunkBytes(c, meta, codec))

  /** Create an array directory with its `.zarray` only (no chunks yet) —
    * the driver-side step of the DSv2 write path; executors then land
    * chunk files independently. Returns the effective (zarr, volume)
    * metadata. No-op (returning the EXISTING metadata) if the array is
    * already initialized.
    */
  private[graft] def initArray(path: String, meta: VolumeMeta, codec: Codec)(
      implicit fc: FioConf): (ZarrMeta, VolumeMeta) = {
    val dir = Fio.qualify(path)
    Fio.mkdirs(dir)
    val zarrayPath = Fio.child(dir, ".zarray")
    if (!Fio.exists(zarrayPath))
      Fio.writeString(zarrayPath, zarrayJson(metaOf(meta, codec)))
    readMeta(path)
  }

  private def writeChunkFiles(
      chunks: org.apache.spark.sql.Dataset[Chunk],
      pathStr: String,
      meta: VolumeMeta,
      codec: Codec)(implicit fc: FioConf): Unit =
    chunks.foreachPartition { (it: Iterator[Chunk]) =>
      it.foreach(c => encodeChunkFile(c, pathStr, meta, codec))
    }

  /** Read `.zarray` (+ spacing attr if present) into engine metadata. */
  def readMeta(path: String)(implicit fc: FioConf): (ZarrMeta, VolumeMeta) = {
    val dir = Fio.qualify(path)
    val zm = parseZarray(Fio.readString(Fio.child(dir, ".zarray")))
    val spacing = {
      val re = """"graft:spacing"\s*:\s*\[([^\]]*)\]""".r
      Fio.readStringIfExists(Fio.child(dir, ".zattrs"))
        .flatMap(re.findFirstMatchIn(_))
        .map(_.group(1).split(",").map(_.trim.toDouble))
        .filter(_.length == 3)
        .map(a => (a(0), a(1), a(2)))
        .getOrElse((1.0, 1.0, 1.0))
    }
    val Seq(dz, dy, dx) = zm.shape
    val Seq(cz, cy, cx) = zm.chunks
    val Seq(ncz, ncy, ncx) = zm.gridShape
    val vm = VolumeMeta(dz, dy, dx, cz, cy, cx, ncz, ncy, ncx, zm.elementType,
      spacingX = spacing._1, spacingY = spacing._2, spacingZ = spacing._3)
    (zm, vm)
  }

  /** Decode one chunk file's bytes to the engine's trimmed little-endian
    * payload for grid cell (cz,cy,cx); `None` bytes = absent file =
    * all-fill chunk.
    */
  private[graft] def decodeChunk(
      bytes: Option[Array[Byte]], zm: ZarrMeta, vm: VolumeMeta,
      cz: Int, cy: Int, cx: Int): Chunk = {
    val d = StoreScan.gridBox(vm, cz, cy, cx)
    Chunk(cz, cy, cx, d.z0, d.y0, d.x0, d.nz, d.ny, d.nx,
      decodeData(bytes, zm, vm, cz, cy, cx, d.nz, d.ny, d.nx))
  }

  /** The payload of [[decodeChunk]] for grid cell (cz,cy,cx) whose box,
    * trimmed to the volume, is nz·ny·nx.
    */
  private[graft] def decodeData(
      bytes: Option[Array[Byte]], zm: ZarrMeta, vm: VolumeMeta,
      cz: Int, cy: Int, cx: Int, nz: Int, ny: Int, nx: Int): Array[Byte] = {
    val bpp = zm.bpp
    bytes match {
      case None =>
        val fill = new Array[Byte](nz * ny * nx * bpp)
        if (zm.fillValue != 0L) {
          var i = 0
          while (i < nz * ny * nx) { ChunkKernels.encodeLong(zm.fillValue, fill, i, bpp); i += 1 }
        }
        fill
      case Some(raw) =>
        val full =
          try zm.codec.decompress(raw, zm.chunkElems * bpp)
          catch {
            case e: Exception => throw new IllegalStateException(
              s"zarr chunk ($cz,$cy,$cx) failed to decode " +
                s"(${raw.length} bytes, codec ${zm.codec.id.getOrElse("raw")}): ${e.getMessage}", e)
          }
        if (zm.bigEndian) byteSwap(full, bpp)
        if (nz == vm.chunkZ && ny == vm.chunkY && nx == vm.chunkX) full
        else ChunkKernels.extractBox(full, vm.chunkY, vm.chunkX, bpp, 0, 0, 0, nz, ny, nx)
    }
  }

  /** Read a zarr v2 array directory as a ChunkVolume. The full chunk grid
    * is planned from `.zarray` alone (no directory listing); absent chunk
    * files decode as fill_value per the spec.
    */
  def read(spark: SparkSession, path: String): ChunkVolume = {
    implicit val fc: FioConf = FioConf.of(spark)
    val (zm, vm) = readMeta(path)
    val pathStr = Fio.qualify(path)
    val sep = zm.dimSeparator
    val chunks = StoreScan.decodeLate(StoreScan.gridDescriptors(spark, vm)) { (cz, cy, cx, nz, ny, nx) =>
      decodeData(Fio.readAllIfExists(Fio.child(pathStr, s"$cz$sep$cy$sep$cx")), zm, vm, cz, cy, cx, nz, ny, nx)
    }
    ChunkVolume(chunks, vm)
  }
}
