package graft.volume

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.api.java.UDF6
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.sql.types.BinaryType

/** Chunk-grid box of one stored chunk, without its bytes. */
final case class ChunkDesc(
    cz: Int, cy: Int, cx: Int,
    z0: Long, y0: Long, x0: Long,
    nz: Int, ny: Int, nx: Int,
)

/** The one chunk-store scan: descriptors first, bytes last.
  *
  * A store read is a descriptor scan — one `(cz,cy,cx,z0,y0,x0,nz,ny,nx)`
  * row per chunk, built from metadata alone — under a deterministic
  * projection that decodes `data`. Because the decode is an ordinary
  * projection, Catalyst's predicate pushdown moves any filter on the
  * descriptor columns below it: a point lookup or box filter decodes only
  * the chunks it keeps, with no change at the call site. A read that never
  * touches `data` prunes the decode away entirely. Hot-path UDFs use the
  * untyped Java interfaces: a typed Scala UDF resolves an encoder per
  * argument at every analysis, ~3 ms per use on a click.
  *
  * Two rules keep that true. The descriptors come from a `spark.range` or
  * an RDD, never a `LocalRelation`, which the optimizer would fold on the
  * driver (decode included). And there is no `repartition`: the scan
  * already has one slice per core, so an Exchange would only move bytes.
  */
private[graft] object StoreScan {

  /** One slice per core, never more slices than chunks, at least one. */
  def slices(spark: SparkSession, nChunks: Long): Int =
    math.max(1L, math.min(nChunks, spark.sparkContext.defaultParallelism.toLong)).toInt

  /** The box of grid cell (cz,cy,cx) of a uniform chunk grid (zarr
    * v2/v3): every chunk starts on the grid, edge chunks are trimmed to
    * the volume.
    */
  def gridBox(vm: VolumeMeta, cz: Int, cy: Int, cx: Int): ChunkDesc = {
    val z0 = cz.toLong * vm.chunkZ; val y0 = cy.toLong * vm.chunkY; val x0 = cx.toLong * vm.chunkX
    ChunkDesc(cz, cy, cx, z0, y0, x0,
      math.min(vm.chunkZ.toLong, vm.dimZ - z0).toInt,
      math.min(vm.chunkY.toLong, vm.dimY - y0).toInt,
      math.min(vm.chunkX.toLong, vm.dimX - x0).toInt)
  }

  /** Descriptors of a uniform chunk grid by arithmetic ([[gridBox]]). */
  def gridDescriptors(spark: SparkSession, vm: VolumeMeta): Dataset[ChunkDesc] = {
    import spark.implicits._
    val (ncy, ncx) = (vm.ncy.toLong, vm.ncx.toLong)
    val n = vm.ncz.toLong * ncy * ncx
    spark.range(0, n, 1, slices(spark, n)).as[Long].map { idx =>
      gridBox(vm, (idx / (ncy * ncx)).toInt, ((idx / ncx) % ncy).toInt, (idx % ncx).toInt)
    }
  }

  /** Name of the decode projection's UDF, as plans show it. */
  val DecodeUdf = "decode_chunk"

  /** The chunks of `desc`, with `data` = `decode(cz, cy, cx, nz, ny, nx)`
    * as a deterministic projection above the descriptor columns: the
    * decode gets the descriptor's box, it does not recompute it.
    */
  def decodeLate(desc: Dataset[_])(
      decode: UDF6[Int, Int, Int, Int, Int, Int, Array[Byte]]): Dataset[Chunk] = {
    import desc.sparkSession.implicits._
    val data = udf(decode, BinaryType).withName(DecodeUdf)
    val cols = Seq("cz", "cy", "cx", "z0", "y0", "x0", "nz", "ny", "nx").map(col)
    desc.select(cols :+ data(Seq("cz", "cy", "cx", "nz", "ny", "nx").map(col): _*).as("data"): _*)
      .as[Chunk]
  }
}
