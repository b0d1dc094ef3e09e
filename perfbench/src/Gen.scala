package perfbench

import java.io.{BufferedWriter, FileWriter}
import java.nio.ByteBuffer
import java.nio.ByteOrder
import java.nio.channels.FileChannel
import java.nio.file.{Files, Path, StandardOpenOption}
import java.util.SplittableRandom
import java.util.stream.IntStream

/** One row of the region ontology (Region/RegionAbbr/RegionName/Level/Parent). */
final case class Region(id: Long, abbr: String, name: String, level: Int, parent: Long)

/** Seeded 2,692-row region ontology: a tree rooted at one region with
  * parent 0, at most 12 levels deep, the shape of region_ids_ADMBA.csv.
  */
object Ontology {
  val Rows = 2692

  def generate(seed: Long): IndexedSeq[Region] = {
    val rnd = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 1)
    val seen = scala.collection.mutable.HashSet[Long]()
    val ids = Iterator.continually(1L + rnd.nextLong(0xFFFFFFFEL))
      .filter(seen.add).take(Rows).toIndexedSeq
    val out = new scala.collection.mutable.ArrayBuffer[Region](Rows)
    out += Region(ids(0), "root", "root", 0, 0L)
    var i = 1
    while (i < Rows) {
      // parents come from the rows already placed, so the table is a tree
      var p = out(rnd.nextInt(i))
      while (p.level >= 11) p = out(rnd.nextInt(i))
      val part = rnd.nextInt(6) + 1
      // a comma inside some names exercises the CSV quoting, as in the
      // real table ("Somatosensory areas, layer 1")
      val name = if (i % 3 == 0) s"Area $i, layer $part" else s"Area $i part $part"
      out += Region(ids(i), s"A${i}L$part", name, p.level + 1, p.id)
      i += 1
    }
    out.toIndexedSeq
  }

  def writeCsv(regions: Seq[Region], path: Path): Unit = {
    val w = new BufferedWriter(new FileWriter(path.toFile))
    try {
      w.write("Region,RegionAbbr,RegionName,Level,Parent\n")
      regions.foreach { r =>
        w.write(s"""${r.id},${r.abbr},"${r.name}",${r.level},${r.parent}""" + "\n")
      }
    } finally w.close()
  }
}

/** Seeded atlas-like uint32 label volume: an ellipsoidal brain (label 0
  * outside), cut off by the first and last plane as the real atlas is,
  * divided into contiguous regions. Each region is the Voronoi cell
  * of a seed point jittered inside its own block (`Atlas.Block`), so every seed
  * gives the same region density; smooth seeded warps bend the cell
  * walls, so regions are not boxes of an axis grid. With `step` > 1 the
  * volume is the full-resolution one sampled at every step-th voxel, so
  * it shows the same regions. `label` is the reference answer every
  * output check compares against.
  */
final class Atlas(seed: Long, val dimZ: Int, val dimY: Int, val dimX: Int,
    ontology: IndexedSeq[Region], step: Int = 1) {
  import Atlas.{Block, Cell, Warp}
  // the full-resolution shape the regions are laid out in
  private val (fZ, fY, fX) = (dimZ * step, dimY * step, dimX * step)
  // warped coordinates reach dim - 1 + 2 * Warp
  private val (gz, gy, gx) =
    ((fZ + 2 * Warp) / Cell + 1, (fY + 2 * Warp) / Cell + 1, (fX + 2 * Warp) / Cell + 1)
  private val coarse: Array[Long] = {
    val rnd = new SplittableRandom(seed * 31 + 7)
    val (bz, by, bx) = ((gz * Cell) / Block + 1, (gy * Cell) / Block + 1, (gx * Cell) / Block + 1)
    // the non-root rows in seeded order, dealt out to the blocks in turn,
    // so that neighbouring regions differ and about every row is present
    val ids = {
      val a = ontology.drop(1).map(_.id).toArray
      for (i <- a.length - 1 to 1 by -1) { val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
      a
    }
    // one seed per block, in voxel units, with an ontology label
    val pts = Array.tabulate(bz * by * bx) { b =>
      val (z, y, x) = (b / (by * bx), (b / bx) % by, b % bx)
      (z * Block + rnd.nextInt(Block), y * Block + rnd.nextInt(Block), x * Block + rnd.nextInt(Block),
        ids(b % ids.length))
    }
    val g = new Array[Long](gz * gy * gx)
    for (z <- 0 until gz; y <- 0 until gy; x <- 0 until gx) {
      val (vz, vy, vx) = (z * Cell + Cell / 2, y * Cell + Cell / 2, x * Cell + Cell / 2)
      var best = 0L; var bd = Long.MaxValue
      // the nearest seed lies in this block or a neighbouring one
      for (dz <- -1 to 1; dy <- -1 to 1; dx <- -1 to 1) {
        val (b0, b1, b2) = (vz / Block + dz, vy / Block + dy, vx / Block + dx)
        if (b0 >= 0 && b0 < bz && b1 >= 0 && b1 < by && b2 >= 0 && b2 < bx) {
          val (pz, py, px, lab) = pts((b0 * by + b1) * bx + b2)
          val d = (vz - pz).toLong * (vz - pz) + (vy - py).toLong * (vy - py) + (vx - px).toLong * (vx - px)
          if (d < bd) { bd = d; best = lab }
        }
      }
      g((z * gy + y) * gx + x) = best
    }
    g
  }
  private def warpTable(n0: Int, n1: Int, salt: Long): Array[Int] = {
    val rnd = new SplittableRandom(seed * 131 + salt)
    val (p0, p1) = (rnd.nextDouble() * 2 * math.Pi, rnd.nextDouble() * 2 * math.Pi)
    val t = new Array[Int](n0 * n1)
    for (a <- 0 until n0; b <- 0 until n1)
      t(a * n1 + b) = math.round(Warp * (math.sin(a * 0.045 + p0) + math.sin(b * 0.045 + p1)) / 2).toInt
    t
  }
  private val wz = warpTable(fY, fX, 1) // z offset by (y, x)
  private val wy = warpTable(fZ, fX, 2) // y offset by (z, x)
  private val wx = warpTable(fZ, fY, 3) // x offset by (z, y)

  private def inBrain(z: Double, y: Double, x: Double): Boolean = {
    val dz = (z - fZ / 2.0) / (fZ * 0.55)
    val dy = (y - fY / 2.0) / (fY * 0.47)
    val dx = (x - fX / 2.0) / (fX * 0.47)
    dz * dz + dy * dy + dx * dx <= 1.0
  }

  /** Distinct labels of the coarse cells whose centre lies in the brain:
    * the number of regions the volume shows, to within its edge cells.
    */
  def regionCount: Int = {
    val seen = scala.collection.mutable.HashSet[Long]()
    for (z <- 0 until gz; y <- 0 until gy; x <- 0 until gx) {
      val (vz, vy, vx) = (z * Cell + Cell / 2 - Warp, y * Cell + Cell / 2 - Warp, x * Cell + Cell / 2 - Warp)
      if (vz >= 0 && vy >= 0 && vx >= 0 && vz < fZ && vy < fY && vx < fX &&
        inBrain(vz, vy, vx)) seen += coarse((z * gy + y) * gx + x)
    }
    seen.size
  }

  /** The label at (z, y, x) of this volume: at (z, y, x) × step of the
    * full-resolution layout.
    */
  def label(z: Int, y: Int, x: Int): Long = at(z * step, y * step, x * step)

  private def at(z: Int, y: Int, x: Int): Long = {
    if (!inBrain(z, y, x)) 0L
    else {
      val cz = (z + wz(y * fX + x) + Warp) / Cell
      val cy = (y + wy(z * fX + x) + Warp) / Cell
      val cx = (x + wx(z * fY + y) + Warp) / Cell
      coarse((cz * gy + cy) * gx + cx)
    }
  }

  /** Write planes [z0, z1) as a little-endian MET_UINT MHD/RAW pair;
    * returns the .mhd path. Planes are filled in parallel.
    */
  def writeMhd(dir: Path, name: String, z0: Int, z1: Int): Path = {
    Files.createDirectories(dir)
    val raw = dir.resolve(s"$name.raw")
    val plane = dimY * dimX * 4
    val ch = FileChannel.open(raw, StandardOpenOption.CREATE, StandardOpenOption.WRITE,
      StandardOpenOption.TRUNCATE_EXISTING)
    try {
      IntStream.range(z0, z1).parallel().forEach { z =>
        val buf = ByteBuffer.allocate(plane).order(ByteOrder.LITTLE_ENDIAN)
        var y = 0
        while (y < dimY) {
          var x = 0
          while (x < dimX) { buf.putInt(label(z, y, x).toInt); x += 1 }
          y += 1
        }
        buf.flip()
        var pos = (z - z0).toLong * plane
        while (buf.hasRemaining) pos += ch.write(buf, pos)
      }
    } finally ch.close()
    val mhd = dir.resolve(s"$name.mhd")
    Files.writeString(mhd,
      s"""ObjectType = Image
         |NDims = 3
         |DimSize = $dimX $dimY ${z1 - z0}
         |ElementType = MET_UINT
         |ElementSpacing = 25.0 25.0 25.0
         |ByteOrderMSB = False
         |ElementDataFile = $name.raw
         |""".stripMargin)
    mhd
  }
}

object Atlas {
  /** The reference atlas shape (ADMBA-P56), z,y,x. */
  val Shape = (456, 320, 528)

  /** Voxel size of the coarse label grid; region walls step by this. */
  private val Cell = 8
  /** Largest wall displacement of the warps, in voxels. */
  private val Warp = 7
  /** One region per Block³ voxels. BASELINE.md gives the ADMBA-P56 atlas
    * 2,692 labeled regions, the rows of its region table. The brain here
    * holds 38.7 M voxels, so one region per row is one per 14,400 voxels,
    * a cube of 24.3 voxels (perfbench/README.md, "Fixture density").
    */
  private val Block = 24
  /** The ×15 store size per input plane recorded when this benchmark was
    * planned, 127 MiB over 40 planes, for comparison.
    */
  val X15MibPerPlane: Double = 127.0 / 40

  def apply(seed: Long, ontology: IndexedSeq[Region]): Atlas =
    new Atlas(seed, Shape._1, Shape._2, Shape._3, ontology)
}
