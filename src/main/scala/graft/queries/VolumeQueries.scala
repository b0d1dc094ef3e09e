package graft.queries

import graft.{Q, T}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.volume.{ChunkVolume, ConnectedComponents, VoxelOps}

/** The reference's volume semantics (SURVEY.md §2.7) expressed long-form on
  * a deterministic dense 16³ label grid that both engines can generate
  * (Spark `range` / DuckDB `range`), so every operator is oracle-checkable.
  * Labels form 4³ axis-aligned blobs so outline mode has real edges, echoing
  * the ADMBA atlas structure. The chunk-form (binary-block) equivalents are
  * exercised by the ScalaTest suite on synthetic MHD/RAW fixtures.
  */
object VolumeQueries {
  val D = 16L // grid edge

  /** Dense (z,y,x,label) cube: z=id/256, y=(id/16)%16, x=id%16,
    * label = (z/4)*100 + (y/4)*10 + (x/4).
    */
  def grid(s: SparkSession): DataFrame =
    s.range(D * D * D)
      .select(
        expr("id div 256").as("z"),
        expr("(id div 16) % 16").as("y"),
        expr("id % 16").as("x"),
        expr("((id div 256) div 4) * 100 + (((id div 16) % 16) div 4) * 10 + ((id % 16) div 4)").as("label"),
      )

  /** The 16³ grid packed into a ChunkVolume on a deliberately non-aligned
    * (5,6,7) chunk grid.
    */
  def chunked(s: SparkSession): ChunkVolume =
    ChunkVolume.fromVoxels(grid(s), D, D, D, 5, 6, 7)

  /** Foreground mask for the connected-components gates: an md5-derived
    * site-percolation mask at p = 6/16 = 0.375 (just above the cubic
    * site threshold ~0.312 — one nontrivial spanning component plus ~200
    * islands, so cross-chunk merging is guaranteed on the (5,6,7) grid).
    * Both engines derive the SAME mask from the same string algebra.
    */
  private def ccMaskCol =
    substring(md5(concat_ws("_",
      col("z").cast("string"), col("y").cast("string"), col("x").cast("string"))), 1, 1)
      .between("0", "5")

  /** The percolation mask as a 0/1-labeled chunked volume on the (5,6,7)
    * grid — the chunk-form CC queries' shared input.
    */
  private def ccMaskVol(s: SparkSession): ChunkVolume =
    ChunkVolume.fromVoxels(
      grid(s).select(col("z"), col("y"), col("x"),
        when(ccMaskCol, 1L).otherwise(0L).as("label")),
      D, D, D, 5, 6, 7)

  /** Shared CTE prefix of every CC oracle: min-label propagation to a
    * fixpoint as a recursive CTE — labels flow along 6-adjacency edges;
    * `cc` is (z, y, x, component) with component = min linear voxel id
    * in the component, exactly the engine's contract. `maskExtra` is an
    * additional SQL predicate ANDed into the mask — the voxel-form gates
    * run on a z-slice of the percolation mask (the oracle is
    * slice-agnostic: the same CTE over whatever mask set), keeping the
    * deliberately-expensive relational twin's gate cost bounded while
    * the chunk-form gates stay full-size.
    */
  private def ccCte(maskExtra: String = ""): String = s"""
    WITH RECURSIVE vox AS (
      SELECT id // 256 AS z, (id // 16) % 16 AS y, id % 16 AS x
      FROM range(4096) t(id)
    ), m AS (
      SELECT z, y, x, (z*16 + y)*16 + x AS id FROM vox
      WHERE substr(md5(CAST(z AS VARCHAR) || '_' || CAST(y AS VARCHAR) || '_' || CAST(x AS VARCHAR)), 1, 1)
            BETWEEN '0' AND '5' $maskExtra
    ), e AS (
      SELECT a.id AS src, b.id AS dst FROM m a JOIN m b ON
        (b.z = a.z + 1 AND b.y = a.y AND b.x = a.x) OR
        (b.z = a.z AND b.y = a.y + 1 AND b.x = a.x) OR
        (b.z = a.z AND b.y = a.y AND b.x = a.x + 1)
    ), ed AS (SELECT src, dst FROM e UNION SELECT dst AS src, src AS dst FROM e),
    r AS (
      SELECT id, id AS lbl FROM m
      UNION
      SELECT ed.dst AS id, r.lbl FROM r JOIN ed ON r.id = ed.src
    ), cc AS (
      SELECT m.z, m.y, m.x, MIN(r.lbl) AS component
      FROM r JOIN m USING (id) GROUP BY m.z, m.y, m.x
    )
  """

  /** One oracle for both CC label forms (chunk form runs full-size). */
  private def ccOracle: String =
    ccCte() + "SELECT z, y, x, component FROM cc ORDER BY z, y, x"

  /** The voxel-form twin's oracle on the z < 8 slice — identical CTE
    * semantics, smaller mask (see [[ccCte]]).
    */
  private def ccOracleSliced: String =
    ccCte("AND z < 8") + "SELECT z, y, x, component FROM cc ORDER BY z, y, x"

  /** One oracle for both box-sum forms: a 27-neighbor range self-join —
    * out-of-volume neighbors simply don't exist in vox, which IS the
    * zero padding.
    */
  private def boxSumOracle: String = s"""$voxCte
    SELECT a.z, a.y, a.x, CAST(SUM(b.label) AS BIGINT) AS boxsum
    FROM vox a JOIN vox b
      ON b.z BETWEEN a.z - 1 AND a.z + 1
     AND b.y BETWEEN a.y - 1 AND a.y + 1
     AND b.x BETWEEN a.x - 1 AND a.x + 1
    GROUP BY a.z, a.y, a.x
    ORDER BY a.z, a.y, a.x
  """

  /** One oracle per morphology op, shared by the voxel and chunk forms:
    * min/max over the face-adjacent cross via a |dz|+|dy|+|dx| ≤ 1
    * self-join; a border voxel joins fewer than 7 partners, which is how
    * the erode oracle realizes the zero pad (`COUNT(*) < 7 → 0`) while
    * dilation needs no correction on a nonnegative volume.
    */
  private def erodeOracle: String = s"""$voxCte
    SELECT a.z, a.y, a.x,
           CASE WHEN COUNT(*) < 7 THEN 0 ELSE MIN(b.label) END AS label
    FROM vox a JOIN vox b
      ON ABS(a.z - b.z) + ABS(a.y - b.y) + ABS(a.x - b.x) <= 1
    GROUP BY a.z, a.y, a.x
    ORDER BY a.z, a.y, a.x
  """

  private def dilateOracle: String = s"""$voxCte
    SELECT a.z, a.y, a.x, MAX(b.label) AS label
    FROM vox a JOIN vox b
      ON ABS(a.z - b.z) + ABS(a.y - b.y) + ABS(a.x - b.x) <= 1
    GROUP BY a.z, a.y, a.x
    ORDER BY a.z, a.y, a.x
  """

  /** Synthetic measurement volume for the region-intensity gates: an
    * md5-derived 0..255 intensity per voxel (hex chars 3–4 of the same
    * key string the percolation mask hashes), deterministic on both
    * engines.
    */
  private def intensityGrid(s: SparkSession): DataFrame =
    s.range(D * D * D).select(
      expr("id div 256").as("z"),
      expr("(id div 16) % 16").as("y"),
      expr("id % 16").as("x"))
      .withColumn("intensity",
        expr("CAST(conv(substr(md5(concat_ws('_', CAST(z AS STRING), CAST(y AS STRING), CAST(x AS STRING))), 3, 2), 16, 10) AS BIGINT)"))

  /** One oracle for both region-intensity forms: label formula × md5
    * intensity formula, grouped per label — sum/count/min/max are exact
    * integers.
    */
  private def regionIntensityOracle: String = s"""$voxCte,
    iv AS (
      SELECT z, y, x,
             CAST('0x' || substr(md5(CAST(z AS VARCHAR) || '_' || CAST(y AS VARCHAR) || '_' || CAST(x AS VARCHAR)), 3, 2) AS BIGINT) AS intensity
      FROM vox
    )
    SELECT v.label, CAST(COUNT(*) AS BIGINT) AS n_voxels,
           CAST(SUM(i.intensity) AS BIGINT) AS sum_i,
           MIN(i.intensity) AS min_i, MAX(i.intensity) AS max_i
    FROM vox v JOIN iv i ON v.z = i.z AND v.y = i.y AND v.x = i.x
    GROUP BY v.label ORDER BY v.label
  """

  /** One oracle for both distance-transform forms: the capped manhattan
    * distance computed DIRECTLY — min over all background voxels plus the
    * six border-distance terms — vs the engines' erosion peeling.
    */
  private def distanceOracle: String = """
    WITH g AS (
      SELECT id // 256 AS z, (id // 16) % 16 AS y, id % 16 AS x FROM range(4096) t(id)
    ), m AS (
      SELECT z, y, x,
             CASE WHEN substr(md5(CAST(z AS VARCHAR) || '_' || CAST(y AS VARCHAR) || '_' || CAST(x AS VARCHAR)), 1, 1)
                  BETWEEN '0' AND '5' THEN 1 ELSE 0 END AS label
      FROM g
    )
    SELECT f.z, f.y, f.x,
           CAST(LEAST(4,
             COALESCE((SELECT MIN(ABS(f.z - b.z) + ABS(f.y - b.y) + ABS(f.x - b.x))
                       FROM m b WHERE b.label = 0), 99),
             f.z + 1, 16 - f.z, f.y + 1, 16 - f.y, f.x + 1, 16 - f.x) AS BIGINT) AS depth
    FROM m f WHERE f.label = 1
    UNION ALL
    SELECT z, y, x, CAST(0 AS BIGINT) AS depth FROM m WHERE label = 0
    ORDER BY z, y, x
  """

  private val voxCte = """
    WITH vox AS (
      SELECT id // 256 AS z, (id // 16) % 16 AS y, id % 16 AS x,
             ((id // 256) // 4) * 100 + (((id // 16) % 16) // 4) * 10 + ((id % 16) // 4) AS label
      FROM range(4096) t(id)
    )"""

  /** Foreign-TIFF fixtures for the S5 gate queries, generated ONCE per
    * JVM by tools/gen_tiff_fixture.py (the independent pure-stdlib
    * encoder) into a single temp dir. The encode subprocess must never
    * run inside a timed query body: bench reps would bill python startup
    * + temp-dir churn to the engine (r9 finding), so queries resolve
    * pre-built files through [[foreignTiff]].
    */
  private lazy val foreignTiffDir: java.nio.file.Path = {
    val gen = java.nio.file.Paths.get("tools/gen_tiff_fixture.py")
    require(java.nio.file.Files.exists(gen),
      s"fixture generator not found at ${gen.toAbsolutePath}")
    val dir = java.nio.file.Files.createTempDirectory("graft_ftiff")
    dir.toFile.deleteOnExit()
    def genOne(name: String, args: String*): Unit = {
      val cmd = Seq("python3", gen.toString, dir.resolve(name).toString) ++ args
      val rc = scala.sys.process.Process(cmd).!(scala.sys.process.ProcessLogger(_ => ()))
      require(rc == 0, s"gen_tiff_fixture.py exited $rc for $name")
      dir.resolve(name).toFile.deleteOnExit()
    }
    genOne("foreign.tif") // multi-strip deflate LE uint16 — the original gate config
    genOne("tiled.tif", "--tiled", "--tile", "16", "--dim", "20", "--endian", "be")
    genOne("lzw.tif", "--compress", "lzw", "--predictor", "2")
    genOne("packbits.tif", "--compress", "packbits", "--bits", "8", "--rps", "3")
    dir
  }

  private def foreignTiff(name: String): String =
    foreignTiffDir.resolve(name).toString

  /** Foreign-NRRD fixtures (same once-per-JVM subprocess discipline as
    * [[foreignTiffDir]]): a gzip big-endian CRLF-headered file and a raw
    * little-endian one, both written by tools/gen_nrrd_fixture.py — an
    * independent pure-stdlib encoder, NOT NrrdStore.write.
    */
  private lazy val foreignNrrdDir: java.nio.file.Path = {
    val gen = java.nio.file.Paths.get("tools/gen_nrrd_fixture.py")
    require(java.nio.file.Files.exists(gen),
      s"fixture generator not found at ${gen.toAbsolutePath}")
    val dir = java.nio.file.Files.createTempDirectory("graft_fnrrd")
    dir.toFile.deleteOnExit()
    def genOne(name: String, args: String*): Unit = {
      val cmd = Seq("python3", gen.toString, dir.resolve(name).toString) ++ args
      val rc = scala.sys.process.Process(cmd).!(scala.sys.process.ProcessLogger(_ => ()))
      require(rc == 0, s"gen_nrrd_fixture.py exited $rc for $name")
      dir.resolve(name).toFile.deleteOnExit()
    }
    genOne("foreign_gz_be.nrrd", "--encoding", "gzip", "--endian", "be", "--crlf")
    genOne("foreign_raw_le.nrrd", "--encoding", "raw", "--endian", "le", "--bits", "32")
    dir
  }

  /** One NRRD export destination per JVM (bench reps overwrite in place
    * instead of leaking a temp file per rep).
    */
  private lazy val nrrdDest: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_nrrd")
    d.toFile.deleteOnExit()
    d.resolve("export.nrrd").toString
  }

  /** One chunk store for the label-search gate, written once per JVM
    * (bench reps must not re-pay the write).
    */
  private val labelSearchStoreCache = new java.util.concurrent.atomic.AtomicReference[String]()
  private[graft] def labelSearchStore(s: SparkSession): String = {
    val cached = labelSearchStoreCache.get()
    if (cached != null) cached
    else {
      val d = java.nio.file.Files.createTempDirectory("graft_lsearch")
      d.toFile.deleteOnExit()
      val p = d.resolve("store").toString
      graft.volume.ChunkStore.write(chunked(s), p)
      labelSearchStoreCache.compareAndSet(null, p)
      labelSearchStoreCache.get()
    }
  }

  /** One zarr v3 export destination per JVM (AtomicDir overwrite). */
  private lazy val zarr3Dest: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_z3")
    d.toFile.deleteOnExit()
    d.resolve("array").toString
  }

  /** One SHARDED zarr v3 store per JVM, written once (the sharded-point
    * gate and its evidence pin both read it; bench reps must not re-pay
    * the write). Shard grid (8,8,8) over the 16³ volume, inner chunks
    * (4,4,4), the flagship blosc-zstd codec.
    */
  private val zarr3ShardedCache = new java.util.concurrent.atomic.AtomicReference[String]()
  def zarr3ShardedStore(s: SparkSession): String = {
    val cached = zarr3ShardedCache.get()
    if (cached != null) cached
    else {
      val d = java.nio.file.Files.createTempDirectory("graft_z3sh")
      d.toFile.deleteOnExit()
      val p = d.resolve("arr").toString
      graft.volume.Zarr3Store.writeSharded(
        chunked(s).rechunk(8, 8, 8), p, innerShape = (4, 4, 4),
        graft.volume.ZarrStore.BloscCodec("zstd", 5, 2))
      zarr3ShardedCache.compareAndSet(null, p)
      zarr3ShardedCache.get()
    }
  }

  /** One sharded-write destination per JVM (AtomicDir overwrite). */
  private lazy val zarr3ShardDest: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_z3shrt")
    d.toFile.deleteOnExit()
    d.resolve("arr").toString
  }

  /** Foreign SHARDED zarr v3 array (gzip + big-endian inner pipeline,
    * crc32c index at the START of each shard, one dropped inner cell)
    * written once per JVM by tools/gen_zarr3_fixture.py --shard-inner —
    * the independent pure-stdlib shard encoder, NOT Zarr3Store.
    */
  private lazy val foreignZarr3ShardDir: String = {
    val gen = java.nio.file.Paths.get("tools/gen_zarr3_fixture.py")
    require(java.nio.file.Files.exists(gen),
      s"fixture generator not found at ${gen.toAbsolutePath}")
    val dir = java.nio.file.Files.createTempDirectory("graft_fz3sh")
    dir.toFile.deleteOnExit()
    val out = dir.resolve("arr").toString
    val cmd = Seq("python3", gen.toString, out, "--dim", "16", "--chunk", "8",
      "--shard-inner", "4", "--endian", "be", "--codec", "gzip",
      "--index-location", "start", "--drop-chunk")
    val rc = scala.sys.process.Process(cmd).!(scala.sys.process.ProcessLogger(_ => ()))
    require(rc == 0, s"gen_zarr3_fixture.py exited $rc")
    out
  }

  /** One (fine, packed) compaction destination pair per JVM (AtomicDir
    * overwrite — bench reps reuse the paths).
    */
  private lazy val zarr3CompactDirs: (String, String) = {
    val d = java.nio.file.Files.createTempDirectory("graft_z3cmp")
    d.toFile.deleteOnExit()
    (d.resolve("fine").toString, d.resolve("packed").toString)
  }

  /** One SHARDED NGFF 0.5 group destination per JVM (AtomicDir overwrite). */
  private lazy val ngff3ShardedGroupDir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_ngff3sh")
    d.toFile.deleteOnExit()
    d.resolve("group").toString
  }

  /** One NGFF 0.5 group destination per JVM (AtomicDir overwrite). */
  private lazy val ngff3GroupDir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_ngff3")
    d.toFile.deleteOnExit()
    d.resolve("group").toString
  }

  /** Foreign NGFF 0.5 group written once per JVM by
    * tools/gen_ngff3_fixture.py (independent pure-stdlib encoder).
    */
  private lazy val foreignNgff3Dir: String = ngff3Foreign("graft_fngff3")

  /** Foreign NGFF 0.5 group with SHARDING_INDEXED levels — the
    * independent python encoder writing the at-scale layout ((8,8,8)
    * shards, (4,4,4) inner, crc32c index) the engine never produced.
    */
  private lazy val foreignNgff3ShardedDir: String =
    ngff3Foreign("graft_fngff3sh", "--dim", "16", "--chunk", "8", "--shard-inner", "4")

  private def ngff3Foreign(tag: String, args: String*): String = {
    val gen = java.nio.file.Paths.get("tools/gen_ngff3_fixture.py")
    require(java.nio.file.Files.exists(gen),
      s"fixture generator not found at ${gen.toAbsolutePath}")
    val dir = java.nio.file.Files.createTempDirectory(tag)
    dir.toFile.deleteOnExit()
    val out = dir.resolve("group").toString
    val rc = scala.sys.process.Process(Seq("python3", gen.toString, out) ++ args)
      .!(scala.sys.process.ProcessLogger(_ => ()))
    require(rc == 0, s"gen_ngff3_fixture.py exited $rc")
    out
  }

  /** Foreign zarr v3 array (gzip + big-endian, default `/` keys) written
    * once per JVM by tools/gen_zarr3_fixture.py — an independent
    * pure-stdlib encoder, NOT Zarr3Store.
    */
  private lazy val foreignZarr3Dir: String = {
    val gen = java.nio.file.Paths.get("tools/gen_zarr3_fixture.py")
    require(java.nio.file.Files.exists(gen),
      s"fixture generator not found at ${gen.toAbsolutePath}")
    val dir = java.nio.file.Files.createTempDirectory("graft_fz3")
    dir.toFile.deleteOnExit()
    val out = dir.resolve("arr").toString
    val cmd = Seq("python3", gen.toString, out, "--endian", "be", "--codec", "gzip")
    val rc = scala.sys.process.Process(cmd).!(scala.sys.process.ProcessLogger(_ => ()))
    require(rc == 0, s"gen_zarr3_fixture.py exited $rc")
    out
  }

  /** One destination per JVM for the pyramid-group roundtrip: the write
    * is atomic-overwrite (AtomicDir publish), so bench reps reuse the
    * path instead of leaking a temp dir per rep.
    */
  private lazy val pyramidGroupDir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_pyr")
    d.toFile.deleteOnExit()
    d.resolve("group").toString
  }

  /** FOREIGN OME-Zarr multiscales group, written once per JVM by
    * tools/gen_zarr_group_fixture.py (pure python stdlib — an independent
    * implementation of the group layout, NOT PyramidWriter). Consolidated
    * (.zmetadata-only) layout: the one-GET cloud path. Same subprocess
    * discipline as [[foreignTiffDir]] — never inside a timed query body.
    */
  private lazy val foreignZarrGroupDir: String = {
    val gen = java.nio.file.Paths.get("tools/gen_zarr_group_fixture.py")
    require(java.nio.file.Files.exists(gen),
      s"fixture generator not found at ${gen.toAbsolutePath}")
    val dir = java.nio.file.Files.createTempDirectory("graft_fzgroup")
    dir.toFile.deleteOnExit()
    val dest = dir.resolve("group")
    val cmd = Seq("python3", gen.toString, dest.toString, "--layout", "consolidated")
    val rc = scala.sys.process.Process(cmd).!(scala.sys.process.ProcessLogger(_ => ()))
    require(rc == 0, s"gen_zarr_group_fixture.py exited $rc")
    dest.toString
  }

  val all: Seq[Q] = Seq(
    // T1: nearest-neighbor ×2 upscale, long form (label preservation is the
    // invariant: every source voxel appears at (2z+dz, 2y+dy, 2x+dx)).
    Q(
      "vol_upscale_x2",
      (s, _) => VoxelOps.upscale(grid(s), 2).orderBy("z", "y", "x"),
      Some(s"""$voxCte
        SELECT 2 * v.z + dz.range AS z, 2 * v.y + dy.range AS y, 2 * v.x + dx.range AS x, v.label
        FROM vox v, range(2) dz, range(2) dy, range(2) dx
        ORDER BY z, y, x
      """),
    ),
    // T3: stride-2 decimation (pyramid level 1).
    Q(
      "vol_pyramid_level1",
      (s, _) => VoxelOps.decimate(grid(s)).orderBy("z", "y", "x"),
      Some(s"""$voxCte
        SELECT z // 2 AS z, y // 2 AS y, x // 2 AS x, label
        FROM vox WHERE z % 2 = 0 AND y % 2 = 0 AND x % 2 = 0
        ORDER BY z, y, x
      """),
    ),
    // T3 intensity twin: MEAN-pooled level 1 (the OME-NGFF default for
    // intensity volumes; decimation remains the label-volume form the
    // reference uses). Floor of the 2×2×2 block mean in exact integer
    // arithmetic — one map-side-combined aggregation over the pooled
    // lattice, shuffling ~1/8 of the rows.
    Q(
      "vol_pyramid_mean_l1",
      (s, _) => VoxelOps.meanPool(grid(s)).orderBy("z", "y", "x"),
      Some(s"""$voxCte
        SELECT z // 2 AS z, y // 2 AS y, x // 2 AS x,
               CAST(SUM(label) AS BIGINT) // COUNT(*) AS label
        FROM vox GROUP BY 1, 2, 3
        ORDER BY z, y, x
      """),
    ),
    // T3 third pooling mode: 2×2×2 MAX pool (mask/distance-map downscale —
    // any-hit per block survives). Same single-aggregation shape as mean.
    Q(
      "vol_pyramid_max_l1",
      (s, _) => VoxelOps.maxPool(grid(s)).orderBy("z", "y", "x"),
      Some(s"""$voxCte
        SELECT z // 2 AS z, y // 2 AS y, x // 2 AS x, MAX(label) AS label
        FROM vox GROUP BY 1, 2, 3
        ORDER BY z, y, x
      """),
    ),
    // T2: outline with wrap-around (da.roll parity), 6 modular neighbors.
    Q(
      "vol_outline",
      (s, _) => VoxelOps.outline(grid(s), D, D, D).orderBy("z", "y", "x"),
      Some(s"""$voxCte
        SELECT v.z, v.y, v.x,
               CASE WHEN v.label <> zp.label OR v.label <> zm.label
                      OR v.label <> yp.label OR v.label <> ym.label
                      OR v.label <> xp.label OR v.label <> xm.label
                    THEN v.label ELSE 0 END AS out_label
        FROM vox v
          JOIN vox zp ON zp.z = (v.z + 1) % 16 AND zp.y = v.y AND zp.x = v.x
          JOIN vox zm ON zm.z = (v.z + 15) % 16 AND zm.y = v.y AND zm.x = v.x
          JOIN vox yp ON yp.z = v.z AND yp.y = (v.y + 1) % 16 AND yp.x = v.x
          JOIN vox ym ON ym.z = v.z AND ym.y = (v.y + 15) % 16 AND ym.x = v.x
          JOIN vox xp ON xp.z = v.z AND xp.y = v.y AND xp.x = (v.x + 1) % 16
          JOIN vox xm ON xm.z = v.z AND xm.y = v.y AND xm.x = (v.x + 15) % 16
        ORDER BY v.z, v.y, v.x
      """),
    ),
    // T6/S7: per-axis nearest resize to an arbitrary target shape
    // (upscale z, downscale y, fractional x — all in one gather).
    Q(
      "vol_resize_nearest",
      (s, _) =>
        VoxelOps.resizeNearest(grid(s), (D, D, D), (24L, 8L, 20L))
          .orderBy("z", "y", "x"),
      Some(s"""$voxCte, tgt AS (
          SELECT t.range // 160 AS tz, (t.range // 20) % 8 AS ty, t.range % 20 AS tx
          FROM range(${24 * 8 * 20}) t
        )
        SELECT tz AS z, ty AS y, tx AS x, v.label
        FROM tgt JOIN vox v
          ON v.z = (tz * 16) // 24 AND v.y = (ty * 16) // 8 AND v.x = (tx * 16) // 20
        ORDER BY z, y, x
      """),
    ),
    // A-row: label histogram, chunk form (counts inside the byte kernel;
    // same oracle as the long form below).
    Q(
      "vol_chunk_histogram",
      (s, _) => chunked(s).histogram(),
      Some(s"""$voxCte
        SELECT label, COUNT(*) AS n FROM vox GROUP BY label ORDER BY label
      """),
    ),
    // A-row: label histogram (README before/after frequency figures).
    Q(
      "vol_histogram",
      (s, _) => VoxelOps.histogram(grid(s)),
      Some(s"""$voxCte
        SELECT label, COUNT(*) AS n FROM vox GROUP BY label ORDER BY label
      """),
    ),
    // J2: full-volume label-preservation verification join
    // (verify_labels.py generalized from one spot check to every voxel).
    Q(
      "vol_verify_upscale",
      (s, _) => {
        val orig = grid(s)
        val up = VoxelOps.upscale(orig, 2)
          .select(col("z").as("uz"), col("y").as("uy"), col("x").as("ux"), col("label").as("ulabel"))
        orig
          .join(up, col("uz") === col("z") * 2 && col("uy") === col("y") * 2 && col("ux") === col("x") * 2)
          .agg(
            count(lit(1)).as("n_checked"),
            sum(when(col("label") === col("ulabel"), 1L).otherwise(0L)).as("n_match"),
          )
      },
      Some(s"""$voxCte, up AS (
          SELECT 2 * v.z + dz.range AS z, 2 * v.y + dy.range AS y, 2 * v.x + dx.range AS x, v.label
          FROM vox v, range(2) dz, range(2) dy, range(2) dx
        )
        SELECT COUNT(*) AS n_checked,
               CAST(SUM(CASE WHEN o.label = u.label THEN 1 ELSE 0 END) AS BIGINT) AS n_match
        FROM vox o JOIN up u ON u.z = 2 * o.z AND u.y = 2 * o.y AND u.x = 2 * o.x
      """),
    ),
    // ------------------------------------------------------------------
    // Chunk-form twins of the ops above: the same semantics through the
    // packed-binary ChunkVolume path (the 100 TB scale representation),
    // verified against the SAME DuckDB oracles as the long forms. Chunk
    // dims (5,6,7) are deliberately non-aligned so edge chunks, partial
    // reads, and grid contiguity are all exercised.
    // ------------------------------------------------------------------
    Q(
      "vol_chunk_upscale_x2",
      (s, _) => chunked(s).upscale(2).toVoxels.orderBy("z", "y", "x"),
      Some(s"""$voxCte
        SELECT 2 * v.z + dz.range AS z, 2 * v.y + dy.range AS y, 2 * v.x + dx.range AS x, v.label
        FROM vox v, range(2) dz, range(2) dy, range(2) dx
        ORDER BY z, y, x
      """),
    ),
    // §7 streaming north star, oracle-gated: chunk files land in TWO
    // arrival waves (half the grid before the stream starts, the rest
    // mid-flight), stream through VolumeStreams.upscaleIngest's ×2
    // micro-batch kernel into the internal chunk store, and the
    // read-back must equal the one-shot batch upscale — the SAME oracle
    // as vol_chunk_upscale_x2, proving the incremental pipeline computes
    // the batch answer (upscale_streaming.py:42–127's whole premise).
    Q(
      "vol_stream_upscale",
      (s, _) => {
        import graft.volume.ChunkStore
        val dir = java.nio.file.Files.createTempDirectory("graft_vstream")
        dir.toFile.deleteOnExit()
        val inDir = dir.resolve("in").toString
        val outDir = dir.resolve("out").toString
        val vol = chunked(s)
        vol.chunks.filter(col("cz") === 0).write.mode("append").parquet(inDir)
        val q = graft.streaming.VolumeStreams.upscaleIngest(s, inDir, outDir, vol.meta, 2)
        try {
          q.processAllAvailable()
          vol.chunks.filter(col("cz") > 0).write.mode("append").parquet(inDir)
          q.processAllAvailable()
        } finally q.stop()
        ChunkStore.read(s, outDir).toVoxels.orderBy("z", "y", "x")
      },
      Some(s"""$voxCte
        SELECT 2 * v.z + dz.range AS z, 2 * v.y + dy.range AS y, 2 * v.x + dx.range AS x, v.label
        FROM vox v, range(2) dz, range(2) dy, range(2) dx
        ORDER BY z, y, x
      """),
    ),
    // The same streamed ingest into a SPEC-COMPLIANT zarr v2 array — the
    // sink the reference's toolchain reads directly. Same oracle again:
    // format choice must not change a single voxel. Chunk grid (4,8,8)
    // divides the dims exactly: zarr v2 requires a UNIFORM chunk grid, and
    // ×2 children of divisor-grid chunks stay uniform (the non-aligned
    // edge-chunk path rides the internal-store gate above, which has no
    // such constraint).
    Q(
      "vol_stream_upscale_zarr",
      (s, _) => {
        import graft.volume.ZarrStore
        val dir = java.nio.file.Files.createTempDirectory("graft_vstreamz")
        dir.toFile.deleteOnExit()
        val inDir = dir.resolve("in").toString
        val outDir = dir.resolve("out.zarr").toString
        val vol = graft.volume.ChunkVolume.fromVoxels(grid(s), D, D, D, 4, 8, 8)
        vol.chunks.filter(col("cz") === 0).write.mode("append").parquet(inDir)
        val q = graft.streaming.VolumeStreams.upscaleIngest(s, inDir, outDir, vol.meta, 2, format = "zarr")
        try {
          q.processAllAvailable()
          vol.chunks.filter(col("cz") > 0).write.mode("append").parquet(inDir)
          q.processAllAvailable()
        } finally q.stop()
        ZarrStore.read(s, outDir).toVoxels.orderBy("z", "y", "x")
      },
      Some(s"""$voxCte
        SELECT 2 * v.z + dz.range AS z, 2 * v.y + dy.range AS y, 2 * v.x + dx.range AS x, v.label
        FROM vox v, range(2) dz, range(2) dy, range(2) dx
        ORDER BY z, y, x
      """),
    ),
    // The same streamed ingest into a zarr V3 array — micro-batches land
    // c/z/y/x chunk files idempotently under a zarr.json written up
    // front. Same oracle a third time: the sink dialect must not change
    // a voxel.
    Q(
      "vol_stream_upscale_zarr3",
      (s, _) => {
        val dir = java.nio.file.Files.createTempDirectory("graft_vstreamz3")
        dir.toFile.deleteOnExit()
        val inDir = dir.resolve("in").toString
        val outDir = dir.resolve("out.zarr3").toString
        val vol = ChunkVolume.fromVoxels(grid(s), D, D, D, 4, 8, 8)
        vol.chunks.filter(col("cz") === 0).write.mode("append").parquet(inDir)
        val q = graft.streaming.VolumeStreams.upscaleIngest(s, inDir, outDir, vol.meta, 2, format = "zarr3")
        try {
          q.processAllAvailable()
          vol.chunks.filter(col("cz") > 0).write.mode("append").parquet(inDir)
          q.processAllAvailable()
        } finally q.stop()
        graft.volume.Zarr3Store.read(s, outDir).toVoxels.orderBy("z", "y", "x")
      },
      Some(s"""$voxCte
        SELECT 2 * v.z + dz.range AS z, 2 * v.y + dy.range AS y, 2 * v.x + dx.range AS x, v.label
        FROM vox v, range(2) dz, range(2) dy, range(2) dx
        ORDER BY z, y, x
      """),
    ),
    Q(
      "vol_chunk_outline",
      (s, _) =>
        chunked(s).outline().toVoxels
          .select(col("z"), col("y"), col("x"), col("label").as("out_label"))
          .orderBy("z", "y", "x"),
      Some(s"""$voxCte
        SELECT v.z, v.y, v.x,
               CASE WHEN v.label <> zp.label OR v.label <> zm.label
                      OR v.label <> yp.label OR v.label <> ym.label
                      OR v.label <> xp.label OR v.label <> xm.label
                    THEN v.label ELSE 0 END AS out_label
        FROM vox v
          JOIN vox zp ON zp.z = (v.z + 1) % 16 AND zp.y = v.y AND zp.x = v.x
          JOIN vox zm ON zm.z = (v.z + 15) % 16 AND zm.y = v.y AND zm.x = v.x
          JOIN vox yp ON yp.z = v.z AND yp.y = (v.y + 1) % 16 AND yp.x = v.x
          JOIN vox ym ON ym.z = v.z AND ym.y = (v.y + 15) % 16 AND ym.x = v.x
          JOIN vox xp ON xp.z = v.z AND xp.y = v.y AND xp.x = (v.x + 1) % 16
          JOIN vox xm ON xm.z = v.z AND xm.y = v.y AND xm.x = (v.x + 15) % 16
        ORDER BY v.z, v.y, v.x
      """),
    ),
    Q(
      "vol_chunk_pyramid_l1",
      (s, _) => chunked(s).decimate().toVoxels.orderBy("z", "y", "x"),
      Some(s"""$voxCte
        SELECT z // 2 AS z, y // 2 AS y, x // 2 AS x, label
        FROM vox WHERE z % 2 = 0 AND y % 2 = 0 AND x % 2 = 0
        ORDER BY z, y, x
      """),
    ),
    // Mean-pooled level 1, CHUNK form, on the deliberately non-aligned
    // (5,6,7) grid: blocks straddling chunk boundaries are merged from
    // per-chunk partial (sum, count) rows — the shuffle carries only the
    // pooled lattice (~1/8 of the volume), never the chunk bodies. Same
    // oracle as the voxel form: partial-merge topology cannot change it.
    Q(
      "vol_chunk_pyramid_mean_l1",
      (s, _) => chunked(s).meanPoolVoxels.orderBy("z", "y", "x"),
      Some(s"""$voxCte
        SELECT z // 2 AS z, y // 2 AS y, x // 2 AS x,
               CAST(SUM(label) AS BIGINT) // COUNT(*) AS label
        FROM vox GROUP BY 1, 2, 3
        ORDER BY z, y, x
      """),
    ),
    // 3D connected components, voxel form: 3 shifted self-joins build
    // the 6-adjacency, then the dedup pipeline's distributed min-label
    // CC. Labels = min linear voxel id per component, fully
    // deterministic. (Not exchange-pinned: the CC loop's round count is
    // data-dependent and each round localCheckpoints.) Runs on the z < 8
    // SLICE of the percolation mask: this query is the deliberate
    // relational ORACLE TWIN of vol_chunk_cc_labels (which stays
    // full-size) — at ~8 shuffle rounds its gate cost scales with mask
    // diameter, and the slice keeps the pair's bench time bounded
    // without changing any semantics (same id formula: dimY/dimX are
    // unchanged, z only shrinks).
    Q(
      "vol_cc_labels",
      (s, _) => ConnectedComponents
        .voxelForm(
          grid(s).filter(ccMaskCol && col("z") < 8).select("z", "y", "x"),
          8L, D, D)
        .orderBy("z", "y", "x"),
      Some(ccOracleSliced),
    ),
    // 3D connected components, chunk form (the scale path): per-chunk
    // union-find collapses within-chunk components with zero shuffle,
    // only rep FACE PLANES cross the wire (2 per interior face), the
    // face-bounded rep graph runs distributed CC, and a broadcast join
    // stamps global labels. Same oracle as the voxel form.
    Q(
      "vol_chunk_cc_labels",
      (s, _) => ConnectedComponents.chunkForm(ccMaskVol(s), _ != 0L)
        .orderBy("z", "y", "x"),
      Some(ccOracle),
    ),
    // Component census: per-component voxel counts, largest first — the
    // island-counting rollup (lesion/soma counts) on top of the chunk
    // form. One extra map-side-combined agg over (component) keys.
    Q(
      "vol_cc_sizes",
      (s, _) => ConnectedComponents.chunkForm(ccMaskVol(s), _ != 0L)
        .groupBy("component").agg(count(lit(1L)).as("n_voxels"))
        .orderBy(desc("n_voxels"), col("component")),
      Some(ccCte() + """
        SELECT component, CAST(COUNT(*) AS BIGINT) AS n_voxels
        FROM cc GROUP BY component
        ORDER BY n_voxels DESC, component
      """),
    ),
    // Despeckling: drop every component below 8 voxels — the standard
    // segmentation clean-up pass. Component-size agg + one shuffle join
    // on the component key (deliberately NOT broadcast: at
    // percolation-like densities the component table is itself huge).
    // Same z < 8 slice as vol_cc_labels (gate-cost bound; the full-size
    // CC surface is covered by vol_chunk_cc_labels / vol_cc_sizes /
    // vol_cc_props): the slice changes WHICH components exist near the
    // cut plane, but the oracle slices identically, so semantics match.
    Q(
      "vol_cc_despeckle",
      (s, _) => ConnectedComponents
        .despeckle(
          ConnectedComponents.chunkForm(
            ChunkVolume.fromVoxels(
              grid(s).filter(col("z") < 8).select(col("z"), col("y"), col("x"),
                when(ccMaskCol, 1L).otherwise(0L).as("label")),
              8L, D, D, 5, 6, 7),
            _ != 0L),
          8L)
        .orderBy("z", "y", "x"),
      Some(ccCte("AND z < 8") + """
        SELECT z, y, x, component FROM cc
        WHERE component IN (
          SELECT component FROM cc GROUP BY component HAVING COUNT(*) >= 8)
        ORDER BY z, y, x
      """),
    ),
    // Component properties: regionProps over the chunk-form CC labels —
    // per-island voxel count, bounding box, and centroid (the census a
    // segmentation pipeline reports per lesion/soma). One extra
    // map-side-combined agg on the component key.
    Q(
      "vol_cc_props",
      (s, _) => VoxelOps.regionProps(
        ConnectedComponents.chunkForm(ccMaskVol(s), _ != 0L)
          .withColumnRenamed("component", "label"))
        .withColumnRenamed("label", "component")
        .orderBy("component"),
      Some(ccCte() + """
        SELECT component, CAST(COUNT(*) AS BIGINT) AS n_voxels,
               MIN(z) AS z_min, MAX(z) AS z_max,
               MIN(y) AS y_min, MAX(y) AS y_max,
               MIN(x) AS x_min, MAX(x) AS x_max,
               CAST((SUM(z) * 10000) // COUNT(*) AS BIGINT) AS cz_e4,
               CAST((SUM(y) * 10000) // COUNT(*) AS BIGINT) AS cy_e4,
               CAST((SUM(x) * 10000) // COUNT(*) AS BIGINT) AS cx_e4
        FROM cc GROUP BY component ORDER BY component
      """),
    ),
    // General dense stencil, voxel form: 3×3×3 box SUM via 27-way
    // scatter + one map-side-combined aggregation; zero-padded edges.
    Q(
      "vol_boxsum3",
      (s, _) => VoxelOps.boxSum3(grid(s), D, D, D).orderBy("z", "y", "x"),
      Some(boxSumOracle),
    ),
    // General dense stencil, chunk form: full 26-neighbor halo exchange
    // (faces+edges+corners, thickness-1 slabs), zero-padded assembly,
    // separable 9-add kernel. Same oracle as the voxel form.
    Q(
      "vol_chunk_boxsum3",
      (s, _) => chunked(s).boxSumVoxels.orderBy("z", "y", "x"),
      Some(boxSumOracle),
    ),
    // T3 third pooling mode, chunk form: per-chunk max partials at pooled
    // granularity, one groupBy merges straddled-block partials (the
    // (5,6,7) grid misaligns with the 2-lattice on purpose).
    Q(
      "vol_chunk_pyramid_max_l1",
      (s, _) => chunked(s).maxPoolVoxels.orderBy("z", "y", "x"),
      Some(s"""$voxCte
        SELECT z // 2 AS z, y // 2 AS y, x // 2 AS x, MAX(label) AS label
        FROM vox GROUP BY 1, 2, 3
        ORDER BY z, y, x
      """),
    ),
    // K3 read half: write the 2-level OME-Zarr pyramid GROUP, then read
    // level 1 back THROUGH the group metadata (.zmetadata/multiscales
    // dataset paths, view_upscaled.py:11) — same decimation oracle as
    // vol_pyramid_level1, proving the flagship sink round-trips as a
    // pyramid, not just as bare level directories.
    Q(
      "vol_pyramid_group_read",
      (s, _) => {
        val dest = pyramidGroupDir
        graft.volume.PyramidWriter.write(chunked(s), levels = 2, dest)
        graft.volume.PyramidWriter.readLevel(s, dest, 1)
          .toVoxels.orderBy("z", "y", "x")
      },
      Some(s"""$voxCte
        SELECT z // 2 AS z, y // 2 AS y, x // 2 AS x, label
        FROM vox WHERE z % 2 = 0 AND y % 2 = 0 AND x % 2 = 0
        ORDER BY z, y, x
      """),
    ),
    // K3 interop: the group reader against a FOREIGN OME-Zarr pyramid —
    // written by the independent pure-stdlib python encoder in the
    // CONSOLIDATED (.zmetadata-only) layout, so the reader must resolve
    // levels through the consolidated document (no loose .zgroup/.zattrs
    // exist). Same decimation oracle: level 1 of the foreign group is the
    // stride-2 decimation of the 16³ grid.
    Q(
      "vol_pyramid_group_read_foreign",
      (s, _) =>
        graft.volume.PyramidWriter.readLevel(s, foreignZarrGroupDir, 1)
          .toVoxels.orderBy("z", "y", "x"),
      Some(s"""$voxCte
        SELECT z // 2 AS z, y // 2 AS y, x // 2 AS x, label
        FROM vox WHERE z % 2 = 0 AND y % 2 = 0 AND x % 2 = 0
        ORDER BY z, y, x
      """),
    ),
    // Round-trip identity: VoxelTable → packed chunks → VoxelTable.
    Q(
      "vol_chunk_roundtrip",
      (s, _) => chunked(s).toVoxels.orderBy("z", "y", "x"),
      Some(s"""$voxCte
        SELECT z, y, x, label FROM vox ORDER BY z, y, x
      """),
    ),
    // J2 chunk form: every voxel of the ×2 output byte-verified against
    // its source WITHOUT materializing voxel rows — the join is over chunk
    // rows, the comparison a local byte kernel.
    Q(
      "vol_chunk_verify_upscale",
      (s, _) => {
        val vol = chunked(s)
        vol.verifyUpscale(vol.upscale(2), 2)
      },
      Some(s"""$voxCte
        SELECT COUNT(*) * 8 AS n_checked, COUNT(*) * 8 AS n_match FROM vox
      """),
    ),
    // P4: point lookups that must each touch exactly one chunk (range
    // predicates on chunk-coordinate columns → partition pruning).
    Q(
      "vol_chunk_point_lookup",
      (s, _) => {
        val vol = chunked(s)
        val pts = Seq((3L, 4L, 5L), (0L, 0L, 0L), (15L, 15L, 15L), (7L, 12L, 9L))
        val rows = pts.map { case (z, y, x) => (z, y, x, vol.pointLookup(z, y, x).getOrElse(-1L)) }
        s.createDataFrame(rows).toDF("z", "y", "x", "label").orderBy("z", "y", "x")
      },
      Some(s"""$voxCte
        SELECT z, y, x, label FROM vox
        WHERE (z, y, x) IN ((3, 4, 5), (0, 0, 0), (15, 15, 15), (7, 12, 9))
        ORDER BY z, y, x
      """),
    ),
    // T4: re-block to a different uniform chunk grid — the one explicit
    // volume-body shuffle — then verify the voxels are untouched.
    Q(
      "vol_chunk_rechunk",
      (s, _) => chunked(s).rechunk(4, 8, 3).toVoxels.orderBy("z", "y", "x"),
      Some(s"""$voxCte
        SELECT z, y, x, label FROM vox ORDER BY z, y, x
      """),
    ),
    // S4/K1 via the DataSource V2 connector: grid → zstd chunk store on
    // disk → `format("graftchunks")` scan → decode → must equal the grid.
    Q(
      "vol_dsv2_roundtrip",
      (s, _) => {
        import graft.volume.{Chunk, ChunkStore, ChunkVolume => CV}
        val store = java.nio.file.Files.createTempDirectory("graft_dsv2").toString + "/store"
        ChunkStore.write(chunked(s), store)
        val meta = CV.readSidecar(store)
        import s.implicits._
        val df = s.read.format("graftchunks").load(store)
        CV(df.as[Chunk], meta).toVoxels.orderBy("z", "y", "x")
      },
      Some(s"""$voxCte
        SELECT z, y, x, label FROM vox ORDER BY z, y, x
      """),
    ),
    // S4/K2 true-interop form: grid → spec-compliant zarr v2 directory
    // (zlib codec, `.zarray`/`.zattrs`, padded edge chunks — the
    // reference's actual on-disk format, upscale_streaming.py:124) →
    // `format("zarr")` DSv2 scan → decode → must equal the grid.
    Q(
      "vol_zarr_roundtrip",
      (s, _) => {
        import graft.volume.{Chunk, ChunkVolume => CV, ZarrStore}
        val store = java.nio.file.Files.createTempDirectory("graft_zarr").toString + "/vol.zarr"
        ZarrStore.write(chunked(s), store, ZarrStore.Zlib(5))
        val (_, meta) = ZarrStore.readMeta(store)
        import s.implicits._
        val df = s.read.format("zarr").load(store)
        CV(df.as[Chunk], meta).toVoxels.orderBy("z", "y", "x")
      },
      Some(s"""$voxCte
        SELECT z, y, x, label FROM vox ORDER BY z, y, x
      """),
    ),
    // Same interop surface through the C-Blosc v1 container chunks
    // (byte-shuffled zstd — the zarr.DirectoryStore default family and the
    // reference's `--compressor zstd` container, upscale_streaming.py:103).
    Q(
      "vol_zarr_blosc_roundtrip",
      (s, _) => {
        import graft.volume.{Chunk, ChunkVolume => CV, ZarrStore}
        val store = java.nio.file.Files.createTempDirectory("graft_zarrb").toString + "/vol.zarr"
        ZarrStore.write(chunked(s), store, ZarrStore.BloscCodec("zstd", 5, shuffle = 1))
        val (_, meta) = ZarrStore.readMeta(store)
        import s.implicits._
        val df = s.read.format("zarr").load(store)
        CV(df.as[Chunk], meta).toVoxels.orderBy("z", "y", "x")
      },
      Some(s"""$voxCte
        SELECT z, y, x, label FROM vox ORDER BY z, y, x
      """),
    ),
    // The reference CLI's DEFAULT output world: Blosc(zstd, clevel=5,
    // BITSHUFFLE) chunks (upscale_streaming.py:104). Bitshuffle is
    // cross-validated against an independent numpy implementation in
    // ZarrInteropSpec; this gate keeps the full write→DSv2-scan→decode
    // chain green on it.
    Q(
      "vol_zarr_bitshuffle_roundtrip",
      (s, _) => {
        import graft.volume.{Chunk, ChunkVolume => CV, ZarrStore}
        val store = java.nio.file.Files.createTempDirectory("graft_zarrbit").toString + "/vol.zarr"
        ZarrStore.write(chunked(s), store, ZarrStore.BloscCodec("zstd", 5, shuffle = 2))
        val (_, meta) = ZarrStore.readMeta(store)
        import s.implicits._
        val df = s.read.format("zarr").load(store)
        CV(df.as[Chunk], meta).toVoxels.orderBy("z", "y", "x")
      },
      Some(s"""$voxCte
        SELECT z, y, x, label FROM vox ORDER BY z, y, x
      """),
    ),
    // The reference CLI's second compressor choice: Blosc(lz4, clevel=5,
    // BITSHUFFLE) (upscale_streaming.py:105-106), raw-LZ4 blocks with
    // c-blosc block splitting — via lz4-java, already on Spark's
    // classpath for shuffle compression.
    Q(
      "vol_zarr_lz4_roundtrip",
      (s, _) => {
        import graft.volume.{Chunk, ChunkVolume => CV, ZarrStore}
        val store = java.nio.file.Files.createTempDirectory("graft_zarrlz4").toString + "/vol.zarr"
        ZarrStore.write(chunked(s), store, ZarrStore.BloscCodec("lz4", 5, shuffle = 2))
        val (_, meta) = ZarrStore.readMeta(store)
        import s.implicits._
        val df = s.read.format("zarr").load(store)
        CV(df.as[Chunk], meta).toVoxels.orderBy("z", "y", "x")
      },
      Some(s"""$voxCte
        SELECT z, y, x, label FROM vox ORDER BY z, y, x
      """),
    ),
    // The DSv2 WRITE path end-to-end: chunk DataFrame →
    // `df.write.format("zarr")` (driver commits `.zarray`, executors
    // land chunk files) → `format("zarr")` scan → decode → must equal
    // the grid.
    Q(
      "vol_zarr_dsv2_write_roundtrip",
      (s, _) => {
        import graft.volume.{Chunk, ChunkVolume => CV, ZarrStore}
        val store = java.nio.file.Files.createTempDirectory("graft_zarrw").toString + "/vol.zarr"
        val vol = chunked(s)
        vol.chunks.toDF().write.format("zarr")
          .option("dimZ", vol.meta.dimZ).option("dimY", vol.meta.dimY).option("dimX", vol.meta.dimX)
          .option("chunkZ", vol.meta.chunkZ).option("chunkY", vol.meta.chunkY).option("chunkX", vol.meta.chunkX)
          .option("elementType", vol.meta.elementType)
          .option("compressor", "blosc-zstd")
          .mode("overwrite").save(store)
        val (_, meta) = ZarrStore.readMeta(store)
        import s.implicits._
        val df = s.read.format("zarr").load(store)
        CV(df.as[Chunk], meta).toVoxels.orderBy("z", "y", "x")
      },
      Some(s"""$voxCte
        SELECT z, y, x, label FROM vox ORDER BY z, y, x
      """),
    ),
    // The DSv2 APPEND/UPSERT contract end-to-end (what streaming ingest
    // relies on): full store via overwrite, then re-land ONLY the cz=0
    // chunk slab with updated labels via `mode("append")` — a re-landed
    // coordinate replaces its whole chunk file (published atomically at
    // job commit), every other chunk is untouched. Read-back must show
    // the update exactly where the slab was and the original elsewhere.
    Q(
      "vol_zarr_dsv2_append_upsert",
      (s, _) => {
        import graft.volume.{Chunk, ChunkVolume => CV, ZarrStore}
        val store = java.nio.file.Files.createTempDirectory("graft_zarrau").toString + "/vol.zarr"
        val vol = chunked(s) // (5,6,7) chunk grid → cz=0 covers z < 5
        vol.chunks.toDF().write.format("zarr")
          .option("dimZ", vol.meta.dimZ).option("dimY", vol.meta.dimY).option("dimX", vol.meta.dimX)
          .option("chunkZ", vol.meta.chunkZ).option("chunkY", vol.meta.chunkY).option("chunkX", vol.meta.chunkX)
          .option("elementType", vol.meta.elementType)
          .mode("overwrite").save(store)
        val updatedVox = grid(s).withColumn(
          "label", when(col("z") < 5, col("label") + 1000).otherwise(col("label")))
        CV.fromVoxels(updatedVox, D, D, D, 5, 6, 7)
          .chunks.toDF().filter(col("cz") === 0)
          .write.format("zarr").mode("append").save(store)
        val (_, meta) = ZarrStore.readMeta(store)
        import s.implicits._
        CV(s.read.format("zarr").load(store).as[Chunk], meta).toVoxels.orderBy("z", "y", "x")
      },
      Some(s"""$voxCte
        SELECT z, y, x,
               CASE WHEN z < 5 THEN label + 1000 ELSE label END AS label
        FROM vox ORDER BY z, y, x
      """),
    ),
    // K5/S5: BigTIFF slice export (one page per z) and scan back.
    Q(
      "vol_bigtiff_roundtrip",
      (s, _) => {
        val path = java.nio.file.Files.createTempDirectory("graft_btiff")
          .resolve("vol.tif").toString
        graft.volume.BigTiff.write(chunked(s), path)
        graft.volume.BigTiff.read(s, path).toVoxels.orderBy("z", "y", "x")
      },
      Some(s"""$voxCte
        SELECT z, y, x, label FROM vox ORDER BY z, y, x
      """),
    ),
    // S5 complete: FOREIGN classic TIFFs (magic 42) written by
    // tools/gen_tiff_fixture.py — an independent pure-stdlib python
    // encoder, NOT BigTiff.write — read back through the general Tiff
    // scan. Same pixel formula as the grid, so the oracles are analytic.
    // Fixtures are generated ONCE per JVM (lazy val below): subprocess
    // encode must never bill into a timed bench rep.
    Q(
      "vol_tiff_foreign_roundtrip",
      (s, _) => graft.volume.Tiff.read(s, foreignTiff("foreign.tif"))
        .toVoxels.orderBy("z", "y", "x"),
      Some(s"""$voxCte
        SELECT z, y, x, label FROM vox ORDER BY z, y, x
      """),
    ),
    // S5 wild variants: TILED layout with edge-padded tiles (dim 20 is
    // deliberately not a multiple of the 16-pixel tile), and LZW with the
    // horizontal predictor — the two most common foreign TIFF shapes
    // tifffile.imread accepts that strips+deflate does not cover.
    Q(
      "vol_tiff_tiled_roundtrip",
      (s, _) => graft.volume.Tiff.read(s, foreignTiff("tiled.tif"))
        .toVoxels.orderBy("z", "y", "x"),
      Some("""
        WITH vox AS (
          SELECT id // 400 AS z, (id // 20) % 20 AS y, id % 20 AS x,
                 ((id // 400) // 4) * 100 + (((id // 20) % 20) // 4) * 10 + ((id % 20) // 4) AS label
          FROM range(8000) t(id)
        )
        SELECT z, y, x, label FROM vox ORDER BY z, y, x
      """),
    ),
    Q(
      "vol_tiff_lzw_roundtrip",
      (s, _) => graft.volume.Tiff.read(s, foreignTiff("lzw.tif"))
        .toVoxels.orderBy("z", "y", "x"),
      Some(s"""$voxCte
        SELECT z, y, x, label FROM vox ORDER BY z, y, x
      """),
    ),
    // uint8 PackBits: the grid formula wraps mod 256 in the dtype
    Q(
      "vol_tiff_packbits_roundtrip",
      (s, _) => graft.volume.Tiff.read(s, foreignTiff("packbits.tif"))
        .toVoxels.orderBy("z", "y", "x"),
      Some(s"""$voxCte
        SELECT z, y, x, label % 256 AS label FROM vox ORDER BY z, y, x
      """),
    ),
    // T7: virtual rotation — pure coordinate projection.
    Q(
      "vol_rotate90",
      (s, _) => VoxelOps.rotate90(grid(s), D).orderBy("z", "y", "x"),
      Some(s"""$voxCte
        SELECT 15 - y AS z, z AS y, x, label FROM vox ORDER BY z, y, x
      """),
    ),
    // S6: the region-ontology CSV scan — the harness region table is
    // exported to CSV in the reference's column layout, read back through
    // RegionTable.readCsv's explicit schema, and checked against the
    // parquet original.
    Q(
      "vol_region_csv_scan",
      (s, d) => {
        val target = java.nio.file.Files.createTempDirectory("graft_region_csv")
          .resolve("region_ids.csv").toString
        val rows = T(s, d, "region")
          .select(col("r_regionkey").cast("long"), col("r_name"))
          .orderBy(col("r_regionkey")).collect()
        val body = "Region,RegionAbbr,RegionName,Level,Parent\n" + rows.map { r =>
          val name = r.getString(1)
          s"${r.getLong(0)},${name.take(3).toUpperCase},$name,0,0"
        }.mkString("\n")
        java.nio.file.Files.writeString(java.nio.file.Paths.get(target), body)
        graft.volume.RegionTable.readCsv(s, target)
          .select(col("Region"), col("RegionAbbr"), col("RegionName"))
          .orderBy(col("Region"))
      },
      Some("""
        SELECT CAST(r_regionkey AS BIGINT) AS Region,
               UPPER(substr(r_name, 1, 3)) AS RegionAbbr,
               r_name AS RegionName
        FROM region ORDER BY Region
      """),
    ),
    // J1/P4: point lookups joined to the region ontology table with
    // left-outer "Unknown region ID" semantics (lookup_test2.py).
    Q(
      "vol_region_lookup",
      (s, d) => {
        val vox = grid(s)
          .filter(col("z") === 3 && col("y").isin(0L, 5L, 10L))
          .withColumn("label", col("label") % 7)
        VoxelOps
          .regionLookup(vox, T(s, d, "region"), "r_regionkey", "r_name")
          .select(col("z"), col("y"), col("x"), col("label"), col("region_name"))
          .orderBy("z", "y", "x")
      },
      Some(s"""$voxCte
        SELECT v.z, v.y, v.x, v.label % 7 AS label,
               COALESCE(r.r_name, 'Unknown region ID: ' || CAST(v.label % 7 AS VARCHAR)) AS region_name
        FROM vox v LEFT JOIN region r ON v.label % 7 = r.r_regionkey
        WHERE v.z = 3 AND v.y IN (0, 5, 10)
        ORDER BY v.z, v.y, v.x
      """),
    ),
    // 6-neighbor grayscale morphology, voxel form: scatter-to-cross +
    // one (min,count)/(max) aggregation; the implicit zero pad at the
    // volume border is realized by `cnt < 7` on the erode side.
    Q(
      "vol_erode6",
      (s, _) => VoxelOps.erode6(grid(s), D, D, D).orderBy("z", "y", "x"),
      Some(erodeOracle),
    ),
    Q(
      "vol_dilate6",
      (s, _) => VoxelOps.dilate6(grid(s), D, D, D).orderBy("z", "y", "x"),
      Some(dilateOracle),
    ),
    // Chunk forms (the scale path): the same halo machinery as boxsum but
    // FACE slabs only — the cross kernel never reads diagonal neighbors,
    // so edge/corner slabs stay home. Same oracles as the voxel forms.
    Q(
      "vol_chunk_erode6",
      (s, _) => chunked(s).erodeVoxels.orderBy("z", "y", "x"),
      Some(erodeOracle),
    ),
    Q(
      "vol_chunk_dilate6",
      (s, _) => chunked(s).dilateVoxels.orderBy("z", "y", "x"),
      Some(dilateOracle),
    ),
    // Morphological OPENING on the percolation mask — the classic
    // despeckle companion to vol_cc_despeckle: protrusions and islands
    // thinner than the cross vanish, bulk survives. Two stencil
    // aggregations back to back; the oracle nests erode inside dilate.
    Q(
      "vol_open_mask",
      (s, _) => VoxelOps.open6(
        grid(s).select(col("z"), col("y"), col("x"),
          when(ccMaskCol, lit(1L)).otherwise(lit(0L)).as("label")),
        D, D, D).orderBy("z", "y", "x"),
      Some("""
        WITH g AS (
          SELECT id // 256 AS z, (id // 16) % 16 AS y, id % 16 AS x FROM range(4096) t(id)
        ), m AS (
          SELECT z, y, x,
                 CAST(CASE WHEN substr(md5(CAST(z AS VARCHAR) || '_' || CAST(y AS VARCHAR) || '_' || CAST(x AS VARCHAR)), 1, 1)
                      BETWEEN '0' AND '5' THEN 1 ELSE 0 END AS BIGINT) AS label
          FROM g
        ), er AS (
          SELECT a.z, a.y, a.x,
                 CASE WHEN COUNT(*) < 7 THEN 0 ELSE MIN(b.label) END AS label
          FROM m a JOIN m b
            ON ABS(a.z - b.z) + ABS(a.y - b.y) + ABS(a.x - b.x) <= 1
          GROUP BY a.z, a.y, a.x
        )
        SELECT a.z, a.y, a.x, MAX(b.label) AS label
        FROM er a JOIN er b
          ON ABS(a.z - b.z) + ABS(a.y - b.y) + ABS(a.x - b.x) <= 1
        GROUP BY a.z, a.y, a.x
        ORDER BY a.z, a.y, a.x
      """),
    ),
    // Morphological CLOSING on the percolation mask — open6's dual:
    // fills sub-structuring-element holes/gaps. Oracle nests dilate
    // inside erode (with the border-zero correction on the erode side).
    Q(
      "vol_close_mask",
      (s, _) => VoxelOps.close6(
        grid(s).select(col("z"), col("y"), col("x"),
          when(ccMaskCol, lit(1L)).otherwise(lit(0L)).as("label")),
        D, D, D).orderBy("z", "y", "x"),
      Some("""
        WITH g AS (
          SELECT id // 256 AS z, (id // 16) % 16 AS y, id % 16 AS x FROM range(4096) t(id)
        ), m AS (
          SELECT z, y, x,
                 CAST(CASE WHEN substr(md5(CAST(z AS VARCHAR) || '_' || CAST(y AS VARCHAR) || '_' || CAST(x AS VARCHAR)), 1, 1)
                      BETWEEN '0' AND '5' THEN 1 ELSE 0 END AS BIGINT) AS label
          FROM g
        ), dl AS (
          SELECT a.z, a.y, a.x, MAX(b.label) AS label
          FROM m a JOIN m b
            ON ABS(a.z - b.z) + ABS(a.y - b.y) + ABS(a.x - b.x) <= 1
          GROUP BY a.z, a.y, a.x
        )
        SELECT a.z, a.y, a.x,
               CASE WHEN COUNT(*) < 7 THEN 0 ELSE MIN(b.label) END AS label
        FROM dl a JOIN dl b
          ON ABS(a.z - b.z) + ABS(a.y - b.y) + ABS(a.x - b.x) <= 1
        GROUP BY a.z, a.y, a.x
        ORDER BY a.z, a.y, a.x
      """),
    ),
    // Per-label region properties (regionprops): count, bbox, centroid in
    // 1e-4 fixed point — one map-side-combined agg on the label key.
    Q(
      "vol_region_props",
      (s, _) => VoxelOps.regionProps(grid(s)).orderBy("label"),
      Some(s"""$voxCte
        SELECT label, CAST(COUNT(*) AS BIGINT) AS n_voxels,
               MIN(z) AS z_min, MAX(z) AS z_max,
               MIN(y) AS y_min, MAX(y) AS y_max,
               MIN(x) AS x_min, MAX(x) AS x_max,
               CAST((SUM(z) * 10000) // COUNT(*) AS BIGINT) AS cz_e4,
               CAST((SUM(y) * 10000) // COUNT(*) AS BIGINT) AS cy_e4,
               CAST((SUM(x) * 10000) // COUNT(*) AS BIGINT) AS cx_e4
        FROM vox GROUP BY label ORDER BY label
      """),
    ),
    // Exposed surface area per label: engine computes 6n − 2·(same-label
    // pairs) from a positive-direction pair stream; the oracle counts
    // exposed faces per voxel directly (6 − same-label face neighbors) —
    // two independent formulations of the same quantity.
    Q(
      "vol_region_surface",
      (s, _) => VoxelOps.regionSurface(grid(s)).orderBy("label"),
      Some(s"""$voxCte,
        links AS (
          SELECT a.label,
                 (SELECT COUNT(*) FROM vox b
                  WHERE ABS(a.z - b.z) + ABS(a.y - b.y) + ABS(a.x - b.x) = 1
                    AND b.label = a.label) AS same_links
          FROM vox a
        )
        SELECT label, CAST(COUNT(*) AS BIGINT) AS n_voxels,
               CAST(SUM(6 - same_links) AS BIGINT) AS surface_faces
        FROM links GROUP BY label ORDER BY label
      """),
    ),
    // Region adjacency graph: which labels share faces, and how many —
    // contact-area census over the same positive-direction pair stream.
    Q(
      "vol_region_adjacency",
      (s, _) => VoxelOps.regionAdjacency(grid(s)).orderBy("label_a", "label_b"),
      Some(s"""$voxCte
        SELECT LEAST(a.label, b.label) AS label_a,
               GREATEST(a.label, b.label) AS label_b,
               CAST(COUNT(*) AS BIGINT) AS n_faces
        FROM vox a JOIN vox b
          ON ((b.z = a.z + 1 AND b.y = a.y AND b.x = a.x)
           OR (b.z = a.z AND b.y = a.y + 1 AND b.x = a.x)
           OR (b.z = a.z AND b.y = a.y AND b.x = a.x + 1))
         AND a.label <> b.label
        GROUP BY 1, 2 ORDER BY 1, 2
      """),
    ),
    // Maximum-intensity projection along z — the 2-D review image; one
    // MAX agg onto the (y,x) lattice.
    Q(
      "vol_mip_z",
      (s, _) => VoxelOps.mipZ(grid(s)).orderBy("y", "x"),
      Some(s"""$voxCte
        SELECT y, x, MAX(label) AS label FROM vox GROUP BY y, x ORDER BY y, x
      """),
    ),
    // Chunk form: each chunk collapses its z-extent to one plane
    // locally, planes MAX-merge per (y,x) — the shuffle carries
    // ~1/chunkZ of the volume. Same oracle.
    Q(
      "vol_chunk_mip_z",
      (s, _) => chunked(s).mipZVoxels.orderBy("y", "x"),
      Some(s"""$voxCte
        SELECT y, x, MAX(label) AS label FROM vox GROUP BY y, x ORDER BY y, x
      """),
    ),
    // ROI crop (P4 generalized to boxes): chunk-level pruning drops
    // non-intersecting chunks before any decode, survivors trim via one
    // extractBox — no shuffle, cost O(chunks ∩ ROI). The box straddles
    // chunk boundaries of the (5,6,7) grid on purpose.
    Q(
      "vol_crop_box",
      (s, _) => chunked(s).cropVoxels(3, 9, 4, 11, 5, 14)
        .orderBy("z", "y", "x"),
      Some(s"""$voxCte
        SELECT z, y, x, label FROM vox
        WHERE z BETWEEN 3 AND 8 AND y BETWEEN 4 AND 10 AND x BETWEEN 5 AND 13
        ORDER BY z, y, x
      """),
    ),
    // Per-slice QC profile: foreground count + label min/max/sum per z
    // plane — the sanity curve inspected after every batch of slices
    // lands (a dropped or shifted slice shows as a notch). One
    // map-side-combined agg onto the z axis.
    Q(
      "vol_slice_stats",
      (s, _) => grid(s).groupBy(col("z"))
        .agg(
          sum(when(col("label") =!= 0, 1L).otherwise(0L)).as("n_fg"),
          min(col("label")).as("min_l"), max(col("label")).as("max_l"),
          sum(col("label")).as("sum_l"))
        .orderBy("z"),
      Some(s"""$voxCte
        SELECT z, CAST(SUM(CASE WHEN label <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_fg,
               MIN(label) AS min_l, MAX(label) AS max_l,
               CAST(SUM(label) AS BIGINT) AS sum_l
        FROM vox GROUP BY z ORDER BY z
      """),
    ),
    // Value-indexed label search over a written store: "which chunks
    // contain label L, how often" — candidates resolve from the
    // consolidated stats index / 64-byte header peeks (no decompression),
    // only candidates decode for exact counts. The oracle recomputes the
    // per-chunk census from the grid formula.
    Q(
      "vol_label_search",
      (s, _) => {
        val store = labelSearchStore(s)
        graft.volume.ChunkStore.findLabel(s, store, 231L)
          .orderBy("cz", "cy", "cx")
      },
      Some(s"""$voxCte
        SELECT z // 5 AS cz, y // 6 AS cy, x // 7 AS cx,
               CAST(COUNT(*) AS BIGINT) AS n_occurrences
        FROM vox WHERE label = 231
        GROUP BY 1, 2, 3 ORDER BY cz, cy, cx
      """),
    ),
    // Atlas-overlay quantification: per-region statistics of a second,
    // identically-gridded measurement volume (the workflow the atlas is
    // upscaled FOR). Voxel form: coordinate equi-join + one label agg.
    Q(
      "vol_region_intensity",
      (s, _) => VoxelOps.regionIntensityStats(grid(s), intensityGrid(s))
        .orderBy("label"),
      Some(regionIntensityOracle),
    ),
    // Chunk form: the two chunk streams co-locate by chunk coordinate
    // (bodies move once), aligned pairs fold to per-chunk per-label
    // partials, and one tiny agg merges — the post-join shuffle carries
    // O(labels · chunks) partial rows, never voxels. Same oracle.
    Q(
      "vol_chunk_region_intensity",
      (s, _) => ChunkVolume.fromVoxels(grid(s), D, D, D, 5, 6, 7)
        .regionStatsAgainst(ChunkVolume.fromVoxels(
          intensityGrid(s).withColumnRenamed("intensity", "label"), D, D, D, 5, 6, 7))
        .orderBy("label"),
      Some(regionIntensityOracle),
    ),
    // Distance transform (erosion peeling, cap 4) on the percolation
    // mask, voxel form: cap−1 chained erosion aggregations whose 0/1
    // masks sum per voxel. depth = min(manhattan distance to nearest
    // background/border, cap); background = 0. The oracle computes the
    // distance DIRECTLY (min over background voxels + border terms) —
    // an independent formulation of what peeling computes.
    Q(
      "vol_distance",
      (s, _) => VoxelOps.erosionDepth(
        grid(s).select(col("z"), col("y"), col("x"),
          when(ccMaskCol, lit(1L)).otherwise(lit(0L)).as("label")),
        D, D, D, cap = 4).orderBy("z", "y", "x"),
      Some(distanceOracle),
    ),
    // Chunk form (the scale path): ONE halo exchange of thickness cap−1
    // ships the radius-3 neighborhood, then all peeling rounds run
    // locally — the deep-halo pattern. (8,8,8) grid so every chunk
    // (incl. remainders) is at least cap−1 thick. Same oracle.
    Q(
      "vol_chunk_distance",
      (s, _) => ChunkVolume.fromVoxels(
        grid(s).select(col("z"), col("y"), col("x"),
          when(ccMaskCol, lit(1L)).otherwise(lit(0L)).as("label")),
        D, D, D, 8, 8, 8).erosionDepthVoxels(cap = 4).orderBy("z", "y", "x"),
      Some(distanceOracle),
    ),
    // S4, v3 dialect: zarr v3 write→read round-trip in the reference
    // CLI's flagship codec (blosc-zstd-BITSHUFFLE) — zarr.json metadata,
    // codec pipeline, c/-prefixed keys; chunk encode/decode is the same
    // v2-proven machinery underneath.
    Q(
      "vol_zarr3_roundtrip",
      (s, _) => {
        graft.volume.Zarr3Store.write(chunked(s), zarr3Dest,
          graft.volume.ZarrStore.BloscCodec("zstd", 5, 2))
        graft.volume.Zarr3Store.read(s, zarr3Dest).toVoxels.orderBy("z", "y", "x")
      },
      Some(s"""$voxCte
        SELECT z, y, x, label FROM vox ORDER BY z, y, x
      """),
    ),
    // S4 interop: a FOREIGN zarr v3 array from the independent python
    // encoder — gzip codec (RFC-1952), big-endian bytes codec, extra
    // attributes — proving the reader against a layout the engine never
    // produced.
    Q(
      "vol_zarr3_foreign",
      (s, _) => graft.volume.Zarr3Store.read(s, foreignZarr3Dir)
        .toVoxels.orderBy("z", "y", "x"),
      Some(s"""$voxCte
        SELECT z, y, x, label FROM vox ORDER BY z, y, x
      """),
    ),
    // S4+ at object-storage scale: sharding_indexed write → read
    // round-trip — (8,8,8) shards over the non-aligned source grid
    // (rechunk moves each byte once), (4,4,4) inner chunks each
    // independently blosc-zstd'd inside ONE file per shard with the
    // crc32c'd uint64-LE index. This is how a v3 store holds 100 TB
    // without billions of object keys: file count scales with shards,
    // read granularity stays one inner chunk.
    Q(
      "vol_zarr3_sharded_roundtrip",
      (s, _) => {
        graft.volume.Zarr3Store.writeSharded(
          chunked(s).rechunk(8, 8, 8), zarr3ShardDest, innerShape = (4, 4, 4),
          graft.volume.ZarrStore.BloscCodec("zstd", 5, 2))
        graft.volume.Zarr3Store.read(s, zarr3ShardDest).toVoxels.orderBy("z", "y", "x")
      },
      Some(s"""$voxCte
        SELECT z, y, x, label FROM vox ORDER BY z, y, x
      """),
    ),
    // S4+ sharded interop: a FOREIGN sharded array from the independent
    // python shard encoder — gzip + big-endian inner pipeline, crc32c
    // index at the START of each shard, one inner cell dropped (the
    // 2^64−1 missing sentinel must decode as fill) — a layout the
    // engine never produced.
    Q(
      "vol_zarr3_sharded_foreign",
      (s, _) => graft.volume.Zarr3Store.read(s, foreignZarr3ShardDir)
        .toVoxels.orderBy("z", "y", "x"),
      Some(s"""$voxCte
        SELECT z, y, x, label FROM vox ORDER BY z, y, x
      """),
    ),
    // P4 ROI on the sharded store: the box plan touches only the
    // intersecting shards, and each task positioned-reads its shard's
    // index plus only the inner chunks the box covers — never a shard
    // body, never a scan. Evidence (4 of 8 shards, 12 of 64 inner
    // chunks, bytes ≪ files) is shape-pinned (shardedBoxShape).
    Q(
      "vol_zarr3_sharded_box",
      (s, _) => graft.volume.Zarr3Store.readBoxSharded(
        s, zarr3ShardedStore(s), 2, 7, 4, 11, 5, 14)
        .orderBy("z", "y", "x"),
      Some(s"""$voxCte
        SELECT z, y, x, label FROM vox
        WHERE z BETWEEN 2 AND 6 AND y BETWEEN 4 AND 10 AND x BETWEEN 5 AND 13
        ORDER BY z, y, x
      """),
    ),
    // The object-storage lifecycle composed: streaming-style fine-chunk
    // land (the unsharded write) → COMPACTION to shards (one rechunk +
    // the zero-shuffle sharded writer) → read back through the sharded
    // dispatcher. This is how a 100 TB store keeps its object count
    // bounded without blocking ingest on shard assembly.
    Q(
      "vol_zarr3_compact",
      (s, _) => {
        val (fine, packed) = zarr3CompactDirs
        graft.volume.Zarr3Store.write(chunked(s), fine,
          graft.volume.ZarrStore.ZstdCodec())
        graft.volume.Zarr3Store.compactToSharded(
          s, fine, packed, shardShape = (8, 8, 8), innerShape = (4, 4, 4))
        graft.volume.Zarr3Store.read(s, packed).toVoxels.orderBy("z", "y", "x")
      },
      Some(s"""$voxCte
        SELECT z, y, x, label FROM vox ORDER BY z, y, x
      """),
    ),
    // P4 on the sharded store: a point lookup does TWO positioned reads
    // (index range + one inner chunk's range) against ONE shard file —
    // never a scan, never the shard body. The evidence (shards opened,
    // bytes read vs file bytes) is shape-pinned in the bench artifact
    // (PlanAudit.shardedPointShape).
    Q(
      "vol_zarr3_sharded_point",
      (s, _) => {
        val probe = graft.volume.Zarr3Store.pointLookupSharded(zarr3ShardedStore(s), 9, 9, 9)
        import s.implicits._
        Seq((9L, 9L, 9L, probe.label)).toDF("z", "y", "x", "label")
      },
      Some(s"""$voxCte
        SELECT z, y, x, label FROM vox WHERE z = 9 AND y = 9 AND x = 9
      """),
    ),
    // K3 on the v3 spec: write the pyramid as an OME-NGFF 0.5 group
    // (zarr v3 group doc, multiscales under attributes.ome, levels as
    // v3 arrays), then read level 1 back THROUGH the group metadata —
    // the flagship sink round-trips on the CURRENT spec too.
    Q(
      "vol_pyramid_v3_group_read",
      (s, _) => {
        val dest = ngff3GroupDir
        graft.volume.PyramidWriter.writeV3(chunked(s), levels = 2, dest)
        graft.volume.PyramidWriter.readLevelV3(s, dest, 1)
          .toVoxels.orderBy("z", "y", "x")
      },
      Some(s"""$voxCte
        SELECT z // 2 AS z, y // 2 AS y, x // 2 AS x, label
        FROM vox WHERE z % 2 = 0 AND y % 2 = 0 AND x % 2 = 0
        ORDER BY z, y, x
      """),
    ),
    // K3 at object-storage scale: the NGFF 0.5 pyramid with SHARDED
    // levels — each level is a sharding_indexed v3 array ((8,8,8)
    // shards, (4,4,4) inner chunks), so a 100 TB pyramid's object count
    // scales with shards per level while reads stay one inner chunk.
    // Level 1 read back THROUGH the group metadata (readLevelV3
    // dispatches to the sharded reader off the level's own zarr.json).
    Q(
      "vol_pyramid_v3_sharded",
      (s, _) => {
        val dest = ngff3ShardedGroupDir
        graft.volume.PyramidWriter.writeV3(
          chunked(s).rechunk(8, 8, 8), levels = 2, dest,
          shardInner = Some((4, 4, 4)))
        graft.volume.PyramidWriter.readLevelV3(s, dest, 1)
          .toVoxels.orderBy("z", "y", "x")
      },
      Some(s"""$voxCte
        SELECT z // 2 AS z, y // 2 AS y, x // 2 AS x, label
        FROM vox WHERE z % 2 = 0 AND y % 2 = 0 AND x % 2 = 0
        ORDER BY z, y, x
      """),
    ),
    // K3 v3 interop: a FOREIGN NGFF 0.5 group from the independent
    // python encoder (gzip + big-endian v3 level arrays) — level 1
    // resolved through attributes.ome.multiscales. Same oracle.
    Q(
      "vol_pyramid_v3_foreign",
      (s, _) => graft.volume.PyramidWriter
        .readLevelV3(s, foreignNgff3Dir, 1)
        .toVoxels.orderBy("z", "y", "x"),
      Some(s"""$voxCte
        SELECT z // 2 AS z, y // 2 AS y, x // 2 AS x, label
        FROM vox WHERE z % 2 = 0 AND y % 2 = 0 AND x % 2 = 0
        ORDER BY z, y, x
      """),
    ),
    // K3 sharded interop: the SAME foreign encoder writing its levels
    // as sharding_indexed arrays (crc32c'd index, gzip+BE inner
    // pipeline) — a sharded NGFF layout the engine never produced,
    // level 1 resolved through the group metadata and dispatched to the
    // sharded reader. Same oracle.
    Q(
      "vol_pyramid_v3_sharded_foreign",
      (s, _) => graft.volume.PyramidWriter
        .readLevelV3(s, foreignNgff3ShardedDir, 1)
        .toVoxels.orderBy("z", "y", "x"),
      Some(s"""$voxCte
        SELECT z // 2 AS z, y // 2 AS y, x // 2 AS x, label
        FROM vox WHERE z % 2 = 0 AND y % 2 = 0 AND x % 2 = 0
        ORDER BY z, y, x
      """),
    ),
    // S-family: NRRD export + scan round-trip — driver writes the text
    // header, executors land chunk bytes with positioned writes, and the
    // scan reads per-chunk row runs at headerLen + offset (the MHD
    // discipline on the other header+raw format).
    Q(
      "vol_nrrd_roundtrip",
      (s, _) => {
        graft.volume.NrrdStore.write(chunked(s), nrrdDest)
        graft.volume.NrrdStore.read(s, nrrdDest)
          .toVoxels.orderBy("z", "y", "x")
      },
      Some(s"""$voxCte
        SELECT z, y, x, label FROM vox ORDER BY z, y, x
      """),
    ),
    // S-family interop: a FOREIGN gzip big-endian CRLF-headered NRRD from
    // the independent python encoder — exercises the sequential
    // slab-streaming gzip path, byte-order normalization, and header
    // robustness (comments, key:=value, ignored space fields).
    Q(
      "vol_nrrd_foreign",
      (s, _) => graft.volume.NrrdStore
        .read(s, foreignNrrdDir.resolve("foreign_gz_be.nrrd").toString)
        .toVoxels.orderBy("z", "y", "x"),
      Some(s"""$voxCte
        SELECT z, y, x, label FROM vox ORDER BY z, y, x
      """),
    ),
    // Foreign raw little-endian uint32 — the parallel positioned-read
    // path on a file the engine never produced.
    Q(
      "vol_nrrd_foreign_raw",
      (s, _) => graft.volume.NrrdStore
        .read(s, foreignNrrdDir.resolve("foreign_raw_le.nrrd").toString)
        .toVoxels.orderBy("z", "y", "x"),
      Some(s"""$voxCte
        SELECT z, y, x, label FROM vox ORDER BY z, y, x
      """),
    ),
  )
}
