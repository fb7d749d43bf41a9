package perfbench

import graft.api.Geocube
import graft.catalog.TableStore
import graft.core.{DataFormat, DType, NumRange}
import graft.geo.{Affine, CRS, GeomOps}
import graft.ingest.{GeoTiffIO, IndexDatasets}
import graft.raster.{Bitmap, GeoTiff}
import org.apache.spark.sql.SparkSession

/** One synthetic scene of the archive: instance `inst`, acquisition date
  * `date`, grid cell (`cx`, `cy`). */
final case class Scene(inst: Int, date: Int, cx: Int, cy: Int)

/** The seeded archive shared by the geocube workloads: `instances` ×
  * `dates` × `cellsX`·`cellsY` UTM (EPSG:326xx) uint16 scenes of
  * [[Archive.ScenePx]]² pixels at [[Archive.Res]] m, laid edge to edge on
  * a regular cell grid. Pixel values follow a closed form of the global
  * pixel position, the date and the instance, so every output can be
  * checked and two runs with the same seed see the same bytes.
  *
  * One record per date (all cells and instances of a date share it), one
  * variable whose range equals the datasets' real range. */
final case class Archive(seed: Long, instances: Int, dates: Int,
    cellsX: Int, cellsY: Int) {
  import Archive._

  private val rng = new java.util.Random(seed * 0x9E3779B97F4A7C15L + 17)
  val zone: Int = 31 + Math.floorMod(seed, 3L).toInt
  val epsg: Int = 32600 + zone
  val crs: CRS = CRS.parse(s"EPSG:$epsg")
  /** Top-left corner of cell (0, 0), on the pixel lattice. Seeds move the
    * archive by whole scenes, so its offset against a scene-sized
    * consolidation grid is the same for every seed. */
  val x0: Double = 300000.0 + rng.nextInt(16) * ScenePx * Res
  val y0: Double = 4900000.0 + rng.nextInt(16) * ScenePx * Res
  private val day0: Long = 1704067200000L + rng.nextInt(365) * 86400000L

  val widthPx: Int = cellsX * ScenePx
  val heightPx: Int = cellsY * ScenePx

  def instanceId(i: Int): String = s"inst$i"
  def recordId(d: Int): String = f"rec-$seed-$d%03d"
  def dateMs(d: Int): Long = day0 + d * 5L * 86400000L
  def timestamp(d: Int): java.sql.Timestamp = new java.sql.Timestamp(dateMs(d))

  def scenes(insts: Seq[Int], dts: Seq[Int]): Seq[Scene] =
    for (i <- insts; d <- dts; cy <- 0 until cellsY; cx <- 0 until cellsX)
      yield Scene(i, d, cx, cy)

  def sceneTransform(s: Scene): Affine =
    Affine.northUp(x0 + s.cx * ScenePx * Res, y0 - s.cy * ScenePx * Res, Res, -Res)

  /** The closed-form pixel value at global pixel (gx, gy): in [1, 9998],
    * never the nodata value 0. The same for every seed, so archives of
    * different seeds differ in place and time only and compress alike. */
  def value(inst: Int, date: Int, gx: Int, gy: Int): Int =
    1 + Math.floorMod(gx * 7 + gy * 13 + (gx >> 5) * (gy >> 5) * 3, 9000) +
      Math.floorMod(date * 37 + inst * 101, 999)

  def bitmap(s: Scene): Bitmap = {
    val px = new Array[Double](ScenePx * ScenePx)
    var r = 0
    while (r < ScenePx) {
      var c = 0
      while (c < ScenePx) {
        px(r * ScenePx + c) =
          value(s.inst, s.date, s.cx * ScenePx + c, s.cy * ScenePx + r)
        c += 1
      }
      r += 1
    }
    new Bitmap(ScenePx, ScenePx, 1, DType.UInt16, px)
  }

  /** Deflate-compressed, internally tiled GeoTIFF of one scene. */
  def geotiff(s: Scene): Array[Byte] =
    GeoTiff.write(Seq(GeoTiff.Image(bitmap(s), sceneTransform(s), crs)),
      noData = NoData, compress = true, tileSize = 256)

  /** Raw pixel bytes of `n` scenes (uint16). */
  def rawBytes(n: Int): Long = n.toLong * ScenePx * ScenePx * 2

  /** The archive footprint in lon/lat. */
  def footprintLonLat: org.locationtech.jts.geom.Geometry =
    GeomOps.geographicRingFromExtent(
      Affine.northUp(x0, y0, Res, -Res), widthPx, heightPx, crs)
}

object Archive {
  val ScenePx = 256
  val Res = 100.0
  val NoData = 0.0
  val VariableId = "refl"
  /** The variable's range — also every dataset's internal and real range. */
  val Range: NumRange = NumRange(1, 10000)
  val Format: DataFormat = DataFormat(DType.UInt16, NoData, Range)

  /** Write `scenes` as GeoTIFFs into a directory named after their
    * content, skipping files already present; returns the directory and
    * the container URI of each scene. */
  def materialize(archive: Archive, scenes: Seq[Scene],
      inputs: java.io.File): (java.io.File, Seq[(Scene, String)]) = {
    val files = scenes.map(s => s -> archive.geotiff(s))
    val dir = new java.io.File(inputs, Util.sha1(files.map(_._2)).take(16))
    dir.mkdirs()
    val uris = files.map { case (s, bytes) =>
      val f = new java.io.File(dir, Util.sha1(bytes).take(16) + ".tif")
      if (!f.exists) {
        val tmp = new java.io.File(dir, f.getName + ".part")
        java.nio.file.Files.write(tmp.toPath, bytes)
        tmp.renameTo(f)
      }
      s -> ("file:" + f.getAbsolutePath)
    }
    (dir, uris)
  }

  /** Per-step wall times of one ingest, ms: writing the inputs (the
    * generator's share) and the engine's three ingest steps. */
  final case class IngestTimes(write: Double, imports: Double,
      records: Double, index: Double) {
    /** The engine's share: import, records and index. */
    def total: Double = imports + records + index
  }

  /** The catalog skeleton a deployment creates once: variable, its
    * instances and the archive's AOI. Returns the AOI id. */
  def createVariable(gc: Geocube, archive: Archive): String = {
    gc.createVariable(gc.NewVariable(VariableId, "reflectance",
      dtype = "uint16", noData = NoData, minValue = Range.min,
      maxValue = Range.max))
    (0 until archive.instances).foreach(i =>
      gc.instantiateVariable(VariableId, archive.instanceId(i), s"reflectance-$i"))
    gc.createAoi(archive.footprintLonLat)
  }

  /** Ingest `scenes` of the dates `dts` through the public API: write the
    * GeoTIFFs, then import them, create the dates' records and index one
    * dataset per scene, each step timed on its own. */
  def ingest(spark: SparkSession, gc: Geocube, store: TableStore,
      archive: Archive, aoiId: String, dts: Seq[Int], scenes: Seq[Scene],
      inputs: java.io.File): IngestTimes = {
    val ((dir, uris), tWrite) = Util.timed(materialize(archive, scenes, inputs))
    val (_, tImport) = Util.timed(
      GeoTiffIO.importFiles(spark, store, s"${dir.getAbsolutePath}/*.tif"))
    val (_, tRecords) = Util.timed(gc.createRecords(dts.map(d =>
      gc.NewRecord(archive.recordId(d), s"acq-$d", archive.timestamp(d),
        Map("sensor" -> "synthetic"), aoiId))))
    val (_, tIndex) = Util.timed(gc.indexExternalDatasets(uris.map { case (s, uri) =>
      IndexDatasets.NewDataset(archive.recordId(s.date),
        archive.instanceId(s.inst), uri, "GTIFF_DIR:1", Seq(1), Format,
        Range.min, Range.max)
    }))
    IngestTimes(tWrite, tImport, tRecords, tIndex)
  }
}
