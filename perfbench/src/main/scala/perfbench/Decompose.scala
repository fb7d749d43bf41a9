package perfbench

import graft.catalog.{CatalogQueries, DatasetFilters, TableStore}
import graft.core.{DataFormat, DataMapping, DType, NumRange}
import graft.cube.{Compress, CubeRequest, DatasetTile, GetCube, Palette}
import graft.geo.{Affine, CRS, GeomOps}
import graft.raster.{Bitmap, SourceRaster, Warp}
import org.apache.spark.sql.SparkSession

/** The traced run's per-request decomposition: one cube or tile request
  * replayed through the engine's public pieces, in the order the read
  * path runs them — `prepare` → `datasetTiles` → collect →
  * `downloadCube` → encode (`Palette.toPng` for a tile, `Compress` for a
  * cube slice) — plus single-threaded microtimings of the raster layer
  * (`Bitmap.fromBytes`, `Warp.mergeDatasets`) on the fetched tiles and
  * the catalog's `findDatasets` for the same filters. Adds its readings
  * to the tracer's `cube.*`, `raster.*` and `catalog.find*` counters. */
object Decompose {

  def apply(spark: SparkSession, store: TableStore, req: CubeRequest,
      png: Boolean, t: Tracer): Unit = {
    import spark.implicits._
    val (out, prepMs) = Util.timed(GetCube.prepare(spark, store, req))
    val (plan, planMs) = Util.timed(GetCube.datasetTiles(spark, store, req))
    val (tiles, fetchMs) = Util.timed(plan.collect())
    val (slices, kernelMs) = Util.timed(
      GetCube.downloadCube(spark, spark.createDataset(tiles.toSeq), out).collect())
    t.add("cube.requests", 1)
    t.add("cube.prepare_ms", prepMs)
    t.add("cube.plan_ms", planMs)
    t.add("cube.fetch_ms", fetchMs)
    t.add("cube.fetch_rows", tiles.length)
    t.add("cube.fetch_mb", tiles.map(_.payload.length.toLong).sum / 1048576.0)
    t.add("cube.kernel_ms", kernelMs)
    t.add("cube.slices", slices.length)
    t.add("cube.datasets", tiles.length)

    // raster layer on one thread: decode every fetched tile, then warp
    // each slice's sources onto the output grid
    val (decoded, decodeMs) = Util.timed(tiles.map(r =>
      r -> Bitmap.fromBytes(r.payload, r.t_width, r.t_height, r.t_bands,
        DType.fromName(r.t_dtype))))
    t.add("raster.decoded_tiles", tiles.length)
    t.add("raster.decode_ms", decodeMs)
    val groups = decoded.groupBy(_._1.group_key).values.toSeq
    val (_, warpMs) = Util.timed(groups.foreach { g =>
      Warp.mergeDatasets(g.sortBy(_._1.datetime.getTime).map { case (r, bm) =>
        SourceRaster(bm, Affine.fromArray(r.t_transform.toArray), CRS.parse(r.t_crs),
          sourceMapping(r))
      }.toSeq, out)
    })
    t.add("raster.warp_mpix", groups.size.toDouble * out.width * out.height / 1e6)
    t.add("raster.warp_ms", warpMs)

    // encode as the edge does: PNG for a tile, level-1 deflate per slice
    val raw = slices.map(_.payload.length.toLong).sum
    val (encoded, encMs) = Util.timed(slices.filter(_.payload.nonEmpty).map { s =>
      if (png) Palette.toPng(Bitmap.fromBytes(s.payload, s.width, s.height, s.bands,
        DType.fromName(s.dtype)), out.mapping, None).length.toLong
      else Compress.deflate(s.payload, 1).length.toLong
    }.sum)
    t.add(if (png) "cube.png_ms" else "cube.compress_ms", encMs)
    t.add("cube.encode_ms", encMs)
    t.add("cube.raw_bytes", raw.toDouble)
    t.add("cube.encoded_bytes", encoded.toDouble)

    val footprint = GeomOps.geographicRingFromExtent(
      req.transform, req.width, req.height, out.crs)
    val (found, findMs) = Util.timed(CatalogQueries.findDatasets(spark, store,
      DatasetFilters(status = Seq("ACTIVE"), instanceIds = req.instanceIds,
        recordIds = req.recordIds, fromTime = req.fromTime, toTime = req.toTime,
        geog = Some(footprint))).count())
    t.add("catalog.finds", 1)
    t.add("catalog.find_ms", findMs)
    t.add("catalog.find_results", found.toDouble)
  }

  private def sourceMapping(r: DatasetTile): DataMapping =
    DataMapping(DataFormat(DType.fromName(r.dtype), r.no_data,
      NumRange(r.min_value, r.max_value)),
      NumRange(r.real_min_value, r.real_max_value), r.exponent)
}
