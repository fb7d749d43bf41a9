package perfbench

import graft.api.Geocube
import graft.catalog.TableStore
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** What one run needs: the session, its arguments, its work directory
  * inside the checkout and, in a traced run, the [[Tracer]]. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Int,
    work: java.io.File, tracer: Option[Tracer], sessionReadyMs: Double) {
  val cores: Int = Runtime.getRuntime.availableProcessors()

  /** The store a deployment gets for `root` ([[TableStore.at]]), behind
    * the timing decorator in a traced run. */
  def store(root: java.io.File): TableStore = {
    val s = TableStore.at(spark, root.getAbsolutePath)
    tracer.fold(s)(_.wrap(s))
  }

  def dir(name: String): java.io.File = {
    val d = new java.io.File(work, name)
    Util.rm(d)
    d.mkdirs()
    d
  }
}

/** A run's result: the operation counts, the end-to-end metrics and, in
  * a traced run, the per-layer readings. */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  val e2e: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  val layers: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty

  /** Count a failed or wrong-answer operation and report it. */
  def fail(what: String): Unit = {
    failed += 1
    System.err.println(s"CHECK FAILED: $what")
  }
}

/** The catalog a workload serves, built through the public ingest API. */
final case class Built(store: TableStore, gc: Geocube, aoiId: String,
    root: java.io.File, inputs: java.io.File, times: Archive.IngestTimes,
    scenes: Int)

object Common {

  /** Build the catalog for `scenes` of dates `dts` `reps` times, each in a
    * fresh root from freshly written inputs, and keep the last build.
    * Returns it with the median build wall time, ms. */
  def buildCatalog(ctx: Ctx, archive: Archive, dts: Seq[Int],
      scenes: Seq[Scene], reps: Int): (Built, Double) = {
    val builds = (1 to reps).map { k =>
      val root = ctx.dir(s"catalog-$k")
      val inputs = ctx.dir(s"inputs-$k")
      val (b, ms) = Util.timed {
        val store = ctx.store(root)
        val gc = Geocube(ctx.spark, store)
        val aoi = Archive.createVariable(gc, archive)
        val times = Archive.ingest(ctx.spark, gc, store, archive, aoi, dts, scenes, inputs)
        Built(store, gc, aoi, root, inputs, times, scenes.size)
      }
      System.err.println(f"perfbench: catalog build $k: $ms%.0f ms (${b.times})")
      (b, ms)
    }
    builds.init.foreach { case (b, _) => Util.rm(b.root); Util.rm(b.inputs) }
    (builds.last._1, Util.median(builds.map(_._2)))
  }

  /** The highest percentile with 10 of `n` samples beyond it; the median
    * when there are fewer than 20. */
  def tailPercentile(n: Int): Double = math.max(50.0, 100.0 * (1 - 10.0 / n))

  /** Spark-layer readings over a measured window: per-operation dispatch
    * counts, Catalyst time, executor busy ratio and the catalog calls the
    * decorator saw. */
  def windowLayers(ctx: Ctx, before: Map[String, Double],
      after: Map[String, Double], ops: Int, wallMs: Double,
      out: Outcome): Unit = {
    def d(k: String): Double = after.getOrElse(k, 0.0) - before.getOrElse(k, 0.0)
    val n = math.max(ops, 1).toDouble
    val L = out.layers
    L("spark.jobs_per_op") = d("spark.jobs") / n
    L("spark.stages_per_op") = d("spark.stages") / n
    L("spark.tasks_per_op") = d("spark.tasks") / n
    L("spark.catalyst_ms") = d("spark.catalyst_ms") / n
    L("spark.task_wait_ms") = d("spark.task_wait_ms") / math.max(d("spark.tasks"), 1)
    L("spark.task_busy_ratio") = d("spark.executor_run_ms") / (wallMs * ctx.cores)
    L("spark.shuffle_mb") = d("spark.shuffle_bytes") / 1048576.0 / n
    L("spark.spill_mb") = d("spark.spill_bytes") / 1048576.0
    L("spark.failed_tasks") = d("spark.failed_tasks")
    L("catalog.files_read") = d("catalog.files_read") / n
    for (k <- Seq("read", "append", "rewrite", "delete", "update")) {
      L(s"catalog.${k}_calls") = d(s"catalog.${k}_calls") / n
      L(s"catalog.${k}_ms") = d(s"catalog.${k}_ms") / n
    }
  }

  /** Readings of the decomposed requests (see [[Decompose]]), as means
    * per request, per tile or per slice. */
  def decompositionLayers(snap: Map[String, Double], out: Outcome): Unit = {
    def g(k: String): Double = snap.getOrElse(k, 0.0)
    val req = math.max(g("cube.requests"), 1)
    val L = out.layers
    for (k <- Seq("prepare_ms", "plan_ms", "fetch_ms", "fetch_rows", "fetch_mb",
        "kernel_ms", "slices", "encode_ms", "png_ms", "compress_ms"))
      L(s"cube.$k") = g(s"cube.$k") / req
    L("cube.datasets_per_slice") = g("cube.datasets") / math.max(g("cube.slices"), 1)
    L("cube.compress_ratio") = g("cube.raw_bytes") / math.max(g("cube.encoded_bytes"), 1)
    L("catalog.find_ms") = g("catalog.find_ms") / math.max(g("catalog.finds"), 1)
    L("catalog.find_results") = g("catalog.find_results") / math.max(g("catalog.finds"), 1)
    L("raster.decode_ms_per_tile") = g("raster.decode_ms") / math.max(g("raster.decoded_tiles"), 1)
    L("raster.warp_mpix_per_s") = g("raster.warp_mpix") / math.max(g("raster.warp_ms") / 1000, 1e-9)
  }

  /** `catalog.scan_rows_per_result`: datasets-table rows per dataset the
    * decomposed finds returned. */
  def scanRowsPerResult(ctx: Ctx, store: TableStore, out: Outcome): Unit = {
    val rows = store.read(ctx.spark, "datasets").count().toDouble
    out.layers("catalog.scan_rows_per_result") =
      rows / math.max(out.layers.getOrElse("catalog.find_results", 0.0), 1)
  }

  /** Mean `GeoTiff.read` time over up to 8 of the run's input files, ms. */
  def geotiffReadMs(inputs: java.io.File): Double = {
    val files = Option(inputs.listFiles).toSeq.flatten
      .flatMap(d => Option(d.listFiles).toSeq.flatten).filter(_.getName.endsWith(".tif"))
      .sortBy(_.getName).take(8)
    val bytes = files.map(f => java.nio.file.Files.readAllBytes(f.toPath))
    bytes.foreach(graft.raster.GeoTiff.read) // warm
    Util.timed(bytes.foreach(graft.raster.GeoTiff.read))._2 / math.max(bytes.size, 1)
  }

  /** Ingest-layer readings of a catalog build, ms per scene. */
  def ingestLayers(times: Archive.IngestTimes, scenes: Int, out: Outcome): Unit = {
    val n = math.max(scenes, 1).toDouble
    out.layers("ingest.write_ms") = times.write / n
    out.layers("ingest.import_ms") = times.imports / n
    out.layers("ingest.records_ms") = times.records / n
    out.layers("ingest.index_ms") = times.index / n
  }

  /** JVM readings of a measured window. */
  def jvmLayers(gcMsBefore: Double, heapMb: Double, out: Outcome): Unit = {
    out.layers("jvm.gc_ms") = Util.gcMs() - gcMsBefore
    out.layers("jvm.heap_after_gc_mb") = heapMb
  }
}
