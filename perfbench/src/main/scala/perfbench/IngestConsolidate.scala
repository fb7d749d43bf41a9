package perfbench

import graft.consolidation.{ConsolidationJob, ConsolidationParams}
import graft.core.{DataMapping, DType}
import graft.cube.{CubeRequest, GetCube}
import graft.geo.Affine
import graft.layout.Layout
import graft.raster.{Bitmap, Resampling}

/** Workload `ingest_consolidate`: a producer appending one new date of
  * scenes per iteration — write the GeoTIFFs, then import, create the
  * record and index (the timed ingest) — and consolidating it onto a
  * layout in the source CRS and resolution. The store grows through the
  * run, as an archive does. */
object IngestConsolidate {
  val CellsX = 2
  val CellsY = 2
  /** Dates ingested during set-up, before the first iteration. */
  val BaseDates = 1

  def layout(a: Archive): Layout = Layout("perfbench-utm", Seq("regular"),
    Map("crs" -> s"EPSG:${a.epsg}", "resolution" -> Archive.Res.toString,
      "cell_size" -> Archive.ScenePx.toString))

  val params: ConsolidationParams = ConsolidationParams(
    DataMapping(Archive.Format, Archive.Range, 1.0), Resampling.Near)

  /** The date's full extent, read back at source resolution in the
    * source CRS. */
  def readBack(a: Archive, d: Int): CubeRequest = CubeRequest(
    instanceIds = Seq(a.instanceId(0)), crs = s"EPSG:${a.epsg}",
    transform = Affine.northUp(a.x0, a.y0, Archive.Res, -Archive.Res),
    width = a.widthPx, height = a.heightPx, recordIds = Seq(a.recordId(d)))

  def run(ctx: Ctx): Outcome = {
    val out = new Outcome
    val a = Archive(ctx.seed, instances = 1, dates = 10000, cellsX = CellsX, cellsY = CellsY)
    val base = 0 until BaseDates
    val (built, buildMs) = Common.buildCatalog(ctx, a, base, a.scenes(Seq(0), base), reps = 3)
    val store = built.store
    var scenes = built.scenes
    val consolidated = scala.collection.mutable.ArrayBuffer.empty[(Int, String)]

    /** The read-back cube of date `d`, checked against the closed form;
      * returns its payload hash. */
    def readAndCheck(d: Int, stage: String): String = {
      val slices = GetCube.cube(ctx.spark, store, readBack(a, d)).collect()
      if (slices.length != 1 || slices(0).record_ids != Seq(a.recordId(d))) {
        out.fail(s"read-back of date $d $stage: slices ${slices.map(_.record_ids).toSeq}")
        ""
      } else {
        val bm = Bitmap.fromBytes(slices(0).payload, a.widthPx, a.heightPx, 1, DType.UInt16)
        var bad = 0
        var r = 0
        while (r < a.heightPx) {
          var c = 0
          while (c < a.widthPx) {
            if (bm.pixels(r * a.widthPx + c) != a.value(0, d, c, r)) bad += 1
            c += 1
          }
          r += 1
        }
        if (bad > 0) out.fail(s"read-back of date $d $stage: $bad pixels differ from the closed form")
        Util.sha1(slices(0).payload)
      }
    }

    /** One iteration on date `d`: (ingest step times, consolidation ms). */
    def iteration(d: Int): (Archive.IngestTimes, Double) = {
      val dScenes = a.scenes(Seq(0), Seq(d))
      val times = Archive.ingest(ctx.spark, built.gc, store, a, built.aoiId,
        Seq(d), dScenes, built.inputs)
      scenes += dScenes.size
      val before = readAndCheck(d, "before consolidation")
      val jobId = s"cons-${ctx.seed}-$d"
      val (state, consMs) = Util.timed(ConsolidationJob.run(ctx.spark, store,
        ConsolidationJob.Spec(jobId, jobId, a.instanceId(0), Seq(a.recordId(d)),
          layout(a), params)))
      if (state != "DONE") out.fail(s"consolidation $jobId ended $state, not DONE")
      consolidated += d -> before
      (times, consMs)
    }

    // warm-up: consolidate the set-up's dates
    val (_, warmMs) = Util.timed {
      base.foreach(d => consolidated += d -> readAndCheck(d, "before consolidation"))
      val jobId = s"cons-${ctx.seed}-base"
      val st = ConsolidationJob.run(ctx.spark, store, ConsolidationJob.Spec(jobId, jobId,
        a.instanceId(0), base.map(a.recordId), layout(a), params))
      if (st != "DONE") out.fail(s"consolidation $jobId ended $st, not DONE")
    }
    val heapSetup = Util.heapAfterFullGcMb()
    out.e2e("setup_s") = (ctx.sessionReadyMs + buildMs + warmMs) / 1000
    System.err.println(f"perfbench: session ${ctx.sessionReadyMs}%.0f ms, warm-up $warmMs%.0f ms")

    val gc0 = Util.gcMs()
    val snap0 = ctx.tracer.map(_.snapshot())
    val journal0 = ctx.tracer.map(_.journal.size).getOrElse(0)
    val bytes0 = Util.dirBytes(built.root)
    val oldGen = new Util.OldGenPeak
    val t0 = Util.nowMs()
    val deadline = t0 + ctx.seconds * 1000.0
    val iters = Seq.newBuilder[(Archive.IngestTimes, Double)]
    // iterations while the next one is expected to end inside the window;
    // always at least one
    var d = BaseDates
    var spent = 0.0
    while (d == BaseDates || Util.nowMs() + spent / (d - BaseDates) <= deadline) {
      val (it, ms) = Util.timed(iteration(d))
      iters += it
      spent += ms
      d += 1
    }
    val wallMs = Util.nowMs() - t0
    val snap1 = ctx.tracer.map(_.snapshot())
    val heapEnd = Util.heapAfterFullGcMb()
    oldGen.close()
    val runs = iters.result()
    out.attempted = runs.size
    System.err.println(s"perfbench: iterations (ingest, consolidate) ms: ${runs.map(r => (r._1.total.round, r._2.round))}")
    // every consolidated date must read back exactly as before
    consolidated.foreach { case (dd, before) =>
      if (readAndCheck(dd, "after consolidation") != before)
        out.fail(s"read-back of date $dd changed across consolidation")
    }
    val ingestMs = runs.map(_._1.total)
    val consMs = runs.map(_._2)
    out.e2e("op_p50_ms") = Util.median(consMs)
    out.e2e("op_tail_ms") = Util.percentile(consMs, Common.tailPercentile(consMs.size))
    out.e2e("throughput_per_s") = runs.size * CellsX * CellsY / (ingestMs.sum / 1000)
    out.e2e("first_result_p50_ms") = Util.median(ingestMs)
    out.e2e("store_bytes_per_input_byte") = Util.dirBytes(built.root).toDouble / a.rawBytes(scenes)
    out.e2e("heap_after_gc_peak_mb") = Seq(heapSetup, oldGen.mb, heapEnd).max

    for (t <- ctx.tracer; s0 <- snap0; s1 <- snap1) {
      Common.windowLayers(ctx, s0, s1, runs.size, wallMs, out)
      Common.jvmLayers(gc0, heapEnd, out)
      out.layers("trace.op_p50_ms") = out.e2e("op_p50_ms")
      out.layers("trace.op_tail_ms") = out.e2e("op_tail_ms")
      out.layers("catalog.bytes_written") =
        (Util.dirBytes(built.root) - bytes0).toDouble / math.max(runs.size, 1)
      // consolidation phases: the intervals between the FSM's journal
      // appends (NEW, CREATED, …, DONE) of each measured job
      val marks = t.journal.synchronized(t.journal.drop(journal0).toIndexedSeq)
      val phases = Seq("lock", "plan", "work", "index", "swap", "gc")
      val perJob = marks.grouped(ConsolidationJob.states.size).filter(_.size ==
        ConsolidationJob.states.size).toSeq
      phases.zipWithIndex.foreach { case (p, i) =>
        out.layers(s"consolidation.${p}_ms") =
          if (perJob.isEmpty) 0.0 else Util.median(perJob.map(m => m(i + 1) - m(i)))
      }
      out.layers("consolidation.journal_appends") = marks.size.toDouble / math.max(runs.size, 1)
      val jobIds = (BaseDates until d).map(dd => s"cons-${ctx.seed}-$dd")
      out.layers("consolidation.containers") = store.read(ctx.spark, "datasets")
        .filter(org.apache.spark.sql.functions.col("container_uri")
          .rlike(jobIds.map(j => s"/containers/$j/").mkString("|")))
        .select("container_uri").distinct().count().toDouble / math.max(runs.size, 1)
      val before = t.snapshot()
      Seq(BaseDates, BaseDates + 1).filter(_ < d).foreach(dd =>
        Decompose(ctx.spark, store, readBack(a, dd), png = false, t))
      val after = t.snapshot()
      Common.decompositionLayers(after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }, out)
      Common.scanRowsPerResult(ctx, store, out)
      out.layers("raster.geotiff_read_ms") = Common.geotiffReadMs(built.inputs)
      Common.ingestLayers(runs.map(_._1).reduce((x, y) => Archive.IngestTimes(
        x.write + y.write, x.imports + y.imports, x.records + y.records,
        x.index + y.index)), runs.size * CellsX * CellsY, out)
    }
    out
  }
}
