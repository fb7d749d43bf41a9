package perfbench

import graft.cube.{CubeRequest, XYZTile}
import graft.layout.Grid
import graft.serving.HttpEdge

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** Loopback HTTP client of the serving workload (HTTP/1.1, one pooled
  * connection per client thread at most). */
final class EdgeClient(port: Int) {
  private val client = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1).build()

  /** GET `path`: (status, time to headers ms, body, total ms). */
  def get(path: String): (Int, Double, Array[Byte], Double) = {
    val t0 = Util.nowMs()
    val resp = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).build(),
      HttpResponse.BodyHandlers.ofInputStream())
    val tHead = Util.nowMs() - t0
    val body = try resp.body().readAllBytes() finally resp.body().close()
    (resp.statusCode(), tHead, body, Util.nowMs() - t0)
  }
}

/** Workload `xyz_tiles`: map viewers pulling PNG tiles through the HTTP
  * edge in a closed loop, one outstanding request per client. */
object XyzTiles {
  final case class Tile(inst: Int, z: Int, x: Long, y: Long, date: Int)

  val Zooms: Seq[Int] = Seq(12, 11, 10)
  /** Zipf exponent of tile popularity: assumed, not fitted to a log. */
  val ZipfS = 1.1
  /** Closed-loop warm-up before the measured window, ms. */
  val RampMs = 6000.0

  /** The tile's one-date time window: its date ± 1 h. */
  def window(a: Archive, t: Tile): (java.sql.Timestamp, java.sql.Timestamp) =
    (new java.sql.Timestamp(a.dateMs(t.date) - 3600000L),
      new java.sql.Timestamp(a.dateMs(t.date) + 3600000L))

  def path(a: Archive, t: Tile): String = {
    val (from, to) = window(a, t)
    s"/v1/xyz/${a.instanceId(t.inst)}/${t.z}/${t.x}/${t.y}.png" +
      s"?from=${from.toInstant}&to=${to.toInstant}"
  }

  /** The request pool in popularity order: every z10–12 tile whose centre
    * lies inside the archive's footprint, with every instance and date.
    * Each zoom's addresses are shuffled by the seed; the zooms are then
    * interleaved in proportion to their sizes, a z12 address first, so
    * the hot set mixes zooms alike for every seed. */
  def pool(a: Archive, rng: java.util.Random): IndexedSeq[Tile] = {
    val foot = a.footprintLonLat
    val env = foot.getEnvelopeInternal
    val points = new org.locationtech.jts.geom.GeometryFactory()
    val perZoom = Zooms.map { z =>
      val n = 1L << z
      val addrs = for {
        tx <- lonToX(env.getMinX, n) to lonToX(env.getMaxX, n)
        ty <- latToY(env.getMaxY, n) to latToY(env.getMinY, n)
        (clon, clat) = center(tx, ty, n)
        if foot.contains(points.createPoint(new org.locationtech.jts.geom.Coordinate(clon, clat)))
        inst <- 0 until a.instances
        date <- 0 until a.dates
      } yield Tile(inst, z, tx, ty, date)
      require(addrs.nonEmpty, s"no z$z tile centre inside the archive")
      scala.util.Random.javaRandomToRandom(rng).shuffle(addrs).toIndexedSeq
    }
    val taken = Array.fill(perZoom.size)(0)
    IndexedSeq.fill(perZoom.map(_.size).sum) {
      // the zoom with the smallest share placed so far; ties to the finest
      val k = perZoom.indices.filter(i => taken(i) < perZoom(i).size)
        .minBy(i => (taken(i) + 0.5) / perZoom(i).size)
      taken(k) += 1
      perZoom(k)(taken(k) - 1)
    }
  }

  private def lonToX(lon: Double, n: Long): Long = math.floor((lon + 180) / 360 * n).toLong
  private def latToY(lat: Double, n: Long): Long = {
    val r = math.toRadians(lat)
    math.floor((1 - math.log(math.tan(r) + 1 / math.cos(r)) / math.Pi) / 2 * n).toLong
  }
  private def center(x: Long, y: Long, n: Long): (Double, Double) =
    ((x + 0.5) / n * 360 - 180,
      math.toDegrees(math.atan(math.sinh(math.Pi * (1 - 2 * (y + 0.5) / n)))))

  /** Seeded Zipf(s) rank sequence over `n` items. */
  def zipf(rng: java.util.Random, n: Int, s: Double, len: Int): Array[Int] = {
    val w = (1 to n).map(k => 1 / math.pow(k, s))
    val cdf = w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    Array.fill(len) {
      val u = rng.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  /** Status and a hash of the decoded ARGB pixels of a reply. */
  def decoded(status: Int, body: Array[Byte]): (Int, String) =
    if (status != 200) (status, "")
    else {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(body))
      val px = img.getRGB(0, 0, img.getWidth, img.getHeight, null, 0, img.getWidth)
      val bb = java.nio.ByteBuffer.allocate(px.length * 4)
      bb.asIntBuffer().put(px)
      (status, s"${img.getWidth}x${img.getHeight}:" + Util.sha1(bb.array()))
    }

  def run(ctx: Ctx): Outcome = {
    val out = new Outcome
    val a = Archive(ctx.seed, instances = 2, dates = 2, cellsX = 3, cellsY = 3)
    val dts = 0 until a.dates
    val (built, buildMs) = Common.buildCatalog(ctx, a, dts,
      a.scenes(0 until a.instances, dts), reps = 3)
    val rng = new java.util.Random(ctx.seed ^ 0x5DEECE66DL)
    val tiles = pool(a, rng)
    val order = zipf(rng, tiles.size, ZipfS, 1 << 16)
    val edge = new HttpEdge(ctx.spark, built.store)
    val port = edge.start()
    try {
      val client = new EdgeClient(port)
      val clients = math.min(4, ctx.cores)
      val next = new AtomicInteger
      val errors = new AtomicInteger
      /** Closed loop for `ms`: one outstanding request per client; each
        * reply as (pool index, status, body, headers ms, total ms). */
      def closedLoop(ms: Double): Seq[(Int, Int, Array[Byte], Double, Double)] = {
        val done = new ConcurrentLinkedQueue[(Int, Int, Array[Byte], Double, Double)]()
        val deadline = Util.nowMs() + ms
        val threads = (1 to clients).map { _ =>
          val th = new Thread(() => {
            while (Util.nowMs() < deadline) {
              val i = order(next.getAndIncrement() % order.length)
              try {
                val (st, head, body, total) = client.get(path(a, tiles(i)))
                done.add((i, st, body, head, total))
              } catch { case e: Exception =>
                errors.incrementAndGet()
                System.err.println(s"CHECK FAILED: xyz request ${path(a, tiles(i))}: $e")
              }
            }
          })
          th.start(); th
        }
        threads.foreach(_.join())
        done.asScala.toSeq
      }
      // set-up: warm-up under load
      val (ramp, warmMs) = Util.timed(closedLoop(RampMs))
      val heapSetup = Util.heapAfterFullGcMb()
      out.e2e("setup_s") = (ctx.sessionReadyMs + buildMs + warmMs) / 1000
      System.err.println(f"perfbench: session ${ctx.sessionReadyMs}%.0f ms, warm-up $warmMs%.0f ms, pool ${tiles.size} tiles")

      // the measured window
      val gc0 = Util.gcMs()
      val snap0 = ctx.tracer.map(_.snapshot())
      val oldGen = new Util.OldGenPeak
      val t0 = Util.nowMs()
      val results = closedLoop(ctx.seconds * 1000.0)
      val wallMs = Util.nowMs() - t0
      val snap1 = ctx.tracer.map(_.snapshot())
      val heapEnd = Util.heapAfterFullGcMb()
      oldGen.close()
      out.attempted = ramp.size + results.size + errors.get
      out.failed += errors.get
      // every address requested under load, served serially afterwards:
      // the replies those under load must match (the pool is too large to
      // serve whole during set-up)
      val replies = ramp ++ results
      val (expected, refMs) = Util.timed(replies.map(_._1).distinct.map { i =>
        val (st, _, body, _) = client.get(path(a, tiles(i)))
        if (st != 200) out.fail(s"xyz serial reply $st for ${path(a, tiles(i))}")
        i -> decoded(st, body)
      }.toMap)
      System.err.println(f"perfbench: ${expected.size} distinct tiles served serially in $refMs%.0f ms")
      replies.foreach { case (i, st, body, _, _) =>
        if (decoded(st, body) != expected(i))
          out.fail(s"xyz reply under load differs from the serial reply for ${path(a, tiles(i))}")
      }
      val lat = results.map(_._5)
      require(lat.nonEmpty, "no xyz request completed in the window")
      out.e2e("op_p50_ms") = Util.median(lat)
      out.e2e("op_tail_ms") = Util.percentile(lat, Common.tailPercentile(lat.size))
      out.e2e("throughput_per_s") = results.size / (wallMs / 1000)
      out.e2e("first_result_p50_ms") = Util.median(results.map(_._4))
      out.e2e("store_bytes_per_input_byte") =
        Util.dirBytes(built.root).toDouble / a.rawBytes(built.scenes)
      out.e2e("heap_after_gc_peak_mb") = Seq(heapSetup, oldGen.mb, heapEnd).max

      for (t <- ctx.tracer; s0 <- snap0; s1 <- snap1) {
        Common.windowLayers(ctx, s0, s1, results.size, wallMs, out)
        Common.jvmLayers(gc0, heapEnd, out)
        out.layers("trace.op_p50_ms") = out.e2e("op_p50_ms")
        out.layers("trace.op_tail_ms") = out.e2e("op_tail_ms")
        // sampled decomposition and serving overhead, after the window
        val sample = results.map(_._1).distinct.take(3).map(tiles)
        val overhead = sample.map { tile =>
          val (_, _, _, httpMs) = client.get(path(a, tile))
          val (from, to) = window(a, tile)
          val (_, inMs) = Util.timed(XYZTile.getTile(ctx.spark, built.store,
            a.instanceId(tile.inst), tile.x, tile.y, tile.z,
            fromTime = Some(from), toTime = Some(to)))
          httpMs - inMs
        }
        out.layers("serving.xyz.overhead_ms") = Util.median(overhead)
        val before = t.snapshot()
        sample.foreach { tile =>
          val (from, to) = window(a, tile)
          // the request XYZTile.getTile builds for this tile
          Decompose(ctx.spark, built.store, CubeRequest(
            instanceIds = Seq(a.instanceId(tile.inst)), crs = "EPSG:3857",
            transform = Grid.xyzTransform(tile.x, tile.y, tile.z),
            width = 256, height = 256, fromTime = Some(from), toTime = Some(to),
            validPixPc = 0),
            png = true, t)
        }
        val after = t.snapshot()
        Common.decompositionLayers(after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }, out)
        Common.scanRowsPerResult(ctx, built.store, out)
        out.layers("raster.geotiff_read_ms") = Common.geotiffReadMs(built.inputs)
        Common.ingestLayers(built.times, built.scenes, out)
      }
    } finally edge.stop()
    out
  }
}
