package perfbench

import org.apache.spark.sql.SparkSession

/** `perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir>`: one benchmark run in one JVM. Prints, as the last line
  * of stdout, one JSON object with the operation counts, the end-to-end
  * metrics and (`--trace 1`) the per-layer readings, which a traced run
  * also writes to `<work>/../trace/`. Launched by `run.py`, which builds
  * the classpath and picks the metrics `BENCHMARK.json` names. */
object Main {

  val Workloads: Map[String, Ctx => Outcome] = Map(
    "xyz_tiles" -> XyzTiles.run,
    "ingest_consolidate" -> IngestConsolidate.run)

  /** The serving workload runs under the serving edge's session confs,
    * the batch workload under the batch bench's. */
  val Serving: Set[String] = Set("xyz_tiles")

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String) = args.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    val workload = arg("workload")
    val run = Workloads.getOrElse(workload,
      throw new IllegalArgumentException(
        s"unknown workload '$workload' (${Workloads.keys.toSeq.sorted.mkString(", ")})"))
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toInt
    val trace = arg("trace") == "1"
    val work = new java.io.File(arg("work")).getAbsoluteFile
    work.mkdirs()

    val cores = Runtime.getRuntime.availableProcessors()
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new java.io.File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new java.io.File(work, "warehouse").getPath)
      .config("spark.hadoop.hadoop.tmp.dir", new java.io.File(work, "tmp").getPath)
    if (Serving(workload)) {
      builder.config("spark.sql.shuffle.partitions", "32")
      graft.cube.GetCube.ServingSessionConfs.foreach { case (k, v) => builder.config(k, v) }
    } else {
      builder.config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
    }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val ctx = Ctx(spark, seed, seconds, work, tracer, Util.sinceJvmStartMs())

    val out =
      try run(ctx)
      catch { case e: Throwable =>
        // a run that cannot finish reports no result; exit now rather than
        // wait on Spark's and the edge's threads
        e.printStackTrace()
        sys.exit(1)
      }
    tracer.foreach(_.close())
    spark.stop()

    val result = Util.json(scala.collection.immutable.ListMap(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "attempted" -> out.attempted, "failed" -> out.failed,
      "end_to_end" -> out.e2e, "layers" -> out.layers))
    if (trace) {
      val dir = new java.io.File(work.getParentFile, "trace")
      dir.mkdirs()
      val f = new java.io.File(dir, s"$workload-seed$seed.json")
      java.nio.file.Files.write(f.toPath, result.getBytes("UTF-8"))
      System.err.println(s"per-layer sidecar: $f")
    }
    println(result)
    System.out.flush()
    sys.exit(0) // the HTTP client's and Spark's pools must not hold the JVM
  }
}
