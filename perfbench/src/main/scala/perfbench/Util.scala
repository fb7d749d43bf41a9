package perfbench

import com.sun.management.GarbageCollectionNotificationInfo
import java.lang.management.ManagementFactory
import javax.management.{NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.jdk.CollectionConverters._

/** Small helpers shared by the workloads: timing, percentiles, hashing,
  * JVM heap/GC readings and a minimal JSON writer. */
object Util {

  def nowMs(): Double = System.nanoTime() / 1e6

  /** `(result, elapsed ms)` of `body`. */
  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** Linear-interpolated percentile (`p` in [0, 100]) of `xs`. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val pos = (s.size - 1) * p / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  def sha1(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-1").digest(bytes)
      .map(b => f"${b & 0xff}%02x").mkString

  def sha1(parts: Seq[Array[Byte]]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-1")
    parts.foreach(md.update)
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  def rm(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
    f.delete(): Unit
  }

  def dirBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)
    else f.length()

  /** Total collection time of every collector so far, ms. */
  def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum.toDouble

  /** Heap occupancy after a full collection, MB: the live set at this
    * point of the run. */
  def heapAfterFullGcMb(): Double = {
    // twice: the first collection lets Spark's context cleaner release
    // the blocks of unreachable broadcasts, the second frees them
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** The largest old-generation occupancy after any collection between
    * construction and [[close]], MB, from the collectors' notifications:
    * what the run holds while it works, plus what it promoted and the
    * collector has not reclaimed yet. */
  final class OldGenPeak extends AutoCloseable {
    private val peak = new java.util.concurrent.atomic.AtomicLong(0L)
    private val listener: NotificationListener = (n, _) =>
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        info.getGcInfo.getMemoryUsageAfterGc.asScala.foreach { case (pool, u) =>
          if (pool.contains("Old Gen") || pool.contains("Tenured"))
            peak.accumulateAndGet(u.getUsed, (x, y) => math.max(x, y))
        }
      }
    private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .collect { case e: NotificationEmitter => e }
    emitters.foreach(_.addNotificationListener(listener, null, null))

    def mb: Double = peak.get / 1048576.0
    def close(): Unit = emitters.foreach(_.removeNotificationListener(listener))
  }

  /** Milliseconds since this JVM started. */
  def sinceJvmStartMs(): Double =
    System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime

  // ---------------------------------------------------------------- JSON

  def json(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}
