package perfbench

import graft.catalog.TableStore
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}
import scala.collection.mutable

/** The traced run's instruments, all attached from outside the engine:
  * a [[SparkListener]] and a [[QueryExecutionListener]] on the session,
  * and [[TimedStore]], a timing decorator around the [[TableStore]] the
  * workload hands to `Geocube` and `HttpEdge`. Counters are cumulative;
  * a workload takes [[snapshot]]s around its measured window and
  * reports the difference. */
final class Tracer(spark: SparkSession) {
  private val counters = new java.util.concurrent.ConcurrentHashMap[String, DoubleAdder]()
  def add(key: String, v: Double): Unit =
    counters.computeIfAbsent(key, _ => new DoubleAdder).add(v)

  /** Journal (`jobs` table) append completion times, ms — the consolidation
    * FSM's state transitions as the store sees them. */
  val journal: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty
  private val lastEvent = new AtomicLong(System.nanoTime())

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      lastEvent.set(System.nanoTime()); add("spark.jobs", 1)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      lastEvent.set(System.nanoTime())
      add("spark.stages", 1)
      val m = e.stageInfo.taskMetrics
      if (m != null) {
        add("spark.shuffle_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("spark.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      lastEvent.set(System.nanoTime())
      add("spark.tasks", 1)
      if (!e.taskInfo.successful) add("spark.failed_tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("spark.executor_run_ms", m.executorRunTime.toDouble)
        // time the task spent launched but not running user code
        val wait = e.taskInfo.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime
        add("spark.task_wait_ms", math.max(0L, wait).toDouble)
      }
    }
  }

  private val qel = new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      add("spark.queries", 1)
      val phases = qe.tracker.phases
      add("spark.catalyst_ms", Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(_.durationMs.toDouble).sum)
      add("catalog.files_read", scans(qe.executedPlan)
        .flatMap(_.metrics.get("numFiles")).map(_.value.toDouble).sum)
    }
    def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
      add("spark.failed_queries", 1)
  }

  private def scans(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case other =>
      (if (other.metrics.contains("numFiles")) Seq(other) else Nil) ++
        other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qel)

  /** Wait until the asynchronous listener bus has been quiet for 200 ms,
    * so a snapshot sees every event of the work before it. */
  def quiesce(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    while (System.nanoTime() - lastEvent.get() < 200000000L &&
        System.nanoTime() < deadline) Thread.sleep(50)
  }

  def snapshot(): Map[String, Double] = {
    quiesce()
    import scala.jdk.CollectionConverters._
    counters.asScala.map { case (k, v) => k -> v.sum() }.toMap
  }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qel)
  }

  /** The store decorator: times and counts each of the five primitives
    * per kind (`read` only builds the relation; the scan itself runs
    * inside the Spark jobs the listener sees). */
  def wrap(store: TableStore): TableStore = new TimedStore(store, this)
}

final class TimedStore(underlying: TableStore, tracer: Tracer) extends TableStore {
  private def timed[A](kind: String)(body: => A): A = {
    val (r, ms) = Util.timed(body)
    tracer.add(s"catalog.${kind}_calls", 1)
    tracer.add(s"catalog.${kind}_ms", ms)
    r
  }
  def root: String = underlying.root
  def read(spark: SparkSession, table: String): DataFrame =
    timed("read")(underlying.read(spark, table))
  def append(df: DataFrame, table: String): Unit = {
    timed("append")(underlying.append(df, table))
    if (table == "jobs") tracer.journal.synchronized(tracer.journal += Util.nowMs())
  }
  def rewrite(df: DataFrame, table: String): Unit =
    timed("rewrite")(underlying.rewrite(df, table))
  def deleteWhere(spark: SparkSession, table: String, uris: DataFrame,
      uriCol: String): Unit =
    timed("delete")(underlying.deleteWhere(spark, table, uris, uriCol))
  def updatePartitions(spark: SparkSession, table: String,
      partValues: Seq[String], transform: DataFrame => DataFrame): Unit =
    timed("update")(underlying.updatePartitions(spark, table, partValues, transform))
}
