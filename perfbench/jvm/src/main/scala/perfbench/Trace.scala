package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{Identifier, Table}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The tracer of the current run, if the run is traced. The traced catalog
  * is instantiated by Spark by class name, so it finds the tracer here. */
object Trace {
  @volatile var current: Option[Tracer] = None
}

/** Records, from outside the engine, the boundaries a traced operation
  * crosses: the operation itself (timed by the workload), catalog loads
  * (via [[TracedGraftCatalog]]), SQL executions with their Catalyst phase
  * times (QueryExecutionListener and the SQL execution events), jobs and
  * stages with their aggregated task metrics (SparkListener), and
  * micro-batches (StreamingQueryListener). Everything is kept in memory and
  * dumped once at the end; spans are linked into op -> SQL execution ->
  * job -> stage by perfbench/layers.py.
  *
  * An operation is traced when the workload runs it through [[op]] with
  * `traced = true`: its jobs then carry the `perfbench.op` local property,
  * and the listeners ignore jobs without it. */
final class Tracer {
  private val nextOp = new AtomicLong(1)
  private val currentOp = new ThreadLocal[java.lang.Long]

  private val ops = new ConcurrentLinkedQueue[Map[String, Any]]
  private val loads = new ConcurrentLinkedQueue[Map[String, Any]]
  private val sqlStart = new ConcurrentHashMap[Long, Long]
  private val sqlEnd = new ConcurrentHashMap[Long, Long]
  private val phases = new ConcurrentHashMap[Long, Map[String, Double]]
  private val jobs = new ConcurrentHashMap[Int, Map[String, Any]]
  private val jobEnd = new ConcurrentHashMap[Int, Long]
  private val stageJob = new ConcurrentHashMap[Int, Int]
  private val stages = new ConcurrentLinkedQueue[Map[String, Any]]
  private val batches = new ConcurrentLinkedQueue[Map[String, Any]]

  /** Run `body` as one operation of the workload; trace it if asked. */
  def op[T](spark: SparkSession, kind: String, name: String, traced: Boolean)(body: => T): T = {
    val sc = spark.sparkContext
    if (!traced) {
      sc.setLocalProperty(Tracer.OpKey, null)
      return body
    }
    val id = nextOp.getAndIncrement()
    sc.setLocalProperty(Tracer.OpKey, id.toString)
    currentOp.set(id)
    val files0 = graft.catalog.GraftStorage.fileOpens.get()
    val t0 = Clock.nowMs()
    try body
    finally {
      val t1 = Clock.nowMs()
      ops.add(Map("id" -> id, "kind" -> kind, "name" -> name, "start" -> t0,
        "end" -> t1,
        "files_opened" -> (graft.catalog.GraftStorage.fileOpens.get() - files0)))
      currentOp.remove()
      sc.setLocalProperty(Tracer.OpKey, null)
    }
  }

  /** Marks the jobs this thread starts from now on as traced work that
    * belongs to no client operation (a streaming query's micro-batches). */
  def traceBackground(spark: SparkSession): Unit =
    spark.sparkContext.setLocalProperty(Tracer.OpKey, "0")

  private[perfbench] def catalogLoad(t0: Double, t1: Double): Unit =
    Option(currentOp.get()).foreach { id =>
      loads.add(Map("op" -> id.longValue, "start" -> t0, "end" -> t1))
    }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.OpKey)))
      op.foreach { o =>
        val exec = Option(e.properties.getProperty("spark.sql.execution.id"))
          .map(_.toLong).getOrElse(-1L)
        jobs.put(e.jobId, Map("job" -> e.jobId, "op" -> o.toLong, "exec" -> exec,
          "start" -> e.time, "stages" -> e.stageIds))
        e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (jobs.containsKey(e.jobId)) jobEnd.put(e.jobId, e.time)

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      if (!stageJob.containsKey(si.stageId)) return
      val job = stageJob.get(si.stageId)
      val m = si.taskMetrics
      val metrics: Map[String, Any] =
        if (m == null) Map.empty
        else Map(
          "cpu_ms" -> m.executorCpuTime / 1e6,
          "run_ms" -> m.executorRunTime.toDouble,
          "gc_ms" -> m.jvmGCTime.toDouble,
          "shuffle_read" -> m.shuffleReadMetrics.totalBytesRead,
          "shuffle_write" -> m.shuffleWriteMetrics.bytesWritten,
          "spill" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
          "in_bytes" -> m.inputMetrics.bytesRead,
          "in_rows" -> m.inputMetrics.recordsRead,
          "out_bytes" -> m.outputMetrics.bytesWritten,
          "out_rows" -> m.outputMetrics.recordsWritten)
      stages.add(Map("stage" -> si.stageId, "attempt" -> si.attemptNumber(),
        "job" -> job, "tasks" -> si.numTasks,
        "start" -> si.submissionTime.getOrElse(0L),
        "end" -> si.completionTime.getOrElse(0L),
        "failed" -> si.failureReason.isDefined) ++ metrics)
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => sqlStart.put(s.executionId, s.time)
      case s: SparkListenerSQLExecutionEnd => sqlEnd.put(s.executionId, s.time)
      case _ =>
    }
  }

  private val queryListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      phases.put(qe.id, Seq("analysis", "optimization", "planning").map { p =>
        p -> ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
      }.toMap)
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      batches.add(Map("query" -> p.id.toString, "batch" -> p.batchId,
        "start" -> java.time.Instant.parse(p.timestamp).toEpochMilli, "rows" -> p.numInputRows,
        "duration" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }
  }

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def uninstall(spark: SparkSession): Unit = {
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(queryListener)
    spark.sparkContext.removeSparkListener(sparkListener)
  }

  /** Everything recorded, for perfbench/layers.py to link and aggregate. */
  def dump(): Map[String, Any] = {
    val sql = (sqlStart.keySet.asScala ++ sqlEnd.keySet.asScala).toSeq.sorted.map { id =>
      Map("exec" -> id, "start" -> Option(sqlStart.get(id)), "end" -> Option(sqlEnd.get(id)),
        "phases" -> Option(phases.get(id)).getOrElse(Map.empty))
    }
    val js = jobs.asScala.toSeq.sortBy(_._1).map { case (id, j) =>
      j + ("end" -> Option(jobEnd.get(id)))
    }
    Map("ops" -> ops.asScala.toSeq, "loads" -> loads.asScala.toSeq, "sql" -> sql,
      "jobs" -> js, "stages" -> stages.asScala.toSeq, "batches" -> batches.asScala.toSeq)
  }
}

object Tracer {
  val OpKey = "perfbench.op"
}

/** The engine's catalog with each outermost `loadTable` timed — the
  * catalog-resolution boundary, measured from outside the engine. */
class TracedGraftCatalog extends graft.catalog.GraftCatalog {
  private val depth = ThreadLocal.withInitial[Integer](() => 0)

  override def loadTable(ident: Identifier): Table = {
    val d: Int = depth.get
    depth.set(d + 1)
    val t0 = Clock.nowMs()
    try super.loadTable(ident)
    finally {
      depth.set(d)
      if (d == 0) Trace.current.foreach(_.catalogLoad(t0, Clock.nowMs()))
    }
  }
}
