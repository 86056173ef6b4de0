package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Benchmark-side tracing. Spans mark the benchmark's own boundaries
  * (workload → phase → query call) and are always kept, because the
  * end-to-end timings are read from them. With `enabled`, Spark's own
  * listeners are attached from outside the program and record every
  * job, stage and query execution; everything stays in memory and is
  * written once at the end. */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val jobs = new ConcurrentLinkedQueue[mutable.Map[String, Any]]()
  private val jobEnds = new ConcurrentLinkedQueue[(Int, Long, Boolean)]()
  private val stages = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val qes = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val attached =
    mutable.ArrayBuffer.empty[(SparkSession, SparkListener, QueryExecutionListener)]

  /** Times `body` as a span and returns its result and the span id. */
  def span[T](name: String, parent: Int, attrs: (String, Any)*)(body: Int => T): T = {
    val id = spans.synchronized { spans += Map.empty; spans.size - 1 }
    val start = Clock.nowMs()
    try body(id)
    finally {
      val end = Clock.nowMs()
      spans.synchronized {
        spans(id) = Map("id" -> id, "parent" -> parent, "name" -> name,
          "start_ms" -> start, "end_ms" -> end) ++ attrs
      }
    }
  }

  /** Registers the listeners on a new session, before any query starts:
    * a streaming query runs on a clone of its session and keeps the
    * execution listeners the session had when the query started. */
  def attach(spark: SparkSession): Unit = if (enabled) {
    val sl = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        def prop(k: String): Any = p.flatMap(x => Option(x.getProperty(k))).orNull
        jobs.add(mutable.Map("job" -> e.jobId, "start_ms" -> e.time,
          "stages" -> e.stageIds, "batch_id" -> prop("streaming.sql.batchId"),
          "query_id" -> prop("sql.streaming.queryId")))
        ()
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        jobEnds.add((e.jobId, e.time, e.jobResult == JobSucceeded))
        ()
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val m = i.taskMetrics
        stages.add(Map("stage" -> i.stageId, "attempt" -> i.attemptNumber(),
          "tasks" -> i.numTasks,
          "start_ms" -> i.submissionTime.getOrElse(0L),
          "end_ms" -> i.completionTime.getOrElse(0L),
          "task_ms" -> (if (m == null) 0L else m.executorRunTime),
          "bytes_read" -> (if (m == null) 0L else m.inputMetrics.bytesRead),
          "bytes_written" -> (if (m == null) 0L else m.outputMetrics.bytesWritten),
          "shuffle_write_bytes" ->
            (if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten)))
        ()
      }
    }
    val ql = new QueryExecutionListener {
      override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
        record(fn, qe, ok = true)
      override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit =
        record(fn, qe, ok = false)
    }
    spark.sparkContext.addSparkListener(sl)
    spark.listenerManager.register(ql)
    attached += ((spark, sl, ql))
    ()
  }

  private def record(fn: String, qe: QueryExecution, ok: Boolean): Unit = {
    val phases = qe.tracker.phases
    def phaseMs(k: String): Long = phases.get(k).map(p => p.endTimeMs - p.startTimeMs).getOrElse(0L)
    var files = 0L
    var bytes = 0L
    try qe.executedPlan.foreach { n =>
      n.metrics.get("numFiles").foreach(m => files += m.value)
      n.metrics.get("numOutputBytes").foreach(m => bytes += m.value)
    } catch { case _: Throwable => () }
    val start = if (phases.isEmpty) 0L else phases.values.map(_.startTimeMs).min
    qes.add(Map("fn" -> fn, "ok" -> ok, "start_ms" -> start,
      "plan_ms" -> (phaseMs("analysis") + phaseMs("optimization") + phaseMs("planning")),
      "files_written" -> files, "bytes_written" -> bytes))
    ()
  }

  /** Waits for queued listener events, then detaches from every session
    * still running. */
  def detach(): Unit = {
    attached.foreach { case (spark, sl, ql) =>
      if (!spark.sparkContext.isStopped) {
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(sl)
        spark.listenerManager.unregister(ql)
      }
    }
    attached.clear()
  }

  def dump(): Map[String, Any] = {
    detach()
    val ends = jobEnds.asScala.map(e => e._1 -> e).toMap
    val js = jobs.asScala.toSeq.map { j =>
      val e = ends.get(j("job").asInstanceOf[Int])
      (j ++ Map("end_ms" -> e.map(_._2), "ok" -> e.exists(_._3))).toMap
    }
    Map("traced" -> enabled, "spans" -> spans.synchronized(spans.toList),
      "jobs" -> js, "stages" -> stages.asScala.toList, "qes" -> qes.asScala.toList)
  }
}
