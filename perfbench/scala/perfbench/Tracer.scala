package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around calls into the library's public functions, plus the Spark
  * events that happen inside them.
  *
  * A span tags every job it starts with the local property [[Key]] (its
  * instance id); local properties are inherited by the threads Spark starts
  * for the job, including a streaming query's execution thread. The
  * listeners are attached only while tracing; span walls are always kept.
  * Everything stays in memory until [[dump]]: raw records only, the
  * per-span metrics are derived by the Python side (`perfbench/stats.py`).
  */
final class Tracer {
  import Tracer._

  private val spans = mutable.ArrayBuffer.empty[SpanRec]
  private var stack: List[Int] = Nil
  private var sc: SparkContext = _
  var phase: String = "setup"

  // listener records, written on the listener-bus thread
  // Spark numbers jobs and stages per context: keys carry the session epoch
  private var epoch = 0
  private val jobs = mutable.HashMap.empty[(Int, Int), JobRec]
  private val stageSpan = mutable.HashMap.empty[(Int, Int), Int]
  private val stages = mutable.HashMap.empty[(Int, Int, Int), StageRec]
  private val phases = mutable.ArrayBuffer.empty[(Long, Long)]
  private val seenPhases = mutable.HashSet.empty[(Int, String, Long)]
  private val progress = mutable.ArrayBuffer.empty[(Long, Long, Long)]
  private var attachedTo: Option[SparkSession] = None
  private var lastSession: SparkSession = _

  def bind(spark: SparkSession): Unit = { sc = spark.sparkContext; stack = Nil }

  /** Runs `body` inside a span named `name`. */
  def span[T](name: String)(body: => T): T = {
    val id = open(name)
    try body finally close(id)
  }

  /** Opens a span that [[close]] ends; for stages that are not one lexical
    * block (spans still nest: close the innermost first). */
  def open(name: String): Int = {
    val id = spans.synchronized {
      spans += SpanRec(name, stack.headOption.getOrElse(-1), phase,
        System.currentTimeMillis(), -1L, System.nanoTime())
      spans.size - 1
    }
    stack = id :: stack
    sc.setLocalProperty(Key, id.toString)
    id
  }

  def close(id: Int): Unit = {
    require(stack.headOption.contains(id), s"span $id is not the innermost open span")
    val (m1, n1) = (System.currentTimeMillis(), System.nanoTime())
    spans.synchronized {
      val s = spans(id)
      spans(id) = s.copy(endMs = m1, wallNs = n1 - s.wallNs)
    }
    stack = stack.tail
    sc.setLocalProperty(Key, stack.headOption.map(_.toString).orNull)
  }

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(Key))).map(_.toInt).getOrElse(-1)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val span = spanOf(e.properties)
      val result = if (e.stageInfos.isEmpty) null else e.stageInfos.maxBy(_.stageId)
      val pin = result != null && result.details.contains("graft.Mat$")
      jobs((epoch, e.jobId)) = JobRec(e.jobId, span, e.time, -1L, pin,
        if (result == null) "" else result.name)
      e.stageIds.foreach(s => stageSpan.getOrElseUpdate((epoch, s), span))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get((epoch, e.jobId)).foreach(j => jobs((epoch, e.jobId)) = j.copy(end = e.time))
    }
    private def stage(id: Int, attempt: Int): StageRec =
      stages.getOrElseUpdate((epoch, id, attempt),
        StageRec(stageSpan.getOrElse((epoch, id), -1)))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val s = stage(e.stageInfo.stageId, e.stageInfo.attemptNumber())
      s.submit = e.stageInfo.submissionTime.getOrElse(-1L)
      s.complete = e.stageInfo.completionTime.getOrElse(-1L)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val s = stage(e.stageId, e.stageAttemptId)
      s.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.diskBytesSpilled
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = synchronized {
      val id = System.identityHashCode(qe.tracker)
      qe.tracker.phases.foreach { case (name, p) =>
        if (seenPhases.add((id, name, p.startTimeMs)))
          phases += ((p.startTimeMs, p.endTimeMs - p.startTimeMs))
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      synchronized {
        val p = e.progress
        val d = p.durationMs
        def ms(k: String): Long = if (d.containsKey(k)) d.get(k).longValue else 0L
        progress += ((java.time.Instant.parse(p.timestamp).toEpochMilli,
          ms("addBatch"), ms("triggerExecution")))
      }
  }

  /** Starts recording Spark events of `spark`. */
  def attach(spark: SparkSession): Unit = if (attachedTo.isEmpty) {
    if (lastSession ne spark) synchronized { epoch += 1; lastSession = spark }
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
    attachedTo = Some(spark)
  }

  /** Stops recording, after every event already posted has arrived. */
  def detach(): Unit = attachedTo.foreach { spark =>
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
    attachedTo = None
  }

  def dump: Map[String, Any] = synchronized {
    Map(
      "spans" -> spans.zipWithIndex.collect { case (s, i) if s.endMs >= 0 =>
        Map("id" -> i, "name" -> s.name, "parent" -> s.parent, "phase" -> s.phase,
          "start_ms" -> s.startMs, "end_ms" -> s.endMs, "wall_ns" -> s.wallNs)
      }.toSeq,
      "jobs" -> jobs.toSeq.sortBy(_._1).map { case ((ep, id), j) => Map("epoch" -> ep,
        "id" -> id, "span" -> j.span, "start_ms" -> j.start, "end_ms" -> j.end,
        "pin" -> j.pin, "site" -> j.site) },
      "stages" -> stages.toSeq.sortBy(_._1).map { case ((ep, id, att), s) =>
        Map("epoch" -> ep, "id" -> id, "attempt" -> att, "span" -> s.span,
          "submit_ms" -> s.submit, "complete_ms" -> s.complete, "tasks" -> s.tasks,
          "cpu_ns" -> s.cpuNs, "gc_ms" -> s.gcMs, "shuffle_bytes" -> s.shuffleBytes,
          "spill_bytes" -> s.spillBytes)
      },
      "planning" -> phases.toSeq.map { case (st, d) => Seq(st, d) },
      "progress" -> progress.toSeq.map { case (ts, add, trig) => Seq(ts, add, trig) })
  }
}

object Tracer {
  val Key = "perfbench.span"

  /** `wallNs` holds the start's nanoTime while the span is open. */
  final case class SpanRec(name: String, parent: Int, phase: String,
                           startMs: Long, endMs: Long, wallNs: Long)
  final case class JobRec(id: Int, span: Int, start: Long, end: Long, pin: Boolean,
                          site: String)
  final class StageRec(val span: Int) {
    var submit = -1L; var complete = -1L; var tasks = 0L
    var cpuNs = 0L; var gcMs = 0L; var shuffleBytes = 0L; var spillBytes = 0L
  }
  object StageRec { def apply(span: Int): StageRec = new StageRec(span) }
}
