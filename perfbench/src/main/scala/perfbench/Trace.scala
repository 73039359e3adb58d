package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. Times are epoch microseconds;
  * `parent` is the id of the span that caused this one (0 for a root), and
  * every span of one query carries the query's id in `query`.
  */
final case class Span(id: Long, parent: Long, query: String, layer: String,
                      name: String, startUs: Long, endUs: Long) {
  def durUs: Long = endUs - startUs
}

/** Wall clock in epoch microseconds, monotonic within the process: epoch
  * millis anchor a `nanoTime` offset, so spans the benchmark records line
  * up with the millisecond event times Spark's listeners report.
  */
object Clock {
  private val baseUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L
}

object Spans {
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  def nextId(): Long = ids.incrementAndGet()

  /** Length of the union of `intervals`, each clipped to [lo, hi). */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of every span: its duration minus the part of it that its
    * children cover.
    */
  def selfUs(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val cs = kids.getOrElse(s.id, Nil).map(c => (c.startUs, c.endUs))
      s.id -> (s.durUs - covered(cs, s.startUs, s.endUs))
    }.toMap
  }
}

/** Job, stage and Catalyst-phase events from Spark's public listener APIs,
  * turned into spans under the benchmark's own construct/command spans.
  * Jobs are tied to their span through the `perfbench.span` local property
  * the benchmark sets on the calling thread; Catalyst phases of a command
  * are tied by time, to the command span that contains them.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val stages = new ConcurrentLinkedQueue[StageRec]()
  private val phases = new ConcurrentLinkedQueue[PhaseRec]()
  private val progress = new ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]()
  private val openJobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  @volatile private var commandsSeen = 0L

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProperty)))
        .map(_.toLong).getOrElse(0L)
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
      openJobs.put(e.jobId, JobRec(e.jobId, span, e.time * 1000L, -1L))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(openJobs.remove(e.jobId)).foreach(j => jobs.add(j.copy(endUs = e.time * 1000L)))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      if (m != null) stages.add(StageRec(
        i.stageId, Option(stageJob.get(i.stageId)).map(_.intValue).getOrElse(-1),
        i.submissionTime.getOrElse(0L) * 1000L, i.completionTime.getOrElse(0L) * 1000L,
        i.numTasks, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      qe.tracker.phases.foreach { case (name, p) =>
        phases.add(PhaseRec(name, p.startTimeMs * 1000L, p.endTimeMs * 1000L))
      }
      commandsSeen += 1
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = progress.add(e)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Waits (bounded) for the asynchronous listener buses to deliver the
    * events of work already finished, then detaches.
    */
  def detach(commandsIssued: Long): Unit = {
    val deadline = System.nanoTime() + 5000L * 1000000L
    while ((!openJobs.isEmpty || commandsSeen < commandsIssued) && System.nanoTime() < deadline)
      Thread.sleep(5)
    Thread.sleep(50)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  def jobRecs: Seq[JobRec] = jobs.asScala.toSeq
  def stageRecs: Seq[StageRec] = stages.asScala.toSeq
  def phaseRecs: Seq[PhaseRec] = phases.asScala.toSeq
  def progressEvents: Seq[StreamingQueryListener.QueryProgressEvent] = progress.asScala.toSeq
}

object Tracer {
  val SpanProperty = "perfbench.span"

  final case class JobRec(jobId: Int, span: Long, startUs: Long, endUs: Long)
  final case class StageRec(stageId: Int, jobId: Int, startUs: Long, endUs: Long,
                            tasks: Int, runMs: Long, cpuNs: Long, gcMs: Long,
                            shuffleReadBytes: Long, shuffleWriteBytes: Long)
  final case class PhaseRec(name: String, startUs: Long, endUs: Long)

  /** Runs `f` with jobs it starts on this thread tagged with `span`. */
  def tagged[T](spark: SparkSession, span: Long)(f: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty(SpanProperty, span.toString)
    try f finally sc.setLocalProperty(SpanProperty, null)
  }
}
