package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._
import Stats.Iv

/** Driver-side clock in epoch seconds: nanoTime precision, aligned with
  * the millisecond timestamps Spark's listener events carry. */
object Clock {
  private val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now(): Double = (System.nanoTime() + offsetNs) / 1e9
}

/** A span timed around a call into the library from the benchmark. */
final case class Span(id: String, parent: String, op: String, layer: String,
                      name: String, start: Double, end: Double) {
  def iv: Iv = Iv(start, end)
}

/** Task metrics summed over a stage attempt's tasks. */
final class TaskSums {
  var tasks = 0L
  var runS, cpuS, gcS, deserS = 0.0
  var shuffleWrite, shuffleRead = 0L
  var inBytes, inRecords, outBytes, outRecords = 0L
}

/** `op` is the operation id the job's submitting thread carried as the
  * local property [[Recorder.OpProperty]], if any. */
final case class JobRec(id: Int, start: Double, end: Double, stages: Seq[Int], op: Option[String])
final case class StageRec(id: Int, attempt: Int, start: Double, end: Double, sums: TaskSums)
final case class ExecRec(start: Double, planS: Double)
final case class ProgressRec(batchId: Long, start: Double, durS: Double,
                             addBatchS: Double, planningS: Double, offsetsS: Double)

/** Collects Spark's job, stage, task, SQL-execution and streaming-progress
  * events through the public listener hooks. Attached only in traced
  * runs; detached runs pay nothing. */
final class Recorder {
  import Recorder.OpProperty
  private val jobStarts =
    new java.util.concurrent.ConcurrentHashMap[Int, (Double, Seq[Int], Option[String])]()
  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val stageStarts = new java.util.concurrent.ConcurrentHashMap[(Int, Int), Double]()
  private val stageSums = new java.util.concurrent.ConcurrentHashMap[(Int, Int), TaskSums]()
  private val stages = new ConcurrentLinkedQueue[StageRec]()
  private val execs = new ConcurrentLinkedQueue[ExecRec]()
  private val progress = new ConcurrentLinkedQueue[ProgressRec]()
  @volatile private var lastEvent = Clock.now()

  private def ms(t: Long): Double = t / 1000.0

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpProperty)))
      jobStarts.put(e.jobId, (ms(e.time), e.stageIds, op)); lastEvent = Clock.now()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(jobStarts.remove(e.jobId)).foreach { case (s, st, op) =>
        jobs.add(JobRec(e.jobId, s, ms(e.time), st, op)) }
      lastEvent = Clock.now()
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val k = (e.stageInfo.stageId, e.stageInfo.attemptNumber())
      stageStarts.put(k, ms(e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())))
      stageSums.putIfAbsent(k, new TaskSums)
      lastEvent = Clock.now()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val k = (e.stageInfo.stageId, e.stageInfo.attemptNumber())
      val start = Option(stageStarts.remove(k)).getOrElse(Clock.now())
      val end = e.stageInfo.completionTime.map(ms).getOrElse(Clock.now())
      stages.add(StageRec(k._1, k._2, start, end,
        Option(stageSums.remove(k)).getOrElse(new TaskSums)))
      lastEvent = Clock.now()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = stageSums.computeIfAbsent((e.stageId, e.stageAttemptId), _ => new TaskSums)
      s.synchronized {
        s.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          s.runS += m.executorRunTime / 1e3
          s.cpuS += m.executorCpuTime / 1e9
          s.gcS += m.jvmGCTime / 1e3
          s.deserS += m.executorDeserializeTime / 1e3
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          s.inBytes += m.inputMetrics.bytesRead
          s.inRecords += m.inputMetrics.recordsRead
          s.outBytes += m.outputMetrics.bytesWritten
          s.outRecords += m.outputMetrics.recordsWritten
        }
      }
      lastEvent = Clock.now()
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      if (ph.nonEmpty)
        execs.add(ExecRec(ms(ph.values.map(_.startTimeMs).min),
          ph.values.map(p => p.endTimeMs - p.startTimeMs).sum / 1e3))
      lastEvent = Clock.now()
    }
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue / 1e3 }.withDefaultValue(0.0)
      progress.add(ProgressRec(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli / 1e3,
        p.batchDuration / 1e3, d("addBatch"), d("queryPlanning"),
        d("latestOffset") + d("walCommit") + d("commitOffsets")))
      lastEvent = Clock.now()
    }
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def detach(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  /** Wait until every started job has ended and the listener bus has
    * been quiet for a moment, so a pass's events are all in. */
  def drain(): Unit = {
    val deadline = Clock.now() + 10
    while ((!jobStarts.isEmpty || Clock.now() - lastEvent < 0.3) && Clock.now() < deadline)
      Thread.sleep(50)
  }

  /** Hand over and forget everything recorded so far. */
  def take(): (Seq[JobRec], Seq[StageRec], Seq[ExecRec], Seq[ProgressRec]) = {
    drain()
    def pull[T](q: ConcurrentLinkedQueue[T]): Seq[T] =
      Iterator.continually(q.poll()).takeWhile(_ != null).toVector
    (pull(jobs), pull(stages), pull(execs), pull(progress))
  }
}

object Recorder {
  /** The local property carrying the id of the timed operation that
    * submitted a job. */
  val OpProperty = "perfbench.op"
}
