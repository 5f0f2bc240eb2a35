package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Spans recorded by the traced run.
  *
  * Every span carries wall-clock milliseconds. Engine spans (jobs, stages,
  * tasks, SQL executions, micro-batches) have no op id of their own: they
  * are attributed to the op whose window holds their start time, because
  * the benchmark runs one op at a time. That is what counts the jobs a
  * stream thread runs under its own job group.
  */
object Span {
  final case class Job(id: Int, start: Long, end: Long, group: String)
  final case class Stage(id: Int, attempt: Int, start: Long, end: Long, tasks: Int,
      runMs: Long, cpuNs: Long, gcMs: Long, inBytes: Long, inRecords: Long,
      outBytes: Long, shWriteBytes: Long, shWriteRecords: Long, shReadBytes: Long,
      fetchWaitMs: Long, spillBytes: Long)
  final case class Task(stage: Int, attempt: Int, launch: Long, durMs: Long, delayMs: Long)
  final case class Exec(start: Long, end: Long, planStart: Long, planEnd: Long,
      analysisMs: Long, optimizationMs: Long, planningMs: Long)
  final case class Batch(start: Long, durMs: Long, addBatchMs: Long, walCommitMs: Long,
      planningMs: Long, stateCommitMs: Long, stateRows: Long)
}

/** The listener registered only for traced ops. Events are queued in memory
  * and read once, after the op loop.
  *
  * One `SparkListener` on the shared bus takes every event kind: jobs,
  * stages and tasks; SQL executions with their planning phases; and
  * streaming progress. The registry runs streams and catalog statements on
  * `newSession()` clones, whose own listener managers and streaming query
  * managers never see a listener registered on the benchmark's session;
  * the shared bus carries every session's events.
  */
final class Trace(spark: SparkSession) {
  import Span._

  val jobs = new ConcurrentLinkedQueue[Job]()
  val stages = new ConcurrentLinkedQueue[Stage]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  val execs = new ConcurrentLinkedQueue[Exec]()
  val batches = new ConcurrentLinkedQueue[Batch]()
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
  private val execStarts = new java.util.concurrent.ConcurrentHashMap[Long, java.lang.Long]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      jobStarts.put(e.jobId, (e.time, group.getOrElse("")))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)).foreach { case (t, g) => jobs.add(Job(e.jobId, t, e.time, g)) }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val i = e.taskInfo
      val m = e.taskMetrics
      val delay = if (m == null) 0L else math.max(0L, i.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - i.gettingResultTime)
      tasks.add(Task(e.stageId, e.stageAttemptId, i.launchTime, i.duration, delay))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart => execStarts.put(x.executionId, x.time)
      case x: SparkListenerSQLExecutionEnd =>
        val start = Option(execStarts.remove(x.executionId)).map(_.longValue).getOrElse(x.time)
        // `qe` is engine-private in Scala, public in bytecode
        val ph = Option(x.getClass.getMethod("qe").invoke(x).asInstanceOf[QueryExecution])
          .map(_.tracker.phases).getOrElse(Map.empty)
        def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
        val (p0, p1) = if (ph.isEmpty) (start, start)
          else (ph.values.map(_.startTimeMs).min, ph.values.map(_.endTimeMs).max)
        execs.add(Exec(start, x.time, p0, p1, ms("analysis"), ms("optimization"), ms("planning")))
      case p: StreamingQueryListener.QueryProgressEvent => batch(p.progress)
      case _ =>
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      val m = s.taskMetrics
      val start = s.submissionTime.getOrElse(0L)
      val end = s.completionTime.getOrElse(start)
      if (m == null) stages.add(Stage(s.stageId, s.attemptNumber(), start, end, s.numTasks,
        0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0))
      else stages.add(Stage(s.stageId, s.attemptNumber(), start, end, s.numTasks,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead, m.outputMetrics.bytesWritten,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.fetchWaitTime,
        m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }

  private def batch(p: StreamingQueryProgress): Unit = {
    val d = p.durationMs.asScala
    def ms(k: String): Long = d.get(k).map(_.longValue).getOrElse(0L)
    val ops = Option(p.stateOperators).map(_.toSeq).getOrElse(Nil)
    batches.add(Batch(java.time.Instant.parse(p.timestamp).toEpochMilli,
      ms("triggerExecution"), ms("addBatch"), ms("walCommit"), ms("queryPlanning"),
      ops.map(_.commitTimeMs).sum, ops.map(_.numRowsTotal).sum))
  }

  private var attached = false

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(sparkListener)
    attached = true
  }

  /** Delivers every queued event before the listeners go, so a traced op's
    * late events are not lost.
    */
  def detach(): Unit = if (attached) {
    Trace.drainBus(spark)
    spark.sparkContext.removeSparkListener(sparkListener)
    attached = false
  }
}

object Trace {
  /** `LiveListenerBus.waitUntilEmpty` is engine-private in Scala but public
    * in bytecode; reflection reaches it without compiling into Spark's
    * package.
    */
  def drainBus(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty", classOf[Long]).invoke(bus, Long.box(30000L))
  }
}

/** Closed intervals in ms, merged and subtracted for self-time accounting. */
object Intervals {
  type Iv = (Long, Long)

  def merge(xs: Iterable[Iv]): Vector[Iv] =
    xs.filter(x => x._2 > x._1).toVector.sortBy(_._1).foldLeft(Vector.empty[Iv]) {
      case (acc :+ last, x) if x._1 <= last._2 => acc :+ (last._1 -> math.max(last._2, x._2))
      case (acc, x) => acc :+ x
    }

  def clip(xs: Iterable[Iv], lo: Long, hi: Long): Vector[Iv] =
    merge(xs.map(x => (math.max(lo, x._1), math.min(hi, x._2))))

  def subtract(a: Vector[Iv], b: Vector[Iv]): Vector[Iv] = a.flatMap { case (s, e) =>
    val cuts = b.filter(x => x._2 > s && x._1 < e)
    val (rest, last) = cuts.foldLeft((Vector.empty[Iv], s)) { case ((out, cur), (bs, be)) =>
      (if (bs > cur) out :+ (cur -> bs) else out, math.max(cur, be))
    }
    if (last < e) rest :+ (last -> e) else rest
  }

  def length(xs: Iterable[Iv]): Long = xs.iterator.map(x => x._2 - x._1).sum
}
