package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** Per-layer metrics from the traced ops' spans, as means per op.
  *
  * Self time: an op's wall window is split so no instant counts twice.
  * Stage time is execution; job time outside stages is scheduling;
  * micro-batch time outside jobs is streaming; planning phases outside all
  * of those are planning; whatever remains is driver time in the builder
  * call and the drain. Each is reported as a share of the op's wall time, so
  * the shares of one op sum to one.
  */
object Layers {
  import Span._
  import Intervals._

  private final case class OpSpans(op: Main.OpRec, jobs: Seq[Job], stages: Seq[Stage],
      tasks: Seq[Task], execs: Seq[Exec], batches: Seq[Batch])

  private def attribute(t: Trace, ops: Seq[Main.OpRec]): Seq[OpSpans] = {
    val jobs = t.jobs.asScala.toSeq
    val stages = t.stages.asScala.toSeq
    val tasks = t.tasks.asScala.toSeq
    val execs = t.execs.asScala.toSeq
    val batches = t.batches.asScala.toSeq
    ops.map { o =>
      def in(ms: Long) = ms >= o.start && ms <= o.end
      OpSpans(o, jobs.filter(j => in(j.start)), stages.filter(s => in(s.start)),
        tasks.filter(k => in(k.launch)), execs.filter(p => in(p.start)), batches.filter(b => in(b.start)))
    }
  }

  def compute(t: Trace, ops: Seq[Main.OpRec], a: Main.Args): Map[String, Double] = {
    val per = attribute(t, ops).map(perOp(_, a))
    val keys = per.flatMap(_.keys).distinct
    keys.map(k => k -> per.map(_.getOrElse(k, 0.0)).sum / math.max(1, per.size)).toMap
  }

  private def perOp(x: OpSpans, a: Main.Args): Map[String, Double] = {
    val o = x.op
    val (s, e) = (o.start, o.end)
    val wallMs = math.max(1L, e - s).toDouble
    val jobIv = clip(x.jobs.map(j => (j.start, j.end)), s, e)
    val stageIv = clip(x.stages.map(g => (g.start, g.end)), s, e)
    val batchIv = clip(x.batches.map(b => (b.start, b.start + b.durMs)), s, e)
    val planIv = clip(x.execs.map(p => (p.planStart, p.planEnd)), s, e)
    var rest = Vector((s, e))
    def take(iv: Vector[Iv]): Double = {
      val before = length(rest)
      rest = subtract(rest, iv)
      (before - length(rest)) / wallMs
    }
    val selfExec = take(stageIv)
    val selfSched = take(jobIv)
    val selfStream = take(batchIv)
    val selfPlan = take(planIv)
    val selfDriver = length(rest) / wallMs

    def sum(f: Stage => Long) = x.stages.map(f).sum.toDouble
    val skew = if (x.stages.isEmpty) 1.0 else {
      val slow = x.stages.maxBy(g => g.end - g.start)
      val durs = x.tasks.filter(k => k.stage == slow.id && k.attempt == slow.attempt).map(_.durMs.toDouble).sorted
      if (durs.isEmpty) 1.0 else durs.last / math.max(1.0, durs(durs.size / 2))
    }
    val inRecords = sum(_.inRecords)
    val combineBase = if (a.workload == "wordcount") a.tokens.toDouble else inRecords
    def phase(name: String) =
      o.phases.collect { case (`name`, p0, p1) => (p1 - p0).toDouble }.sum / wallMs
    Map(
      "Tables.bytes_read" -> sum(_.inBytes),
      "Tables.records_read" -> inRecords,
      "SparkEntry.build_s" -> o.buildS,
      "sql.executions" -> x.execs.size.toDouble,
      "sql.exec_s" -> x.execs.map(p => p.end - p.start).sum / 1e3,
      "plan.analysis_s" -> x.execs.map(_.analysisMs).sum / 1e3,
      "plan.optimization_s" -> x.execs.map(_.optimizationMs).sum / 1e3,
      "plan.planning_s" -> x.execs.map(_.planningMs).sum / 1e3,
      "sched.jobs" -> x.jobs.size.toDouble,
      "sched.microbatch_jobs" -> x.jobs.count(_.group != o.group).toDouble,
      "sched.stages" -> x.stages.size.toDouble,
      "sched.tasks" -> x.tasks.size.toDouble,
      "sched.delay_s" -> x.tasks.map(_.delayMs).sum / 1e3,
      "sched.driver_gap_s" -> (wallMs - length(jobIv)) / 1e3,
      "exec.run_s" -> sum(_.runMs) / 1e3,
      "exec.cpu_s" -> sum(_.cpuNs) / 1e9,
      "exec.gc_share" -> sum(_.gcMs) / math.max(1.0, sum(_.runMs)),
      "exec.skew" -> skew,
      "shuffle.write_bytes" -> sum(_.shWriteBytes),
      "shuffle.read_bytes" -> sum(_.shReadBytes),
      "shuffle.fetch_wait_share" -> sum(_.fetchWaitMs) / wallMs,
      "shuffle.spill_bytes" -> sum(_.spillBytes),
      "agg.combine_ratio" -> (if (combineBase > 0) sum(_.shWriteRecords) / combineBase else 0.0),
      "TextPipeline.write_share" -> phase("write"),
      "TextPipeline.topn_share" -> phase("topn"),
      "sink.bytes_written" -> sum(_.outBytes),
      "stream.batches" -> x.batches.size.toDouble,
      "stream.add_batch_share" -> x.batches.map(_.addBatchMs).sum / wallMs,
      "stream.wal_commit_share" -> x.batches.map(_.walCommitMs).sum / wallMs,
      "stream.planning_share" -> x.batches.map(_.planningMs).sum / wallMs,
      "stream.state_commit_share" -> x.batches.map(_.stateCommitMs).sum / wallMs,
      "stream.state_rows" -> x.batches.map(_.stateRows).foldLeft(0L)(math.max).toDouble,
      "self.exec_share" -> selfExec,
      "self.sched_share" -> selfSched,
      "self.stream_share" -> selfStream,
      "self.plan_share" -> selfPlan,
      "self.driver_share" -> selfDriver)
  }

  /** One JSON line per span; engine spans carry the id of the op they were
    * attributed to, and each op line carries its self-time shares.
    */
  def writeSpans(t: Trace, ops: Seq[Main.OpRec], a: Main.Args, path: Path): Unit = {
    import Json.obj
    val traced = ops.filter(_.traced)
    val lines = attribute(t, traced).flatMap { x =>
      val o = x.op
      val shares = perOp(x, a).filter(_._1.startsWith("self."))
      val opLine = obj("span" -> "op", "op" -> o.id, "name" -> o.name, "cycle" -> o.cycle,
        "start" -> o.start, "end" -> o.end, "ok" -> o.ok, "self" -> shares)
      val phases = o.phases.map { case (n, p0, p1) => obj("span" -> n, "op" -> o.id, "start" -> p0, "end" -> p1) }
      val jobs = x.jobs.map(j => obj("span" -> "job", "op" -> o.id, "id" -> j.id, "start" -> j.start,
        "end" -> j.end, "group" -> j.group))
      val stages = x.stages.map(g => obj("span" -> "stage", "op" -> o.id, "id" -> g.id,
        "start" -> g.start, "end" -> g.end, "tasks" -> g.tasks, "run_ms" -> g.runMs))
      val batches = x.batches.map(b => obj("span" -> "batch", "op" -> o.id, "start" -> b.start,
        "end" -> (b.start + b.durMs), "add_batch_ms" -> b.addBatchMs, "wal_commit_ms" -> b.walCommitMs))
      val execs = x.execs.map(p => obj("span" -> "sql", "op" -> o.id, "start" -> p.start, "end" -> p.end,
        "analysis_ms" -> p.analysisMs, "optimization_ms" -> p.optimizationMs, "planning_ms" -> p.planningMs))
      (opLine +: phases) ++ jobs ++ stages ++ batches ++ execs
    }
    Files.write(path, lines.map(_.text).asJava, StandardCharsets.UTF_8)
  }
}
