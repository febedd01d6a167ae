package graft.perfbench

import java.nio.file.{Files, Path}

import graft.perfbench.Main.Round

/** Turns the tracer's raw events into per-layer numbers and spans. */
final class Layers(t: Tracer, cpus: Int) {
  import Tracer._

  private val byOp: Map[String, Seq[JobRec]] = t.jobs.values.toSeq.groupBy(_.op)

  def jobsOf(op: OpResult): Seq[JobRec] = byOp.getOrElse(op.id, Nil)

  /** Why the op's jobs do not add up to its wall time, if they do not
    * (see `Layers.attributionErrors`). */
  def attributionErrors(op: OpResult): Seq[String] =
    Layers.attributionErrors(op, t.jobs.values.toSeq)

  /** Seconds during which at least one of the op's jobs ran. */
  def jobS(op: OpResult): Double =
    Stats.unionLength(jobsOf(op).map(j => (j.start, j.end)), op.startMs, op.endMs) / 1e3

  /** Op wall time not covered by any of its jobs: analysis, planning,
    * codegen, file-system calls and driver loops. */
  def gapS(op: OpResult): Double = op.wallS - jobS(op)

  def roundMetrics(r: Round): Seq[(String, (Double, String))] = {
    val jobs = r.ops.flatMap(jobsOf)
    val stageIds = jobs.flatMap(_.stageIds).toSet
    val stages = t.stages.values.filter(s => stageIds(s.id)).toSeq
    val stageStart = stages.map(s => s.id -> s.start).toMap
    val tasks = t.tasks.filter(x => stageIds(x.stageId)).toSeq
    val jobSec = r.ops.map(jobS).sum
    val executorRun = tasks.map(_.runMs).sum / 1e3
    val plan = t.plans.filter(p => p.start >= r.startMs && p.start <= r.endMs).map(_.planMs).sum / 1e3
    Seq(
      "spark.jobs" -> (jobs.length.toDouble, "count"),
      "spark.stages" -> (stages.length.toDouble, "count"),
      "spark.tasks" -> (tasks.length.toDouble, "count"),
      "spark.tasks_per_stage" -> (if (stages.isEmpty) 0.0 else tasks.length.toDouble / stages.length, "count"),
      "sched.task_wait_s" -> (tasks.map(x => math.max(0L, x.launch - stageStart.getOrElse(x.stageId, x.launch))).sum / 1e3, "s"),
      "spark.job_s" -> (jobSec, "s"),
      "driver.gap_s" -> (r.ops.map(gapS).sum, "s"),
      "sql.plan_s" -> (plan, "s"),
      "executor.run_s" -> (executorRun, "s"),
      "executor.cpu_s" -> (tasks.map(_.cpuNs).sum / 1e9, "s"),
      "executor.busy_frac" -> (executorRun / (cpus * r.wallS), "frac"),
      "shuffle.write_bytes" -> (tasks.map(_.shuffleWrite).sum.toDouble, "bytes"),
      "shuffle.read_bytes" -> (tasks.map(_.shuffleRead).sum.toDouble, "bytes"),
      "jvm.gc_s" -> (r.gcS, "s"),
      "spill.bytes" -> (tasks.map(_.spillBytes).sum.toDouble, "bytes"),
      "query.construct_s" -> (r.ops.map(_.phaseS("construct")).sum, "s"),
      "query.execute_s" -> (r.ops.map(_.phaseS("execute")).sum, "s"))
  }

  /** One JSON object per span: op, its construct/execute phases, the jobs
    * charged to it (under the phase they started in) and their stages. */
  def writeSpans(path: Path, rounds: Seq[Round], probeOps: Seq[OpResult]): Unit = {
    val sb = new StringBuilder
    def span(id: String, name: String, start: Long, end: Long, parent: String): Unit = {
      def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
      sb.append(s"""{"id": ${q(id)}, "name": ${q(name)}, "start_ms": $start, "end_ms": $end, """ +
        s""""parent": ${if (parent == null) "null" else q(parent)}}""").append('\n')
    }
    val ops = rounds.flatMap(r => r.ops.map(r.index -> _)) ++ probeOps.map(-1 -> _)
    ops.foreach { case (ri, op) =>
      val opId = s"op:${op.id}"
      span(opId, s"round $ri ${op.name}", op.startMs, op.endMs, null)
      op.phases.foreach { case (p, s, e, _) => span(s"$opId/$p", p, s, e, opId) }
      jobsOf(op).foreach { j =>
        val parent = op.phases.find { case (_, s, e, _) => j.start >= s && j.start <= e }
          .map { case (p, _, _, _) => s"$opId/$p" }.getOrElse(opId)
        span(s"job:${j.id}", s"job ${j.id}", j.start, j.end, parent)
        j.stageIds.flatMap(t.stages.get).foreach(st =>
          span(s"stage:${st.id}", s"stage ${st.id} (${st.numTasks} tasks)", st.start, st.end, s"job:${j.id}"))
      }
    }
    Files.createDirectories(path.getParent)
    Files.write(path, sb.toString.getBytes("UTF-8"))
    Log.err(s"spans written to $path")
  }
}

object Layers {
  /** Clock slack between the harness's op window and the scheduler's job
    * timestamps, both read from `System.currentTimeMillis`. */
  val SlackMs = 2L

  /** `spark.job_s + driver.gap_s == wall` holds for an op only when every
    * job it caused is charged to it and runs inside its window. Returns
    * one message per violation: a job charged to the op that
    * starts or ends outside the op's window, and a job that starts inside
    * the window but is charged elsewhere (work whose thread did not
    * inherit the op's tag). Empty when the op's books balance. */
  def attributionErrors(op: OpResult, jobs: Seq[Tracer.JobRec]): Seq[String] = {
    val lo = op.startMs - SlackMs
    val hi = op.endMs + SlackMs
    jobs.flatMap { j =>
      if (j.op == op.id && (j.start < lo || j.end > hi))
        Some(s"op ${op.id}: its job ${j.id} ran ${j.start}-${j.end}, outside ${op.startMs}-${op.endMs}")
      else if (j.op != op.id && j.start >= op.startMs && j.start <= op.endMs)
        Some(s"op ${op.id}: job ${j.id} started inside it but is charged to '${j.op}'")
      else None
    }
  }

  /** Catalog, pipeline, JSONL and merge-sink numbers from one catalog
    * round: the median where a round has several samples. */
  def catalogMetrics(r: CatalogRound): Seq[(String, (Double, String))] = {
    def ms(kind: String) = Stats.median(r.results.filter(_.kind == kind).map(_.wallS * 1000).toSeq)
    val bulkRows = r.bulkRows.toDouble
    Seq(
      "catalog.writeNext_small_ms" -> (ms("commit_small"), "ms"),
      "catalog.versions_ms" -> (r.versionsMs, "ms"),
      "catalog.manifest_ms" -> (r.manifestMs, "ms"),
      "catalog.writeNext_bulk_ms" -> (ms("commit_bulk"), "ms"),
      "catalog.bulk_rows_per_s" -> (bulkRows / (ms("commit_bulk") / 1000), "1/s"),
      "catalog.read_ms" -> (ms("read"), "ms"),
      "catalog.merge_ms" -> (ms("merge"), "ms"),
      "catalog.diff_ms" -> (ms("diff"), "ms"),
      "catalog.compact_ms" -> (ms("compact"), "ms"),
      "catalog.vacuum_ms" -> (ms("vacuum"), "ms"),
      "catalog.staging_left" -> (r.stagingLeft.toDouble, "count"),
      "catalog.bytes_per_row" -> (r.bytesAtEnd.toDouble / r.rowsSubmitted, "bytes"),
      "pipeline.step_overhead_ms" -> (Stats.median(r.stepOverheadMs.toSeq), "ms"),
      "pipeline.saveStatus_ms" -> (r.saveStatusMs, "ms"),
      "sources.jsonl_write_rows_per_s" -> (bulkRows / (ms("jsonl_write") / 1000), "1/s"),
      "sources.jsonl_read_rows_per_s" -> (bulkRows / (ms("jsonl_read") / 1000), "1/s"),
      "streaming.merge_sink_epoch_ms" -> (Stats.median(r.sinkEpochMs.toSeq), "ms"))
  }
}
