package perfbench

import Stats.{gaps, selfTime, union}

/** Turns one traced pass's driver spans and listener records into the
  * span tree (op > build | execute > batch > sink > job > stage), each
  * span's self time, the per-layer counters, the reconciliation of every
  * operation's wall time, and the attribution check of its jobs. */
object Layers {

  /** A finished span with its self time and the counters recorded at it. */
  final case class Out(span: Span, selfS: Double, counters: Map[String, Double])

  private final case class OpParts(active: Double, idle: Double, reconcileErr: Double,
                                    firstJobS: Double, allJobsActive: Double)

  /** `violations` names every job or stage that breaks attribution: one
    * that lies outside the operation or job it belongs to, or one that
    * runs inside an operation without belonging to it. */
  final case class PassLayers(metrics: Map[String, Double], spans: Seq[Out],
                              reconcileErr: Seq[Double], violations: Seq[String])

  /** Listener timestamps have millisecond resolution and come from the
    * wall clock, which `Clock` follows up to drift; an event may read up
    * to this much outside the driver span that caused it. */
  val Slack = 0.02

  /** Floating-point tolerance for the self-time sign check. */
  val Tolerance = 1e-9

  private def contains(s: Span, t: Double) = t >= s.start - Slack && t <= s.end + Slack

  def analyse(cores: Int, driver: Seq[Span], jobs: Seq[JobRec],
              stages: Seq[StageRec], execs: Seq[ExecRec],
              progress: Seq[ProgressRec]): PassLayers = {
    val ops = driver.filter(_.layer == "op")
    val opById = ops.map(o => o.id -> o).toMap
    def opAt(t: Double) = ops.find(contains(_, t))
    val batches = progress.flatMap { p =>
      opAt(p.start).map { o =>
        val exec = driver.find(s => s.op == o.id && s.layer == "execute")
        Span(s"${o.id}/batch${p.batchId}", exec.map(_.id).getOrElse(o.id), o.id,
          "batch", s"batch ${p.batchId}", p.start, p.start + p.durS)
      }
    }
    val frames = driver ++ batches
    def innermost(op: Span, t: Double) =
      frames.filter(s => s.op == op.id && s.start <= t && t <= s.end)
        .minByOption(s => s.end - s.start).getOrElse(op)
    def at(t: Double, o: Span) = f"${t - o.start}%.3f s"

    // a job belongs to the operation whose id `Main.timeOp` set as a
    // local property, which every thread started inside the operation
    // inherits; it must lie inside that operation, and a job that runs
    // inside an operation must belong to it
    val violations = collection.mutable.ArrayBuffer.empty[String]
    val attributed = jobs.flatMap { j =>
      val owner = j.op.flatMap(opById.get)
      owner match {
        case Some(o) if !(contains(o, j.start) && contains(o, j.end)) =>
          violations += s"job ${j.id} of ${o.id} runs from ${at(j.start, o)} to " +
            s"${at(j.end, o)} of an operation lasting ${at(o.end, o)}"
        case None if j.op.isDefined || opAt(j.start).orElse(opAt(j.end)).isDefined =>
          violations += s"job ${j.id} of ${j.op.getOrElse("no operation")} runs inside " +
            opAt(j.start).orElse(opAt(j.end)).fold("no operation of this pass")(_.id)
        case _ =>
      }
      owner.map(o => (j, o))
    }
    val jobSpans = attributed.map { case (j, o) =>
      j.id -> Span(s"job${j.id}", innermost(o, j.start).id, o.id, "job",
        s"job ${j.id}", j.start, j.end)
    }.toMap
    // a stage belongs to the attributed job that lists it and was running
    // when it was submitted, and must end before that job does
    val stageSpans = stages.flatMap { st =>
      val listing = attributed.filter(_._1.stages.contains(st.id))
      val owner = listing.find { case (j, _) => st.start >= j.start - Slack && st.start <= j.end + Slack }
      owner match {
        case Some((j, _)) if st.end > j.end + Slack =>
          violations += f"stage ${st.id}.${st.attempt} ends ${st.end - j.end}%.3f s after its job ${j.id}"
        case None if listing.nonEmpty || opAt(st.start).isDefined =>
          violations += s"stage ${st.id}.${st.attempt} runs inside " +
            opAt(st.start).fold("no operation")(_.id) + " but in no job of it"
        case _ =>
      }
      owner.map { case (j, o) =>
        (st, Span(s"stage${st.id}.${st.attempt}", jobSpans(j.id).id, o.id, "stage",
          s"stage ${st.id}", st.start, st.end))
      }
    }
    val all = frames ++ jobSpans.values ++ stageSpans.map(_._2)
    val kids = all.groupBy(_.parent)
    val byId = all.map(s => s.id -> s).toMap
    def underBuild(s: Span): Boolean =
      Iterator.iterate(byId.get(s.parent))(_.flatMap(p => byId.get(p.parent)))
        .takeWhile(_.isDefined).flatten.exists(_.layer == "build")

    val sums = stageSpans.map(_._1.sums)
    def tot(f: TaskSums => Double) = sums.map(f).sum

    // an operation's wall time splits into its build span, the union of
    // the jobs it executes after building, and the gaps between those
    // jobs; jobs launched while building are part of the build
    val perOp = ops.map { o =>
      val b = driver.find(s => s.op == o.id && s.layer == "build")
      val e = driver.find(s => s.op == o.id && s.layer == "execute")
      val oj = jobSpans.values.filter(_.op == o.id).toSeq
      val execJobs = oj.filterNot(underBuild)
      val buildS = b.map(_.iv.len).getOrElse(0.0)
      val active = union(execJobs.map(_.iv)).map(_.len).sum
      val idle = e.map(es => gaps(execJobs.map(_.iv), es.iv).map(_.len).sum).getOrElse(0.0) +
        (o.iv.len - buildS - e.map(_.iv.len).getOrElse(0.0))
      OpParts(active, idle,
        reconcileErr = math.abs(buildS + active + idle - o.iv.len) / o.iv.len,
        firstJobS = if (oj.isEmpty) 0.0 else oj.map(_.start).min - o.start,
        allJobsActive = union(oj.map(_.iv)).map(_.len).sum)
    }
    val batchJobs = jobSpans.values.count(j => batches.exists(b => j.op == b.op && contains(b, j.start)))
    val batchIdle = batches.map(b => gaps(jobSpans.values.filter(j =>
      j.op == b.op && contains(b, j.start)).map(_.iv).toSeq, b.iv).map(_.len).sum).sum
    val sinkS = driver.filter(_.layer == "sink").map(_.iv.len).sum
    val addBatchS = progress.map(_.addBatchS).sum
    val allJobActive = perOp.map(_.allJobsActive).sum
    val cpu = tot(_.cpuS)
    val nb = math.max(1, batches.size)
    val metrics = Map(
      "tables.input_bytes" -> tot(_.inBytes.toDouble),
      "tables.input_records" -> tot(_.inRecords.toDouble),
      "queries.build_s" -> driver.filter(_.layer == "build").map(_.iv.len).sum,
      "session.plan_s" -> execs.filter(x => opAt(x.start).isDefined).map(_.planS).sum,
      "session.executions" -> execs.count(x => opAt(x.start).isDefined).toDouble,
      "session.first_job_s" -> perOp.map(_.firstJobS).sum,
      "session.jobs" -> jobSpans.size.toDouble,
      "session.stages" -> stageSpans.size.toDouble,
      "session.tasks" -> tot(_.tasks.toDouble),
      "session.job_active_s" -> perOp.map(_.active).sum,
      "session.idle_s" -> perOp.map(_.idle).sum,
      "session.shuffle_write_bytes" -> tot(_.shuffleWrite.toDouble),
      "session.shuffle_read_bytes" -> tot(_.shuffleRead.toDouble),
      "operators.task_run_s" -> tot(_.runS),
      "operators.task_cpu_s" -> cpu,
      "operators.task_gc_s" -> tot(_.gcS),
      "operators.task_deserialize_s" -> tot(_.deserS),
      "operators.cpu_util" -> (if (allJobActive > 0) cpu / (cores * allJobActive) else 0.0),
      "pipelines.batches" -> batches.size.toDouble,
      "pipelines.add_batch_s" -> addBatchS,
      "pipelines.sink_s" -> sinkS,
      "pipelines.step_s" -> (if (progress.isEmpty) 0.0 else addBatchS - sinkS),
      "pipelines.planning_s" -> progress.map(_.planningS).sum,
      "pipelines.offsets_s" -> progress.map(_.offsetsS).sum,
      "pipelines.jobs_per_batch" -> (if (batches.isEmpty) 0.0 else batchJobs.toDouble / nb),
      "pipelines.idle_per_batch_s" -> (if (batches.isEmpty) 0.0 else batchIdle / nb),
      "io.write_bytes" -> tot(_.outBytes.toDouble),
      "io.write_records" -> tot(_.outRecords.toDouble))
    val outs = all.map { s =>
      val counters = stageSpans.find(_._2 eq s).map(_._1.sums).map(t => Map(
        "tasks" -> t.tasks.toDouble, "task_cpu_s" -> t.cpuS, "task_run_s" -> t.runS,
        "shuffle_write_bytes" -> t.shuffleWrite.toDouble,
        "shuffle_read_bytes" -> t.shuffleRead.toDouble, "input_bytes" -> t.inBytes.toDouble,
        "output_bytes" -> t.outBytes.toDouble)).getOrElse(Map.empty[String, Double])
      Out(s, selfTime(s.iv, kids.getOrElse(s.id, Nil).map(_.iv)), counters)
    }
    PassLayers(metrics, outs, perOp.map(_.reconcileErr), violations.toSeq)
  }

  private def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")

  def jsonLine(o: Out): String = {
    val s = o.span
    val c = o.counters.map { case (k, v) => s""","$k":$v""" }.mkString
    s"""{"id":"${esc(s.id)}","parent":"${esc(s.parent)}","op":"${esc(s.op)}",""" +
      s""""layer":"${s.layer}","name":"${esc(s.name)}","start":${s.start},"end":${s.end},""" +
      s""""dur_s":${s.end - s.start},"self_s":${o.selfS}$c}"""
  }
}
