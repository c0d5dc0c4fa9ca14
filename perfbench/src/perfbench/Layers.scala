package perfbench

import perfbench.Harness._

import scala.collection.mutable

/** Turns a traced run's records into per-layer metrics (per traced pass)
  * and the span tree run → pass → op → {build, plan, exec} | {commit,
  * read} → job → stage. Each of build, plan and exec is timed on its own:
  * build is the builder call (or `CowTable.read`), plan the planning
  * phases of the sink action's QueryExecution, exec the first start to
  * the last end of the sink action's jobs. The part of an op's wall time
  * none of them covers is reported. Jobs belong to an op by job group, and
  * to a layer by when they started and by their call site:
  *   - `… at Graft.scala` — a catalog schema-inference read;
  *   - `localCheckpoint at …` — an operator's construction-time round;
  *   - `… at CompletableFuture.java` — an AQE query-stage job.
  */
object Layers {

  private def ms(a: Long, b: Long): Double = (b - a).max(0L) / 1e3

  def summarize(
      c: Conf, sessionS: Double, ops: Seq[OpRec], passes: Seq[PassRec], t: Tracer,
      extra: Map[String, Double]): (Map[String, Double], Seq[Map[String, Any]], Map[String, Any]) =
    t.synchronized {
      val tp = passes.filter(_.traced)
      val np = tp.size.max(1).toDouble
      val jobsOf = t.jobs.values.toSeq.groupBy(_.group)
      val stagesOf = t.stages.toSeq.groupBy(_.id)
      val plansOf = t.plans.toSeq.groupBy(_.op)
      val acc = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
      val spans = mutable.ArrayBuffer[Map[String, Any]]()
      var opMs, splitMs, uncoveredMs, commitMs, commitJobMs = 0L
      var worstShare = 0.0
      val runStart = ops.filter(_.traced).map(_.startMs).minOption.getOrElse(0L)
      val runEnd = ops.filter(_.traced).map(_.endMs).maxOption.getOrElse(0L)

      def span(id: String, parent: String, kind: String, name: String, op: String, a: Long, b: Long,
          children: Seq[(Long, Long)]): Unit =
        spans += Map("id" -> id, "parent" -> parent, "kind" -> kind, "name" -> name, "op" -> op,
          "start_ms" -> a, "end_ms" -> b, "self_ms" -> ((b - a) - covered(a, b, children)))

      val passSpans = ops.filter(_.traced).groupBy(_.pass).toSeq.sortBy(_._1).map { case (p, os) =>
        (s"pass:$p", os.map(_.startMs).min, os.map(_.endMs).max, os)
      }
      span("run", "", "run", c.workload, "", runStart, runEnd, passSpans.map(x => (x._2, x._3)))

      for ((pid, pa, pb, os) <- passSpans) {
        span(pid, "run", "pass", pid, "", pa, pb, os.map(o => (o.startMs, o.endMs)))
        for (o <- os) {
          val jobs = jobsOf.getOrElse(o.id, Seq.empty).sortBy(_.start)
          val (bJobs, aJobs) = jobs.partition(_.start < o.buildEndMs)
          val stagesOfJob = (j: JobRec) => j.stages.flatMap(stagesOf.getOrElse(_, Seq.empty))
          acc("sched.jobs") += jobs.size
          acc("sched.job_s") += jobs.map(j => ms(j.start, j.end)).sum
          jobs.filter(_.callSite.contains("Graft.scala")).foreach { j =>
            acc("catalog.schema_jobs") += 1; acc("catalog.schema_s") += ms(j.start, j.end)
          }
          // sub-spans: the op's layers, each covering a part of its wall time
          opMs += o.endMs - o.startMs
          val subs: Seq[(String, Long, Long)] = o.kind match {
            case "commit" =>
              acc("sources.commit_jobs") += jobs.size
              commitMs += o.endMs - o.startMs
              commitJobMs += covered(o.startMs, o.endMs, jobs.map(j => (j.start, j.end)))
              Seq(("commit", o.startMs, o.endMs))
            case _ =>
              if (o.kind == "query") {
                acc("operators.build_s") += o.buildS
                acc("operators.build_self_s") +=
                  (o.buildS - covered(o.startMs, o.buildEndMs, bJobs.map(j => (j.start, j.end))) / 1e3).max(0.0)
                acc("operators.build_jobs") += bJobs.size
                bJobs.filter(_.callSite.startsWith("localCheckpoint")).foreach { j =>
                  acc("operators.checkpoint_jobs") += 1; acc("operators.checkpoint_s") += ms(j.start, j.end)
                }
              } else acc("sources.read_jobs") += jobs.size
              val ph = plansOf.getOrElse(o.id, Seq.empty).flatMap(_.phases.toSeq).filter(_._2._1 >= o.buildEndMs)
              ph.foreach { case (k, (a, b)) => acc(s"plans.${k}_ms") += (b - a).toDouble }
              val planA = ph.map(_._2._1).minOption.getOrElse(o.buildEndMs)
              val planB = ph.map(_._2._2).maxOption.getOrElse(o.buildEndMs)
              val execA = aJobs.map(_.start).minOption.getOrElse(o.endMs)
              val execB = aJobs.map(_.end).maxOption.getOrElse(o.endMs)
              acc("exec.s") += ms(execA, execB)
              acc("exec.jobs") += aJobs.size
              acc("exec.aqe_stage_jobs") += aJobs.count(_.callSite.contains("CompletableFuture"))
              for (j <- aJobs; s <- stagesOfJob(j)) {
                acc("exec.stages") += 1
                acc("exec.tasks") += s.tasks
                acc("exec.task_run_s") += s.runMs / 1e3
                acc("exec.task_cpu_s") += s.cpuNs / 1e9
                acc("exec.task_gc_s") += s.gcMs / 1e3
                acc("exec.shuffle_write_mb") += s.shW / 1048576.0
                acc("exec.shuffle_read_mb") += s.shR / 1048576.0
                acc("exec.spill_mb") += s.spill / 1048576.0
                acc("exec.input_mb") += s.input / 1048576.0
                acc("exec.task_retries") += t.retries.getOrElse(s.id, 0)
              }
              val gap = (o.endMs - o.startMs) -
                covered(o.startMs, o.endMs, Seq((o.startMs, o.buildEndMs), (planA, planB), (execA, execB)))
              splitMs += o.endMs - o.startMs
              uncoveredMs += gap
              if (o.endMs > o.startMs) worstShare = worstShare.max(gap.toDouble / (o.endMs - o.startMs))
              Seq((if (o.kind == "read") "read" else "build", o.startMs, o.buildEndMs), ("plan", planA, planB),
                ("exec", execA, execB))
          }
          span(o.id, pid, "op", o.name, o.id, o.startMs, o.endMs, subs.map(x => (x._2, x._3)))
          for ((k, a, b) <- subs) {
            val sid = s"${o.id}/$k"
            // build-time jobs under build (or read), sink jobs under exec
            val mine = k match {
              case "commit" => jobs
              case "plan"   => Nil
              case "exec"   => aJobs
              case _        => bJobs
            }
            span(sid, o.id, k, k, o.id, a, b, mine.map(j => (j.start, j.end)))
            for (j <- mine) {
              val st = stagesOfJob(j)
              span(s"job:${j.id}", sid, "job", j.callSite, o.id, j.start, j.end, st.map(s => (s.start, s.end)))
              st.foreach(s => span(s"stage:${s.id}.${s.attempt}", s"job:${j.id}", "stage", s.name, o.id, s.start, s.end, Nil))
            }
          }
        }
      }

      val per = acc.map { case (k, v) => k -> v / np }.toMap.withDefaultValue(0.0)
      val nOps = ops.count(_.traced).max(1)
      val untracedWalls = passes.filter(!_.traced).map(_.wallS).sorted
      val tracedWalls = tp.map(_.wallS).sorted
      def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs((xs.size - 1) / 2) / 2 + xs(xs.size / 2) / 2
      val layers = mutable.LinkedHashMap[String, Double]("session.start_s" -> sessionS)
      for (k <- Seq("catalog.schema_jobs", "catalog.schema_s", "operators.build_s", "operators.build_self_s",
          "operators.build_jobs", "operators.checkpoint_jobs", "operators.checkpoint_s", "plans.analysis_ms",
          "plans.optimization_ms", "plans.planning_ms", "exec.s", "exec.jobs", "exec.aqe_stage_jobs",
          "exec.stages", "exec.tasks", "exec.task_run_s", "exec.task_cpu_s", "exec.task_gc_s",
          "exec.shuffle_write_mb", "exec.shuffle_read_mb", "exec.spill_mb", "exec.input_mb"))
        layers(k) = per(k)
      layers("exec.core_util") = if (per("exec.s") > 0) per("exec.task_run_s") / (c.cores * per("exec.s")) else 0.0
      layers("exec.task_retries") = per("exec.task_retries")
      layers("sched.jobs_per_op") = acc("sched.jobs") / nOps
      layers("sched.ms_per_job") = if (acc("sched.jobs") > 0) 1e3 * acc("sched.job_s") / acc("sched.jobs") else 0.0
      layers("sources.commit_jobs") = per("sources.commit_jobs")
      for (k <- Seq("sources.commit_bytes_written", "sources.write_amp", "sources.rewrite_useful_ratio",
          "sources.manifest_entries"))
        layers(k) = extra.getOrElse(k, 0.0)
      layers("sources.read_jobs") = per("sources.read_jobs")
      layers("jvm.gc_s") = tp.map(_.gcS).sum / np
      layers("jvm.jit_s") = tp.map(_.jitS).sum / np
      layers("trace.overhead_s") = med(tracedWalls) - med(untracedWalls)
      layers("sched.jobs_per_pass") = acc("sched.jobs") / np
      // coverage of the query and read ops by their build, plan and exec
      // spans; a commit is one CowTable call, so its share covered by jobs
      // is reported instead
      val uncovered = Map(
        "op_s_per_pass" -> opMs / 1e3 / np, "split_op_s_per_pass" -> splitMs / 1e3 / np,
        "uncovered_s_per_pass" -> uncoveredMs / 1e3 / np,
        "uncovered_share" -> (if (splitMs > 0) uncoveredMs.toDouble / splitMs else 0.0),
        "worst_op_uncovered_share" -> worstShare,
        "commit_s_per_pass" -> commitMs / 1e3 / np,
        "commit_job_share" -> (if (commitMs > 0) commitJobMs.toDouble / commitMs else 0.0))
      (layers.toMap, spans.toSeq, uncovered)
    }
}
