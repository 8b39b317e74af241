package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.json4s._
import org.json4s.jackson.JsonMethods

/** Turns the traced passes of a board into per-layer metrics and a span
  * file.
  *
  * Spans per query execution: the harness's storage reset before it, and
  * the tree query -> {construct, write}; construct
  * -> its Spark jobs; write -> {planning phases, Spark jobs}; job ->
  * stages; stage -> tasks. Self time of a span is its length minus the
  * union of its children inside it. The `self.*` metrics split the traced
  * passes along the blocking path; `self.harness_s` is the storage resets
  * between queries. Their sum falls short of `trace.window_s` by the time
  * no measured span covers.
  */
object Layers {
  def board(o: Opts, r: Recorder, passes: Seq[Pass], res: Result): Unit = {
    val spans = passes.flatMap(_.spans)
    val jobs = r.jobs.asScala.toSeq
    val stages = r.stages.asScala.map(s => s.id -> s).toMap
    val tasksByStage = r.tasks.asScala.toSeq.groupBy(_.stage)
    val phases = r.phases.asScala.toSeq

    var construct, constructJobs, analyze, optimize, plan = 0.0
    var selfConstruct, selfPlan, selfDriver, selfSched, selfTask = 0.0
    val spanJson = Seq.newBuilder[JValue]

    /** (scheduling, tasks) self time in ms of `js` inside `within`: the
      * union of job time split into the part some task covered and the
      * rest, where jobs and stages waited for the scheduler.
      */
    def jobSelf(js: Seq[JobRec], within: Iv): (Long, Long) = {
      val jobsU = Iv.covered(js.map(_.iv), within)
      val taskIvs = js.flatMap(j => j.stages.flatMap(tasksByStage.getOrElse(_, Nil)).map(_.iv.clip(j.iv)))
      val tasksU = Iv.covered(taskIvs, within)
      (jobsU - tasksU, tasksU)
    }

    spans.foreach { q =>
      val cj = jobs.filter(_.tag == s"${q.name}|construct").filter(j => j.iv.start >= q.construct.start && j.iv.start <= q.construct.end)
      val wj = jobs.filter(_.tag == s"${q.name}|write").filter(j => j.iv.start >= q.write.start && j.iv.start <= q.write.end)
      val wp = phases.filter(p => p.iv.start >= q.write.start && p.iv.end <= q.write.end + 5)
      construct += q.construct.len
      constructJobs += cj.size
      wp.foreach { p =>
        p.phase match {
          case "analysis" => analyze += p.iv.len
          case "optimization" => optimize += p.iv.len
          case "planning" => plan += p.iv.len
          case _ => ()
        }
      }
      selfConstruct += q.construct.len - Iv.covered(cj.map(_.iv), q.construct)
      val jobsU = Iv.covered(wj.map(_.iv), q.write)
      val planCover = Iv.covered(wp.map(_.iv) ++ wj.map(_.iv), q.write) - jobsU
      selfPlan += planCover
      selfDriver += q.write.len - planCover - jobsU
      val (s1, t1) = jobSelf(cj, q.construct)
      val (s2, t2) = jobSelf(wj, q.write)
      selfSched += s1 + s2; selfTask += t1 + t2
      spanJson += JObject(
        "name" -> JString(q.name), "pass" -> JString(q.pass), "module" -> JString(q.module),
        "reset_ms" -> JLong(q.reset.len), "start_ms" -> JLong(q.iv.start), "end_ms" -> JLong(q.iv.end),
        "construct_ms" -> JLong(q.construct.len), "write_ms" -> JLong(q.write.len),
        "plan_ms" -> JLong(planCover), "codegen_ms" -> JDouble(q.codegenNs / 1e6),
        "jobs" -> JArray((cj ++ wj).toList.map { j =>
          JObject("id" -> JInt(j.id), "phase" -> JString(j.tag.split('|').last),
            "start_ms" -> JLong(j.iv.start), "end_ms" -> JLong(j.iv.end),
            "stages" -> JArray(j.stages.flatMap(stages.get).toList.map { s =>
              JObject("id" -> JInt(s.id), "start_ms" -> JLong(s.iv.start), "end_ms" -> JLong(s.iv.end),
                "tasks" -> JInt(s.tasks), "run_ms" -> JLong(s.runMs))
            }))
        }))
    }
    val selfHarness = spans.map(_.reset.len).sum

    spark(r, passes.map(_.window), passes.map(_.gcMs).sum, passes.map(_.codegenNs).sum, res)
    val L = res.layers
    L("queries.construct_s") = (construct / 1e3, "s")
    L("queries.construct_jobs") = (constructJobs, "count")
    L("spark.analyze_s") = (analyze / 1e3, "s")
    L("spark.optimize_s") = (optimize / 1e3, "s")
    L("spark.plan_s") = (plan / 1e3, "s")
    Boards.Queries.map(_._2).distinct.foreach { m =>
      L(s"queries.${m}_s") = (spans.filter(_.module == m).map(_.seconds).sum, "s")
    }
    L("self.harness_s") = (selfHarness / 1e3, "s")
    L("self.construct_s") = (selfConstruct / 1e3, "s")
    L("self.planning_s") = (selfPlan / 1e3, "s")
    L("self.driver_s") = (selfDriver / 1e3, "s")
    L("self.scheduling_s") = (selfSched / 1e3, "s")
    L("self.tasks_s") = (selfTask / 1e3, "s")
    writeSpans(o, spanJson.result())
  }

  /** Spark-level counters for any workload: every job that started in
    * one of the traced windows, with its stages and tasks, plus JVM GC and
    * codegen time over those windows.
    */
  def spark(r: Recorder, windows: Seq[Iv], gcMs: Long, codegenNs: Long, res: Result): Unit = {
    val jobs = windows.flatMap(r.jobsIn)
    val stages = r.stages.asScala.map(s => s.id -> s).toMap
    val st = jobs.flatMap(_.stages).flatMap(stages.get)
    val runMs = st.map(_.runMs).sum
    val wallMs = windows.map(_.len).sum
    val L = res.layers
    L("trace.window_s") = (wallMs / 1e3, "s")
    L("spark.codegen_s") = (codegenNs / 1e9, "s")
    L("spark.jobs") = (jobs.size, "count")
    L("spark.stages") = (st.size, "count")
    L("spark.tasks") = (st.map(_.tasks).sum, "count")
    val stageIds = st.map(_.id).toSet
    L("spark.task_wait_s") = (r.tasks.asScala.filter(t => stageIds(t.stage)).map(_.waitMs).sum / 1e3, "s")
    L("spark.exec_s") = (windows.map(w => Iv.covered(jobs.map(_.iv), w)).sum / 1e3, "s")
    L("spark.task_run_s") = (runMs / 1e3, "s")
    L("spark.task_cpu_s") = (st.map(_.cpuNs).sum / 1e9, "s")
    L("spark.gc_s") = (gcMs / 1e3, "s")
    L("spark.core_busy_ratio") = (runMs.toDouble / (wallMs.max(1) * Main.Cores), "ratio")
    L("spark.shuffle_write_bytes") = (st.map(_.shuffleWrite).sum.toDouble, "bytes")
    L("spark.shuffle_read_bytes") = (st.map(_.shuffleRead).sum.toDouble, "bytes")
    L("spark.spill_bytes") = (st.map(_.spill).sum.toDouble, "bytes")
    val stored = r.blocks.asScala.filter(b => windows.exists(w => b.ms >= w.start && b.ms <= w.end))
    L("operators.barrier_blocks") = (stored.size.toDouble, "count")
    L("operators.barrier_bytes") = (stored.map(_.bytes).sum.toDouble, "bytes")
  }

  def writeSpans(o: Opts, spans: Seq[JValue]): Unit = {
    val p = Paths.get(o.out.stripSuffix(".json") + ".spans.json")
    Files.write(p, JsonMethods.compact(JsonMethods.render(JArray(spans.toList))).getBytes("UTF-8"))
  }
}
