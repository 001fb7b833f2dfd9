package layerbench

import layerbench.LayerBench.{Pass, QueryRun}
import layerbench.Recorder.{JobRec, PlanRec, Snapshot}

import java.io.File

/** Folds one traced pass into the per-layer metrics (see README.md for
  * the layer → metric → end-to-end table) and a per-query breakdown. */
object Layers {

  /** Module of a job, from the source file in its call site
    * (`parquet at Tables.scala:13` → `Tables`,
    * `count at Dedup.scala:749` → `operators`). Files under a package
    * directory of the library map to that directory; top-level files map
    * to their own name; anything else (the benchmark's own action, AQE's
    * `CompletableFuture.java`) maps to "". */
  lazy val moduleOf: String => String = {
    val root = new File("src/main/scala/graft")
    def walk(f: File, dir: Option[String]): Seq[(String, String)] =
      Option(f.listFiles()).getOrElse(Array.empty[File]).toSeq.flatMap { c =>
        if (c.isDirectory) walk(c, dir.orElse(Some(c.getName)))
        else if (c.getName.endsWith(".scala"))
          Seq(c.getName -> dir.getOrElse(c.getName.stripSuffix(".scala")))
        else Nil
      }
    val byFile = walk(root, None).toMap
    val site = """ at ([A-Za-z0-9_$]+\.scala):\d+""".r.unanchored
    (callSite: String) => callSite match {
      case site(file) => byFile.getOrElse(file, "")
      case _          => ""
    }
  }

  private def secs(ms: Long): Double = ms / 1000.0

  private def jobWallMs(j: JobRec): Long = math.max(0L, j.endMs - j.startMs)

  /** The query a job belongs to and its phase: from the tags the driver
    * thread set, or, for a job that carries none, from the query window
    * its start falls into. */
  def attribute(j: JobRec, qs: Seq[QueryRun]): Option[(QueryRun, String)] =
    if (j.query.nonEmpty && j.phase.nonEmpty)
      qs.find(_.name == j.query).map(_ -> j.phase)
    else qs.find(q => j.startMs >= q.startMs && j.startMs <= q.endMs)
      .map(q => q -> (if (j.startMs < q.actStartMs) "construct" else "exec"))

  /** The planning record of a query's action: the one that starts inside
    * the action's window. */
  def planOf(q: QueryRun, plans: Seq[PlanRec]): Option[PlanRec] =
    plans.find { p =>
      p.phases.nonEmpty && {
        val s = p.phases.values.map(_._1).min
        s >= q.actStartMs && s <= q.endMs
      }
    }

  private def phaseS(p: PlanRec, name: String): Double =
    p.phases.get(name).map { case (s, e) => secs(math.max(0L, e - s)) }
      .getOrElse(0.0)

  /** Wall time of `[from, to]` that none of `spans` covers. */
  def uncoveredMs(from: Long, to: Long, spans: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var cursor = from
    spans.map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (e > cursor) { covered += e - math.max(s, cursor); cursor = e }
      }
    math.max(0L, (to - from) - covered)
  }

  def ofPass(p: Pass, snap: Snapshot, cores: Int,
             moduleOf: String => String): Map[String, Any] = {
    val qs = p.queries
    val tagged = snap.jobs.flatMap(j => attribute(j, qs).map {
      case (q, phase) => (j, q, phase) })
    def jobsIn(phase: String) = tagged.filter(_._3 == phase).map(_._1)
    val constructJobs = jobsIn("construct")
    val execJobs = jobsIn("exec")
    val tableJobs = constructJobs.filter(j => moduleOf(j.callSite) == "Tables")
    val opJobs = constructJobs.filter(j => moduleOf(j.callSite) == "operators")
    val execIds = execJobs.map(_.id).toSet
    val stages = snap.stages
    val execStages = stages.filter(s => execIds(s.job.id))
    val execTasks = execStages.map(_.tasks).sum
    val plans = qs.flatMap(q => planOf(q, snap.plans))
    val constructS = qs.map(_.constructS).sum
    val execS = qs.map(_.execS).sum
    val runS = secs(stages.map(_.runMs).sum)
    val driverMs = qs.map { q =>
      val mine = tagged.collect { case (j, `q`, "exec") => (j.startMs, j.endMs) }
      uncoveredMs(q.actStartMs, q.endMs, mine)
    }.sum
    val metrics: Map[String, Double] = Map(
      "tables.load_jobs" -> tableJobs.size.toDouble,
      "tables.load_s" -> secs(tableJobs.map(jobWallMs).sum),
      "construct_s" -> constructS,
      "construct.jobs" -> constructJobs.size.toDouble,
      "operators.eager_jobs" -> opJobs.size.toDouble,
      "operators.eager_s" -> secs(opJobs.map(jobWallMs).sum),
      "plan.analysis_s" ->
        (qs.map(_.analysisS).sum + plans.map(phaseS(_, "analysis")).sum),
      "plan.optimization_s" -> plans.map(phaseS(_, "optimization")).sum,
      "plan.physical_s" -> plans.map(phaseS(_, "planning")).sum,
      "exec_s" -> execS,
      "exec.jobs" -> execJobs.size.toDouble,
      "exec.stages" -> execStages.size.toDouble,
      "exec.tasks" -> execTasks.toDouble,
      "exec.empty_task_ratio" ->
        (if (execTasks == 0) 0.0
         else execStages.map(_.emptyTasks).sum.toDouble / execTasks),
      "exec.driver_s" -> secs(driverMs),
      "exec.sched_delay_s" -> secs(stages.map(_.schedDelayMs).sum),
      "task.run_s" -> runS,
      "task.cpu_s" -> stages.map(_.cpuNs).sum / 1e9,
      // every task of the pass over every slot-second of the pass
      "task.slot_util" ->
        (if (constructS + execS <= 0) 0.0
         else runS / ((constructS + execS) * cores)),
      // the actions' tasks over the actions' slot-seconds
      "task.exec_slot_util" ->
        (if (execS <= 0) 0.0
         else secs(execStages.map(_.runMs).sum) / (execS * cores)),
      "shuffle.write_bytes" -> stages.map(_.shuffleWrite).sum.toDouble,
      "shuffle.read_bytes" -> stages.map(_.shuffleRead).sum.toDouble,
      "shuffle.fetch_wait_s" -> secs(stages.map(_.fetchWaitMs).sum),
      "memory.spill_bytes" -> stages.map(_.spill).sum.toDouble,
      "memory.peak_exec_bytes" ->
        (if (stages.isEmpty) 0.0 else stages.map(_.peakExec).max.toDouble),
      "memory.gc_s" -> p.gcS,
      "cache.put_bytes" -> snap.cachePutBytes.toDouble,
      "cache.leftover_bytes" -> p.leftoverBytes.toDouble,
      "task.failed" -> stages.map(_.failedTasks).sum.toDouble
    )
    val perQuery = qs.map { q =>
      def mine(phase: String) = tagged.collect { case (j, `q`, `phase`) => j }
      val cj = mine("construct")
      val ejIds = mine("exec").map(_.id).toSet
      val qStages = stages.filter(s => tagged.exists { case (j, qq, _) =>
        (qq eq q) && j.id == s.job.id })
      Map(
        "name" -> q.name,
        "construct_s" -> q.constructS,
        "exec_s" -> q.execS,
        "tables.load_jobs" ->
          cj.count(j => moduleOf(j.callSite) == "Tables"),
        "construct.jobs" -> cj.size,
        "exec.jobs" -> ejIds.size,
        "exec.stages" -> stages.count(s => ejIds(s.job.id)),
        "task.run_s" -> secs(qStages.map(_.runMs).sum),
        "construct_sites" -> cj.groupBy(_.callSite).map { case (k, v) =>
          k -> v.size })
    }
    Map("pass" -> p.id, "timed_s" -> p.timedS, "metrics" -> metrics,
      "per_query" -> perQuery)
  }
}
