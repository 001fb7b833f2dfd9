package layerbench

import layerbench.LayerBench.Pass
import layerbench.Recorder.Snapshot

import java.io.PrintWriter
import scala.collection.mutable

/** Span tree of the traced passes, one JSON object per line:
  * pass → query → {construct, plan, exec} → job → stage. Every span
  * carries its pass id; `self_ms` is the part of its interval that none of
  * its children covers. */
object Spans {

  final case class Span(id: String, parent: String, pass: Int, kind: String,
                        name: String, startMs: Long, endMs: Long,
                        attrs: Map[String, Any] = Map.empty) {
    def durMs: Long = math.max(0L, endMs - startMs)
  }

  def of(p: Pass, snap: Snapshot): Seq[Span] = {
    val out = mutable.ArrayBuffer.empty[Span]
    val pid = s"p${p.id}"
    val qs = p.queries
    if (qs.isEmpty) return Nil
    out += Span(pid, "", p.id, "pass", s"pass ${p.id}",
      qs.head.startMs, qs.last.endMs)
    val phaseSpan = mutable.HashMap.empty[(String, String), String]
    qs.zipWithIndex.foreach { case (q, i) =>
      val qid = s"$pid/q$i"
      out += Span(qid, pid, p.id, "query", q.name, q.startMs, q.endMs,
        q.error.map(e => Map[String, Any]("error" -> e)).getOrElse(Map.empty))
      out += Span(s"$qid/construct", qid, p.id, "construct", q.name,
        q.startMs, q.actStartMs)
      val plan = Layers.planOf(q, snap.plans)
      val planEnd = plan.map(_.phases.values.map(_._2).max)
        .getOrElse(q.actStartMs)
      plan.foreach { pr =>
        out += Span(s"$qid/plan", qid, p.id, "plan", q.name,
          pr.phases.values.map(_._1).min, planEnd,
          pr.phases.map { case (k, (s, e)) => s"${k}_ms" -> (e - s) })
      }
      out += Span(s"$qid/exec", qid, p.id, "exec", q.name,
        math.max(planEnd, q.actStartMs), q.endMs)
      phaseSpan((q.name, "construct")) = s"$qid/construct"
      phaseSpan((q.name, "exec")) = s"$qid/exec"
    }
    snap.jobs.foreach { j =>
      val parent = Layers.attribute(j, qs)
        .flatMap { case (q, ph) => phaseSpan.get((q.name, ph)) }
        .getOrElse(pid)
      out += Span(s"$pid/j${j.id}", parent, p.id, "job", j.callSite,
        j.startMs, math.max(j.startMs, j.endMs),
        Map("module" -> Layers.moduleOf(j.callSite), "failed" -> j.failed))
    }
    snap.stages.foreach { s =>
      out += Span(s"$pid/s${s.id}", s"$pid/j${s.job.id}", p.id, "stage",
        s.name, s.submitMs, math.max(s.submitMs, s.doneMs),
        Map("tasks" -> s.tasks, "run_ms" -> s.runMs,
          "shuffle_write_bytes" -> s.shuffleWrite,
          "shuffle_read_bytes" -> s.shuffleRead, "spill_bytes" -> s.spill))
    }
    out.toSeq
  }

  def write(path: String, passes: Seq[(Pass, Snapshot)]): Unit = {
    val spans = passes.flatMap { case (p, s) => of(p, s) }
    val children = spans.groupBy(_.parent)
    val w = new PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      w.println(Json(Map("id" -> s.id, "parent" -> s.parent,
        "pass" -> s.pass, "kind" -> s.kind, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "dur_ms" -> s.durMs,
        "self_ms" -> Layers.uncoveredMs(s.startMs, s.endMs,
          children.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs))))
        ++ s.attrs))
    } finally w.close()
  }
}
