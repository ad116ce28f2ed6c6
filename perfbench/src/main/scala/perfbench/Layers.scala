package perfbench

import java.io.PrintWriter

import scala.collection.mutable.ArrayBuffer

import perfbench.Collector.{JobRec, StageRec}
import perfbench.Harness.Runner

/** Per-layer metrics and spans, derived after the run from the harness's
  * phase records and the collector's job/stage/planning records.
  *
  * Spans form one tree: run -> pass -> query (one workload item) ->
  * construct | plan | exec -> job -> stage.  A job hangs under the phase
  * whose job group launched it, a stage under its first job.  A span's
  * self time is its duration minus the part of it covered by its
  * children. */
object Layers {
  final case class Span(id: Int, parent: Int, kind: String, name: String,
      start: Long, end: Long)

  private def group(pass: Int, idx: Int, phase: String) = s"$pass/$idx/$phase"
  private def parse(g: String): Option[(Int, Int, String)] = g.split("/") match {
    case Array(p, i, ph) if p.forall(_.isDigit) && i.forall(_.isDigit) && p.nonEmpty && i.nonEmpty =>
      Some((p.toInt, i.toInt, ph))
    case _ => None
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Length of the union of `iv`, clipped to [lo, hi]. */
  private def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter(x => x._2 > x._1)
      .sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) {
          if (curE > curS) total += curE - curS
          curS = s; curE = e
        } else curE = math.max(curE, e)
      }
    if (curE > curS) total += curE - curS
    total
  }

  def spans(runner: Runner, c: Collector, runStart: Long, runEnd: Long): Seq[Span] = {
    val out = ArrayBuffer.empty[Span]
    var next = 0
    def add(parent: Int, kind: String, name: String, s: Long, e: Long): Int = {
      val id = next
      next += 1
      out += Span(id, parent, kind, name, s, math.max(s, e))
      id
    }
    val root = add(-1, "run", "run", runStart, runEnd)
    val phaseSpan = scala.collection.mutable.HashMap.empty[String, Int]
    runner.passes.foreach { p =>
      val ps = add(root, "pass", s"pass${p.pass}", p.start, p.end)
      runner.phases.filter(_.pass == p.pass).groupBy(_.item).toSeq.sortBy(_._1).foreach {
        case (idx, phs) =>
          val name = runner.items.find(r => r.pass == p.pass && r.idx == idx).map(_.name).getOrElse("?")
          val q = add(ps, "query", name, phs.map(_.start).min, phs.map(_.end).max)
          phs.sortBy(_.start).foreach { ph =>
            phaseSpan(group(p.pass, idx, ph.name)) = add(q, ph.name, name, ph.start, ph.end)
          }
      }
    }
    val jobSpan = scala.collection.mutable.HashMap.empty[Int, Int]
    c.jobs.foreach { j =>
      phaseSpan.get(j.group).foreach { parent =>
        jobSpan(j.id) = add(parent, "job", s"job${j.id}", j.start, if (j.end < 0) j.start else j.end)
      }
    }
    c.stages.foreach { s =>
      jobSpan.get(s.job).foreach { parent =>
        add(parent, "stage", s"stage${s.id}.${s.attempt}", s.submit, s.complete)
      }
    }
    out.toSeq
  }

  /** Self time (s) per span kind, for the spans under `within`. */
  def selfTimes(all: Seq[Span], within: Span => Boolean): Map[String, Double] = {
    val kids = all.groupBy(_.parent)
    all.filter(within).groupBy(_.kind).map { case (kind, ss) =>
      kind -> ss.map { s =>
        val ch = kids.getOrElse(s.id, Nil).map(x => (x.start, x.end))
        (s.end - s.start - covered(ch, s.start, s.end)) / 1000.0
      }.sum
    }
  }

  def writeSpans(path: String, runner: Runner, c: Collector, runStart: Long, runEnd: Long): Unit = {
    val w = new PrintWriter(path)
    try spans(runner, c, runStart, runEnd).foreach { s =>
      w.println(Json(Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
        "start_ms" -> s.start, "end_ms" -> s.end)))
    } finally w.close()
  }

  private def counts(jobs: Seq[JobRec], stages: Seq[StageRec], phase: String) = {
    val js = jobs.filter(j => parse(j.group).exists(_._3 == phase))
    val ss = stages.filter(s => parse(s.group).exists(_._3 == phase))
    (js.size.toDouble, ss.size.toDouble, ss.map(_.tasks.toDouble).sum)
  }

  /** Counters per item of pass 1 (the census view). */
  def perItem(runner: Runner, c: Collector): Map[Int, Map[String, Any]] = {
    val jobsBy = c.jobs.toSeq.groupBy(j => parse(j.group).map(x => (x._1, x._2)))
    val stagesBy = c.stages.toSeq.groupBy(s => parse(s.group).map(x => (x._1, x._2)))
    runner.items.filter(_.pass == 1).map { r =>
      val js = jobsBy.getOrElse(Some((1, r.idx)), Nil)
      val ss = stagesBy.getOrElse(Some((1, r.idx)), Nil)
      val (cj, cs, _) = counts(js, ss, "construct")
      val (ej, es, et) = counts(js, ss, "exec")
      val wall = r.constructS + r.planS + r.execS
      val run = ss.map(_.runMs).sum / 1000.0
      r.idx -> Map[String, Any](
        "construct_jobs" -> cj.toLong, "construct_stages" -> cs.toLong,
        "exec_jobs" -> ej.toLong, "exec_stages" -> es.toLong, "exec_tasks" -> et.toLong,
        "jobs" -> js.size, "stages" -> ss.size,
        "shuffle_write_bytes" -> ss.map(_.shWrite).sum,
        "shuffle_read_bytes" -> ss.map(_.shRead).sum,
        "input_bytes" -> ss.map(_.inBytes).sum,
        "task_run_s" -> run,
        "busy_cores" -> (if (wall > 0) run / wall else 0.0))
    }.toMap
  }

  /** The per-layer metrics of a traced run: each is computed per timed
    * pass and reported as the median over passes. */
  def derive(runner: Runner, c: Collector, runStart: Long, runEnd: Long): Map[String, Double] = {
    val all = spans(runner, c, runStart, runEnd)
    val perPass = runner.passes.map { p =>
      val its = runner.items.filter(_.pass == p.pass)
      val phs = runner.phases.filter(_.pass == p.pass)
      val js = c.jobs.filter(j => parse(j.group).exists(_._1 == p.pass)).toSeq
      val ss = c.stages.filter(s => parse(s.group).exists(_._1 == p.pass)).toSeq
      val (cj, cs, _) = counts(js, ss, "construct")
      val (ej, es, et) = counts(js, ss, "exec")
      val construct = its.map(_.constructS).sum
      val taskRun = ss.map(_.runMs).sum / 1000.0
      val gap = phs.filter(ph => ph.name != "plan").map { ph =>
        val g = group(ph.pass, ph.item, ph.name)
        val iv = ss.filter(_.group == g).map(s => (s.submit, s.complete))
        (ph.end - ph.start - covered(iv, ph.start, ph.end)) / 1000.0
      }.sum
      val seen = scala.collection.mutable.HashSet.empty[Int]
      val recomputed = ss.sortBy(s => (s.submit, s.id)).count { s =>
        val again = s.attempt > 0 || s.rddIds.exists(seen)
        seen ++= s.rddIds
        again
      }
      val constructPhases = phs.filter(_.name == "construct")
      val eagerPlan = c.plans.filter(pl =>
        constructPhases.exists(ph => pl.end >= ph.start && pl.end <= ph.end)).map(_.phaseMs).sum / 1000.0
      val base = Map(
        "trace.wall_s" -> p.wallS,
        "construct.s" -> construct,
        "construct.jobs" -> cj, "construct.stages" -> cs,
        "construct.share" -> (if (p.wallS > 0) construct / p.wallS else 0.0),
        "construct.plan_s" -> eagerPlan,
        "plan.s" -> its.map(_.planS).sum,
        "exec.s" -> its.map(_.execS).sum,
        "exec.jobs" -> ej, "exec.stages" -> es, "exec.tasks" -> et,
        "job.wall_ms_p50" -> median(js.filter(_.end >= 0).map(j => (j.end - j.start).toDouble)),
        "stage.wall_ms_p50" -> median(ss.map(s => (s.complete - s.submit).toDouble)),
        "task.run_s" -> taskRun,
        "task.cpu_s" -> ss.map(_.cpuNs).sum / 1e9,
        "busy_cores" -> (if (p.wallS > 0) taskRun / p.wallS else 0.0),
        "sched_gap_s" -> gap,
        "stage.recomputed" -> recomputed.toDouble,
        "task.retries" -> ss.map(_.retries).sum.toDouble,
        "scan.input_bytes" -> ss.map(_.inBytes).sum.toDouble,
        "scan.input_rows" -> ss.map(_.inRecs).sum.toDouble,
        "shuffle.write_bytes" -> ss.map(_.shWrite).sum.toDouble,
        "shuffle.read_bytes" -> ss.map(_.shRead).sum.toDouble,
        "spill.bytes" -> ss.map(_.spill).sum.toDouble,
        "materialized.bytes" -> its.map(_.materialized).sum.toDouble)
      val ops = Pipeline.Ops.flatMap { op =>
        val idx = its.filter(_.name == op).map(_.idx).toSet
        val r = its.filter(_.name == op)
        Seq(s"op.$op.s" -> r.map(x => x.constructS + x.planS + x.execS).sum,
          s"op.$op.jobs" -> js.count(j => parse(j.group).exists(g => idx(g._2))).toDouble,
          s"op.$op.shuffle_bytes" ->
            ss.filter(s => parse(s.group).exists(g => idx(g._2))).map(_.shWrite).sum.toDouble)
      }
      val kernels = Pipeline.Kernels.map { k =>
        s"kernel.$k.s" -> its.filter(_.name == k).map(x => x.constructS + x.planS + x.execS).sum
      }
      val passSpan = all.find(s => s.kind == "pass" && s.name == s"pass${p.pass}")
      val selfs = passSpan.map { ps =>
        val inPass = all.filter(s => s.start >= ps.start && s.end <= ps.end + 1 && s.kind != "run")
          .map(_.id).toSet
        selfTimes(all, s => inPass(s.id))
      }.getOrElse(Map.empty)
      val spanSelf = Seq("pass", "query", "construct", "plan", "exec", "job", "stage")
        .map(k => s"span.$k.self_s" -> selfs.getOrElse(k, 0.0))
      base ++ ops ++ kernels ++ spanSelf
    }
    perPass.flatMap(_.keys).distinct.map(k => k -> median(perPass.map(_.getOrElse(k, 0.0)).toSeq)).toMap
  }
}
