package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.StreamingQueryProgress

/** Per-layer metrics of the traced run, computed from the spans the
  * benchmark recorded and the events the [[Tracer]] collected.
  */
object Layers {
  final case class Result(metrics: Map[String, Double], spans: Seq[Span])

  private val MB = 1024.0 * 1024.0

  /** Spans for the jobs, stages and command phases under `roots`, where
    * `roots` are the benchmark's own spans (query / construct / command).
    */
  def sparkSpans(roots: Seq[Span], t: Tracer): Seq[Span] = {
    val byId = roots.map(s => s.id -> s).toMap
    val jobs = t.jobRecs.filter(j => byId.contains(j.span) && j.endUs >= j.startUs)
    val jobSpanId = jobs.map(j => j.jobId -> Spans.nextId()).toMap
    val jobSpans = jobs.map(j => Span(jobSpanId(j.jobId), j.span, byId(j.span).query, "exec",
      s"job ${j.jobId}", j.startUs, j.endUs))
    val stageSpans = t.stageRecs.filter(s => jobSpanId.contains(s.jobId) && s.endUs >= s.startUs)
      .map { s =>
        val parent = jobSpans.find(_.id == jobSpanId(s.jobId)).get
        Span(Spans.nextId(), parent.id, parent.query, "exec", s"stage ${s.stageId}", s.startUs, s.endUs)
      }
    val commands = roots.filter(_.name == "command")
    val phaseSpans = t.phaseRecs.flatMap { p =>
      commands.find(c => p.startUs >= c.startUs && p.startUs < c.endUs).map { c =>
        Span(Spans.nextId(), c.id, c.query, "catalyst", p.name, p.startUs, math.max(p.startUs, p.endUs))
      }
    }
    jobSpans ++ stageSpans ++ phaseSpans
  }

  /** exec.* over the jobs that ran under `roots`, within the window [lo, hi). */
  def exec(roots: Seq[Span], t: Tracer, lo: Long, hi: Long): Map[String, Double] = {
    val ids = roots.map(_.id).toSet
    val jobs = t.jobRecs.filter(j => ids.contains(j.span))
    val jobIds = jobs.map(_.jobId).toSet
    val stages = t.stageRecs.filter(s => jobIds.contains(s.jobId))
    val wallS = (hi - lo) / 1e6
    val runS = stages.map(_.runMs).sum / 1000.0
    Map(
      "exec.jobs" -> jobs.size.toDouble,
      "exec.stages" -> stages.size.toDouble,
      "exec.tasks" -> stages.map(_.tasks.toLong).sum.toDouble,
      "exec.driver_gap_s" -> (hi - lo - Spans.covered(jobs.map(j => (j.startUs, j.endUs)), lo, hi)) / 1e6,
      "exec.task_run_s" -> runS,
      "exec.task_cpu_s" -> stages.map(_.cpuNs).sum / 1e9,
      "exec.gc_s" -> stages.map(_.gcMs).sum / 1000.0,
      "exec.slot_busy" -> (if (wallS > 0) runS / (Args.Cores * wallS) else 0.0),
      "exec.shuffle_read_mb" -> stages.map(_.shuffleReadBytes).sum / MB,
      "exec.shuffle_write_mb" -> stages.map(_.shuffleWriteBytes).sum / MB)
  }

  /** (key, task run seconds, wall seconds) of every traced query. */
  def taskRunPerQuery(traced: Seq[Batch.PassRec], t: Tracer): Seq[(String, Double, Double)] = {
    val runByJob = t.stageRecs.groupBy(_.jobId).view.mapValues(_.map(_.runMs).sum / 1000.0).toMap
    traced.flatMap(_.execs).map { e =>
      val ids = Set(e.construct.id, e.command.id)
      val run = t.jobRecs.filter(j => ids.contains(j.span)).map(j => runByJob.getOrElse(j.jobId, 0.0)).sum
      (e.key, run, e.query.durUs / 1e6)
    }
  }

  private def medianOf(maps: Seq[Map[String, Double]]): Map[String, Double] =
    maps.flatMap(_.keys).distinct.map(k => k -> Stats.median(maps.map(_.getOrElse(k, 0.0)))).toMap

  def batch(w: Workload, a: Args, passes: Seq[Batch.PassRec], t: Tracer,
            builds: Seq[(String, Double)], storeBytes: Long): Result = {
    val traced = passes.filter(_.traced)
    val plain = passes.filterNot(_.traced)
    val spans = traced.flatMap { p =>
      val roots = p.execs.flatMap(e => Seq(e.query, e.construct, e.command))
      roots ++ sparkSpans(roots, t)
    }
    val jobsBySpan = t.jobRecs.groupBy(_.span).view.mapValues(_.size).toMap
    val perPass = traced.map { p =>
      val roots = p.execs.flatMap(e => Seq(e.query, e.construct, e.command))
      val commands = p.execs.map(_.command)
      val phases = t.phaseRecs.filter(ph => commands.exists(c => ph.startUs >= c.startUs && ph.startUs < c.endUs))
      def phase(n: String) = phases.filter(_.name == n).map(ph => ph.endUs - ph.startUs).sum / 1e6
      val construct = Seq("operators", "functions").flatMap { g =>
        val cs = p.execs.map(_.construct).filter(_.layer == g)
        Seq(s"$g.construct_s" -> cs.map(_.durUs).sum / 1e6,
          s"$g.construct_jobs" -> cs.map(c => jobsBySpan.getOrElse(c.id, 0)).sum.toDouble)
      }
      exec(roots, t, p.startUs, p.endUs) ++ construct ++ Map(
        "catalyst.optimization_s" -> phase("optimization"),
        "catalyst.planning_s" -> phase("planning"))
    }
    val stores = builds.map { case (f, s) => s"functions.stores.$f.build_s" -> s }.toMap +
      ("functions.stores.build_s" -> builds.map(_._2).sum) +
      ("functions.stores.bytes" -> storeBytes.toDouble)
    val overhead = Stats.median(traced.map(_.wallS)) - Stats.median(plain.map(_.wallS))
    Result(medianOf(perPass) ++ stores ++ Map(
      "trace.overhead_s" -> overhead,
      "trace.spans" -> spans.size.toDouble), spans)
  }

  /** Phases of a micro-batch in the order the micro-batch engine runs them. */
  val TriggerPhases: Seq[String] =
    Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")

  private def dur(p: StreamingQueryProgress, k: String): Double =
    p.durationMs.asScala.get(k).map(_.doubleValue).getOrElse(0.0)

  def stream(a: Args, plain: Seq[Stream.OpRun], traced: Seq[Stream.OpRun], t: Tracer): Result = {
    val events = t.progressEvents.map(_.progress)
    val spans = traced.flatMap { r =>
      val root = Span(r.span, 0, r.queryName, "stream", r.op, r.startUs, r.endUs)
      val triggers = events.filter(_.name == r.queryName).flatMap { p =>
        val s = Stream.triggerStartUs(p)
        val trig = Span(Spans.nextId(), root.id, r.queryName, "trigger", s"batch ${p.batchId}",
          s, Stream.triggerEndUs(p))
        val starts = TriggerPhases.scanLeft(s)((at, k) => at + (dur(p, k) * 1000).toLong)
        trig +: TriggerPhases.zip(starts.zip(starts.tail)).collect {
          case (k, (b, e)) if e > b => Span(Spans.nextId(), trig.id, r.queryName, "phase", k, b, e)
        }
      }
      root +: triggers
    }
    val perOp = traced.flatMap { r =>
      val ps = events.filter(p => p.name == r.queryName && p.numInputRows > 0)
      val all = events.filter(_.name == r.queryName)
      val last = all.sortBy(_.batchId).lastOption
      val m = s"streaming.${r.op}"
      def med(k: String) = Stats.median(ps.map(dur(_, k)))
      Seq(
        s"$m.batches" -> ps.size.toDouble,
        s"$m.trigger_p50_ms" -> med("triggerExecution"),
        s"$m.add_batch_ms" -> med("addBatch"),
        s"$m.query_planning_ms" -> med("queryPlanning"),
        s"$m.wal_commit_ms" -> med("walCommit"),
        s"$m.commit_offsets_ms" -> med("commitOffsets"),
        s"$m.state_rows" -> last.map(_.stateOperators.map(_.numRowsTotal).sum.toDouble).getOrElse(0.0),
        s"$m.state_mb" -> last.map(_.stateOperators.map(_.memoryUsedBytes).sum / MB).getOrElse(0.0),
        s"$m.state_commit_ms" -> Stats.median(ps.map(_.stateOperators.map(_.commitTimeMs).sum.toDouble)))
    }.toMap
    val roots = traced.map(r => Span(r.span, 0, r.queryName, "stream", r.op, r.startUs, r.endUs))
    val lo = traced.map(_.startUs).min
    val hi = traced.map(_.endUs).max
    val late = traced.flatMap(_.feedLateMs)
    val gen = Map(
      "gen.late_p99_ms" -> Stats.quantile(late, 0.99),
      "gen.appends" -> traced.map(_.fixedAppends).sum.toDouble,
      "gen.backlog_rows" -> traced.map(_.backlogRows).sum.toDouble,
      "gen.drain_eps" -> traced.map(_.drainRows).sum / math.max(1e-9, traced.map(_.drainS).sum))
    val overhead = traced.map(_.drainS).sum - plain.map(_.drainS).sum
    Result(exec(roots, t, lo, hi) ++ perOp ++ gen ++ Map(
      "trace.overhead_s" -> overhead,
      "trace.spans" -> spans.size.toDouble), spans ++ sparkSpans(roots, t))
  }
}
