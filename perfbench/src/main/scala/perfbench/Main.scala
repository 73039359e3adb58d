package perfbench

import org.apache.spark.sql.SparkSession

/** Command-line arguments. `data` holds the generated tables; `work` is
  * the run's own directory (warehouse, local dir, checkpoints, outputs).
  */
final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      data: String, work: String) {
  def warehouse: String = new java.io.File(work, "warehouse").getPath
}

object Args {
  /** Every run is one JVM at local[4]. */
  val Cores = 4

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("data"), need("work"))
  }
}

/** What a workload measured: end-to-end metrics (untraced run) or
  * per-layer metrics (traced run), counts, failures, and the spans.
  */
final case class Outcome(e2e: Map[String, Double], attempted: Long, failed: Long,
                         wrong: Seq[String], detail: Map[String, Any],
                         layers: Map[String, Double], spans: Seq[Span])

/** The metrics the benchmark prints, with their units. */
object Metrics {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "pass_s" -> "s", "pass_cpu_s" -> "s", "latency_ms" -> "ms")

  val StoreFamilies: Seq[String] = Workloads.StoreFamilies.map(_._1)

  val PerLayer: Seq[(String, String)] =
    Seq("engine.session_s" -> "s", "engine.table_touch_s" -> "s", "jvm.peak_rss_mb" -> "MB",
      "jvm.jit_s" -> "s", "cold_pass_s" -> "s") ++
      Seq("operators", "functions").flatMap(g =>
        Seq(s"$g.construct_s" -> "s", s"$g.construct_jobs" -> "count")) ++
      StoreFamilies.map(f => s"functions.stores.$f.build_s" -> "s") ++
      Seq("functions.stores.build_s" -> "s", "functions.stores.bytes" -> "bytes") ++
      Seq("catalyst.optimization_s", "catalyst.planning_s").map(_ -> "s") ++
      Seq("exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
        "exec.driver_gap_s" -> "s", "exec.task_run_s" -> "s", "exec.task_cpu_s" -> "s",
        "exec.gc_s" -> "s", "exec.slot_busy" -> "ratio", "exec.shuffle_read_mb" -> "MB",
        "exec.shuffle_write_mb" -> "MB") ++
      Stream.OpNames.flatMap { op =>
        Seq("batches" -> "count", "trigger_p50_ms" -> "ms", "add_batch_ms" -> "ms",
          "query_planning_ms" -> "ms", "wal_commit_ms" -> "ms", "commit_offsets_ms" -> "ms",
          "state_rows" -> "count", "state_mb" -> "MB", "state_commit_ms" -> "ms")
          .map { case (n, u) => s"streaming.$op.$n" -> u }
      } ++
      Seq("gen.late_p99_ms" -> "ms", "gen.appends" -> "count", "gen.backlog_rows" -> "count",
        "gen.drain_eps" -> "1/s", "trace.overhead_s" -> "s", "trace.spans" -> "count")

  /** `{name: {"value": v, "unit": u}}` for every metric of `spec`; a layer
    * the workload does not exercise reads 0.
    */
  def render(spec: Seq[(String, String)], values: Map[String, Double]): Map[String, Any] = {
    val unknown = values.keySet -- spec.map(_._1)
    require(unknown.isEmpty, s"metrics missing from the spec: ${unknown.mkString(", ")}")
    spec.map { case (n, u) => n -> Map("value" -> values.getOrElse(n, 0.0), "unit" -> u) }.toMap
  }
}

/** Runs one workload in one JVM and writes `result.json` (and, traced,
  * `spans.json`) into the run directory; run.py prints the final line.
  */
object Main {
  /** A workload's outcome with the end-to-end and per-layer values the
    * run prints.
    */
  final case class Run(out: Outcome, setup: Setup.Timing, e2e: Map[String, Double],
                       layers: Map[String, Double])

  /** Sets up the workload's session, runs the workload on it and stops it. */
  def execute(a: Args): Run = {
    val w = Workloads(a.workload)
    val (spark, setup) = Setup.run(a)
    val out =
      try {
        if (w.name == "stream") Stream.run(spark, a) else Batch.run(spark, w, a)
      } finally spark.stop()
    // the warm-up's one sample per run spreads too widely to gate on
    val e2e = out.e2e - "cold_pass_s" + ("setup_s" -> setup.medianS)
    val layers = out.layers ++ Map("engine.session_s" -> setup.sessionS,
      "engine.table_touch_s" -> setup.touchS, "jvm.peak_rss_mb" -> Rss.peakMb,
      "jvm.jit_s" -> Cpu.jitSeconds, "cold_pass_s" -> out.e2e("cold_pass_s"))
    Run(out, setup, e2e, layers)
  }

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val Run(out, setup, e2e, layers) = execute(a)
    val metrics =
      if (a.trace) Metrics.render(Metrics.PerLayer, layers)
      else Metrics.render(Metrics.EndToEnd, e2e)
    Json.writeFile(new java.io.File(a.work, "result.json"), Map(
      "attempted" -> out.attempted, "failed" -> out.failed, "wrong" -> out.wrong,
      "metrics" -> metrics, "detail" -> (out.detail ++ Map("setup_s" -> setup.samples))))
    if (a.trace) Json.writeFile(new java.io.File(a.work, "spans.json"), out.spans.map { s =>
      Map("id" -> s.id, "parent" -> s.parent, "query" -> s.query, "layer" -> s.layer,
        "name" -> s.name, "start_us" -> s.startUs, "end_us" -> s.endUs)
    })
  }
}

/** Session build + first touch of every table, repeated: the median is
  * `setup_s`, and the last session is the one the workload runs on.
  */
object Setup {
  val Repeats = 2

  final case class Timing(samples: Seq[Double], sessionS: Double, touchS: Double) {
    def medianS: Double = Stats.median(samples)
  }

  def run(a: Args): (SparkSession, Timing) = {
    val times = (1 to Repeats).map { i =>
      val t0 = System.nanoTime()
      val spark =
        if (a.workload == "stream") graft.engine.GraftSession.local(Args.Cores, "perfbench")
        else graft.engine.RunnerSession.build(a.data, Args.Cores.toString)
      val t1 = System.nanoTime()
      graft.engine.GraftSql.tableNames.foreach { t =>
        val df = if (t == "events") graft.engine.Tables.events(spark, a.data)
        else graft.engine.Tables(spark, a.data, t)
        df.write.format("noop").mode("overwrite").save()
      }
      val t2 = System.nanoTime()
      if (i < Repeats) spark.stop()
      (spark, (t1 - t0) / 1e9, (t2 - t1) / 1e9)
    }
    (times.last._1, Timing(times.map(t => t._2 + t._3),
      Stats.median(times.map(_._2)), Stats.median(times.map(_._3))))
  }
}

object Rss {
  /** The process's peak resident set (VmHWM), in MB. */
  def peakMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}

object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def toJava(v: Any): AnyRef = v match {
    case m: scala.collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, AnyRef]()
      m.toSeq.sortBy(_._1.toString).foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] =>
      val out = new java.util.ArrayList[AnyRef]()
      s.foreach(x => out.add(toJava(x)))
      out
    case d: Double => java.lang.Double.valueOf(d)
    case l: Long => java.lang.Long.valueOf(l)
    case i: Int => java.lang.Integer.valueOf(i)
    case b: Boolean => java.lang.Boolean.valueOf(b)
    case null => null
    case o => o.toString
  }

  def write(v: Any): String = mapper.writeValueAsString(toJava(v))

  def writeFile(f: java.io.File, v: Any): Unit = {
    f.getParentFile.mkdirs()
    java.nio.file.Files.writeString(f.toPath, write(v))
  }
}
