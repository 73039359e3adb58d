package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** The batch workloads: each registered query of the workload's key set,
  * one at a time, closed loop — construct it (`SparkEntry.queries(k)`),
  * then execute it through the noop sink, the way `graft.Bench` does.
  * The first untimed warm-up pass writes each output as parquet instead, for the
  * DuckDB oracle check run.py makes after the run.
  */
object Batch {

  /** One execution of one query: the query span and its two children. */
  final case class Exec(key: String, query: Span, construct: Span, command: Span, ok: Boolean)

  final case class PassRec(traced: Boolean, wallS: Double, cpuS: Double,
                           startUs: Long, endUs: Long, execs: Seq[Exec])

  def run(spark: SparkSession, w: Workload, a: Args): Outcome = {
    val queries = SparkEntry.queries
    val keys = w.keys
    var attempted = 0L
    var failed = 0L
    val failures = ArrayBuffer.empty[String]

    val oracle = SparkEntry.oracleSql
    val verifyDir = new java.io.File(a.work, "verify")

    def execOnce(key: String, verify: Boolean): Exec = {
      val qid = Spans.nextId()
      val cid = Spans.nextId()
      val mid = Spans.nextId()
      val t0 = Clock.nowUs
      var t1 = t0
      val ok =
        try {
          val df: DataFrame = Tracer.tagged(spark, cid)(queries(key)(spark, a.data))
          t1 = Clock.nowUs
          Tracer.tagged(spark, mid) {
            if (verify && oracle.contains(key))
              df.write.mode("overwrite").parquet(new java.io.File(verifyDir, key).getPath)
            else df.write.format("noop").mode("overwrite").save()
          }
          true
        } catch {
          case e: Throwable =>
            if (t1 == t0) t1 = Clock.nowUs
            failures += s"$key: ${String.valueOf(e.getMessage).take(300)}"
            false
        }
      val t2 = Clock.nowUs
      // drop the index frames and checkpoints a builder persisted, as Bench does
      graft.engine.Scoped.releaseAll(spark)
      attempted += 1
      if (!ok) failed += 1
      val group = w.groupOf(key)
      Exec(key,
        Span(qid, 0, key, "query", key, t0, t2),
        Span(cid, qid, key, group, "construct", t0, t1),
        Span(mid, qid, key, "command", "command", t1, t2), ok)
    }

    def runPass(index: Int, traced: Boolean, tracer: Option[Tracer]): PassRec = {
      val order = new scala.util.Random(a.seed * 1000L + index).shuffle(keys)
      if (traced) tracer.foreach(_.attach())
      val cpu0 = Cpu.processSeconds
      val t0 = Clock.nowUs
      val execs = order.map(k => execOnce(k, verify = index == -1))
      val t1 = Clock.nowUs
      val cpu = Cpu.processSeconds - cpu0
      if (traced) tracer.foreach(_.detach(execs.size.toLong))
      PassRec(traced, (t1 - t0) / 1e6, cpu, t0, t1, execs)
    }

    // store builds, cold, into the run's empty warehouse
    val builds = w.stores.map { case (family, build) =>
      val t0 = System.nanoTime()
      build(spark, a.data)
      family -> (System.nanoTime() - t0) / 1e9
    }
    val storeBytes = Du.bytes(a.warehouse)

    val coldT0 = System.nanoTime()
    runPass(-1, traced = false, None)
    val coldS = (System.nanoTime() - coldT0) / 1e9 + builds.map(_._2).sum
    Json.writeFile(new java.io.File(verifyDir, "oracle_sql.json"), keys.filter(oracle.contains)
      .filterNot(k => failures.exists(_.startsWith(s"$k: "))).map(k => k -> oracle(k)).toMap)
    // two more untimed passes through the noop sink, so that the heaviest
    // JIT compilation is done before the timed passes
    Seq(-2, -3).foreach(i => runPass(i, traced = false, None))

    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    val passes = ArrayBuffer.empty[PassRec]
    val timedT0 = System.nanoTime()
    def elapsed = (System.nanoTime() - timedT0) / 1e9
    // whole passes only, at least six; in the traced run passes alternate
    // untraced/traced so the difference of their medians is the tracing
    // overhead
    val minPasses = 6
    var lastWall = 0.0
    while (passes.size < minPasses || elapsed + lastWall <= a.seconds) {
      val p = runPass(passes.size, traced = a.trace && passes.size % 2 == 1, tracer)
      passes += p
      lastWall = p.wallS
    }

    val plain = passes.filterNot(_.traced).toSeq
    val perKeyMs = plain.flatMap(_.execs.filter(_.ok)).groupBy(_.key)
      .map { case (k, es) => k -> Stats.median(es.map(_.query.durUs / 1000.0)) }
    val e2e = Map(
      "cold_pass_s" -> coldS,
      "pass_s" -> Stats.median(plain.map(_.wallS)),
      "pass_cpu_s" -> Stats.median(plain.map(_.cpuS)),
      "latency_ms" -> Stats.geomean(perKeyMs.values.toSeq))
    val detail = Map[String, Any](
      "keys" -> keys,
      "passes" -> passes.map(p => Map("traced" -> p.traced, "wall_s" -> p.wallS, "cpu_s" -> p.cpuS)),
      "store_build_s" -> builds.toMap,
      "per_key_ms" -> perKeyMs,
      "failures" -> failures.toSeq)
    val layers = tracer.map { t =>
      Layers.batch(w, a, passes.toSeq, t, builds, storeBytes)
    }.getOrElse(Layers.Result(Map.empty, Nil))
    val perQuery = tracer.map(t => Layers.taskRunPerQuery(passes.filter(_.traced).toSeq, t))
    Outcome(e2e, attempted, failed, Nil, detail ++ perQuery.map("task_run_per_query" -> _),
      layers.metrics, layers.spans)
  }
}

object Cpu {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val jit = java.lang.management.ManagementFactory.getCompilationMXBean

  /** The process's CPU seconds, every thread included (JIT compilers, GC). */
  def processSeconds: Double = os.getProcessCpuTime / 1e9

  /** Seconds the JIT compilers have spent since the JVM started, summed
    * over the compiler threads.
    */
  def jitSeconds: Double = jit.getTotalCompilationTime / 1e3
}

object Du {
  def bytes(path: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isFile) f.length() else Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
    walk(new java.io.File(path))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(math.log).sum / xs.size)

  /** Linear-interpolated quantile; 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}
