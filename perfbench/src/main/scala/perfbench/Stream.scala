package perfbench

import java.sql.Timestamp

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.{SessionOut, ShoppingCartEvent}

/** One replayed event. */
final case class Ev(event_id: Long, ts: Timestamp, user_id: Long, event_type: String, value: Double)

/** The `stream` workload: the events table replayed in event-time order
  * with seeded bounded disorder through `MemoryStream`, into four
  * streaming operators of graft.streaming one query at a time — a window
  * aggregate, a timer-driven transformWithState session, a stream-stream
  * join and a watermark-bounded dedup, one per kind of state.
  *
  * Per operator: a priming append, waited for, so the query's start-up
  * stays out of the latencies; a fixed-rate open-loop phase (a feeder
  * thread appends one chunk every tick, stamped with the time it was due);
  * then a closed-loop drain (chunks, each waited for). Afterwards the
  * operator's append output is compared with its batch twin over the same
  * replay.
  */
object Stream {
  val HourMs: Long = 3600L * 1000L
  /** Watermark delay: two windows of the window operators. */
  val Delay = "2 hours"
  /** Disorder bound: half the watermark delay, so no event can be dropped
    * as late (a late drop fails the run), while events up to an hour apart
    * in event time (about 28 of the replay's events) arrive out of order.
    */
  val DisorderMs: Long = HourMs
  /** The drain chunk: large enough that a drain trigger takes more rows
    * than any fixed-rate trigger (200 events/s x a 1.4 s trigger = 280), so
    * the drain measures throughput rather than fixed cost.
    */
  val DrainRows = 1000
  val DrainChunks = 2
  /** Fixed-rate feed: 10 events every 50 ms, 200 events/s. That is under
    * half the closed-loop capacity of the slowest operator measured at the
    * baseline (window_join drains a `DrainRows` chunk in a median 2.2 s,
    * 451 events/s), so no operator falls behind the feed, and a batch's
    * latency is its trigger's cost plus the wait for the trigger before it,
    * not a queue that grows with the phase.
    */
  val TickMs = 50L
  val RowsPerTick = 10
  val GapMs: Long = 30L * 60L * 1000L
  /** Share of the dedup operator's events delivered twice, so its check
    * has duplicates to drop; it adds 2 % to the rows and does not move the
    * per-trigger cost.
    */
  val RedeliverShare = 0.02
  val JoinSideA = Set("click", "view")

  /** Operator names as they appear in metric names. */
  val OpNames: Seq[String] = Seq("tumbling", "session_tws", "window_join", "dedup")

  private val RocksDb = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  private val ProviderConf = "spark.sql.streaming.stateStore.providerClass"

  /** A started streaming query with its input and output check. */
  final class Running(val query: StreamingQuery, val add: Seq[Ev] => Unit,
                      val check: Seq[Ev] => Option[String])

  /** Append 0 is the priming append, appends 1 to `fixedAppends` the
    * fixed-rate ones, the rest the drain. `due(i)` is when append i was
    * due: scheduled for the fixed-rate appends, the moment of the append
    * for the others; `appended(i)` when it was made.
    */
  final case class OpRun(op: String, queryName: String, due: Seq[Long], appended: Seq[Long],
                         fixedAppends: Int, progress: Seq[StreamingQueryProgress],
                         primeS: Double, cpuS: Double, drainS: Double, drainRows: Int,
                         backlogRows: Long, startUs: Long, endUs: Long, span: Long,
                         error: Option[String]) {
    /** How late the feeder made each fixed-rate append. */
    def feedLateMs: Seq[Double] = (1 to fixedAppends).map(i => (appended(i) - due(i)) / 1000.0)
  }

  /** Event-time order plus a seeded delay of up to [[DisorderMs]] per event:
    * an event arrives after every event whose ts + delay is smaller, so it
    * is never later than the disorder bound behind the newest event seen.
    * The dedup operator's replay also carries redelivered copies.
    */
  def replay(events: Seq[Ev], seed: Long, redeliver: Boolean): Seq[Ev] = {
    val rnd = new scala.util.Random(seed)
    val copies = if (redeliver) events.filter(_ => rnd.nextDouble() < RedeliverShare) else Nil
    (events ++ copies).map(e => (e.ts.getTime + (rnd.nextDouble() * DisorderMs).toLong, e))
      .sortBy(_._1).map(_._2)
  }

  def run(spark: SparkSession, a: Args): Outcome = {
    import spark.implicits._
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
    val events = graft.engine.Tables.events(spark, a.data)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Ev].collect().toSeq.sortBy(_.event_id)
    var round = 0

    def runOp(op: String, fixedAppends: Int, span: Long): OpRun = {
      round += 1
      val name = s"pb_${op}_$round"
      val rows = replay(events, a.seed * 31L + OpNames.indexOf(op), redeliver = op == "dedup")
      val prime = rows.take(RowsPerTick)
      val fixed = rows.slice(prime.size, prime.size + fixedAppends * RowsPerTick)
        .grouped(RowsPerTick).toSeq
      val drain = rows.slice(prime.size + fixed.map(_.size).sum,
        prime.size + fixed.map(_.size).sum + DrainChunks * DrainRows).grouped(DrainRows).toSeq
      val fed = prime ++ fixed.flatten ++ drain.flatten
      val ckpt = new java.io.File(a.work, s"checkpoints/$name").getPath
      val t0 = Clock.nowUs
      val running = Tracer.tagged(spark, span)(start(spark, op, name, ckpt))
      val q = running.query
      val appended = Array.fill(1 + fixed.size + drain.size)(0L)
      var error: Option[String] = None
      def closedLoop(i: Int, chunk: Seq[Ev]): Unit =
        try {
          appended(i) = Clock.nowUs
          running.add(chunk)
          q.processAllAvailable()
        } catch { case e: Throwable => error = error.orElse(Some(String.valueOf(e.getMessage))) }
      closedLoop(0, prime)
      val phaseT0 = Clock.nowUs
      val fixedDue = fixed.indices.map(i => phaseT0 + 100000L + i * TickMs * 1000L)
      val cpu0 = Cpu.processSeconds
      val feeder = new Thread(() => {
        try fixed.indices.foreach { i =>
          val wait = (fixedDue(i) - Clock.nowUs) / 1000L
          if (wait > 0) Thread.sleep(wait)
          running.add(fixed(i))
          appended(i + 1) = Clock.nowUs
        } catch { case e: Throwable => error = error.orElse(Some(String.valueOf(e.getMessage))) }
      }, "perfbench-feeder")
      if (error.isEmpty) {
        feeder.start()
        feeder.join()
      }
      val processed = q.recentProgress.map(_.numInputRows).sum
      val backlog = prime.size + fixed.map(_.size.toLong).sum - processed
      var drainS = 0.0
      try q.processAllAvailable()
      catch { case e: Throwable => error = error.orElse(Some(String.valueOf(e.getMessage))) }
      if (error.isEmpty) {
        val d0 = System.nanoTime()
        drain.indices.foreach(i => closedLoop(1 + fixed.size + i, drain(i)))
        drainS = (System.nanoTime() - d0) / 1e9
      }
      val cpu = Cpu.processSeconds - cpu0
      q.stop()
      val t1 = Clock.nowUs
      val progress = q.recentProgress.toSeq
      if (error.isEmpty) error = running.check(fed)
      if (error.isEmpty) {
        val late = progress.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
        if (late != 0) error = Some(s"$late rows dropped as late")
      }
      spark.conf.unset(ProviderConf)
      // the closed-loop appends were due when they were made
      val due = appended(0) +: fixedDue :++ appended.drop(1 + fixed.size)
      OpRun(op, name, due, appended.toSeq, fixed.size, progress, (phaseT0 - t0) / 1e6, cpu, drainS,
        drain.map(_.size).sum, backlog, t0, t1, span, error)
    }

    def runRound(fixedAppends: Int): Seq[OpRun] =
      OpNames.map(op => runOp(op, fixedAppends, Spans.nextId()))

    // the fixed-rate phases together take --seconds; the traced run splits
    // them between an untraced and a traced round
    val share = if (a.trace) 0.5 else 1.0
    val appends = math.max(10, (a.seconds * share * 1000 / OpNames.size / TickMs).toInt)
    val plain = runRound(appends)
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    val traced = tracer.map { t =>
      t.attach()
      val r = runRound(appends)
      t.detach(0)
      r
    }.getOrElse(Nil)

    val all = plain ++ traced
    // each operator's median batch latency, weighted equally: a pooled
    // median would jump between operators as their batch counts move
    val lat = plain.map(r => Stats.median(latenciesMs(r)))
    val e2e = Map(
      // the one-shot cost: each operator's query start and priming batch
      "cold_pass_s" -> plain.map(_.primeS).sum,
      "pass_s" -> plain.map(_.drainS).sum,
      "pass_cpu_s" -> plain.map(_.cpuS).sum,
      "latency_ms" -> Stats.geomean(lat))
    val failures = all.flatMap(r => r.error.map(e => s"${r.op}: $e"))
    val detail = Map[String, Any](
      "latency_samples" -> plain.map(latenciesMs(_).size).sum,
      "appends_per_op" -> appends,
      "ops" -> plain.map(r => Map("op" -> r.op, "batches" -> r.progress.count(_.numInputRows > 0),
        "drain_s" -> r.drainS, "backlog_rows" -> r.backlogRows,
        "lat_p50_ms" -> Stats.median(latenciesMs(r)))),
      "failures" -> failures)
    val layers = tracer.map(t => Layers.stream(a, plain, traced, t))
      .getOrElse(Layers.Result(Map.empty, Nil))
    Outcome(e2e, all.size.toLong, failures.size.toLong, failures, detail, layers.metrics, layers.spans)
  }

  /** Per micro-batch latency: from the due time of the earliest append the
    * batch consumed to the end of its trigger. The priming append's batch
    * carries the query's start-up and is left out.
    */
  def latenciesMs(r: OpRun): Seq[Double] = r.progress.flatMap { p =>
    val firsts = p.sources.toSeq.flatMap { s =>
      val st = offset(s.startOffset)
      val en = offset(s.endOffset)
      if (en > st) Some(st + 1) else None
    }
    if (firsts.isEmpty) None
    else {
      val i = firsts.min.toInt
      if (i < 1 || i >= r.due.size) None
      else Some((triggerEndUs(p) - r.due(i)) / 1000.0)
    }
  }

  def offset(json: String): Long =
    if (json == null || json.isEmpty || json == "null") -1L else json.trim.toLong

  def triggerStartUs(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L

  def triggerEndUs(p: StreamingQueryProgress): Long =
    triggerStartUs(p) + p.durationMs.asScala.get("triggerExecution").map(_.longValue).getOrElse(0L) * 1000L

  /** The watermark the query's last batch ran with, in epoch millis. */
  private def watermarkMs(q: StreamingQuery): Long =
    Option(q.lastProgress).flatMap(p => Option(p.eventTime.get("watermark")))
      .map(s => java.time.Instant.parse(s).toEpochMilli).getOrElse(Long.MinValue)

  private def cart(e: Ev): ShoppingCartEvent =
    ShoppingCartEvent(e.user_id.toString, e.event_id.toString, 1, e.ts, e.event_type)

  private def diff[T](what: String, got: Seq[T], want: Seq[T]): Option[String] = {
    val g = got.groupBy(identity).view.mapValues(_.size).toMap
    val w = want.groupBy(identity).view.mapValues(_.size).toMap
    if (g == w) None
    else Some(s"$what: ${got.size} rows vs batch twin ${want.size}; " +
      s"first differences ${(g.toSet diff w.toSet).take(3)} / ${(w.toSet diff g.toSet).take(3)}")
  }

  private def start(spark: SparkSession, op: String, name: String, ckpt: String): Running = {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    def sink(ds: Dataset[_]): StreamingQuery = ds.writeStream.format("memory").queryName(name)
      .outputMode("append").option("checkpointLocation", ckpt).start()
    def out = spark.table(name)

    op match {
      case "tumbling" =>
        val in = MemoryStream[Ev]
        val q = sink(StreamingOps.tumblingCounts(in.toDF(), "ts", Delay, "1 hour"))
        new Running(q, rows => in.addData(rows), fed => {
          val wm = watermarkMs(q)
          val got = out.select(col("ws"), col("cnt")).as[(Timestamp, Long)].collect().toSeq
            .map { case (ws, n) => (ws.getTime, n) }
          val want = fed.groupBy(e => Math.floorDiv(e.ts.getTime, HourMs) * HourMs).toSeq
            .collect { case (ws, es) if ws + HourMs <= wm => (ws, es.size.toLong) }
          diff(op, got, want)
        })
      case "session_tws" =>
        spark.conf.set(ProviderConf, RocksDb)
        val in = MemoryStream[ShoppingCartEvent]
        val q = sink(StreamingOps.sessionCountsTws(in.toDS(), Delay, GapMs))
        new Running(q, rows => in.addData(rows.map(cart)), fed => {
          val wm = watermarkMs(q)
          val got = out.as[SessionOut].collect().toSeq
          val want = fed.groupBy(_.user_id.toString).toSeq.flatMap { case (k, es) =>
            val ts = es.map(_.ts.getTime).sorted
            val sessions = ArrayBuffer.empty[(Long, Long, Long)]
            ts.foreach { t =>
              if (sessions.nonEmpty && t <= sessions.last._2 + GapMs) {
                val (s, _, n) = sessions.last
                sessions(sessions.size - 1) = (s, t, n + 1)
              } else sessions += ((t, t, 1L))
            }
            sessions.collect { case (s, l, n) if l + GapMs <= wm => SessionOut(k, s, l + GapMs, n) }
          }
          diff(op, got, want)
        })
      case "window_join" =>
        val inA = MemoryStream[Ev]
        val inB = MemoryStream[Ev]
        val a = inA.toDF().select(col("event_id").as("a_id"), col("ts"), col("user_id"))
        val b = inB.toDF().select(col("event_id").as("b_id"), col("ts"), col("user_id"))
        val joined = StreamingOps.windowJoin(a, b, "user_id", "ts", "ts", Delay, "1 hour")
        val q = sink(joined.select(col("a_id"), col("b_id")))
        new Running(q, rows => {
          val (sa, sb) = rows.partition(e => JoinSideA(e.event_type))
          inA.addData(sa)
          inB.addData(sb)
        }, fed => {
          val got = out.as[(Long, Long)].collect().toSeq
          val (sa, sb) = fed.partition(e => JoinSideA(e.event_type))
          val byUser = sb.groupBy(_.user_id)
          val want = sa.flatMap { x =>
            byUser.getOrElse(x.user_id, Nil)
              .filter(y => Math.floorDiv(x.ts.getTime, HourMs) == Math.floorDiv(y.ts.getTime, HourMs))
              .map(y => (x.event_id, y.event_id))
          }
          diff(op, got, want)
        })
      case "dedup" =>
        val in = MemoryStream[Ev]
        val q = sink(StreamingOps.dedupStream(in.toDF(), "ts", Delay, Seq("event_id")).select(col("event_id")))
        new Running(q, rows => in.addData(rows), fed => {
          val got = out.as[Long].collect().toSeq
          diff(op, got, fed.map(_.event_id).distinct)
        })
    }
  }
}
