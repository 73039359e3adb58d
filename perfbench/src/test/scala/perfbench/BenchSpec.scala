package perfbench

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry

/** The benchmark's own checks, on a tiny generated input (TPC-H sf0.001,
  * 2000 events). Each workload runs as the benchmark runs it: on the
  * session its setup builds, traced, with zero measured seconds.
  */
class BenchSpec extends AnyFunSuite {

  private lazy val work = Files.createTempDirectory(new java.io.File("target").toPath, "bench-spec").toFile
  private lazy val data = {
    val d = new java.io.File(work, "data")
    val p = new ProcessBuilder("python3", "gen.py", d.getPath, "--seed", "7", "--events", "2000")
      .inheritIO().start()
    assert(p.waitFor() == 0, "gen.py failed")
    d.getPath
  }
  private def args(workload: String) =
    Args(workload, seed = 7, seconds = 0, trace = true, data = data,
      work = new java.io.File(work, workload).getPath)

  private lazy val batchRun = Main.execute(args("batch"))
  private lazy val streamRun = Main.execute(args("stream"))
  private def batch = batchRun.out
  private def stream = streamRun.out

  test("the timed sets, the untimed set and the gate-only set partition the registry") {
    val lists = Seq(Keys.OpsTimed, Keys.CorpusTimed, Keys.Untimed, Keys.GateOnly)
    lists.foreach(l => assert(l.distinct.size == l.size))
    val all = lists.flatten
    assert(all.distinct.size == all.size, s"listed twice: ${all.diff(all.distinct)}")
    assert(all.toSet == SparkEntry.queries.keySet,
      s"unplaced: ${SparkEntry.queries.keySet -- all}; unknown: ${all.toSet -- SparkEntry.queries.keySet}")
    assert(Keys.OpsTimed.forall(Keys.operatorFamily))
    assert(!Keys.CorpusTimed.exists(Keys.operatorFamily))
  }

  test("every metric is measured by a workload and printed with a unit") {
    val names = (spec: Seq[(String, String)]) => spec.map(_._1).toSet
    for (run <- Seq(batchRun, streamRun))
      assert(run.e2e.keySet == names(Metrics.EndToEnd))
    val measured = batchRun.layers.keySet ++ streamRun.layers.keySet
    val spec = names(Metrics.PerLayer)
    assert((measured -- spec).isEmpty, s"measured, not in the spec: ${measured -- spec}")
    assert((spec -- measured).isEmpty, s"in the spec, never measured: ${spec -- measured}")
    assert(Metrics.EndToEnd.forall(_._2.nonEmpty) && Metrics.PerLayer.forall(_._2.nonEmpty))
  }

  test("per query, traced task run time is at most cores x wall") {
    val perQuery = batch.detail("task_run_per_query").asInstanceOf[Seq[(String, Double, Double)]]
    assert(perQuery.nonEmpty)
    assert(perQuery.exists(_._2 > 0))
    perQuery.foreach { case (key, run, wall) =>
      assert(run <= Args.Cores * wall + 1e-3, s"$key: task run $run s > cores x wall $wall s")
    }
  }

  test("every span's self time is non-negative, and spans reach jobs and stages") {
    for (spans <- Seq(batch.spans, stream.spans)) {
      assert(spans.nonEmpty)
      assert(spans.forall(s => s.endUs >= s.startUs))
      assert(Spans.selfUs(spans).values.forall(_ >= 0))
      assert(spans.exists(_.name.startsWith("stage ")))
    }
    assert(batch.spans.exists(_.layer == "catalyst"))
    assert(stream.spans.exists(_.layer == "phase"))
  }

  test("batch and stream runs are correct, with no row dropped as late") {
    // Stream.run fails an operator whose progress reports a late drop
    assert(batch.failed == 0, batch.detail)
    assert(stream.failed == 0, stream.detail)
    assert(stream.wrong.isEmpty)
  }

  test("self time subtracts the union of child intervals") {
    val spans = Seq(Span(1, 0, "q", "query", "q", 0, 100),
      Span(2, 1, "q", "x", "a", 10, 40), Span(3, 1, "q", "x", "b", 30, 60),
      Span(4, 1, "q", "x", "c", 90, 150))
    assert(Spans.selfUs(spans)(1) == 100 - 50 - 10)
  }
}
