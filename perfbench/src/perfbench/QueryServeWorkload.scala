package perfbench

/** `query_serve`: the engine's traffic besides the paper pipeline, as one
  * closed loop. Each iteration runs one pass of the query sample
  * ([[Suite]]) and one ANN step: serve a batch, land an append batch,
  * reopen the index ([[Ann]]). Set-up builds the index.
  *
  * The reported query figure is the pass, not the single query: a median
  * over eight unlike queries jumps between neighbours and read 18% apart
  * across seeds, while a pass aggregates them.
  */
final class QueryServeWorkload(run: Run) extends Workload {
  import run._

  private val suite = new Suite(run)
  private val ann = new Ann(run)

  def execute(): Unit = {
    setup(if (small) 1 else 3)(ann.build)
    suite.warm()
    ann.warm()
    (0 until 5).foreach { i =>
      suite.pass("warmup.")
      ann.step("warmup.", i)
    }
    measure { (i, prefix) =>
      time(prefix + "pass", "queries.pass")(suite.pass(prefix))
      time(prefix + "step", "streaming.step")(ann.step(prefix, i))
    }
    metric("op_p50_s", median("pass"))
    metric("aux_p50_s", median("serve"))
    metric("iter_p50_s", median("step"))
    countSamples("pass", "serve", "step")
    ann.finish()
    if (traced) {
      traceOverhead("step")
      suite.report(sampled("traced.pass").length.toDouble)
      ann.report()
      layerReport(1, sampled("traced.step").length.toDouble)
    }
  }
}
