package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Span recorder plus Spark accounting, attached from outside the program.
  *
  * `span(name)(body)` times one layer call. Names are `layer.op`
  * (`serve.request`, `io.xlsx.parse`, ...); the layer is the part before the
  * first dot. Spans nest through one stack shared by all threads, which is
  * sound because every workload is a closed loop with one client: at most
  * one call chain is open at a time, even when a call hops to the HTTP
  * server's handler thread.
  *
  * When enabled, each span also sets a Spark local property on the calling
  * thread, and a [[SparkListener]] maps every job, stage and task back to
  * the innermost span open when the job was submitted. Task metrics are
  * summed per span, so each span's counters are its SELF counters.
  * Off (the default), `span` is the bare body: no stack, no property, no
  * listener.
  */
final class Trace(spark: SparkSession) {
  import Trace._

  final case class Span(id: Int, name: String, parent: Int, run: Int,
      startNs: Long, var endNs: Long = -1L) {
    val counters = new Counters
    def wallMs: Double = (endNs - startNs) / 1e6
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private val stageSpan = mutable.Map.empty[Int, Span]
  private val byId = mutable.Map.empty[Int, Span]
  @volatile var run: Int = 0

  private val listener = new SparkListener {
    private def of(props: java.util.Properties): Option[Span] =
      Option(props).flatMap(p => Option(p.getProperty(Key)))
        .flatMap(id => Trace.this.synchronized(byId.get(id.toInt)))
    override def onJobStart(e: SparkListenerJobStart): Unit =
      of(e.properties).foreach { s =>
        Trace.this.synchronized {
          s.counters.jobs += 1
          e.stageIds.foreach(stageSpan(_) = s)
        }
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Trace.this.synchronized(stageSpan.get(e.stageInfo.stageId))
        .foreach(s => Trace.this.synchronized(s.counters.stages += 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Trace.this.synchronized(stageSpan.get(e.stageId)).foreach { s =>
        val m = e.taskMetrics
        Trace.this.synchronized {
          val c = s.counters
          c.tasks += 1
          if (m != null) {
            c.runMs += m.executorRunTime
            c.cpuMs += m.executorCpuTime / 1e6
            c.gcMs += m.jvmGCTime
            c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
            c.input += m.inputMetrics.bytesRead
            c.output += m.outputMetrics.bytesWritten
          }
        }
      }
  }
  @volatile private var enabled = false

  /** Turn recording on or off; the listener is attached only while on. */
  def on(): Unit = if (!enabled) { spark.sparkContext.addSparkListener(listener); enabled = true }
  def off(): Unit = if (enabled) { drain(); spark.sparkContext.removeSparkListener(listener); enabled = false }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = synchronized {
        val parent = if (stack.isEmpty) -1 else stack.top.id
        val sp = Span(spans.length, name, parent, run, System.nanoTime())
        spans += sp
        byId(sp.id) = sp
        stack.push(sp)
        sp
      }
      val sc = spark.sparkContext
      val before = sc.getLocalProperty(Key)
      sc.setLocalProperty(Key, s.id.toString)
      try body
      finally {
        sc.setLocalProperty(Key, before)
        synchronized {
          s.endNs = System.nanoTime()
          stack.pop()
        }
      }
    }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.BenchBridge.drain(spark.sparkContext)

  private def closed: Seq[Span] = synchronized(spans.filter(_.endNs >= 0).toSeq)

  /** Per span name: calls, wall ms, self ms (wall minus child spans), the
    * self counters and the inclusive counters (self plus every descendant),
    * summed over spans of run `run` (all runs if < 0). */
  def byName(run: Int = -1): Map[String, Agg] = {
    drain()
    val ss = closed.filter(s => run < 0 || s.run == run)
    val ids = ss.map(s => s.id -> s).toMap
    val childMs = ss.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.wallMs).sum }
    val incl = ss.map(s => s.id -> new Counters).toMap
    ss.foreach { s =>
      var at: Option[Span] = Some(s)
      while (at.isDefined) { incl(at.get.id).add(s.counters); at = ids.get(at.get.parent) }
    }
    ss.groupBy(_.name).map { case (name, group) =>
      val a = new Agg
      group.foreach { s =>
        a.calls += 1
        a.wallMs += s.wallMs
        a.selfMs += s.wallMs - childMs.getOrElse(s.id, 0.0)
        a.c.add(s.counters)
        a.incl.add(incl(s.id))
      }
      name -> a
    }
  }

  /** Same as [[byName]], folded per layer (the name's first segment). */
  def byLayer(run: Int = -1): Map[String, Agg] =
    byName(run).groupBy(_._1.takeWhile(_ != '.')).map { case (layer, m) =>
      val a = new Agg
      m.values.foreach { x =>
        a.calls += x.calls; a.wallMs += x.wallMs; a.selfMs += x.selfMs; a.c.add(x.c)
        a.incl.add(x.incl)
      }
      layer -> a
    }

  /** Every closed span as a JSON array (name, start/end ns, parent, run). */
  def spansJson: String = closed.map { s =>
    s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"run":${s.run},""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs},"jobs":${s.counters.jobs},""" +
      s""""tasks":${s.counters.tasks}}"""
  }.mkString("[", ",\n", "]")
}

object Trace {
  val Key = "perfbench.span"

  final class Counters {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var runMs = 0.0; var cpuMs = 0.0; var gcMs = 0.0
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
    var input = 0L; var output = 0L
    def add(o: Counters): Unit = {
      jobs += o.jobs; stages += o.stages; tasks += o.tasks
      runMs += o.runMs; cpuMs += o.cpuMs; gcMs += o.gcMs
      shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite; spill += o.spill
      input += o.input; output += o.output
    }
  }

  final class Agg {
    var calls = 0L; var wallMs = 0.0; var selfMs = 0.0
    val c = new Counters
    val incl = new Counters
  }
}
