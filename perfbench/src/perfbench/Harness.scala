package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark run inside one JVM. `run.py` launches it as
  *
  *   Harness --workload W --seed N --seconds S --trace 0|1 --work DIR --cpus C [--size small]
  *
  * and reads `DIR/result.json` when it exits. Untraced, the run reports the
  * end-to-end metrics; traced, it first repeats the untraced loop for half
  * the time, then turns tracing on for the other half, and reports the
  * per-layer breakdown plus the tracing overhead between the two halves.
  */
object Harness {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = new File(opts("work")).getAbsolutePath
    val cpus = opts.getOrElse("cpus", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val started = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val run = new Run(spark, work, opts("seed").toLong, opts("seconds").toDouble,
      traced = opts("trace") == "1", small = opts.get("size").contains("small"))
    run.metric("session_s", (System.currentTimeMillis() - started) / 1000.0)
    val workload: Workload = opts("workload") match {
      case "paper_http"     => new PipelineWorkload(run)
      case "query_serve"    => new QueryServeWorkload(run)
      case other            => throw new IllegalArgumentException(s"unknown workload $other")
    }
    try {
      workload.execute()
      run.metric("storage_held_mb", spark.sparkContext.getRDDStorageInfo
        .map(i => i.memSize + i.diskSize).sum / 1e6)
      run.metric("persisted_rdds", spark.sparkContext.getPersistentRDDs.size.toDouble)
    } catch {
      case e: Throwable =>
        run.fail(s"run aborted: $e")
        e.printStackTrace()
    } finally {
      workload.close()
      run.write()
      spark.stop()
    }
  }
}

/** A workload: set-up (repeated, median reported), a closed loop, checks. */
trait Workload {
  def execute(): Unit
  def close(): Unit = ()
}

/** Shared state of one run: timers, sample sets, op accounting, output. */
final class Run(val spark: SparkSession, val work: String, val seed: Long,
    val seconds: Double, val traced: Boolean, val small: Boolean) {
  val trace = new Trace(spark)
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val metrics = mutable.LinkedHashMap.empty[String, Double]
  private val artifacts = mutable.LinkedHashMap.empty[String, String]
  private val failures = mutable.ArrayBuffer.empty[String]
  private var attempted = 0L

  /** Time `body` into the sample set `name`, inside span `span`. */
  def time[T](name: String, span: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val out = trace.span(span)(body)
    record(name, (System.nanoTime() - t0) / 1e9)
    out
  }
  def record(name: String, secs: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += secs

  def sampled(name: String): Seq[Double] = samples.get(name).map(_.toSeq).getOrElse(Nil)
  def median(name: String): Double = Run.quantile(sampled(name), 0.5)

  /** Count one attempted operation; a false `ok` records a failure. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) failures += what
  }
  def fail(what: String): Unit = check(ok = false, what)

  def metric(name: String, v: Double): Unit = metrics(name) = v
  def artifact(name: String, path: String): Unit = artifacts(name) = path

  /** Run `iter` closed-loop until `secs` have passed, at least once. */
  private def loop(secs: Double)(iter: Int => Unit): Unit = {
    val end = System.nanoTime() + (secs * 1e9).toLong
    var i = 0
    while (i == 0 || System.nanoTime() < end) { iter(i); i += 1 }
  }

  /** Set up `reps` times; report the median as `setup_s` (plus session start). */
  def setup[T](reps: Int)(body: Int => T): T = {
    val times = mutable.ArrayBuffer.empty[Double]
    var last: Option[T] = None
    (0 until reps).foreach { r =>
      val t0 = System.nanoTime()
      last = Some(body(r))
      times += (System.nanoTime() - t0) / 1e9
    }
    metric("setup_s", metrics.getOrElse("session_s", 0.0) + Run.quantile(times.toSeq, 0.5))
    last.get
  }

  /** The loop as the end-to-end numbers see it, and — traced — again with
    * tracing on, reporting the overhead. Sample names of the traced half
    * get a `traced.` prefix so the two halves never mix. */
  def measure(iter: (Int, String) => Unit): Unit = {
    if (!traced) loop(seconds)(i => iter(i, ""))
    else {
      loop(seconds / 2)(i => iter(i, ""))
      trace.on()
      trace.run = 1
      loop(seconds / 2)(i => iter(i, "traced."))
    }
  }

  def bytesUnder(path: String): Long = {
    val f = new File(path)
    if (!f.exists) 0L
    else Files.walk(f.toPath).filter(Files.isRegularFile(_))
      .mapToLong(p => Files.size(p)).sum()
  }

  /** Per-layer report of traced run `r`, per iteration `per`: self time
    * per layer, and the Spark counters of every span summed. A value an
    * earlier call already set is kept. */
  def layerReport(r: Int, per: Double): Unit = {
    trace.byLayer(r).foreach { case (layer, a) =>
      if (!metrics.contains(s"layer.$layer.self_ms")) metric(s"layer.$layer.self_ms", a.selfMs / per)
    }
    val all = new Trace.Counters
    trace.byName(r).values.foreach(a => all.add(a.c))
    if (!metrics.contains("spark.jobs")) Seq(
      "spark.jobs" -> all.jobs.toDouble, "spark.stages" -> all.stages.toDouble,
      "spark.tasks" -> all.tasks.toDouble, "spark.executor_run_ms" -> all.runMs,
      "spark.task_cpu_ms" -> all.cpuMs, "spark.gc_ms" -> all.gcMs,
      "spark.shuffle_read_bytes" -> all.shuffleRead.toDouble,
      "spark.shuffle_write_bytes" -> all.shuffleWrite.toDouble,
      "spark.spill_bytes" -> all.spill.toDouble, "spark.input_bytes" -> all.input.toDouble,
      "spark.output_bytes" -> all.output.toDouble
    ).foreach { case (k, v) => metric(k, v / per) }
  }

  /** Sample counts behind the untraced medians of op, aux and iter. */
  def countSamples(op: String, aux: String, iter: String): Unit =
    Seq("op" -> op, "aux" -> aux, "iter" -> iter)
      .foreach { case (k, n) => metric(s"$k.samples", sampled(n).length.toDouble) }

  /** Tracing overhead: the traced half's median of `name` against the
    * untraced half's, in percent. */
  def traceOverhead(name: String): Unit =
    metric("trace.overhead_pct", (median(s"traced.$name") / median(name) - 1.0) * 100.0)

  def write(): Unit = {
    def num(v: Double): String =
      if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
    def str(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    val json =
      s"""{"attempted": $attempted, "failed": ${failures.length},
         | "failures": ${failures.take(50).map(str).mkString("[", ", ", "]")},
         | "metrics": ${metrics.map { case (k, v) => s"${str(k)}: ${num(v)}" }.mkString("{", ", ", "}")},
         | "samples": ${samples.map { case (k, v) => s"${str(k)}: ${v.map(num).mkString("[", ",", "]")}" }.mkString("{", ", ", "}")},
         | "artifacts": ${artifacts.map { case (k, v) => s"${str(k)}: ${str(v)}" }.mkString("{", ", ", "}")}}
         |""".stripMargin
    Files.write(Paths.get(work, "result.json"), json.getBytes(StandardCharsets.UTF_8))
    if (traced) Files.write(Paths.get(work, "spans.json"),
      trace.spansJson.getBytes(StandardCharsets.UTF_8))
  }
}

object Run {
  /** Linear-interpolated quantile (NaN for no samples). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** Force a frame to execute without collecting it (the `noop` sink). */
  def force(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Rows of a collected frame as canonical strings (for equality checks). */
  def rows(df: DataFrame): Seq[String] = df.collect().toSeq.map(_.toSeq.map {
    case d: Double => java.lang.Double.toString(d)
    case null => "NULL"
    case v => v.toString
  }.mkString("|"))
}
