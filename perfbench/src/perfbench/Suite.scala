package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.{Jsons, SparkEntry}
import graft.queries.{Analytics, Breadth}

/** The query half of `query_serve`: passes over a fixed list of
  * `SparkEntry.queries` (`WORK/queries.txt`, one name a line) on the star
  * schema `run.py` generated under `WORK/suite`, under `graft.Bench`'s
  * protocol: build the frame, plan `count(*)` over it, execute, each query
  * timed on its own. Construction, planning and execution are timed apart.
  *
  * The warm-up pass writes every query's full result under `WORK/suite_out`
  * with its oracle SQL, for the DuckDB comparison in `check.py`; each timed
  * count must equal the row count written there.
  */
final class Suite(run: Run) {
  import run._

  private val dir = s"$work/suite"
  private val names = new String(Files.readAllBytes(Paths.get(work, "queries.txt")),
    StandardCharsets.UTF_8).split("\n").map(_.trim).filter(_.nonEmpty).toSeq
  private val fns = SparkEntry.queries
  private val rows = mutable.Map.empty[String, Long]
  private val unknown = names.filterNot(fns.contains)
  require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")

  private def registry(name: String): String =
    if (Analytics.queries.contains(name)) "analytics"
    else if (Breadth.queries.contains(name)) "breadth"
    else "extensions"

  /** The warm-up pass: each query's result written whole, rows counted. */
  def warm(): Unit = {
    val t0 = System.nanoTime()
    val out = s"$work/suite_out"
    names.foreach { name =>
      try {
        fns(name)(spark, dir).coalesce(1).write.mode("overwrite").parquet(s"$out/$name")
        rows(name) = spark.read.parquet(s"$out/$name").count()
      } catch { case e: Exception => fail(s"$name: export failed: $e") }
    }
    val oracle = names.flatMap(n => SparkEntry.oracleSql.get(n)
      .map(sql => s"${Jsons.quote(n)}: ${Jsons.quote(sql)}"))
    Files.write(Paths.get(out, "oracle_sql.json"),
      oracle.mkString("{", ",\n", "}").getBytes(StandardCharsets.UTF_8))
    artifact("suite_out", out)
    artifact("suite_tables", dir)
    metric("suite.warm_pass_s", (System.nanoTime() - t0) / 1e9)
  }

  def pass(prefix: String): Unit = names.foreach { name =>
    val t0 = System.nanoTime()
    val n = try {
      trace.span(s"queries.${registry(name)}") {
        val df = time(prefix + "construct", "queries.construct")(fns(name)(spark, dir))
        val c = df.selectExpr("count(*)")
        time(prefix + "plan", "queries.plan")(c.queryExecution.executedPlan)
        time(prefix + "exec", "queries.exec")(c.collect()(0).getLong(0))
      }
    } catch { case e: Exception => fail(s"$name: $e"); -1L }
    record(prefix + "query", (System.nanoTime() - t0) / 1e9)
    if (n >= 0) check(rows.get(name).contains(n), s"$name: count $n, warm-up pass wrote ${rows.get(name)}")
  }

  /** Per-layer numbers of the traced half, per pass. */
  def report(passes: Double): Unit = {
    val byName = trace.byName(1)
    def agg(n: String) = byName.getOrElse(n, new Trace.Agg)
    metric("suite.construct_ms", agg("queries.construct").wallMs / passes)
    metric("suite.plan_ms", agg("queries.plan").wallMs / passes)
    metric("suite.exec_ms", agg("queries.exec").wallMs / passes)
    val all = new Trace.Counters
    Seq("analytics", "breadth", "extensions").foreach { r =>
      val a = agg(s"queries.$r")
      all.add(a.incl)
      metric(s"suite.$r.ms", a.wallMs / passes)
      metric(s"suite.$r.jobs", a.incl.jobs / passes)
    }
    Seq("jobs" -> all.jobs.toDouble, "stages" -> all.stages.toDouble,
      "tasks" -> all.tasks.toDouble, "task_cpu_ms" -> all.cpuMs, "gc_ms" -> all.gcMs,
      "shuffle_bytes" -> (all.shuffleRead + all.shuffleWrite).toDouble,
      "spill_bytes" -> all.spill.toDouble
    ).foreach { case (k, v) => metric(s"suite.$k", v / passes) }
  }
}
