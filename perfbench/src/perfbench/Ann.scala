package perfbench

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.streaming.{AnnStreams, Maintenance}

/** The serving half of `query_serve`: ANN serving beside index
  * maintenance, on seeded clustered vectors.
  *
  * Set-up builds a float IVF index (`AnnStreams.buildServingIndex`). Each
  * step serves one query batch (`annServeBatch`, collected), lands one
  * append batch (`landAppendBatch`) and reopens the index so the tail is
  * visible. Steps land batch ids 0 and 1 in turn, so the tail stays two
  * batches (landing is idempotent per id) and every step does the same work
  * however many steps a run makes.
  *
  * In a traced run one maintenance round follows the loop, inline: a
  * `Maintenance.tick` (the two-batch tail is past 10% of the base, so it
  * compacts), then two batches from new cluster centres land and a second
  * tick retrains on the drift. (At about 15 s it does not fit the run
  * budget of every untraced run.) A recall probe ends every run.
  *
  * Checks: every served query gets exactly k hits with no self-match, both
  * ticks act as scheduled, and recall@10 against exact brute force stays
  * at or above [[MinRecall]].
  */
final class Ann(run: Run) {
  import run._
  import spark.implicits._

  private val dim = if (small) 16 else 32
  private val nBase = if (small) 1000 else 2000
  private val perQuery = if (small) 40 else 100
  private val perAppend = nBase / 20 + 10
  private val nlist = math.round(math.sqrt(nBase.toDouble)).toInt
  private val k = 10
  private val nprobe = 8
  private val MinRecall = 0.5
  private val rng = new java.util.Random(seed)

  private def centres(n: Int): Array[Array[Float]] =
    Array.fill(n)(Array.fill(dim)(rng.nextGaussian().toFloat))
  private val home = centres(16)
  private val drifted = centres(16)
  private def near(c: Array[Float], spread: Double): Array[Float] =
    c.map(x => (x + rng.nextGaussian() * spread).toFloat)
  private def draw(from: Array[Array[Float]]): Array[Float] = near(from(rng.nextInt(from.length)), 0.45)

  private val base: Array[(Long, Array[Float])] = Array.tabulate(nBase)(i => (i.toLong, draw(home)))
  private def batch(b: Int, from: Array[Array[Float]]): Array[(Long, Array[Float])] =
    Array.tabulate(perAppend)(i => ((nBase + b * perAppend + i).toLong, draw(from)))
  // batches 0-1 cycle through the loop; 2-3 are the drifted ones
  private val appends = Array(batch(0, home), batch(1, home), batch(2, drifted), batch(3, drifted))
  // queries reuse corpus ids (near their vectors), so a self-match would show
  private val queries: Array[Array[(Long, Array[Float])]] = Array.tabulate(8) { _ =>
    Array.fill(perQuery) {
      val id = rng.nextInt(nBase)
      (id.toLong, near(base(id)._2, 0.05))
    }
  }

  private def vectors(rows: Seq[(Long, Array[Float])]): DataFrame =
    rows.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
  private def arrivals(rows: Seq[(Long, Array[Float])]): DataFrame =
    rows.map { case (id, v) => (id, new Timestamp(0L), v.toSeq) }
      .toDF("query_id", "ts", "embedding")

  private var dir: String = _
  private var index: AnnStreams.ServingIndex = _

  /** FloatIvf with every act inside a span, so a tick splits by act. */
  private object TracedIvf extends Maintenance.Family {
    private val f = Maintenance.FloatIvf
    def health(spark: SparkSession, d: String): DataFrame =
      trace.span("streaming.maint.health")(f.health(spark, d))
    def due(h: DataFrame): AnnStreams.Maintenance = trace.span("streaming.maint.health")(f.due(h))
    def retrain(spark: SparkSession, d: String, nd: String, h: DataFrame): Maintenance.Act =
      trace.span("streaming.maint.retrain")(f.retrain(spark, d, nd, h))
    def compact(spark: SparkSession, d: String, nd: String): Maintenance.Act =
      trace.span("streaming.maint.compact")(f.compact(spark, d, nd))
  }

  private def open(prefix: String): Unit =
    index = time(prefix + "open", "streaming.open")(AnnStreams.openServingIndex(spark, dir))

  private def serve(prefix: String, q: Seq[(Long, Array[Float])]): Map[Long, Seq[Long]] = {
    val rows = time(prefix + "serve", "streaming.serve") {
      val df = trace.span("streaming.serve.construct")(
        AnnStreams.annServeBatch(arrivals(q), index, "query_id", "ts", "embedding", k, nprobe))
      trace.span("streaming.serve.exec")(df.collect())
    }
    val hits = rows.toSeq.groupBy(_.getLong(0)).map { case (qid, rs) =>
      qid -> rs.sortBy(_.getInt(2)).map(r => if (r.isNullAt(3)) -1L else r.getLong(3))
    }
    q.map(_._1).distinct.foreach { qid =>
      val got = hits.getOrElse(qid, Nil)
      check(got.length == k && got.forall(i => i >= 0 && i != qid),
        s"query $qid served ${got.mkString(",")}")
    }
    hits
  }

  private def land(prefix: String, b: Int, batchId: Long): Unit = {
    time(prefix + "append", "streaming.append")(
      AnnStreams.landAppendBatch(vectors(appends(b)), index, "vec_id", "embedding", batchId))
    open(prefix)
  }

  def step(prefix: String, i: Int): Unit = {
    serve(prefix, queries(i % queries.length))
    land(prefix, i % 2, (i % 2).toLong)
  }

  /** One tick; it must take the scheduled act. */
  private def tick(prefix: String, want: String, green: String): Unit = {
    val act = time(prefix + "tick", "streaming.maint.tick")(
      Maintenance.tick(spark, TracedIvf, dir, green))
    check(act.getClass.getSimpleName == want, s"tick took $act, scheduled $want")
    dir = act.dirAfter
    open(prefix)
  }

  /** Compact the two-batch tail, land the drifted batches, retrain. */
  private def maintain(prefix: String): Unit = {
    val t0 = System.nanoTime()
    tick(prefix, "Compacted", s"$work/index-compacted")
    land(prefix, 2, 0L)
    land(prefix, 3, 1L)
    tick(prefix, "Retrained", s"$work/index-retrained")
    metric("maintain_s", (System.nanoTime() - t0) / 1e9)
  }

  /** Served top-k against exact top-k over everything indexed now: the
    * base, the two looping batches and, after maintenance, the drifted two. */
  private def probeRecall(maintained: Boolean): Unit = {
    val landed = if (maintained) appends.toSeq else appends.take(2).toSeq
    val corpus = base ++ landed.flatten
    val probe = queries.flatMap(_.take(4)).toSeq ++ landed.last.take(8).toSeq
    val served = serve("probe.", probe)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / math.sqrt(na * nb)
    }
    val recalls = probe.map { case (qid, v) =>
      val exact = corpus.iterator.filter(_._1 != qid).map(c => (cos(v, c._2), c._1))
        .toSeq.sortBy(x => (-x._1, x._2)).take(k).map(_._2).toSet
      served.getOrElse(qid, Nil).count(exact.contains).toDouble / k
    }
    val recall = recalls.sum / recalls.length
    metric("ann.recall_at_10", recall)
    check(recall >= MinRecall, f"recall@$k $recall%.3f below $MinRecall")
  }

  /** Set-up: build the index; the last build is the one served. */
  def build(r: Int): Unit = {
    dir = s"$work/index-base$r"
    AnnStreams.buildServingIndex(vectors(base.toSeq), "vec_id", "embedding", dir, nlist = nlist)
  }

  /** Open the index (the warm-up steps land both looping batches). */
  def warm(): Unit = open("warmup.")

  /** After the loop: maintenance when traced, then the recall probe. */
  def finish(): Unit = {
    metric("stored_bytes_ratio", bytesUnder(dir).toDouble / (nBase.toLong * (8 + 4 * dim)))
    if (traced) {
      trace.run = 2
      maintain("traced.")
    }
    probeRecall(maintained = traced)
  }

  /** Per-layer numbers of the traced half (run 1) and of the maintenance
    * round (run 2). */
  def report(): Unit = {
    val b = trace.byName(1)
    val m = trace.byName(2)
    def wall(n: String) = b.get(n).map(_.wallMs).getOrElse(0.0)
    def agg(n: String) = b.getOrElse(n, new Trace.Agg)
    def maint(n: String) = m.getOrElse(n, new Trace.Agg)
    val serves = agg("streaming.serve").calls.toDouble
    val appendsN = agg("streaming.append").calls.toDouble
    metric("ann.serve.construct_ms", wall("streaming.serve.construct") / serves)
    metric("ann.serve.exec_ms", wall("streaming.serve.exec") / serves)
    val se = agg("streaming.serve").incl
    metric("ann.serve.shuffle_bytes", (se.shuffleRead + se.shuffleWrite).toDouble / serves)
    metric("ann.tail_batches", 2.0)
    metric("ann.open_ms", wall("streaming.open") / agg("streaming.open").calls.max(1))
    metric("ann.append.ms", wall("streaming.append") / appendsN)
    metric("ann.append.bytes", agg("streaming.append").incl.output.toDouble / appendsN)
    metric("maint.health_ms", maint("streaming.maint.health").wallMs)
    metric("maint.compact_ms", maint("streaming.maint.compact").wallMs)
    metric("maint.retrain_ms", maint("streaming.maint.retrain").wallMs)
    metric("maint.ticks", maint("streaming.maint.tick").calls.toDouble)
    metric("maint.acts",
      (maint("streaming.maint.compact").calls + maint("streaming.maint.retrain").calls).toDouble)
    metric("diskindex.bytes", bytesUnder(dir).toDouble)
  }
}
