package graft.streaming

import org.apache.spark.sql.functions._

/** [[Maintenance.tick]] — the canonical policy (`retrain else compact
  * else no-op`) as a LIBRARY surface. What the StreamBench matrix legs
  * prove under load, this spec pins functionally per branch and family:
  * branch selection from the planted tail, the post-act healthy
  * `require`, the green no-op, and the by-name green dir that is never
  * minted on a healthy tick. */
class MaintenanceSpec extends graft.SparkSpec {

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  // near-parallel base around e1 with HIGH ids (seeded nlist=1 centroid is
  // the lowest-id vector), used by both serving families
  private def baseVecs = {
    import spark.implicits._
    (10L to 18L).map(i =>
      (i, Seq(1.0f, 0.01f * i, 0.0f))).toDF("vec_id", "embedding")
  }

  test("FloatIvf: healthy tick is a NoOp and never mints the green dir") {
    val root = tmp("maint-noop")
    AnnStreams.buildServingIndex(
      baseVecs, "vec_id", "embedding", s"$root/blue", nlist = 1, trained = false)
    var dueFired = false
    val act = Maintenance.tick(spark, Maintenance.Ivf, s"$root/blue",
      sys.error("a healthy tick must not evaluate newDir"),
      onDue = () => dueFired = true)
    assert(act == Maintenance.NoOp(s"$root/blue"))
    assert(!dueFired, "onDue must not fire on a healthy tick")
  }

  test("FloatIvf: anti-parallel tail fires the RETRAIN branch at the scheduled geometry") {
    import spark.implicits._
    val root = tmp("maint-retrain")
    val built = AnnStreams.buildServingIndex(
      baseVecs, "vec_id", "embedding", s"$root/blue", nlist = 1, trained = false)
    AnnStreams.landAppendBatch(
      Seq((1L, Seq(-1.0f, 0.0f, 0.0f)), (2L, Seq(-1.0f, 0.1f, 0.0f)))
        .toDF("vec_id", "embedding"),
      built, "vec_id", "embedding", batchId = 0L)
    var dueFired = false
    val act = Maintenance.tick(spark, Maintenance.Ivf, s"$root/blue",
      s"$root/green", onDue = () => dueFired = true)
    // 11 rows folded -> scheduled nlist round(sqrt(11)) = 3
    assert(act == Maintenance.Retrained(s"$root/green", newNlist = 3))
    assert(dueFired)
    val green = AnnStreams.openServingIndex(spark, s"$root/green")
    assert(green.nlist == 3 && green.appends.isEmpty
      && green.cells.count() == 11L)
    // and the next tick on green observes health (tick itself already
    // require'd it; this pins the steady state a poller would see)
    assert(Maintenance.tick(spark, Maintenance.Ivf, s"$root/green",
      sys.error("green must be healthy")) == Maintenance.NoOp(s"$root/green"))
  }

  test("FloatIvf: in-distribution growth fires COMPACT alone; geometry untouched") {
    import spark.implicits._
    val root = tmp("maint-compact")
    val built = AnnStreams.buildServingIndex(
      baseVecs, "vec_id", "embedding", s"$root/blue", nlist = 1, trained = false)
    // verbatim copy of the centroid vector (cos = 1, above the base
    // average) -- 1/9 > 10% budget, zero drift signal
    AnnStreams.landAppendBatch(
      Seq((100L, Seq(1.0f, 0.1f, 0.0f))).toDF("vec_id", "embedding"),
      built, "vec_id", "embedding", batchId = 0L)
    val act = Maintenance.tick(spark, Maintenance.Ivf, s"$root/blue",
      s"$root/green")
    assert(act == Maintenance.Compacted(s"$root/green"))
    val green = AnnStreams.openServingIndex(spark, s"$root/green")
    assert(green.nlist == 1 && green.appends.isEmpty
      && green.cells.count() == 10L)
  }

  test("Ivf, int8 cells: compact then retrain; each green reopens as int8") {
    import spark.implicits._
    val root = tmp("maint-q")
    val arrivals = Seq((500L, Seq(1.0f, 0.12f, 0.0f)), (501L, Seq(-1.0f, 0.05f, 0.0f)))
      .map { case (id, v) => (id, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), v) }
      .toDF("query_id", "ts", "embedding")
    def served(idx: AnnStreams.ServingIndex): Seq[(Long, Int, Long, Double)] =
      AnnStreams.annServeBatch(arrivals, idx, "query_id", "ts", "embedding",
        k = 3, nprobe = 1, refine = 4)
        .select($"query_id", $"rank".cast("int"), $"item_id", $"cos_sim")
        .as[(Long, Int, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    // each green dir: a handle opened right after the act, then a
    // driver-bounce reopen — codec and re-rank table come back from meta/,
    // same served rows
    def reopensAsInt8(green: String): Unit = {
      val live = AnnStreams.openServingIndex(spark, green)
      Seq("cells", "vecs").foreach(kind => spark.sql(
        s"DROP TABLE ${DiskIndex.tableName(spark, s"graft_ann_$kind", green)}"))
      val reopened = AnnStreams.openServingIndex(spark, green)
      assert(reopened.codec == AnnStreams.Codec.Int8 && reopened.vecs.isDefined)
      assert(served(reopened) == served(live))
    }
    // 8 base rows; one verbatim copy of the centroid is 12.5% growth with
    // no drift signal, so the first tick COMPACTS
    val built = AnnStreams.buildServingIndex(
      baseVecs.filter($"vec_id" < 18L), "vec_id", "embedding", s"$root/blue",
      nlist = 1, trained = false, codec = AnnStreams.Codec.Int8)
    AnnStreams.landAppendBatch(
      Seq((100L, Seq(1.0f, 0.1f, 0.0f))).toDF("vec_id", "embedding"),
      built, "vec_id", "embedding", batchId = 0L)
    val blueRows = served(AnnStreams.openServingIndex(spark, s"$root/blue"))
    assert(Maintenance.tick(spark, Maintenance.Ivf, s"$root/blue", s"$root/teal")
      == Maintenance.Compacted(s"$root/teal"))
    assert(served(AnnStreams.openServingIndex(spark, s"$root/teal")) == blueRows)
    reopensAsInt8(s"$root/teal")
    // an anti-parallel tail on the compacted index: the second tick RETRAINS
    AnnStreams.landAppendBatch(
      Seq((1L, Seq(-1.0f, 0.0f, 0.0f)), (2L, Seq(-1.0f, 0.1f, 0.0f)))
        .toDF("vec_id", "embedding"),
      AnnStreams.openServingIndex(spark, s"$root/teal"), "vec_id", "embedding",
      batchId = 0L)
    val act = Maintenance.tick(spark, Maintenance.Ivf, s"$root/teal",
      s"$root/green")
    assert(act == Maintenance.Retrained(s"$root/green", newNlist = 3))
    assert(AnnStreams.openServingIndex(spark, s"$root/green")
      .cells.count() == 11L)
    reopensAsInt8(s"$root/green")
  }

  test("Admission: boilerplate drift re-indexes; verbatim-copy growth compacts") {
    import spark.implicits._
    // base: 20 distinct docs; drift: 80 docs sharing a 5-token head the
    // base never saw -> 3 unranked shingles x C(80,2) pairs, ~120 pairs
    // per doc in ppm against the 100-pair bar
    val base = (0L until 20L).map(i =>
      (i, s"alpha bravo charlie delta echo doc$i tail$i")).toDF("doc_id", "text")
    val driftRoot = tmp("maint-adm-drift")
    val builtD = DedupStreams.buildAdmissionIndex(
      base, "doc_id", "text", s"$driftRoot/blue")
    DedupStreams.landAppendBatch(
      (100L until 180L).map(i =>
        (i, s"zulu yankee xray whiskey victor unique$i")).toDF("doc_id", "text"),
      builtD, "doc_id", "text", batchId = 0L)
    val actD = Maintenance.tick(spark, Maintenance.Admission,
      s"$driftRoot/blue", s"$driftRoot/green")
    assert(actD == Maintenance.Retrained(s"$driftRoot/green", newNlist = -1))
    assert(Maintenance.tick(spark, Maintenance.Admission, s"$driftRoot/green",
      sys.error("green must be healthy"))
      == Maintenance.NoOp(s"$driftRoot/green"))

    // growth: 5 verbatim copies of distinct base docs (25% > the 10%
    // budget; each copy's shingles occur once in the tail leg, so the
    // unranked-pair mass stays zero and the drift gate is silent)
    val growRoot = tmp("maint-adm-grow")
    val builtG = DedupStreams.buildAdmissionIndex(
      base, "doc_id", "text", s"$growRoot/blue")
    DedupStreams.landAppendBatch(
      base.filter($"doc_id" < 5).select(($"doc_id" + 1000L).as("doc_id"), $"text"),
      builtG, "doc_id", "text", batchId = 0L)
    val actG = Maintenance.tick(spark, Maintenance.Admission,
      s"$growRoot/blue", s"$growRoot/green")
    assert(actG == Maintenance.Compacted(s"$growRoot/green"))
    assert(DedupStreams.openAdmissionIndex(spark, s"$growRoot/green")
      .sets.count() == 25L)
  }
}
