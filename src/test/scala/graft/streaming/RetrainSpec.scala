package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The quantizer RETRAIN path (r16 verdict #1 — the last index family
  * without drift management): [[AnnStreams.retrainIndex]]
  * over either cell codec. The load-bearing contract is
  * fold-then-build equivalence — retraining an index that grew through
  * the real append path serves value-for-value like a FRESH build over
  * the combined corpus — plus the drift story itself: appends pile into
  * the cells nearest the old centroids; retrain re-balances them. */
class RetrainSpec extends graft.SparkSpec {

  private def ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")

  private def served(df: DataFrame): Seq[(Long, Int, Long, Double)] = {
    import spark.implicits._
    df.select($"query_id", $"rank".cast("int"), $"item_id", $"cos_sim")
      .as[(Long, Int, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
  }

  test("retrain == fresh build over the combined corpus; tail folded; quantizer moved; old dir intact") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("retrain-f").toString
    // base ids are HIGH so the appended low ids change the seeded
    // quantizer: seeded centroids are the nlist lowest-id vectors, so a
    // retrain that really re-derives them must pick the appended ones
    val base = Seq(
      (10L, Seq(1.0f, 0.0f, 0.0f)), (11L, Seq(0.0f, 1.0f, 0.0f)),
      (12L, Seq(0.9f, 0.1f, 0.0f)), (13L, Seq(0.1f, 0.9f, 0.0f)))
      .toDF("vec_id", "embedding")
    val late = Seq(
      (1L, Seq(0.0f, 0.1f, 0.9f)), (2L, Seq(0.1f, 0.0f, 0.9f)))
    val built = AnnStreams.buildServingIndex(
      base, "vec_id", "embedding", s"$tmp/blue", nlist = 2, trained = false)
    AnnStreams.landAppendBatch(
      late.toDF("vec_id", "embedding"), built, "vec_id", "embedding", batchId = 0L)
    val old = AnnStreams.openServingIndex(spark, s"$tmp/blue")
    assert(old.appends.count() == 2)
    val oldServe = served(AnnStreams.annServeBatch(
      Seq((100L, ts0, Seq(0.05f, 0.05f, 1.0f))).toDF("query_id", "ts", "embedding"),
      old, "query_id", "ts", "embedding", k = 2, nprobe = 2))

    val retrained = AnnStreams.retrainIndex(
      spark, s"$tmp/blue", s"$tmp/green", trained = false)
    // the tail is folded and empty; no vector lost or duplicated
    assert(retrained.appends.isEmpty)
    assert(retrained.cells.select($"item_id").as[Long].collect().sorted.toSeq
      == Seq(1L, 2L, 10L, 11L, 12L, 13L))
    // the quantizer really re-derived over the GROWN corpus: seeded
    // centroids are now the appended ids' vectors, not the old ones
    assert(!retrained.centroids.map(_._2.toSeq).toSet
      .equals(old.centroids.map(_._2.toSeq).toSet),
      "retrain must re-derive the quantizer, not carry it over")
    // fold-then-build equivalence: identical to a fresh build over the
    // combined corpus — centroids, cells, and serve results
    val fresh = AnnStreams.buildServingIndex(
      base.unionByName(late.toDF("vec_id", "embedding")),
      "vec_id", "embedding", s"$tmp/fresh", nlist = 2, trained = false)
    assert(retrained.centroids.map { case (c, v) => (c, v.toSeq) }.toSeq
      == fresh.centroids.map { case (c, v) => (c, v.toSeq) }.toSeq)
    val arrivals = Seq(
      (100L, ts0, Seq(0.05f, 0.05f, 1.0f)),
      (101L, ts0, Seq(1.0f, 0.05f, 0.0f))).toDF("query_id", "ts", "embedding")
    def serveAll(idx: AnnStreams.ServingIndex) = served(
      AnnStreams.annServeBatch(arrivals, idx, "query_id", "ts", "embedding",
        k = 3, nprobe = 2))
    assert(serveAll(retrained) == serveAll(fresh))
    // reopen-after-bounce serves the retrained index identically
    assert(serveAll(AnnStreams.openServingIndex(spark, s"$tmp/green"))
      == serveAll(retrained))
    // blue stays readable and serves exactly as before the retrain
    assert(served(AnnStreams.annServeBatch(
      Seq((100L, ts0, Seq(0.05f, 0.05f, 1.0f))).toDF("query_id", "ts", "embedding"),
      AnnStreams.openServingIndex(spark, s"$tmp/blue"),
      "query_id", "ts", "embedding", k = 2, nprobe = 2)) == oldServe)
  }

  test("trained retrain restores drift-region recall and cell balance") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("retrain-drift").toString
    // region A: 40 vectors around axes 0/1 (what the quantizer trained on)
    val regionA = (0 until 40).map { i =>
      val axis = i % 2
      (i.toLong, Seq.tabulate(4)(d =>
        (if (d == axis) 1.0f else 0.0f) + 0.01f * ((i * 7 + d * 3) % 11)))
    }.toDF("vec_id", "embedding")
    // region B: 40 DRIFTED vectors around axes 2/3 — nothing like them
    // existed at build time. Each carries a LARGE per-vector wobble in the
    // dims the OLD centroids live in (0/1): the stale quantizer can only
    // discriminate B by that wobble (its centroids are orthogonal to B's
    // dominant axis), so the drifted cluster SCATTERS across stale cells
    // while its true mutual neighborhoods stay intact — the realistic way
    // drift erodes recall at small nprobe
    val regionB = (100 until 140).map { i =>
      val axis = 2 + i % 2
      val theta = 0.7 * i
      val wob = Seq(0.35 * math.cos(theta), 0.35 * math.sin(theta), 0.0, 0.0)
      (i.toLong, Seq.tabulate(4)(d =>
        ((if (d == axis) 1.0 else 0.0) + wob(d)).toFloat))
    }.toDF("vec_id", "embedding")
    val built = AnnStreams.buildServingIndex(
      regionA, "vec_id", "embedding", s"$tmp/blue", nlist = 4, trained = true)
    AnnStreams.landAppendBatch(regionB, built, "vec_id", "embedding", batchId = 0L)
    val old = AnnStreams.openServingIndex(spark, s"$tmp/blue")
    val retrained = AnnStreams.retrainIndex(spark, s"$tmp/blue", s"$tmp/green")
    // B-region queries, one near each drifted axis
    val q = (0 until 8).map { i =>
      val axis = 2 + i % 2
      (900L + i, ts0, Seq.tabulate(4)(d =>
        (if (d == axis) 1.0f else 0.0f) + 0.01f * ((i * 3 + d) % 5)))
    }.toDF("query_id", "ts", "embedding")
    // a served hit is a TRUE neighbor when it is a region-B vector (every
    // B vector is near-parallel to its axis; every A vector is near-
    // orthogonal to a B query) — count them at nprobe=1
    def hitsAt1(idx: AnnStreams.ServingIndex): Long = served(
      AnnStreams.annServeBatch(q, idx, "query_id", "ts", "embedding",
        k = 10, nprobe = 1)).count(r => r._3 >= 100L)
    val oldHits = hitsAt1(old)
    val newHits = hitsAt1(retrained)
    // drift erodes recall: under the STALE quantizer the B vectors landed
    // in cells whose centroids know nothing of region B, scattered by
    // their wobble — a B query's single probed cell holds only a fraction
    // of its true neighbors. The retrained quantizer (farthest-first
    // seeds reach region B) gives the drifted region its own cells, and
    // nprobe=1 recovers full recall.
    assert(newHits == 80L,
      s"retrained index must serve all 8x10 true B neighbors at nprobe=1, got $newHits")
    assert(oldHits < newHits,
      s"stale quantizer should have eroded recall: old=$oldHits vs retrained=$newHits")
    // and the drifted mass is re-balanced across cells, not piled into the
    // old quantizer's nearest one
    def maxCell(cells: DataFrame): Long = cells
      .groupBy($"centroid_id").agg(count(lit(1)).as("n"))
      .agg(max($"n")).as[Long].head()
    val oldMax = maxCell(old.cells.unionByName(old.appends))
    val newMax = maxCell(retrained.cells)
    info(s"oldHits=$oldHits newHits=$newHits oldMax=$oldMax newMax=$newMax")
    assert(newMax <= oldMax,
      s"trained retrain must not worsen cell balance: $newMax > $oldMax")
  }

  test("quantized retrain re-quantizes from floats, equals a fresh build, honors newNlist") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("retrain-q").toString
    val base = (10 until 30).map { i =>
      val axis = i % 2
      (i.toLong, Seq.tabulate(4)(d =>
        (if (d == axis) 1.0f else 0.0f) + 0.01f * ((i * 7 + d * 3) % 11)))
    }.toDF("vec_id", "embedding")
    val late = (0 until 4).map { i =>
      val axis = 2 + i % 2
      (i.toLong, Seq.tabulate(4)(d =>
        (if (d == axis) 1.0f else 0.0f) + 0.01f * ((i * 5 + d) % 7)))
    }
    val built = AnnStreams.buildServingIndex(
      base, "vec_id", "embedding", s"$tmp/blue", nlist = 2, trained = false,
      codec = AnnStreams.Codec.Int8)
    AnnStreams.landAppendBatch(
      late.toDF("vec_id", "embedding"), built, "vec_id", "embedding", batchId = 0L)
    val retrained = AnnStreams.retrainIndex(
      spark, s"$tmp/blue", s"$tmp/green", trained = false)
    assert(retrained.appends.isEmpty && retrained.vecs.get.appends.isEmpty)
    val fresh = AnnStreams.buildServingIndex(
      base.unionByName(late.toDF("vec_id", "embedding")),
      "vec_id", "embedding", s"$tmp/fresh", nlist = 2, trained = false,
      codec = AnnStreams.Codec.Int8)
    // codes byte-for-byte: the retrain quantized the ORIGINAL floats — a
    // lossy code→decode→re-encode rebuild would differ here
    def codes(idx: AnnStreams.ServingIndex): Seq[(Long, Seq[Byte])] = idx.cells
      .select($"item_id", $"code").as[(Long, Array[Byte])]
      .collect().map { case (id, c) => (id, c.toSeq) }.sortBy(_._1).toSeq
    assert(codes(retrained) == codes(fresh))
    val arrivals = Seq(
      (100L, ts0, Seq(1.0f, 0.05f, 0.0f, 0.0f)),
      (101L, ts0, Seq(0.0f, 0.05f, 1.0f, 0.0f))).toDF("query_id", "ts", "embedding")
    def serveAll(idx: AnnStreams.ServingIndex) = served(
      AnnStreams.annServeBatch(arrivals, idx,
        "query_id", "ts", "embedding", k = 3, nprobe = 2, refine = 4))
    assert(serveAll(retrained) == serveAll(fresh))
    // an appended (drift-region) vector is served by the retrained index
    assert(serveAll(retrained).filter(_._1 == 101L).map(_._3).exists(_ < 4L))
    // newNlist: the retrain is where a growing corpus re-picks its cell
    // count — more cells, same exact served cosines at exhaustive probe
    val wider = AnnStreams.retrainIndex(
      spark, s"$tmp/blue", s"$tmp/wide", trained = false, newNlist = 4)
    assert(wider.nlist == 4 && wider.centroids.length == 4)
    val exactWide = served(AnnStreams.annServeBatch(
      arrivals, wider, "query_id", "ts", "embedding", k = 3, nprobe = 4, refine = 24))
    val exactFresh = served(AnnStreams.annServeBatch(
      arrivals, fresh, "query_id", "ts", "embedding", k = 3, nprobe = 2, refine = 24))
    assert(exactWide == exactFresh,
      "exhaustive probe must be geometry-invariant: retrained-wider == fresh")
    // reopen honors the new geometry
    assert(AnnStreams.openServingIndex(spark, s"$tmp/wide").nlist == 4)
  }

  test("indexHealth + maintenanceDue: tail growth trips compact, drift trips retrain") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("health").toString
    val base = (0 until 40).map { i =>
      val axis = i % 2
      (i.toLong, Seq.tabulate(4)(d =>
        (if (d == axis) 1.0f else 0.0f) + 0.01f * ((i * 7 + d * 3) % 11)))
    }.toDF("vec_id", "embedding")
    val built = AnnStreams.buildServingIndex(
      base, "vec_id", "embedding", s"$tmp/idx", nlist = 4, trained = true)
    // empty tail: healthy by definition
    val h0 = AnnStreams.indexHealth(built)
    assert(h0.count() == 1L && h0.select($"leg").as[String].head() == "base")
    assert(AnnStreams.maintenanceDue(h0) ==
      AnnStreams.Maintenance(compactDue = false, retrainDue = false))
    // a small IN-DISTRIBUTION tail: nothing due — it fits the quantizer
    // (same mean assignment cosine neighborhood as the base)
    AnnStreams.landAppendBatch(
      Seq((100L, Seq(0.98f, 0.05f, 0.0f, 0.0f)), (101L, Seq(0.03f, 0.99f, 0.0f, 0.0f)))
        .toDF("vec_id", "embedding"),
      built, "vec_id", "embedding", batchId = 0L)
    val small = AnnStreams.indexHealth(AnnStreams.openServingIndex(spark, s"$tmp/idx"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(small("base").getLong(1) == 40L && small("tail").getLong(1) == 2L)
    assert(AnnStreams.maintenanceDue(
      AnnStreams.indexHealth(AnnStreams.openServingIndex(spark, s"$tmp/idx"))) ==
      AnnStreams.Maintenance(compactDue = false, retrainDue = false))
    // tail growth past the fraction: compact due, retrain still not
    AnnStreams.landAppendBatch(
      (200 until 210).map { i =>
        val axis = i % 2
        (i.toLong, Seq.tabulate(4)(d =>
          (if (d == axis) 1.0f else 0.0f) + 0.01f * ((i * 5 + d) % 7)))
      }.toDF("vec_id", "embedding"),
      built, "vec_id", "embedding", batchId = 1L)
    val grown = AnnStreams.indexHealth(AnnStreams.openServingIndex(spark, s"$tmp/idx"))
    assert(AnnStreams.maintenanceDue(grown) ==
      AnnStreams.Maintenance(compactDue = true, retrainDue = false))
    // DRIFTED tail (vectors orthogonal to everything the quantizer saw):
    // the assignment-cosine gap trips the retrain signal
    AnnStreams.landAppendBatch(
      (300 until 310).map { i =>
        val axis = 2 + i % 2
        (i.toLong, Seq.tabulate(4)(d =>
          (if (d == axis) 1.0f else 0.0f) + 0.01f * ((i * 3 + d) % 5)))
      }.toDF("vec_id", "embedding"),
      built, "vec_id", "embedding", batchId = 2L)
    val drifted = AnnStreams.indexHealth(AnnStreams.openServingIndex(spark, s"$tmp/idx"))
    val byLeg = drifted.collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(byLeg("base") - byLeg("tail") > 100000L,
      s"drifted tail must trail the base's assignment cosine: $byLeg")
    assert(AnnStreams.maintenanceDue(drifted) ==
      AnnStreams.Maintenance(compactDue = true, retrainDue = true))
    // and after the retrain the new index is healthy again
    val healed = AnnStreams.indexHealth(
      AnnStreams.retrainIndex(spark, s"$tmp/idx", s"$tmp/idx-re"))
    assert(AnnStreams.maintenanceDue(healed) ==
      AnnStreams.Maintenance(compactDue = false, retrainDue = false))
  }

  test("int8 indexHealth: the serve metric drives the same maintenance triggers") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("health-q").toString
    val base = (0 until 40).map { i =>
      val axis = i % 2
      (i.toLong, Seq.tabulate(4)(d =>
        (if (d == axis) 1.0f else 0.0f) + 0.01f * ((i * 7 + d * 3) % 11)))
    }.toDF("vec_id", "embedding")
    val built = AnnStreams.buildServingIndex(
      base, "vec_id", "embedding", s"$tmp/idx", nlist = 4, trained = true,
      codec = AnnStreams.Codec.Int8)
    assert(AnnStreams.maintenanceDue(AnnStreams.indexHealth(built)) ==
      AnnStreams.Maintenance(compactDue = false, retrainDue = false))
    // a drifted lockstep append (orthogonal axes): the int8 assignment
    // cosine gap trips retrain; tail size trips compact
    AnnStreams.landAppendBatch(
      (300 until 310).map { i =>
        val axis = 2 + i % 2
        (i.toLong, Seq.tabulate(4)(d =>
          (if (d == axis) 1.0f else 0.0f) + 0.01f * ((i * 3 + d) % 5)))
      }.toDF("vec_id", "embedding"),
      built, "vec_id", "embedding", batchId = 0L)
    val drifted = AnnStreams.indexHealth(
      AnnStreams.openServingIndex(spark, s"$tmp/idx"))
    val byLeg = drifted.collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(3)))).toMap
    assert(byLeg("base")._1 == 40L && byLeg("tail")._1 == 10L)
    assert(byLeg("base")._2 - byLeg("tail")._2 >
      byLeg("base")._2 / 10,
      s"drifted tail must trail under the int8 metric too: $byLeg")
    assert(AnnStreams.maintenanceDue(drifted) ==
      AnnStreams.Maintenance(compactDue = true, retrainDue = true))
    // the quantized retrain heals it
    val healed = AnnStreams.indexHealth(
      AnnStreams.retrainIndex(spark, s"$tmp/idx", s"$tmp/idx-re"))
    assert(AnnStreams.maintenanceDue(healed) ==
      AnnStreams.Maintenance(compactDue = false, retrainDue = false))
  }

  test("admissionHealth: unranked-pair mass trips reindex; reindexAdmission heals it") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("health-adm").toString
    // base: 30 documents with no shared shingles at all
    val base = (0 until 30).map { i =>
      (i.toLong, (0 until 8).map(j => s"tok${i}_$j").mkString(" "))
    }.toDF("doc_id", "text")
    val built = DedupStreams.buildAdmissionIndex(base, "doc_id", "text", s"$tmp/idx")
    val h0 = DedupStreams.admissionHealth(built)
    assert(h0.collect().map(r => (r.getString(0), r.getLong(2))).toSeq ==
      Seq(("base", 0L)), "an all-distinct base has zero unranked mass")
    assert(DedupStreams.maintenanceDueAdmission(h0) ==
      AnnStreams.Maintenance(compactDue = false, retrainDue = false))
    // two in-distribution appends: compact not yet due, no mass
    DedupStreams.landAppendBatch(
      Seq((100L, "fresh alpha beta gamma delta epsilon zeta eta"),
        (101L, "fresh2 un deux trois quatre cinq six sept")).toDF("doc_id", "text"),
      built, "doc_id", "text", batchId = 0L)
    val small = DedupStreams.admissionHealth(
      DedupStreams.openAdmissionIndex(spark, s"$tmp/idx"))
    assert(DedupStreams.maintenanceDueAdmission(small) ==
      AnnStreams.Maintenance(compactDue = false, retrainDue = false))
    // a drifted boilerplate-headed cluster: its shared shingles are
    // UNRANKED in the stale order, so the tail's pair mass is quadratic
    // in the cluster — the reindex trigger
    val boiler =
      "standard corporate disclaimer header applies to this entire document"
    DedupStreams.landAppendBatch(
      (200 until 250).map(i => (i.toLong, s"$boiler body$i tail$i end$i"))
        .toDF("doc_id", "text"),
      built, "doc_id", "text", batchId = 1L)
    val drifted = DedupStreams.admissionHealth(
      DedupStreams.openAdmissionIndex(spark, s"$tmp/idx"))
    val byLeg = drifted.collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(byLeg("base")._2 == 0L)
    // 50 docs sharing the 7-shingle boilerplate head: mass >= 7 * C(50,2)
    // = 8,575 -> ~165 pairs per tail doc over 52 docs, past the default
    // 100/doc trigger
    assert(byLeg("tail")._2 >= 8575L,
      s"boilerplate cluster must carry quadratic unranked mass: $byLeg")
    assert(DedupStreams.maintenanceDueAdmission(drifted) ==
      AnnStreams.Maintenance(compactDue = true, retrainDue = true))
    // the scheduled re-index ranks the now-hot shingles: mass collapses
    val healed = DedupStreams.admissionHealth(
      DedupStreams.reindexAdmission(spark, s"$tmp/idx", s"$tmp/idx-re"))
    assert(DedupStreams.maintenanceDueAdmission(healed) ==
      AnnStreams.Maintenance(compactDue = false, retrainDue = false))
    assert(healed.filter($"leg" === "base").select($"unranked_pair_mass")
      .as[Long].head() == 0L,
      "after re-index every shared shingle is ranked")
  }

  test("maintenanceDue: the relative-drop floor closes the degenerate-base dead zones") {
    import spark.implicits._
    def health(baseCos: Long, tailCos: Long) = Seq(
      ("base", 100L, 10L, baseCos, 50000L),
      ("tail", 10L, 5L, tailCos, 50000L))
      .toDF("leg", "n_rows", "n_cells", "avg_assign_cos_ppm", "max_cell_share_ppm")
    // a base averaging <= 0 ppm must still detect a collapsing tail (the
    // unfloored relative rule could NEVER fire there)
    assert(AnnStreams.maintenanceDue(health(0L, -500000L)).retrainDue)
    // and a 1-ppm base must not fire on a 1-ppm dip
    assert(!AnnStreams.maintenanceDue(health(1L, 0L)).retrainDue)
    // the ordinary relative regime is unchanged: a 12% drop on a 0.5 base
    // fires at the 10% default, an 8% drop does not
    assert(AnnStreams.maintenanceDue(health(500000L, 440000L)).retrainDue)
    assert(!AnnStreams.maintenanceDue(health(500000L, 460000L)).retrainDue)
  }

  test("retrain is blue/green: any spelling of the same location is rejected") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("retrain-bg").toString
    AnnStreams.buildServingIndex(
      Seq((0L, Seq(1.0f, 0.0f)), (1L, Seq(0.0f, 1.0f)), (2L, Seq(0.9f, 0.1f)))
        .toDF("vec_id", "embedding"),
      "vec_id", "embedding", s"$tmp/idx", nlist = 2, trained = false)
    Seq(s"$tmp/idx", s"file:$tmp/idx", s"$tmp/idx/sub/..").foreach { same =>
      val ex = intercept[IllegalArgumentException] {
        AnnStreams.retrainIndex(spark, s"$tmp/idx", same, trained = false)
      }
      assert(ex.getMessage.contains("blue/green"), s"spelling: $same")
    }
  }

  test("scheduledNlist: 4x corpus growth retrains into 2x cells (sqrt-N on schedule)") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("sched-nlist").toString
    def vecs(ids: Range) = ids.map { i =>
      (i.toLong, Seq.tabulate(4)(d => 0.1f * ((i * 7 + d * 3) % 13) + 0.01f))
    }.toDF("vec_id", "embedding")
    // build at the geometry the rule picks for 64 rows: sqrt(64) = 8
    val built = AnnStreams.buildServingIndex(vecs(0 until 64),
      "vec_id", "embedding", s"$tmp/idx", nlist = 8, trained = false)
    assert(AnnStreams.scheduledNlist(AnnStreams.indexHealth(built)) == 8)
    // grow the corpus 4x through the REAL append path
    AnnStreams.landAppendBatch(vecs(64 until 256), built,
      "vec_id", "embedding", batchId = 0L)
    val grown = AnnStreams.openServingIndex(spark, s"$tmp/idx")
    val h = AnnStreams.indexHealth(grown)
    val next = AnnStreams.scheduledNlist(h)
    assert(next == 16, s"sqrt(256) must schedule 16 cells, got $next")
    // the maintenance loop a deployment runs: retrain AT the scheduled
    // geometry — the grown corpus re-cells at 2x automatically
    val green = AnnStreams.retrainIndex(spark, s"$tmp/idx", s"$tmp/green",
      trained = false, newNlist = next)
    assert(green.nlist == 16 && green.centroids.length == 16)
    assert(AnnStreams.openServingIndex(spark, s"$tmp/green").nlist == 16)
    // clamps + empty report
    assert(AnnStreams.scheduledNlist(h, minNlist = 32) == 32)
    assert(AnnStreams.scheduledNlist(h, maxNlist = 4) == 4)
    assert(AnnStreams.scheduledNlist(h.limit(0)) == 1)
    // the quantized family reads the same schema
    val q = AnnStreams.buildServingIndex(vecs(0 until 64),
      "vec_id", "embedding", s"$tmp/q", nlist = 8, trained = false,
      codec = AnnStreams.Codec.Int8)
    assert(AnnStreams.scheduledNlist(AnnStreams.indexHealth(q)) == 8)
  }

  test("indexHealth TRUNCATES the negative-average regime (measured DuckDB // parity)") {
    import spark.implicits._
    import graft.functions.Exprs.cosine_sim
    val tmp = java.nio.file.Files.createTempDirectory("health-neg").toString
    // seeded nlist=1: the centroid is the lone base vector, so every
    // tail row's assignment cosine is just cos(vec, base) — steer the
    // tail ANTI-parallel and the leg's cos_ppm sum goes negative, the
    // ONLY regime where truncate-toward-zero and floor can differ. The
    // r17 ADVICE claimed DuckDB `//` floors; measured in this container
    // (r18) it TRUNCATES: `SELECT -7 // 2` → -3, and identically on
    // HUGEINT (`CAST(-7 AS HUGEINT) // CAST(2 AS HUGEINT)` → -3), which
    // is the type the x208/x211 replays' sum()s carry. Spark DIV also
    // truncates — so plain DIV is the cross-engine-exact spelling and
    // this test pins it against Math.floorDiv to stay non-vacuous
    val built = AnnStreams.buildServingIndex(
      Seq((0L, Seq(1.0f, 0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", s"$tmp/idx", nlist = 1, trained = false)
    val tail = Seq(
      (1L, Seq(-1.0f, 0.1f, 0.0f, 0.0f)),
      (2L, Seq(-1.0f, 0.2f, 0.0f, 0.0f)),
      (3L, Seq(0.0f, 1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    AnnStreams.landAppendBatch(tail, built, "vec_id", "embedding", batchId = 0L)
    val health = AnnStreams.indexHealth(AnnStreams.openServingIndex(spark, s"$tmp/idx"))
      .collect().map(r => r.getString(0) -> r).toMap
    // the per-row oracle, through the engine's own metric
    val ppm = tail
      .select(floor(cosine_sim(col("embedding"),
        typedLit(Seq(1.0f, 0.0f, 0.0f, 0.0f))) * 1e6).cast("long"))
      .as[Long].collect()
    val (s, n) = (ppm.sum, ppm.length.toLong)
    assert(s < 0L && s % n != 0L,
      s"test corpus must exercise the divergent regime: sum=$s n=$n")
    assert(health("tail").getLong(3) == s / n,
      s"avg_assign_cos_ppm must truncate like the measured DuckDB //: " +
        s"got ${health("tail").getLong(3)}, truncate=${s / n}, " +
        s"floor=${Math.floorDiv(s, n)}")
    assert(health("tail").getLong(3) != Math.floorDiv(s, n),
      "floor and truncate must actually differ here or the test is vacuous")
  }

  test("farthest-first seeding never re-picks a chosen sample (all-tie rounds, r17 ADVICE)") {
    // two copies of A, a scaled copy 2A (cos(2A, A) = 1 exactly), and B:
    // after seeds [A, B] every remaining candidate ties at best-cos 1.0,
    // where the old strict-< scan re-emitted index 0 forever — 2A could
    // NEVER be picked. iters = 0 makes centroids == seeds.
    val sample = Array(
      (0L, Array(1.0f, 0.0f)), (1L, Array(1.0f, 0.0f)),
      (2L, Array(2.0f, 0.0f)), (3L, Array(0.0f, 1.0f)))
    val seeds = graft.ops.Similarity
      .localLloyd(sample, nlist = 4, iters = 0, spreadSeeds = true)
      .map(_._2.toSeq)
    assert(seeds.length == 4)
    // distinct sample PICKS: both copies of A appear exactly once each
    // (the old scan emitted index 0 three times and never reached 2A)
    assert(seeds.count(_ == Seq(1.0f, 0.0f)) == 2, s"picks: ${seeds.toSeq}")
    assert(seeds.contains(Seq(2.0f, 0.0f)),
      "the scaled duplicate must be reachable once ids 0/1 are exhausted")
    assert(seeds.contains(Seq(0.0f, 1.0f)))
    // non-degenerate geometry is untouched: distinct directions still
    // pick by farthest-first order (A, then the two orthogonals, ties by
    // lowest id)
    val spread = Array(
      (0L, Array(1.0f, 0.0f, 0.0f)), (1L, Array(0.9f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)), (3L, Array(0.0f, 0.0f, 1.0f)))
    val s3 = graft.ops.Similarity
      .localLloyd(spread, nlist = 3, iters = 0, spreadSeeds = true)
      .map(_._2.toSeq).toSeq
    assert(s3 == Seq(Seq(1.0f, 0.0f, 0.0f), Seq(0.0f, 1.0f, 0.0f),
      Seq(0.0f, 0.0f, 1.0f)))
  }

  test("admission ppm projection saturates (never NULLs) at clamp-regime masses (r17 ADVICE)") {
    import spark.implicits._
    // the quadratic masses that exercise the decimal-overflow regime
    // cannot be synthesized through real documents (C(n,2) >= 1e32 needs
    // ~1.4e16 docs on one shingle), so the projection is pinned on
    // literal inputs — exactly what the old `m * 1e6` NULLed on, making
    // maintenanceDueAdmission's getLong throw instead of clamping
    def ppm(m: String, nDocs: Long): java.lang.Long = {
      val row = spark.sql(
        s"SELECT CAST('$m' AS DECIMAL(38,0)) AS m, CAST($nDocs AS BIGINT) AS n_docs")
        .selectExpr(DedupStreams.massPerDocPpmSql + " AS p").head()
      if (row.isNullAt(0)) null else java.lang.Long.valueOf(row.getLong(0))
    }
    // ordinary regime: exact
    assert(ppm("123456", 7L) == 123456L * 1000000L / 7L)
    // Long-scale mass, many docs: still exact — floor(Long.Max * 1e6 / 1e9)
    assert(ppm("9223372036854775807", 1000000000L) ==
      (BigInt(Long.MaxValue) * 1000000 / 1000000000).toLong)
    // beyond DECIMAL(38,0) * 1e6: the old projection NULLed here
    assert(ppm("99999999999999999999999999999999999999", 10L) == Long.MaxValue)
    assert(ppm("10000000000000000000000000000000000", 2L) == Long.MaxValue)
  }
}
