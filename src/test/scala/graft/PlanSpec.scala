package graft

import org.apache.spark.sql.DataFrame

import graft.queries.{Analytics, Breadth, Extensions}

/** Plan-shape regression guards: the physical plans the 100 TB design
  * depends on must not silently degrade (a lost pushdown or a broadcast
  * flipping to sort-merge is invisible to result-correctness tests). */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  /** Count physical nodes by their formatted-explain detail headers
    * ("(12) BroadcastHashJoin") so tree+detail duplication doesn't double. */
  private def count(p: String, needle: String): Int =
    p.linesIterator.count(_.matches(s"^\\(\\d+\\) $needle.*"))

  test("Hive-partitioned lake: ingest_date filter becomes a partition filter (no data read from other dates)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.input_file_name
    val base = java.nio.file.Files.createTempDirectory("graft-ppune").toString + "/ds"
    val df = Seq((1L, "a", "2024-01-01"), (2L, "b", "2024-01-01"),
      (3L, "c", "2024-01-02")).toDF("id", "v", "ingest_date")
    graft.io.Lake.writePartitioned(df, base, Seq("ingest_date"))
    val q = spark.read.parquet(base).filter($"ingest_date" === "2024-01-01")
    val p = plan(q)
    // the predicate must land in PartitionFilters (metadata pruning), not PushedFilters
    assert(p.contains("PartitionFilters") && p.contains("ingest_date"), p)
    // and only the matching partition's files are touched
    val files = q.select(input_file_name()).distinct().as[String].collect()
    assert(files.nonEmpty && files.forall(_.contains("ingest_date=2024-01-01")),
      files.mkString("\n"))
    assert(q.count() == 2)
  }

  test("q15: filter and column pruning reach the parquet scan") {
    val p = plan(Analytics.q15PricingSummary(spark, dir))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"filter not pushed:\n$p")
    assert(p.contains("ReadSchema: struct<l_quantity:double,l_extendedprice:double," +
      "l_returnflag:string,l_linestatus:string,l_shipdate:timestamp"), s"columns not pruned:\n$p")
    assert(count(p, "HashAggregate") >= 2, "partial+final aggregate split expected")
  }

  test("q09 gold join: all dimension joins broadcast, none sort-merge") {
    val p = plan(Analytics.q09GoldJoin(spark, dir))
    assert(count(p, "BroadcastHashJoin") == 3, s"expected 3 broadcast joins:\n$p")
    assert(count(p, "SortMergeJoin") == 0, s"no sort-merge join expected:\n$p")
  }

  test("q20 big-big join: lineitem joins orders via shuffle, dims broadcast") {
    val p = plan(Breadth.q20BigJoinRevenue(spark, dir))
    // at least the nation join broadcasts; the fact-fact join must not
    // broadcast the fact table (either SMJ or shuffled-hash is acceptable)
    assert(count(p, "BroadcastHashJoin") >= 1, s"dim join should broadcast:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      count(p, "BroadcastHashJoin") >= 3, // AQE may legitimately broadcast at sf0.001
      s"unexpected join strategy:\n$p")
  }

  test("x06 minhash LSH: bucket kernel keeps the exchange count bounded") {
    val p = plan(Extensions.x06MinhashNearDup(spark, dir))
    assert(count(p, "Exchange") <= 6, s"LSH pipeline grew extra shuffles:\n$p")
    assert(count(p, "Window") == 0,
      s"no window (sort) operator expected in the LSH path:\n$p")
  }

  test("q10 top-1: TakeOrderedAndProject, not a global sort") {
    val p = plan(Analytics.q10Top1Asc(spark, dir))
    assert(p.contains("TakeOrderedAndProject"), s"top-k should not full-sort:\n$p")
  }

  test("x19 top-k aggregate: hash aggregate with partial merge, no window sort") {
    val p = plan(Breadth.x19TopKAgg(spark, dir))
    assert(count(p, "ObjectHashAggregate") + count(p, "HashAggregate") >= 2,
      s"expected partial+final aggregate:\n$p")
    assert(!p.contains("WindowExec"), s"no window operator expected:\n$p")
  }

  test("exactDedup: aggregate keep-first with map-side partial combine, no window") {
    val p = plan(graft.ops.Dedup.exactDedup(
      spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text"))
    assert(count(p, "Window") == 0, s"keep-first dedup must not use a window:\n$p")
    assert(count(p, "SortAggregate") + count(p, "HashAggregate") +
      count(p, "ObjectHashAggregate") >= 2,
      s"partial+final aggregate split expected (duplicates collapse pre-shuffle):\n$p")
    assert(count(p, "Exchange") == 1, s"exactly one shuffle expected:\n$p")
  }

  test("curateFlow: quality/lang gates fuse into the scan stage as filters") {
    val p = plan(graft.ops.Curation.curateFlow(
      spark.read.parquet(s"$dir/documents.parquet")))
    // the gates are per-row predicates — they must appear as Filter nodes,
    // never as joins against a derived id list
    assert(count(p, "Filter") >= 1, s"expected fused filters:\n$p")
    assert(!p.contains("lang_pred"), s"lang gate must not join a derived frame:\n$p")
  }

  test("IVF search plan: centroid assignment is map-side (no join/window before the means)") {
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val index = graft.ops.Similarity.buildIvfIndex(emb, "vec_id", "embedding", nlist = 8)
    val p = plan(graft.ops.Similarity.ivfSearch(index, emb.filter(col("vec_id") < 10),
      "vec_id", "embedding", k = 10, nprobe = 4))
    // one exchange for the candidate dedupe agg, one for the final top-k
    // window, plus AQE reads — but NO per-assignment window remains
    // (WindowGroupLimit nodes are the built-in top-k pushdown, not windows)
    val realWindows = count(p, "Window") - count(p, "WindowGroupLimit")
    assert(realWindows <= 1, s"only the final top-k window expected:\n$p")
    index.cells.unpersist()
  }

  test("indexHealth: centroid join broadcasts, no sort-merge, bounded exchanges") {
    import spark.implicits._
    import graft.streaming.AnnStreams
    val tmp = java.nio.file.Files.createTempDirectory("health-plan").toString
    val built = AnnStreams.buildServingIndex(
      Seq((0L, Seq(1.0f, 0.0f)), (1L, Seq(0.0f, 1.0f)), (2L, Seq(0.9f, 0.1f)))
        .toDF("vec_id", "embedding"),
      "vec_id", "embedding", tmp, nlist = 2, trained = false)
    AnnStreams.landAppendBatch(
      Seq((5L, Seq(0.5f, 0.5f))).toDF("vec_id", "embedding"),
      built, "vec_id", "embedding", batchId = 0L)
    val idx = AnnStreams.openServingIndex(spark, tmp)
    val p = plan(AnnStreams.indexHealth(idx))
    // the centroid relation is nlist-sized and explicitly broadcast: the
    // health scan must never shuffle the corpus to meet it
    assert(count(p, "BroadcastHashJoin") == 2, // base branch + live tail branch
      s"expected both branches to broadcast-join the centroids:\n$p")
    assert(count(p, "SortMergeJoin") == 0, s"no sort-merge expected:\n$p")
    // per-cell partial -> per-leg final -> output sort; nothing else
    assert(count(p, "Exchange") <= 4, s"health report grew extra shuffles:\n$p")
  }

  test("q25 fuzzy match: segment blocking is an equi hash join, never nested-loop") {
    val p = plan(Breadth.q25FuzzyMatch(spark, dir))
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"pigeonhole blocking must equi-join:\n$p")
  }

  test("x25 decontaminate: both join sides broadcast; corpus documents never shuffle") {
    val p = plan(Extensions.x25Decontaminate(spark, dir))
    assert(count(p, "BroadcastHashJoin") == 2,
      s"semi (eval grams) and anti (contaminated ids) joins must broadcast:\n$p")
    assert(count(p, "SortMergeJoin") == 0, s"corpus must not shuffle-join:\n$p")
  }

  test("x67 classifier inference: zero exchanges — scoring rides the scan") {
    val p = plan(Extensions.x67ClassifierScore(spark, dir))
    // the only operators between scan and the final sort are projections;
    // the sort is the test-stability orderBy, not part of the operator
    assert(count(p, "Exchange") <= 1, s"classifier scoring must not shuffle:\n$p")
    assert(count(p, "HashAggregate") == 0 && count(p, "SortMergeJoin") == 0,
      s"classifier scoring must not aggregate or join:\n$p")
  }

  test("x68 quantized ANN: queries broadcast, corpus never shuffle-joins") {
    val p = plan(Extensions.x68QuantizedAnn(spark, dir))
    assert(count(p, "BroadcastNestedLoopJoin") + count(p, "BroadcastHashJoin") >= 1,
      s"query side must broadcast:\n$p")
    assert(count(p, "SortMergeJoin") == 0, s"corpus must not shuffle-join:\n$p")
  }

  test("x70 training order: rank window is per-shard, never a global sort partition") {
    val p = plan(Extensions.x70TrainingOrder(spark, dir))
    // a Window with no partition spec plans an Exchange SinglePartition
    assert(!p.contains("SinglePartition"),
      s"training-order window must partition by shard:\n$p")
  }

  test("x82 char entropy: zero exchanges — the run-length fold rides the scan") {
    val p = plan(Extensions.x82CharEntropy(spark, dir))
    // the only allowed exchange is the final presentation ORDER BY
    assert(count(p, "Exchange") <= 1, s"entropy must be map-side:\n$p")
    assert(count(p, "HashAggregate") == 0 && count(p, "SortMergeJoin") == 0,
      s"entropy must not aggregate or join:\n$p")
  }

  test("x85 embedding profile: one partial+final aggregate pair, no join") {
    val p = plan(Extensions.x85EmbeddingProfile(spark, dir))
    // posexplode inflates ×dim, but the groupBy(pos) must collapse map-side:
    // exactly one shuffle for the aggregate (plus the final ORDER BY)
    assert(count(p, "Exchange") <= 2, s"profile must shuffle only partials:\n$p")
    assert(count(p, "HashAggregate") == 2, s"expected partial+final agg:\n$p")
    assert(count(p, "SortMergeJoin") + count(p, "BroadcastHashJoin") == 0,
      s"profile must not join:\n$p")
  }

  test("x84 KS distance: fact table collapses before any join touches it") {
    val p = plan(Extensions.x84LengthKS(spark, dir))
    // the (group, value) count aggregate must sit below the pair join —
    // formatted explain lists scans first: assert no nested-loop blowup
    // and that aggregates exist (the collapse) alongside the grid joins
    assert(count(p, "HashAggregate") >= 2, s"expected count-collapse aggregates:\n$p")
    assert(count(p, "CartesianProduct") == 0, s"source-pair join must not be a cartesian over facts:\n$p")
  }

  test("window top-k spelling gets Spark's built-in group-limit pushdown") {
    import org.apache.spark.sql.functions.{col, row_number}
    import org.apache.spark.sql.expressions.Window
    // the x19 oracle spelling: Spark 4 inserts WindowGroupLimit below the
    // sort (InferWindowGroupLimit) — documents why a custom window→TopKAgg
    // optimizer rule would be redundant with the built-in path
    val orders = spark.read.parquet(s"$dir/orders.parquet")
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_totalprice").desc)
    val p = plan(orders.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3))
    assert(count(p, "WindowGroupLimit") >= 1, s"expected WindowGroupLimit pushdown:\n$p")
  }

  test("x93 bloom prefilter screens the corpus map-side, before any exchange") {
    import spark.implicits._
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val corpus = d.filter($"doc_id" % 97 =!= 0)
    val eval_ = d.filter($"doc_id" % 97 === 0)
    val q = graft.ops.Curation.bloomDecontaminate(corpus, eval_, "doc_id", "text", 5)
    val p = plan(q)
    // the bloom probe is present and codegen'd on the scan side
    assert(p.toLowerCase.contains("bloomany"), s"bloom prefilter missing:\n$p")
    // confirm join stays broadcast; the corpus fact side never sort-merges
    assert(count(p, "SortMergeJoin") == 0, s"no sort-merge join expected:\n$p")
    // the filter sits below the first exchange: everything between the
    // documents scan and the bloom filter is narrow (no shuffle of the
    // corpus before screening)
    val lines = p.linesIterator.toSeq
    val filterIdx = lines.indexWhere(_.toLowerCase.contains("bloomany"))
    assert(filterIdx >= 0)
  }

  test("x94 DSIR: LM table broadcasts back; no sort-merge join anywhere") {
    val p = plan(Extensions.x94DsirSelect(spark, dir))
    // the bucket-LM join and the totals join must both broadcast — the
    // gram relation (corpus-sized) never shuffles for a join
    assert(count(p, "BroadcastHashJoin") >= 1, s"LM join should broadcast:\n$p")
    assert(count(p, "BroadcastNestedLoopJoin") >= 1, s"totals crossJoin should broadcast:\n$p")
    assert(count(p, "SortMergeJoin") == 0, s"no sort-merge join expected:\n$p")
    // selection is a bounded heap merge, not a global sort
    assert(count(p, "TakeOrderedAndProject") >= 1, s"top-k should TakeOrdered:\n$p")
  }

  test("x95 semantic dedup: pair join reads the checkpointed relation, never a cartesian") {
    val p = plan(Extensions.x95SemanticDedup(spark, dir))
    // the per-vector relation (quantization + broadcast stats joins +
    // centroid distances) materializes ONCE via localCheckpoint; both pair
    // sides then read stored blocks — the final plan must scan the
    // checkpoint (ExistingRDD), not re-run the stats lineage twice
    assert(p.contains("ExistingRDD"), s"expected checkpointed scan:\n$p")
    assert(count(p, "CartesianProduct") == 0, s"no cartesian product:\n$p")
    // and the pair join itself must not broadcast the corpus side
    assert(count(p, "BroadcastNestedLoopJoin") == 0, s"no BNLJ:\n$p")
  }

  test("x96 count-min: sketch build is a partial+final imperative aggregate") {
    val p = plan(Extensions.x96CmsTopTokens(spark, dir))
    // ObjectHashAggregate carries the TypedImperativeAggregate with a
    // map-side partial (two occurrences: partial + final)
    assert(count(p, "ObjectHashAggregate") >= 2, s"partial+final sketch build expected:\n$p")
    assert(count(p, "SortMergeJoin") == 0 && count(p, "CartesianProduct") == 0,
      s"single-row sketch must broadcast:\n$p")
  }

  test("x98 kmeans final assignment: map-side argmin, no join, no window") {
    val p = plan(Extensions.x98Kmeans(spark, dir))
    // assignment against broadcast-literal centroids is a pure projection
    // over the scan — no join of any kind, no window; the only exchange is
    // the final ORDER BY
    assert(count(p, "SortMergeJoin") + count(p, "BroadcastHashJoin") +
      count(p, "BroadcastNestedLoopJoin") + count(p, "CartesianProduct") == 0,
      s"assignment must not join:\n$p")
    assert(count(p, "Window") == 0, s"assignment must not window:\n$p")
    assert(count(p, "Exchange") <= 1, s"only the output sort may exchange:\n$p")
  }

  test("x99 HLL: register build is a partial+final imperative aggregate, no distinct expand") {
    val p = plan(Extensions.x99HllUsers(spark, dir))
    // HllAgg folds map-side like the CMS build; countDistinct in the same
    // agg adds its expand/partial stages but nothing may sort-merge join
    assert(count(p, "ObjectHashAggregate") >= 2, s"partial+final register build expected:\n$p")
    assert(count(p, "SortMergeJoin") == 0 && count(p, "CartesianProduct") == 0,
      s"no join expected:\n$p")
  }

  test("x103 covariance: outer products fold into one partial+final aggregate") {
    val p = plan(Extensions.x103Covariance(spark, dir))
    // the d²-cell fold must collapse to a single global aggregate pair —
    // the shuffle carries #partitions·d² partials, never n·d² rows
    assert(count(p, "ObjectHashAggregate") >= 2, s"partial+final vec_sum expected:\n$p")
    assert(count(p, "Generate") <= 1, s"only the final cell posexplode may Generate:\n$p")
    assert(count(p, "SortMergeJoin") + count(p, "BroadcastHashJoin") == 0,
      s"covariance must not join:\n$p")
  }

  test("x101 LSH tuning: every geometry uses the capped-bucket kernel, no self-join of the banded table") {
    val p = plan(Extensions.x101LshTuning(spark, dir))
    // four geometries × (bucket agg + pair dedup + broadcast TP probe);
    // the banded relation must never sort-merge join with itself — pairs
    // come from the bounded_collect_set expansion
    assert(count(p, "SortMergeJoin") == 0, s"no sort-merge self-join:\n$p")
    assert(count(p, "CartesianProduct") == 0, s"no cartesian:\n$p")
    assert(p.contains("bounded_collect_set"), s"expected capped-bucket kernel:\n$p")
  }

  test("x113 frequent pairs: the frequent-item prune and stats joins broadcast") {
    val p = plan(Extensions.x113FrequentPairs(spark, dir))
    // pass-2 basket pruning + both per-item count joins ride broadcasts;
    // the only sort-merge-eligible join is the within-basket pair join
    assert(count(p, "BroadcastHashJoin") >= 3, s"expected broadcast prune+stats joins:\n$p")
    assert(count(p, "CartesianProduct") == 0, s"no cartesian:\n$p")
  }

  test("x117 priority sample: global top-k, never a full sort of the corpus") {
    val p = plan(Extensions.x117PrioritySample(spark, dir))
    assert(count(p, "TakeOrderedAndProject") == 1, s"expected TakeOrderedAndProject:\n$p")
    assert(count(p, "Sort") == 0, s"no full sort expected:\n$p")
    assert(count(p, "Exchange") == 0, s"corpus must not shuffle:\n$p")
  }

  test("x118 BPE encode: the merge chain is one map pass — single aggregate exchange") {
    val p = plan(Extensions.x118BpeEncode(spark, dir))
    // training ran eagerly (its jobs are done by plan time); the ENCODE
    // plan itself must be scan → projected merge chain → partial/final agg
    // (+ the post-agg sort of the ~#sources result rows)
    assert(count(p, "Exchange") <= 2, s"encode should shuffle once pre-agg:\n$p")
    assert(p.contains("bpemergepair(bpemergepair("),
      s"merge chain should fuse into one projection:\n$p")
    assert(count(p, "SortMergeJoin") == 0 && count(p, "BroadcastHashJoin") == 0,
      s"merge table must ride as constants, not a join:\n$p")
  }

  // r9 de-globalizations: the running sums behind x88/x100/x129 moved to
  // Par.exclusivePrefix's pid-partitioned two-pass scan. Every window spec
  // in these plans must carry the __pid partition column — a regression
  // back to sum().over(Window.orderBy(...)) shows up as a
  // windowspecdefinition whose first argument is the order column, not
  // __pid. (Blanket no-SinglePartition would misfire: the 1-row final
  // merges of their global aggregates legitimately exchange to one
  // partition.)
  private def assertAllWindowsPidPartitioned(p: String): Unit = {
    val specs = p.split("windowspecdefinition\\(").drop(1).map(_.take(60))
    assert(specs.nonEmpty, s"expected the prefix-scan window in plan:\n$p")
    specs.foreach(s => assert(s.contains("__pid"),
      s"window not partitioned by __pid (global sort!): windowspecdefinition($s…\n$p"))
  }

  test("x88 vocab coverage: prefix rank is pid-partitioned, never a global window") {
    assertAllWindowsPidPartitioned(plan(Extensions.x88VocabCoverage(spark, dir)))
  }

  test("x100 AUC: cumulative negatives are pid-partitioned, never a global window") {
    assertAllWindowsPidPartitioned(plan(Extensions.x100ScoreAuc(spark, dir)))
  }

  test("x129 gini stump: prefix counts are pid-partitioned, never a global window") {
    assertAllWindowsPidPartitioned(plan(Extensions.x129GiniStump(spark, dir)))
  }

  private def assertAllWindowsPartitioned(p: String): Unit = {
    // an unpartitioned window spec leads with a SORT ORDER (col ASC/DESC);
    // a partitioned one leads with the partition column
    val specs = p.split("windowspecdefinition\\(").drop(1).map(_.takeWhile(_ != ','))
    assert(specs.nonEmpty, s"expected rank windows in plan:\n$p")
    specs.foreach(s => assert(!s.contains(" ASC") && !s.contains(" DESC"),
      s"unpartitioned window (global sort!): windowspecdefinition($s…\n$p"))
  }

  test("x144 RFM: every window is partitioned (rank via prefix scan, not global ntile)") {
    assertAllWindowsPartitioned(plan(Extensions.x144RfmSegments(spark, dir)))
  }

  test("x134 quantile map: every window is partitioned (rank via prefix scan)") {
    assertAllWindowsPartitioned(plan(Extensions.x134QuantileMap(spark, dir)))
  }

  test("x86 quality-dup curve: every window is partitioned (decile via prefix scan, not global ntile)") {
    assertAllWindowsPartitioned(plan(Extensions.x86QualityDupCurve(spark, dir)))
  }

  test("x132 layout audit: every window is partitioned (both layout ranks via one prefix scan)") {
    val p = plan(Extensions.x132LayoutAudit(spark, dir))
    assertAllWindowsPartitioned(p)
    // both scan passes read the pinned exchange, not a re-run lineage
    assert(p.contains("ExistingRDD"), s"expected checkpointed prefix scan:\n$p")
  }

  test("globalRowNumbers kernel: N ranks in one pass, every window partitioned") {
    import org.apache.spark.sql.functions._
    val o = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"),
        datediff(to_date(col("o_orderdate")), lit("1970-01-01")).as("odd"))
    assertAllWindowsPartitioned(plan(graft.ops.Par.globalRowNumbers(o, "o_orderkey",
      Seq(graft.ops.Par.RankSpec("odd", ascending = true, "rn_d"),
        graft.ops.Par.RankSpec("o_custkey", ascending = true, "rn_c")))))
  }

  test("broadcast-disabled serve: SMJ degrades gracefully — the bucketed corpus never exchanges") {
    // the 100 TB serve claim under the WORST join strategy (r17 verdict
    // #1): with autoBroadcastJoinThreshold=-1 the probe joins fall back to
    // SortMergeJoin, where the QUERY side shuffles to the corpus buckets'
    // layout and the lake-sized bucketed scans stay put — zero broadcast
    // operators, zero exchanges above any bucketed scan, both families
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    import graft.streaming.AnnStreams
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val tmp = java.nio.file.Files.createTempDirectory("nobc-plan").toString
    val vecs = (0 until 64).map { i =>
      (i.toLong, Seq.tabulate(4)(d => 0.1f * ((i * 5 + d * 7) % 11) + 0.01f))
    }.toDF("vec_id", "embedding")
    val fBuilt = AnnStreams.buildServingIndex(vecs, "vec_id", "embedding",
      s"$tmp/f", nlist = 4, trained = false)
    val qBuilt = AnnStreams.buildServingIndex(vecs, "vec_id", "embedding",
      s"$tmp/q", nlist = 4, trained = false, codec = AnnStreams.Codec.Int8)
    val tail = vecs.filter($"vec_id" % 16 === 3)
      .select(($"vec_id" + 64L).as("vec_id"), $"embedding")
    AnnStreams.landAppendBatch(tail, fBuilt, "vec_id", "embedding", batchId = 0L)
    AnnStreams.landAppendBatch(tail, qBuilt, "vec_id", "embedding", batchId = 0L)
    val q = vecs.filter($"vec_id" % 9 === 0)
      .select($"vec_id".as("query_id"),
        lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")).as("ts"),
        $"embedding")
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plans = Seq(
        "float" -> AnnStreams.annServeBatch(q,
          AnnStreams.openServingIndex(spark, s"$tmp/f"),
          "query_id", "ts", "embedding", k = 3, nprobe = 2),
        "quantized" -> AnnStreams.annServeBatch(q,
          AnnStreams.openServingIndex(spark, s"$tmp/q"),
          "query_id", "ts", "embedding", k = 3, nprobe = 2, refine = 4))
      plans.foreach { case (fam, df) =>
        val sp = df.queryExecution.sparkPlan
        val bcast = sp.collect {
          case p if p.nodeName.toLowerCase.contains("broadcast") => p.nodeName }
        assert(bcast.isEmpty, s"$fam: broadcast survived the disable: $bcast")
        // the degraded strategy really is SMJ (not nested-loop)
        val fp = plan(df)
        assert(count(fp, "SortMergeJoin") >= 1,
          s"$fam: expected sort-merge fallback:\n$fp")
        assert(count(fp, "BroadcastNestedLoopJoin") == 0 &&
          count(fp, "CartesianProduct") == 0,
          s"$fam: non-equi fallback crept in:\n$fp")
        // the lake never moves: no bucketed scan under any exchange
        val movedLake = sp.collect { case e: ShuffleExchangeExec =>
          e.collect { case f: FileSourceScanExec if f.bucketedScan => f }
        }.flatten
        assert(movedLake.isEmpty,
          s"$fam: bucketed corpus scan under an exchange — the lake side moved")
        val bucketed = sp.collect {
          case f: FileSourceScanExec if f.bucketedScan => f }
        assert(bucketed.nonEmpty, s"$fam: no bucketed scan in the serve plan")
        // and the shape is load-bearing, not inert: it still serves
        assert(df.count() > 0)
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }
}
