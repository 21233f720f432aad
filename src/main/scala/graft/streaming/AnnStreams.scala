package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Similarity
import graft.functions.Exprs.{cosine_sim, int8_cosine, int8_quantize}

/** Streaming ANN SERVING — the similarity-search twin of
  * [[DedupStreams.nearDupAdmission]]: as query embeddings ARRIVE, answer
  * each with its top-k nearest corpus vectors through an IVF probe of a
  * STATIC corpus index, emitting `(query_id, ts, rank, item_id, cos_sim)`.
  * The retrieval-serving shape made continuous: the lake is indexed once,
  * arrivals pay only their own probe.
  *
  * ONE index structure over a pluggable CELL CODEC (REPOSE's shape: one
  * partition-local index with pluggable pruning, not one index per vector
  * representation). Scale design mirrors the admission index (r14 verdict
  * → r15): the index lives ON DISK, not pinned in executors.
  * [[buildServingIndex]] spends the one corpus pass a static index always
  * costs and persists under `dir`:
  *
  *  - `cells/` — the IVF cell assignment `(centroid_id, item_id, payload)`
  *    as a parquet table BUCKETED AND SORTED ON `centroid_id` (one bucket
  *    per cell): the stream-static join's static side arrives
  *    pre-partitioned, so a micro-batch shuffles only its own exploded
  *    probes — the corpus never moves, and a lost executor re-reads its
  *    buckets from disk. The payload is the [[Codec]]'s: `item_vec`
  *    (float32, exact cosines) or `code` (int8, one byte per dimension).
  *  - `vecs/` — int8 only: `(item_id, item_vec)` bucketed on `item_id`,
  *    the exact re-rank side (see [[Codec.Int8]]).
  *  - `centroids/` + `meta/` — the (tiny, nlist-sized) coarse quantizer and
  *    the index parameters, the codec among them. [[openServingIndex]]
  *    rebuilds the probe expression from these after a driver bounce —
  *    restart never re-scans the corpus — and every maintenance verb reads
  *    the codec from here, so none takes one.
  *
  * Per micro-batch the STREAM side is pure map-side (nearest-`nprobe`
  * centroid ranking is a literal-array expression — no join, no shuffle;
  * same kernel as [[graft.ops.Similarity.ivfSearch]]), then one
  * stream-static join against the bucketed cells and ONE stateful
  * aggregation: per-(query, ts) top-k through the k-BOUNDED
  * [[graft.functions.TopKAgg]] heap aggregate — state is k entries per
  * in-flight query (never the candidate volume, never the corpus), and the
  * watermark bounds how many queries are in flight. An inexact codec adds
  * a k·`refine` shortlist heap and an exact re-rank before it. Corpus item
  * ids are assumed unique (each vector lives in exactly ONE cell — IVF
  * assignment is a partition), so no dedup pass is needed between the
  * join and the top-k.
  *
  * Centroids: `trained = true` (default) trains the standard driver-local
  * Lloyd loop on a deterministic xxhash64 sample
  * ([[graft.ops.Similarity.buildIvfIndex]]'s discipline — recall/nprobe
  * behavior quantified by x188); `trained = false` uses the `nlist`
  * lowest-id corpus vectors VERBATIM as the quantizer — a seeded mode
  * whose every number is replayable in plain SQL (no float drift from
  * k-means means), which is what lets the batch twins carry a full
  * value-level DuckDB oracle (x201/x203) over the exact serve path: probe
  * ranking, cell membership, cosine scores, ranks.
  */
object AnnStreams {

  /** One arriving query vector — the typed stream row for tests and callers. */
  case class Arrival(query_id: Long, ts: java.sql.Timestamp, embedding: Seq[Float])

  /** What a cell stores per vector and how a float query scores against
    * it. Chosen once at build and written into `meta/`. `exact`: served
    * scores are the cell scores themselves (one top-k pass); otherwise
    * they come from an exact re-rank of a k·refine shortlist. */
  sealed abstract class Codec(val name: String, val payload: String,
      val exact: Boolean) {
    def encode(vec: Column): Column
    def score(query: Column, payload: Column): Column
  }
  object Codec {
    /** float32 cells: `item_vec`, scored by exact `cosine_sim`. */
    case object Float extends Codec("float", "item_vec", exact = true) {
      def encode(vec: Column): Column = vec
      def score(query: Column, payload: Column): Column = cosine_sim(query, payload)
    }
    /** int8 cells (r15 verdict ask #5 — the next 100 TB axis for ANN
      * serving): `code` BINARY at ONE BYTE per dimension (4× fewer scan
      * bytes than float32 cells — measured ~3.9× on-disk at sf0.1; the
      * per-vector scale is not even stored, because cosine is
      * scale-invariant), ranked by the asymmetric `int8_cosine(query_float,
      * code)`. Quantization only coarsens the SHORTLIST cut: served scores
      * are full-precision re-ranks against `vecs/`, so with `refine` ≥
      * cell population the results equal the float index exactly (spec'd),
      * and the nprobe/refine recall trade-off is quantified by the
      * ScaleStress `pq` leg. */
    case object Int8 extends Codec("int8", "code", exact = false) {
      def encode(vec: Column): Column = int8_quantize(vec).as("code")
      def score(query: Column, payload: Column): Column = int8_cosine(query, payload)
    }
    def apply(name: String): Codec = Seq(Float, Int8).find(_.name == name)
      .getOrElse(throw new IllegalArgumentException(s"unknown cell codec '$name'"))
  }

  /** Handle over a built-or-opened on-disk serving index. `cells` is a
    * catalog-backed bucketed table (shuffle-free static join side);
    * `centroids` is the nlist-sized quantizer the probe expression bakes
    * in as literals; `appends` is the (possibly empty) tail of
    * [[appendStream]]-ingested vectors not yet folded into the bucketed
    * base — see the maintenance contract on [[appendStream]]. `vecs` is
    * the exact re-rank table of an inexact codec (None for float). */
  final case class ServingIndex(
      dir: String, nlist: Int, buckets: Int,
      centroids: Array[(Int, Array[Float])], cells: DataFrame,
      appends: DataFrame, codec: Codec, vecs: Option[Vecs])

  /** `(item_id, item_vec)` bucketed on `item_id` plus its append tail,
    * landed in LOCKSTEP with the cells tail (codes without floats would
    * shortlist but never re-rank). Joined as separate branches so the
    * bucketed base keeps its pre-partitioning. */
  final case class Vecs(base: DataFrame, appends: DataFrame)

  /** Location-derived catalog name (shared rule: [[DiskIndex.tableName]]). */
  private def tableName(spark: SparkSession, dir: String, kind: String): String =
    DiskIndex.tableName(spark, s"graft_ann_$kind", dir)

  /** Every append root an index may carry — cleared together, so a
    * location reused across codecs never resurrects a stale tail. */
  private def tailRoots(dir: String): Seq[String] =
    Seq(s"$dir/appends", s"$dir/appends_vecs")

  /** `df` as the `kind` table under `dir`, one bucket per cell, sorted on
    * the bucket key: the probe (or re-rank) join's static side is
    * pre-partitioned by exactly the key it is joined on. */
  private def writeBucketed(df: DataFrame, key: String, buckets: Int,
      dir: String, kind: String): Unit =
    df.repartition(buckets, col(key))
      .write.mode("overwrite").format("parquet")
      .bucketBy(buckets, key).sortBy(key)
      .option("path", s"$dir/$kind")
      .saveAsTable(tableName(df.sparkSession, dir, kind))

  /** Index a static corpus for serving: ONE corpus pass (train/seed the
    * quantizer, assign every vector map-side, encode, write bucketed —
    * plus the `item_id`-bucketed float table an inexact codec re-ranks
    * against), persisted under `dir`. Returns the live handle. */
  def buildServingIndex(corpus: DataFrame, idCol: String, vecCol: String,
      dir: String, nlist: Int = 16, trained: Boolean = true,
      iters: Int = 3, trainSample: Int = 4096,
      spreadSeeds: Boolean = false, codec: Codec = Codec.Float): ServingIndex = {
    require(!corpus.isStreaming, "corpus must be a static relation (the indexed lake)")
    require(nlist >= 1, s"nlist must be positive, got $nlist")
    val spark = corpus.sparkSession
    import spark.implicits._
    // an empty quantizer would otherwise surface as an opaque analysis
    // error from the empty literal centroid array (or a "[1, 0]" nprobe
    // range) far from the actual cause — quantizerOf fails loudly instead
    val centroids = quantizerOf(corpus, idCol, vecCol, nlist, trained, iters,
      trainSample, spreadSeeds)
    val vecs = corpus.select(col(idCol).cast("long").as(idCol), col(vecCol))
    writeBucketed(Similarity.assignCells(vecs, centroids, idCol, vecCol)
        .select(col("centroid_id"), col("item_id"), codec.encode(col("item_vec"))),
      "centroid_id", nlist, dir, "cells")
    if (!codec.exact)
      writeBucketed(vecs.select(col(idCol).as("item_id"), col(vecCol).as("item_vec")),
        "item_id", nlist, dir, "vecs")
    centroids.toSeq.map { case (cid, v) => (cid, v.toSeq) }
      .toDF("centroid_id", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
    Seq((nlist, centroids.length, codec.name)).toDF("nlist", "n_centroids", "codec")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
    // a rebuild into a previously-used location must not resurrect a tail
    // assigned under the OLD centroids (DiskIndex.clearAppendTails doc)
    DiskIndex.clearAppendTails(spark, tailRoots(dir))
    bind(spark, dir, nlist, centroids, codec)
  }

  /** The live handle over the tables under `dir`: registers the bucketed
    * tables if the catalog lost them (a driver bounce) and binds the
    * append tails as of now. No corpus work. */
  private def bind(spark: SparkSession, dir: String, nlist: Int,
      centroids: Array[(Int, Array[Float])], codec: Codec): ServingIndex = {
    def table(kind: String, key: String): DataFrame =
      DiskIndex.registerBucketed(spark, tableName(spark, dir, kind), s"$dir/$kind", key, nlist)
    val cells = table("cells", "centroid_id")
    val vecs = if (codec.exact) None else {
      val v = table("vecs", "item_id")
      Some(Vecs(v, DiskIndex.appendTail(spark, s"$dir/appends_vecs", v.schema)))
    }
    ServingIndex(dir, nlist, nlist, centroids, cells,
      DiskIndex.appendTail(spark, s"$dir/appends", cells.schema), codec, vecs)
  }

  /** Reopen a persisted serving index after a driver bounce: read the
    * parameters and codec from `meta/`, reload the nlist-sized quantizer,
    * re-register the bucketed tables over the existing files. */
  def openServingIndex(spark: SparkSession, dir: String): ServingIndex = {
    val meta = spark.read.parquet(s"$dir/meta").head()
    val centroids = spark.read.parquet(s"$dir/centroids")
      .orderBy(col("centroid_id"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
    bind(spark, dir, meta.getInt(0), centroids, Codec(meta.getAs[String]("codec")))
  }

  /** Streaming index MAINTENANCE — the write path of a living vector lake:
    * arriving embeddings are assigned to their IVF cell MAP-SIDE against
    * the index's FIXED centroids (the standard IVF maintenance contract —
    * cells drift only as much as the data distribution does; retrain on a
    * schedule via [[retrainIndex]], never per batch) and landed under
    * `dir/appends/batch=<batchId>/`. Writing each micro-batch into its own
    * batchId-named directory with overwrite makes the sink IDEMPOTENT: a
    * crash-replayed batch overwrites its own output instead of duplicating
    * rows — exactly-once index contents over an at-least-once foreachBatch.
    *
    * Visibility contract: serve plans bind the append tail when the index
    * handle is built/opened, so appended vectors are seen by queries
    * (batch or streaming) whose handle was opened AFTER the append landed
    * — the restart/reopen picks them up; a mid-flight stream does not
    * re-list. Fold the tail into the bucketed base with [[compactIndex]]
    * (centroids fixed, results identical) and re-pick the cell boundaries
    * with [[retrainIndex]] as drift accumulates (the one corpus pass a
    * re-index always costs); until then the tail joins UNBUCKETED, which
    * is the small-fraction price of not rescanning the lake per arrival. */
  def appendStream(arrivals: DataFrame, index: ServingIndex,
      idCol: String, vecCol: String, checkpointDir: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(arrivals.isStreaming, "appendStream takes a streaming relation")
    arrivals
      .select(col(idCol).cast("long").as(idCol), col(vecCol))
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      // the maintenance cadence: a longer trigger batches more vectors per
      // landed batch=<id> dir — fewer, bigger tail files between compactions
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        landAppendBatch(batch, index, idCol, vecCol, batchId)
      }
      .start()
  }

  /** Land ONE batch of new vectors into the append tail — the body of
    * [[appendStream]]'s foreachBatch, exposed so batch callers (a backfill
    * job, the x202 compaction twin) ride the IDENTICAL landing path the
    * stream does: map-side cell assignment against the index's FIXED
    * centroids, encoded by the index's codec, written idempotently under
    * `batch=<batchId>` (re-landing a batchId replaces its own output). An
    * inexact codec also lands the floats under `appends_vecs/`, FIRST: a
    * handle opened between the two writes then misses the new items
    * rather than shortlisting codes it cannot re-rank. */
  def landAppendBatch(batch: DataFrame, index: ServingIndex,
      idCol: String, vecCol: String, batchId: Long): Unit = {
    val b = batch.select(col(idCol).cast("long").as(idCol), col(vecCol))
    if (index.vecs.isDefined)
      b.select(col(idCol).as("item_id"), col(vecCol).as("item_vec"))
        .write.mode("overwrite")
        .parquet(s"${index.dir}/appends_vecs/batch=$batchId")
    Similarity.assignCells(b, index.centroids, idCol, vecCol)
      .select(col("centroid_id"), col("item_id"), index.codec.encode(col("item_vec")))
      .write.mode("overwrite")
      .parquet(s"${index.dir}/appends/batch=$batchId")
  }

  /** Fold the append tail into a fresh bucketed base at `newDir` — the
    * scheduled maintenance step, blue/green rather than in-place: Spark
    * cannot overwrite a table it is reading from, and at lake scale the
    * union cannot be pinned in memory to break the cycle, so compaction
    * rolls the index FORWARD (old dir stays readable until the caller
    * drops it; serve handles opened on `newDir` see one bucketed base and
    * an empty tail). Centroids, codes and the codec are carried over
    * VERBATIM — compaction reorganizes storage, it never moves a vector
    * between cells or re-quantizes one — so results are identical by
    * construction (spec'd). */
  def compactIndex(spark: SparkSession, dir: String, newDir: String): ServingIndex = {
    require(DiskIndex.qualifiedUri(spark, dir) !=
      DiskIndex.qualifiedUri(spark, newDir),
      "compaction is blue/green: newDir must differ from dir")
    val old = openServingIndex(spark, dir)
    writeBucketed(old.cells.unionByName(old.appends), "centroid_id", old.nlist,
      newDir, "cells")
    old.vecs.foreach(v =>
      writeBucketed(v.base.unionByName(v.appends), "item_id", old.nlist, newDir, "vecs"))
    Seq("centroids", "meta").foreach { kind =>
      spark.read.parquet(s"$dir/$kind")
        .coalesce(1).write.mode("overwrite").parquet(s"$newDir/$kind")
    }
    // newDir may have hosted an index before — clear any stale tail
    DiskIndex.clearAppendTails(spark, tailRoots(newDir))
    bind(spark, newDir, old.nlist, old.centroids, old.codec)
  }

  /** RETRAIN the quantizer over the grown corpus and rebuild at `newDir` —
    * the scheduled drift-management step [[compactIndex]] deliberately is
    * not (r16 verdict #1). Compaction reorganizes storage under FIXED
    * centroids (results identical by construction); retrain moves the CELL
    * BOUNDARIES to where the data now lives: it re-derives the quantizer
    * over base ∪ tail (the same trained-Lloyd / seeded discipline as
    * [[buildServingIndex]]), reassigns every vector map-side, and writes a
    * fresh bucketed base under the same codec — exactly what
    * [[DedupStreams.reindexAdmission]] does for the admission family's
    * hot order. Equivalent by construction (and by spec) to a fresh
    * [[buildServingIndex]] over the combined corpus at the same parameters
    * (including `spreadSeeds`): fold-then-build IS the implementation, so
    * retrain can never drift from the build path. The rebuild reads the
    * stored FLOATS, never int8 codes: codes are lossy, and a
    * code→decode→re-encode rebuild would compound quantization error on
    * every scheduled retrain (spec'd: retrained codes equal a fresh
    * build's codes byte-for-byte).
    *
    * Cost model: one corpus pass (read cells + tail, one map-side
    * reassignment, one bucketed rewrite) plus the driver-local Lloyd over
    * a `trainSample`-bounded sample — the price of the original build,
    * which is the point: drift erodes the index's PRUNING (appended
    * vectors pile into the few cells nearest the old centroids — the
    * ScaleStress skew sweep measured one cell at 27% of the corpus), and
    * the only fix is re-picking the cell boundaries on a SCHEDULE, never
    * per batch. Retrain subsumes compaction — the tail is folded and
    * empties — so a deployment alternates cheap compactions with
    * occasional retrains as drift accumulates.
    *
    * Blue/green like compaction: the corpus is re-read from the live index
    * at `dir`, which therefore cannot be rewritten in place; `dir` stays
    * readable until the caller drops it.
    *
    * @param newNlist re-pick the cell count as the corpus grows (√N rule);
    *                 `0` (default) keeps the old index's nlist.
    * @param spreadSeeds trained-mode Lloyd seeding; defaults to TRUE here
    *                 (unlike the builder) because retrain exists for the
    *                 drifted case: farthest-first seeding guarantees a
    *                 seed near every mode of the grown sample, where the
    *                 default lowest-id seeding can move at most one
    *                 centroid into a region the old quantizer never saw —
    *                 a drifted cluster would retrain into one giant cell
    *                 (spec'd in RetrainSpec; [[graft.ops.Similarity
    *                 .localLloyd]] documents the trade). */
  def retrainIndex(spark: SparkSession, dir: String, newDir: String,
      trained: Boolean = true, iters: Int = 3, trainSample: Int = 4096,
      newNlist: Int = 0, spreadSeeds: Boolean = true): ServingIndex = {
    // (scheduling: indexHealth + maintenanceDue answer WHEN to call this)
    require(DiskIndex.qualifiedUri(spark, dir) !=
      DiskIndex.qualifiedUri(spark, newDir),
      "retrain is blue/green: newDir must differ from dir")
    val old = openServingIndex(spark, dir)
    val nlist = if (newNlist > 0) newNlist else old.nlist
    val floats = old.vecs.fold(old.cells.unionByName(old.appends))(v =>
      v.base.unionByName(v.appends))
    buildServingIndex(floats.select(col("item_id"), col("item_vec")),
      "item_id", "item_vec", newDir, nlist, trained, iters, trainSample, spreadSeeds,
      old.codec)
  }

  /** One-pass HEALTH report over a serving index — the observability the
    * maintenance contract needs: [[compactIndex]] and [[retrainIndex]] are
    * the actions, this is the signal for WHICH one is due. One row per
    * branch (`base`, `tail`), totally ordered:
    *
    *  - `n_rows`, `n_cells` — branch sizes. The tail is broadcast-joined
    *    by serve plans and accumulates one directory per maintenance
    *    batch, so it must stay a small fraction of the base — the
    *    COMPACTION trigger.
    *  - `avg_assign_cos_ppm` — mean score between each stored vector and
    *    its OWN cell centroid under the codec's serve metric (exact cosine
    *    for float, the asymmetric `int8_cosine(centroid, code)` for int8 —
    *    health measures fitness under the distance the index actually
    *    serves with), floored to ppm (integer arithmetic — exactly
    *    replayable). Tail vectors were assigned under the same fixed
    *    centroids as the base, so arrivals that fit the quantizer score ≈
    *    the base; a DRIFTED tail scores materially lower (the quantizer has
    *    no resolution where it lives) — the RETRAIN trigger.
    *  - `max_cell_share_ppm` — the hottest cell's share of the branch
    *    (the pruning-skew signal: drifted appends pile into few cells).
    *
    * Cost: one scan of cells + tail against the nlist-sized broadcast
    * centroid relation and two tiny aggregations — the stored
    * `centroid_id` IS the assignment, no reassignment pass; the int8
    * cells tail IS the append population (landed in lockstep), so no
    * float scan either. Oracled value-level by x208 (float) and x209
    * (int8). */
  def indexHealth(index: ServingIndex): DataFrame = {
    val spark = index.cells.sparkSession
    import spark.implicits._
    val centDf = broadcast(index.centroids.toSeq
      .map { case (cid, v) => (cid, v.toSeq) }.toDF("centroid_id", "centroid"))
    val assignCos = index.codec.score(col("centroid"), col(index.codec.payload))
    def legOf(df: DataFrame, leg: String): DataFrame =
      df.join(centDf, Seq("centroid_id"))
        .select(lit(leg).as("leg"), col("centroid_id"),
          floor(assignCos * 1e6).cast("long").as("cos_ppm"))
    legOf(index.cells, "base").unionByName(legOf(index.appends, "tail"))
      .groupBy(col("leg"), col("centroid_id"))
      .agg(count(lit(1)).as("n"), sum(col("cos_ppm")).as("s"))
      .groupBy(col("leg"))
      .agg(sum(col("n")).as("n_rows"),
        count(lit(1)).as("n_cells"),
        // TRUNCATE-toward-zero (Spark DIV), deliberately — the r17 ADVICE
        // asked for floor "matching DuckDB //", but DuckDB `//` MEASURED
        // (r18, this container): -7 // 2 = -3 on INTEGER and HUGEINT
        // alike — `//` truncates exactly like DIV, in every regime
        // including the negative-sum one the near-orthogonal-corpus
        // comment below describes. An r18 interim commit switched this to
        // pmod-adjusted floor on the ADVICE's stated premise; that was the
        // only spelling that could diverge from the `sum(s) // sum(n)`
        // replays (x208/x209/x211), so it is reverted with the receipt
        // pinned in RetrainSpec's negative-regime test.
        expr("sum(s) DIV sum(n)").as("avg_assign_cos_ppm"),
        expr("max(n) * 1000000 DIV sum(n)").as("max_cell_share_ppm"))
      .orderBy(col("leg"))
  }

  /** The scheduling decision over an [[indexHealth]] report — pure
    * threshold logic, split out so a deployment's maintenance job is
    * exactly `if (retrainDue) retrainIndex(...) else if (compactDue)
    * compactIndex(...)` (retrain subsumes compaction, so it wins when
    * both fire):
    *
    *  - `compactDue`: the tail exceeds `maxTailFraction` of the base —
    *    storage-shape maintenance, results identical by construction.
    *  - `retrainDue`: the tail's mean assignment cosine trails the
    *    base's by more than `maxDriftDropPpm` OF THE BASE'S VALUE (a
    *    RELATIVE drop — an absolute gap does not transfer across
    *    corpora: a high-structure lake at 0.95 drifting to 0.85 and a
    *    diffuse one at 0.38 dropping to 0.28 are both material, but only
    *    one clears any fixed absolute threshold). The relative base is
    *    floored at 0.1 (100,000 ppm): without a floor the rule
    *    degenerates at tiny or non-positive base cosines — a base at
    *    1 ppm would retrain on a 1-ppm dip, and a base at ≤ 0 (possible:
    *    the per-row floor() biases slightly-negative cosines down, so a
    *    near-orthogonal corpus can average below zero) would NEVER
    *    retrain no matter how far the tail falls (r17 review finding).
    *    Arrivals that trail the base this much no longer fit the
    *    quantizer, so folding them under fixed centroids would keep
    *    serving them from the wrong cells.
    *
    * An absent/empty tail is healthy by definition. */
  final case class Maintenance(compactDue: Boolean, retrainDue: Boolean)
  def maintenanceDue(health: DataFrame, maxTailFraction: Double = 0.1,
      maxDriftDropPpm: Long = 100000L): Maintenance = {
    require(maxTailFraction > 0, s"maxTailFraction must be positive, got $maxTailFraction")
    val legs = health.select(col("leg"), col("n_rows"), col("avg_assign_cos_ppm"))
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val (baseRows, baseCos) = legs.getOrElse("base", (0L, 0L))
    val (tailRows, tailCos) = legs.getOrElse("tail", (0L, 0L))
    val relBase = math.max(baseCos.toDouble, 100000.0)
    Maintenance(
      compactDue = baseRows > 0L && tailRows.toDouble > maxTailFraction * baseRows,
      retrainDue = tailRows > 0L &&
        (baseCos - tailCos).toDouble > relBase * maxDriftDropPpm / 1e6)
  }

  /** The √N rule as a SCHEDULABLE function (r17 verdict #7): the nlist the
    * NEXT retrain should build at, read off the same health report
    * [[maintenanceDue]] decides from — so the maintenance job's whole loop
    * is `val h = indexHealth(idx); if (maintenanceDue(h).retrainDue)
    * retrainIndex(..., newNlist = scheduledNlist(h))` and a grown corpus
    * retrains into its right geometry automatically instead of freezing
    * the build-time cell count forever. Retrain folds the tail, so the
    * corpus it builds over is base + tail rows; √N balances probe cost
    * (∝ N/nlist per probed cell) against centroid-scan cost (∝ nlist) —
    * the classical IVF operating point, and 4× growth re-cells at 2×.
    * Works over either codec's [[indexHealth]] (same schema). Clamped to
    * [minNlist, maxNlist]; empty report → minNlist. */
  def scheduledNlist(health: DataFrame, minNlist: Int = 1,
      maxNlist: Int = 1 << 16): Int = {
    require(minNlist >= 1 && maxNlist >= minNlist,
      s"bad nlist bounds: [$minNlist, $maxNlist]")
    val n = health.select(sum(col("n_rows"))).collect()(0) match {
      case r if r.isNullAt(0) => 0L
      case r => r.getLong(0)
    }
    math.max(minNlist.toLong,
      math.min(maxNlist.toLong, math.round(math.sqrt(n.toDouble)))).toInt
  }

  /** The quantizer half of [[buildServingIndex]]: trained Lloyd centroids
    * (production) or the nlist lowest-id corpus vectors verbatim (the
    * SQL-replayable seeded mode the oracles ride). */
  private def quantizerOf(corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int, trained: Boolean, iters: Int, trainSample: Int,
      spreadSeeds: Boolean): Array[(Int, Array[Float])] = {
    val centroids: Array[(Int, Array[Float])] =
      if (trained) Similarity.buildTrainedCentroids(
        corpus, idCol, vecCol, nlist, iters, trainSample, spreadSeeds)
      else corpus.select(col(idCol).cast("long").as("item_id"), col(vecCol))
        .orderBy(col("item_id")).limit(nlist)
        .collect().map(_.getSeq[Float](1).toArray)
        .zipWithIndex.map { case (v, i) => (i, v) }
    require(centroids.nonEmpty, "serving index: corpus must be non-empty")
    centroids
  }

  /** @param arrivals streaming relation with (`idCol`, `tsCol`, `vecCol`)
    * @param refine an inexact codec's shortlist is k·refine candidates
    *               per query; the float codec ignores it
    * @return streaming `(query_id, ts, rank, item_id, cos_sim)` in append
    *         mode — rows finalize when the watermark passes their event
    *         time. A query whose probed cells hold no candidates still
    *         surfaces, with NULL rank/item/score (the admission operator's
    *         every-arrival-gets-a-verdict contract). Over an int8 index
    *         this chains TWO stateful aggregations (the shortlist heap,
    *         then the top-k heap) with a stream-static join between them —
    *         the multiple-stateful-operator shape Spark supports when
    *         every stateful step groups on the SAME watermarked event-time
    *         column, as both heaps here do (query_id, ts). */
  def annServe(arrivals: DataFrame, index: ServingIndex,
      idCol: String, tsCol: String, vecCol: String,
      k: Int = 10, nprobe: Int = 4, refine: Int = 4,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    require(arrivals.isStreaming,
      "arrivals must be a streaming relation; use annServeBatch for the batch twin")
    servePlan(arrivals, index, idCol, tsCol, vecCol, k, nprobe, refine,
      Some(watermarkDelay))
  }

  /** The BATCH twin: the identical plan over a batch `arrivals` relation —
    * what the streaming specs assert equality against, and the x201/x203
    * oracles' DataFrame side. */
  def annServeBatch(arrivals: DataFrame, index: ServingIndex,
      idCol: String, tsCol: String, vecCol: String,
      k: Int = 10, nprobe: Int = 4, refine: Int = 4): DataFrame = {
    require(!arrivals.isStreaming, "batch twin takes a batch relation")
    servePlan(arrivals, index, idCol, tsCol, vecCol, k, nprobe, refine, None)
  }

  private def servePlan(arrivals: DataFrame, index: ServingIndex,
      idCol: String, tsCol: String, vecCol: String,
      k: Int, nprobe: Int, refine: Int, watermarkDelay: Option[String]): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    require(refine >= 1, s"refine must be positive, got $refine")
    require(nprobe >= 1 && nprobe <= index.centroids.length,
      s"nprobe must be in [1, ${index.centroids.length}], got $nprobe")
    val base = arrivals.select(
      col(idCol).cast("long").as("query_id"),
      col(tsCol).as("ts"),
      col(vecCol).as("query_vec"))
    val arr = watermarkDelay.fold(base)(base.withWatermark("ts", _))
    // map-side probe: rank the literal centroid set by (cosine desc, id
    // asc) — the ivfSearch kernel — and explode the nprobe best
    val probes = arr.select(col("query_id"), col("ts"), col("query_vec"),
      explode(slice(reverse(array_sort(
        Similarity.centroidScores(col("query_vec"), index.centroids))),
        1, nprobe)).as("probe"))
      .select(col("query_id"), col("ts"), col("query_vec"),
        (-col("probe.ncid")).as("centroid_id"))
    // stream-static LEFT join against the bucketed cells: a probed-empty
    // cell yields a NULL candidate (not a dropped query). Self-matches
    // (same id arriving as both query and corpus item) are NULLed too.
    // The append tail joins as a SECOND branch rather than a union into
    // the cells relation — unioning bucketed+unbucketed sides would strip
    // the bucket pre-partitioning from the whole join; this way the
    // lake-sized base keeps it and only the small tail joins plain. An
    // inexact codec carries the query vector on for its re-rank.
    val ok = col("item_id").isNotNull && col("item_id") =!= col("query_id")
    val carried = if (index.codec.exact) Nil else Seq(col("query_vec"))
    def scoredAgainst(cells: DataFrame): DataFrame =
      probes.join(cells, Seq("centroid_id"), "left_outer")
        .select(Seq(col("query_id"), col("ts")) ++ carried ++ Seq(
          when(ok, index.codec.score(col("query_vec"), col(index.codec.payload))).as("s"),
          when(ok, col("item_id")).as("cand_id")): _*)
    val scored = scoredAgainst(index.cells)
      .unionByName(scoredAgainst(index.appends))
    val ranked = index.vecs.fold(scored)(reRanked(scored, _, k * refine))
    // ONE stateful aggregation with a HARD k-sized buffer — the existing
    // top_k TypedImperativeAggregate (graft.functions.TopKAgg, the x19
    // kernel): the collect_list spelling held EVERY candidate in state
    // until the watermark flush (measured 3.4 GB for 750k in-flight
    // queries at ~300 candidates each); top_k holds k entries per query
    // in the partial aggregate, the shuffle, and the state store alike.
    // NULLed candidates update nothing; an all-NULL group evaluates to an
    // empty array, which posexplode_outer surfaces as a NULL-rank verdict
    // row.
    ranked
      .groupBy(col("query_id"), col("ts"))
      .agg(graft.functions.TopKBuffer.top_k(
        col("s"), col("cand_id"), k).as("topk"))
      .select(col("query_id"), col("ts"),
        posexplode_outer(col("topk")).as(Seq("pos", "hit")))
      .select(col("query_id"), col("ts"),
        (col("pos") + 1).as("rank"),
        col("hit.id").as("item_id"),
        col("hit.ord").as("cos_sim"))
  }

  /** An inexact codec's second pass: the `shortlist` best candidates per
    * query by (approx DESC, id) — the ONLY pass over the coded cells —
    * then their EXACT cosines against the `item_id`-bucketed float table:
    * shortlist rows move to its buckets, the corpus side never shuffles.
    * The tail chains as a second LEFT join + coalesce — item ids are
    * disjoint between base and tail, so each shortlisted id resolves
    * exactly once. Quantization error can therefore only reorder the
    * shortlist CUT, never a served score. A query with no candidate keeps
    * one NULL row (explode_outer), so it still gets its verdict. */
  private def reRanked(scored: DataFrame, vecs: Vecs, shortlist: Int): DataFrame =
    scored.groupBy(col("query_id"), col("ts"))
      .agg(first(col("query_vec")).as("query_vec"),
        graft.functions.TopKBuffer.top_k(col("s"), col("cand_id"), shortlist).as("shortk"))
      .select(col("query_id"), col("ts"), col("query_vec"),
        explode_outer(col("shortk")).as("hit"))
      .select(col("query_id"), col("ts"), col("query_vec"),
        col("hit.id").as("item_id"))
      .join(vecs.base, Seq("item_id"), "left_outer")
      .join(vecs.appends.select(col("item_id"), col("item_vec").as("__tv")),
        Seq("item_id"), "left_outer")
      .select(col("query_id"), col("ts"),
        cosine_sim(col("query_vec"), coalesce(col("item_vec"), col("__tv"))).as("s"),
        col("item_id").as("cand_id"))
}
