package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The maintenance POLICY as a first-class library surface.
  *
  * Rounds 16–18 built the pieces — per-family health reports
  * ([[AnnStreams.indexHealth]] / [[DedupStreams.admissionHealth]]), the
  * due-flag decisions
  * ([[AnnStreams.maintenanceDue]] / [[DedupStreams.maintenanceDueAdmission]]),
  * the √N geometry rule ([[AnnStreams.scheduledNlist]]), and the blue/green
  * acts (retrain / re-index / compact). This object is the loop a
  * deployment actually runs: ONE canonical tick,
  *
  * {{{
  *   if (retrainDue) retrain at the scheduled geometry
  *   else if (compactDue) compact
  *   else no-op
  * }}}
  *
  * family-dispatched through [[Family]] (two: the IVF serving index of
  * either cell codec, whose acts read the codec from the index's `meta/`,
  * and the admission index), with the post-act invariant —
  * the new index must itself report healthy — enforced in the tick, not
  * left to the caller. StreamBench's six policy legs drive exactly this
  * tick on a cadence under live serving load (the r18 matrix receipts);
  * the oracled twins x211/x212 pin the decision arithmetic per family
  * cross-engine.
  *
  * The tick is deliberately synchronous and single-shot: cadence, green
  * dir naming, and handle-swap choreography belong to the deployment
  * (a scheduler thread, an Airflow task, a Structured Streaming
  * foreachBatch hook), not to the engine. At 100 TB the tick's cost is
  * one health scan per call — a broadcast-assignment pass over the
  * stored index, no arrivals needed — so running it on a timer is cheap
  * relative to what an unmaintained index costs the serve path
  * (quadratic admission candidates; drifted cells probed at the wrong
  * geometry).
  */
object Maintenance {

  /** What a tick did. `Retrained`/`Compacted` carry the new (green) dir
    * the caller should swap its handles to; `NoOp` means the index is
    * healthy and `dir` stays live. */
  sealed trait Act { def dirAfter: String }
  final case class NoOp(dirAfter: String) extends Act
  final case class Retrained(dirAfter: String, newNlist: Int) extends Act
  final case class Compacted(dirAfter: String) extends Act

  /** One on-disk index family's health + acts, as the tick needs them.
    * Both implementations delegate to the public per-family API —
    * this trait adds no new semantics, only dispatch. */
  trait Family {
    def health(spark: SparkSession, dir: String): DataFrame
    def due(health: DataFrame): AnnStreams.Maintenance
    /** The retrain-branch act. `health` is the report the decision was
      * made from — families that re-cell read their scheduled geometry
      * off it; the admission family recomputes its hot order instead. */
    def retrain(spark: SparkSession, dir: String, newDir: String,
        health: DataFrame): Act
    def compact(spark: SparkSession, dir: String, newDir: String): Act
  }

  /** IVF serving index ([[AnnStreams.ServingIndex]]), float or int8 cells. */
  object Ivf extends Family {
    def health(spark: SparkSession, dir: String): DataFrame =
      AnnStreams.indexHealth(AnnStreams.openServingIndex(spark, dir))
    def due(health: DataFrame): AnnStreams.Maintenance =
      AnnStreams.maintenanceDue(health)
    def retrain(spark: SparkSession, dir: String, newDir: String,
        health: DataFrame): Act = {
      val n = AnnStreams.scheduledNlist(health)
      AnnStreams.retrainIndex(spark, dir, newDir, newNlist = n)
      Retrained(newDir, n)
    }
    def compact(spark: SparkSession, dir: String, newDir: String): Act = {
      AnnStreams.compactIndex(spark, dir, newDir)
      Compacted(newDir)
    }
  }

  /** [[Ivf]] under its earlier name — the benchmark (perfbench) binds it. */
  val FloatIvf: Family = Ivf

  /** Near-dup admission index ([[DedupStreams.AdmissionIndex]]); its
    * retrain branch is [[DedupStreams.reindexAdmission]] — the hot order
    * recomputed over base ∪ tail; there is no cell geometry to schedule. */
  object Admission extends Family {
    def health(spark: SparkSession, dir: String): DataFrame =
      DedupStreams.admissionHealth(DedupStreams.openAdmissionIndex(spark, dir))
    def due(health: DataFrame): AnnStreams.Maintenance =
      DedupStreams.maintenanceDueAdmission(health)
    def retrain(spark: SparkSession, dir: String, newDir: String,
        health: DataFrame): Act = {
      DedupStreams.reindexAdmission(spark, dir, newDir)
      Retrained(newDir, newNlist = -1)
    }
    def compact(spark: SparkSession, dir: String, newDir: String): Act = {
      DedupStreams.compactAdmissionIndex(spark, dir, newDir)
      Compacted(newDir)
    }
  }

  /** ONE policy tick over the live index at `dir`.
    *
    * Reads health, decides, acts (or not), and — on an act — re-reads the
    * NEW index's health and `require`s neither flag still fires: a retrain
    * that failed to fold the drift, or a compaction that silently masked
    * one, is an exception here rather than a quietly degrading serve path.
    * `newDir` is by-name and only evaluated when an act fires, so callers
    * can mint fresh green names per act (blue/green requires the act
    * target to differ from `dir`; in-place rewrite is structurally
    * impossible downstream).
    *
    * `onDue` fires after the decision and before the act — the hook the
    * StreamBench legs use to timestamp the causal chain (drift < due <
    * done) without the health-scan latency blurring it. */
  def tick(spark: SparkSession, family: Family, dir: String,
      newDir: => String, onDue: () => Unit = () => ()): Act = {
    val h = family.health(spark, dir)
    val due = family.due(h)
    if (!due.retrainDue && !due.compactDue) NoOp(dir)
    else {
      onDue()
      val act =
        if (due.retrainDue) family.retrain(spark, dir, newDir, h)
        else family.compact(spark, dir, newDir)
      val after = family.due(family.health(spark, act.dirAfter))
      require(!after.retrainDue && !after.compactDue,
        s"maintenance act $act left an unhealthy index at ${act.dirAfter}")
      act
    }
  }
}
