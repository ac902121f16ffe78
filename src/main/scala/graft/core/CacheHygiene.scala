package graft.core

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** Deterministic release of ALL block-manager state a query left
  * behind — the session-level half of the round-9 persist-lifecycle
  * fix.
  *
  * Two kinds of state accumulate in a long-lived session:
  *  - Dataset-level persists (the query-layer multi-consumer frames
  *    marked by `TrainingData.releasing`, Dedup's session-scoped
  *    `cached` intermediates) — registered with the cache manager,
  *    dropped by `catalog.clearCache()`;
  *  - `localCheckpoint` blocks (operator-internal materializations in
  *    Similarity) — owned by their plan and reclaimed by the
  *    ContextCleaner on GC, which is correct but LAZY: a 113-query
  *    one-JVM run can churn the block manager long before a periodic
  *    GC fires. These never appear in the cache manager; only
  *    `getPersistentRDDs` sees them.
  *
  * Calling this after each query's action releases both. Safe between
  * sequential queries: the next query builds its plan from source and
  * re-reads nothing dropped here. Bench, Verify, and RepBench all call
  * it per query (the RepBench evidence: e05's sf1 spread fell from
  * min 3.38 s / med 18.5 s to med within 1.2× of min); an embedding
  * application with its own query loop should do the same.
  *
  * ==Concurrency hazard (releaseAll is session-GLOBAL)==
  * `releaseAll` drops every cached Dataset and every persistent RDD in
  * the context — including `localCheckpoint` blocks belonging to a
  * DIFFERENT query still mid-flight on another thread. A checkpoint
  * block has truncated lineage, so unlike a dropped cache (which
  * lazily recomputes) an in-flight plan that loses its checkpoint
  * FAILS. Only call `releaseAll` when queries run sequentially on the
  * session (Bench/Verify/RepBench do). Concurrent query loops must use
  * the scoped pair [[snapshotRdds]] / [[releaseNewSince]] instead,
  * which frees exactly the RDDs a query created.
  */
object CacheHygiene {

  /** Release everything. `blocking = true` waits for block removal to
    * complete before returning — required when the caller reads
    * block-removal metrics for the NEXT query (Bench does: with async
    * removal, one query's cleanup events land after the next query's
    * listener reset and mis-attribute `block_removals`).
    */
  def releaseAll(spark: SparkSession, blocking: Boolean = false): Unit = {
    spark.catalog.clearCache()
    releaseRdds(spark.sparkContext, blocking)
  }

  /** The RDD-level half only (checkpoint blocks + raw RDD persists). */
  def releaseRdds(sc: SparkContext, blocking: Boolean = false): Unit =
    sc.getPersistentRDDs.valuesIterator.foreach(_.unpersist(blocking))

  /** Scoped-release support: the set of persistent-RDD ids live NOW.
    * Take a snapshot before running a query, then hand it to
    * [[releaseNewSince]] after the query's action — only the RDDs the
    * query itself persisted/checkpointed are freed, so concurrent
    * queries' blocks (and any long-lived shared caches) are untouched.
    *
    * Caveat for Dataset-level `.persist()` created inside the scope:
    * its backing RDD blocks are freed here, but the cache-manager
    * ENTRY remains registered — harmless (a later identical plan
    * fragment lazily re-materializes), just not reflected in
    * `spark.catalog`. Dataset caches meant to outlive the scope should
    * be created outside it.
    */
  def snapshotRdds(sc: SparkContext): Set[Int] =
    sc.getPersistentRDDs.keySet.toSet

  /** Release only persistent RDDs created since `before` (a
    * [[snapshotRdds]] result). Blocking by default: scoped callers are
    * typically attributing per-query metrics or memory, and async
    * removal would bleed into the next measurement window.
    */
  def releaseNewSince(sc: SparkContext, before: Set[Int],
      blocking: Boolean = true): Unit =
    sc.getPersistentRDDs.iterator
      .filter { case (id, _) => !before.contains(id) }
      .foreach { case (_, rdd) => rdd.unpersist(blocking) }
}
