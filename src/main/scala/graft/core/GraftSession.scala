package graft.core

import org.apache.spark.sql.SparkSession

/** SparkSession factory for the engine.
  *
  * Defaults follow the reference's storage conventions
  * (`/root/reference/connector-config.json:24-26`: Parquet + Snappy;
  * `s3-connector-config.json:25`: UTC) and local-mode sizing: shuffle
  * partitions = cores, AQE on so plans re-split/skew-join at runtime —
  * the same settings scale to a real cluster where `local[N]` becomes a
  * cluster master and shuffle partitions grow with executor count.
  */
object GraftSession {

  /** Fails unless `spark` carries the engine's SQL function surface —
    * every name in [[graft.plans.GraftExtensions.functionNames]]. The
    * functions are injected when the session is built, never at run
    * time, so a session from [[builder]] (or any session built with
    * `spark.sql.extensions=graft.plans.GraftExtensions`) always passes.
    */
  def registerFunctions(spark: SparkSession): Unit = {
    // the registry itself: `spark.catalog.functionExists` resolves each
    // name through the analyzer, about 1 s more at session start
    val registry = spark.sessionState.functionRegistry
    val missing = graft.plans.GraftExtensions.functionNames.filterNot(n =>
      registry.functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(n)))
    if (missing.nonEmpty) throw new IllegalStateException(
      s"session lacks the graft SQL functions ${missing.mkString(", ")}: " +
        "build it with graft.core.GraftSession.builder or set " +
        "spark.sql.extensions=graft.plans.GraftExtensions")
  }

  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // AQE coalescing at Spark's DEFAULT parallelismFirst=true. Round
      // 16 shipped `false` (size-based coalescing) without a quiet-box
      // 32-core validation; the round-17 full-suite A/B (VERDICT r16
      // item 1; artifacts plans/r17/BENCH_base_pf_off.json vs
      // BENCH_pf_on.json, calibration-verified quiet) measured `false`
      // as a NET LOSS: every per-query shuffle at bench SF is ≤ 30 MB,
      // so the 64 MB advisory collapses every post-shuffle stage to
      // ONE task and serializes the CPU-dense stages — t38 0.58×,
      // t55 0.68×, t51 0.75×, t54 0.77× — while the only wins were
      // ≤ 70 ms scheduling savings on sub-second queries (plus two
      // write-path queries whose file counts, not compute, moved).
      // Bytes are a bad proxy for compute density at small SF. At
      // 100 TB the two settings coincide on data-sized stages (bytes ≫
      // advisory × parallelism never coalesces below the core count);
      // the production lever for shuffle-bound jobs remains
      // advisoryPartitionSizeInBytes per the guide (§2.2).
      .config("spark.sql.parquet.compression.codec", "snappy")
      // The janino class cache holds 100 entries by default; one DML
      // lifecycle query alone compiles ~80-120 generated classes and a
      // full engine sweep ≈5-8k, so the LRU wraps within a single
      // multi-query workload and every re-run recompiles from scratch
      // (DriverProfile r17: CodeGenerator.doCompile among the hottest
      // driver frames on q67/q59; measured full-suite A/B 100 → 2000 →
      // 10000 entries = 213 → 184 → 159 s). 10000 entries ≈ a few
      // hundred MB of class metadata on a long-lived driver — the
      // standard production trade for a multi-query session server.
      // Static conf: applies to the first session of the JVM.
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      // Pin parquet's binary-stat truncation OFF (its default) so the
      // footer-stats exactness contract (SnapshotCatalog
      // .footerFileStats: footer bounds ARE the exact values) is
      // enforced rather than incidental — a writer config drifting to
      // truncated stats would be valid-but-inexact and undetectable
      // from the footer alone (round-16 ADVICE).
      .config("spark.hadoop.parquet.statistics.truncate.length",
        String.valueOf(Int.MaxValue))
      // Read parquet TIMESTAMP(NANOS) as long instead of rejecting the
      // footer (one testdata generation shipped events.ts that way —
      // Tables.load rebuilds the column). Set ONCE here: flipping it
      // per-call inside query/load paths mutates the shared session
      // under concurrent queries.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Iceberg's required timestamp physical type (int64 micros, not
      // the deprecated INT96 Spark still defaults to). INT96 carries
      // NO usable footer statistics, so committing a timestamp column
      // would knock every such commit off the footer-stats fast path
      // (SnapshotCatalog.footerFileStats) AND leave ts files unprunable
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      // every graft SQL function, optimizer rule and planner strategy
      .withExtensions(new graft.plans.GraftExtensions)
}
