package graft.query

import scala.util.{Failure, Success, Try}

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{ArrayType, DataType, DayTimeIntervalType,
  MapType, StructType, TimestampNTZType, TimestampType, YearMonthIntervalType}

import graft.catalog.SnapshotCatalog

/** The engine facade: both of the reference's REST query surfaces as
  * Scala APIs with identical JSON envelopes (SURVEY §2.2 R6-R11, §3.1,
  * §3.2) — JSON-string in/out so an HTTP layer is a trivial wrapper.
  *
  * Divergence note (SURVEY §2.2 R4/R5): limits are pushed into the
  * plan (`df.limit` → CollectLimitExec) instead of the reference's
  * materialize-then-truncate, and the PyIceberg path's declared-but-
  * disabled limit is ENFORCED — declared semantics, not the bug.
  *
  * ==Serving hygiene (long-lived Engine behind [[HttpApi]])==
  * Every query-executing entry point runs inside [[scopedRelease]]
  * (block-manager state a query persisted/checkpointed is freed at
  * quiescence — the stateless request-loop behavior of
  * duckdb_rest_server.py:67-84, where each request's DuckDB state dies
  * with the handler) and under a [[withBudget]] job group: a query
  * exceeding `queryBudgetSec` has its Spark jobs cancelled
  * (interrupt-on-cancel) and returns the reference's `{"error": …}`
  * envelope instead of wedging a server thread forever — the
  * reference's own 300 s bound on S3 reads (duckdb_rest_server.py:58).
  */
class Engine(val spark: SparkSession, val catalog: SnapshotCatalog,
    val queryBudgetSec: Int = 300) {

  import Engine._

  /** Requests currently inside [[scopedRelease]]. */
  private val activeScopes = new java.util.concurrent.atomic.AtomicInteger(0)
  private val scopeLock = new Object
  /** The persistent-RDD ids live at the last quiescent moment — state
    * that predates the current burst of requests and must survive it
    * (long-lived shared caches an embedding application owns).
    */
  @volatile private var quiescentRdds: Set[Int] =
    graft.core.CacheHygiene.snapshotRdds(spark.sparkContext)

  /** Scoped block-manager release for one served request.
    *
    * `releaseNewSince` frees every persistent RDD created since its
    * snapshot — under CONCURRENT requests that would free another
    * in-flight query's `localCheckpoint` blocks, which (unlike a
    * dropped cache, which lazily recomputes) FAILS that query: a
    * checkpoint block has truncated lineage (the CacheHygiene
    * concurrency contract). So release is deferred to QUIESCENCE: the
    * baseline snapshot is taken when the first request of a burst
    * enters, and the release runs when the last request of the burst
    * exits. Sequential loops (one request at a time) therefore release
    * after every query — exactly the Bench/Verify discipline — while
    * overlapping requests accumulate only for the duration of the
    * overlap. Entry/exit bookkeeping is lock-ordered so a new request
    * can never start creating state while a release is mid-flight.
    */
  private[graft] def scopedRelease[T](body: => T): T = {
    scopeLock.synchronized {
      if (activeScopes.getAndIncrement() == 0)
        quiescentRdds = graft.core.CacheHygiene.snapshotRdds(spark.sparkContext)
    }
    try body
    finally scopeLock.synchronized {
      if (activeScopes.decrementAndGet() == 0)
        graft.core.CacheHygiene.releaseNewSince(
          spark.sparkContext, quiescentRdds, blocking = false)
    }
  }

  /** Run `body`'s Spark jobs under a cancellable job group with a
    * wall-clock budget: a shared daemon watchdog cancels the group
    * (interrupting running tasks) once the budget expires, so the
    * caller gets a SparkException → `{"error": …}` envelope within the
    * budget instead of a wedged thread. Job groups are thread-local
    * properties, so concurrent [[HttpApi]] pool threads don't cancel
    * each other; the group is always cleared on exit (pool threads are
    * reused).
    */
  private def withBudget[T](body: => T): T = {
    val sc = spark.sparkContext
    val group = s"graft-engine-${java.util.UUID.randomUUID().toString.take(8)}"
    sc.setJobGroup(group,
      s"engine query (budget ${queryBudgetSec}s)", interruptOnCancel = true)
    val cancel = Engine.watchdog.schedule(new Runnable {
      def run(): Unit = sc.cancelJobGroup(group)
    }, queryBudgetSec.toLong, java.util.concurrent.TimeUnit.SECONDS)
    try body
    finally {
      cancel.cancel(false)
      sc.clearJobGroup()
    }
  }

  /** The serving wrapper every query-executing entry point uses. */
  private def served(body: => String): String =
    scopedRelease(withBudget(body))

  /** 3.1 — arbitrary SQL pass-through (duckdb_rest_server.py:67-84),
    * default row cap 1000 (line 74). Accepts the reference README's
    * DuckDB dialect via `rewriteDialect`, and resolves snapshot-catalog
    * tables (`ns.tbl`) with manifest pruning — see [[sqlDataFrame]].
    */
  def sqlQuery(sql: String, limit: Int = 1000): String =
    served(envelope(Try(sqlDataFrame(sql)._1.limit(limit))))

  /** The SQL → snapshot-catalog bridge. Parses the query with
    * Catalyst's parser (no regex SQL surgery for table detection),
    * finds `ns.tbl` relations that live in [[SnapshotCatalog]], and for
    * each extracts the conjunctive range predicates sitting directly
    * above the relation (through aliases only — a filter there can
    * only bind to that relation's own columns). The predicate bounds
    * drive manifest file pruning (`prunedFilesRange`), so at 100 TB a
    * `WHERE day = x` touches only the files whose min/max stats
    * intersect — before Spark ever lists or footers them. Equality
    * predicates additionally probe the per-file blooms
    * (`prunedFilesBloom`) when the table declares bloom columns, so a
    * point lookup also skips files whose range merely straddles the
    * key. The original WHERE stays in the query as the residual
    * predicate, so results always equal the unpruned read.
    *
    * Each matched table is registered as a uniquely-named temp view
    * over the (pruned) file list with the table's declared schema
    * (schema evolution: old files null-pad). The substitution happens
    * in the PARSED PLAN — every `UnresolvedRelation` for the table,
    * including ones nested in scalar/EXISTS/IN subquery expressions, is
    * replaced by the view's relation via `transformWithSubqueries`, so
    * string literals and comments containing "ns.tbl" are untouched
    * (no textual rewrite anywhere). The transformed plan is executed
    * with [[org.apache.spark.sql.graft.PlanExec.ofRows]] (eager
    * analysis), after which the views are dropped. Returns the
    * DataFrame plus per-table prune decisions.
    */
  private[graft] def sqlDataFrame(sql0: String): (DataFrame, Seq[Engine.PruneInfo]) = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
    val sql = rewriteGlob(rewriteDialect(sql0))
    // Iceberg partition-spec evolution DDL is extension syntax
    // Spark's parser does not know — intercepted before parsing,
    // like the dialect rewrite
    partitionFieldDdl(sql) match {
      case Some(r) => return r
      case None => ()
    }
    val parsed = Try(spark.sessionState.sqlParser.parsePlan(sql))
    val refs = parsed.map(catalogRefs).getOrElse(Nil)
    val metaRefs = parsed.map(metadataRefs).getOrElse(Nil)
    val ttRefs = parsed.map(timeTravelRefs).getOrElse(Nil)
    val chRefs = parsed.map(changesRefs).getOrElse(Nil)
    // DML first: InsertIntoStatement holds its target relation as a
    // FIELD (only the source query is a child), so the refs walk below
    // cannot see it and the no-refs fall-through would hand the
    // statement to Spark's analyzer, which rejects catalog tables
    parsed.toOption.flatMap(dmlExec) match {
      case Some(dml) => return dml
      case None => ()
    }

    if (refs.isEmpty && metaRefs.isEmpty && ttRefs.isEmpty && chRefs.isEmpty)
      return (spark.sql(sql), Nil)

    parsed.toOption.flatMap(metadataCountFast) match {
      case Some(fast) => return fast
      case None => ()
    }

    // Iceberg-style metadata tables: `ns.tbl.snapshots|files|history|
    // refs` become temp views over SnapshotCatalog.metadataTable
    val metaViews = metaRefs.map { case (ns, t, kind) =>
      val view = Engine.viewName(ns, s"${t}_$kind")
      catalog.metadataTable(ns, t, kind).createOrReplaceTempView(view)
      (ns, t, kind) -> view
    }.toMap
    // SQL time travel: `ns.tbl VERSION AS OF <snapshot_id>` becomes a
    // temp view over the snapshot read (same substitution machinery)
    val ttViews = ttRefs
      .map { case (ns, t, snapId) =>
        val view = Engine.viewName(ns, s"${t}_v$snapId")
        catalog.read(ns, t, Some(snapId)).createOrReplaceTempView(view)
        (ns, t, snapId) -> view
      }.toMap
    // the changelog table function: `changes('ns.tbl', from[, to])`
    // becomes a temp view over readChangelog — the net row-level
    // changes of the window with `_change_type` and `_change_ordinal`
    // columns (a window crossing a compaction decomposes into
    // ordinal-ordered runs around the content-preserving replace
    // snapshot — consumers apply runs in ordinal order), making CDC
    // consumption reachable from the pass-through SQL surface
    val chViews = chRefs.map { case key @ (ns, t, from, to) =>
      val view = Engine.viewName(ns, s"${t}_ch${from}_${to.getOrElse(-1L)}")
      // an open-ended window follows the WAP read redirect: "changes
      // up to now" means the staged head when reads are redirected
      val toResolved = to.orElse(if (wapRead())
        wapBranch().flatMap(catalog.describe(ns, t).refs.get) else None)
      catalog.readChangelog(ns, t, from, toResolved)
        .createOrReplaceTempView(view)
      key -> view
    }.toMap

    // `_file`/`_pos` references (subqueries included), each with its
    // QUALIFIER, plus the alias → relation map — so only the table a
    // qualified metadata column names pays the row-id read path and
    // grows extra view columns; an UNQUALIFIED reference applies to
    // every catalog relation (attribution is the analyzer's job, and
    // ambiguity there is the user's, exactly as for any column)
    val metaColQuals: Seq[Seq[String]] = parsed.toOption.toSeq.flatMap(p =>
      p.collectWithSubqueries { case n => n.expressions }.flatten
        .flatMap(_.collect {
          case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
              if Engine.MetaColNames(
                a.nameParts.last.toLowerCase(java.util.Locale.ROOT)) =>
            a.nameParts.dropRight(1)
              .map(_.toLowerCase(java.util.Locale.ROOT))
        }))
    val aliasOf: Map[String, (String, String)] = parsed.toOption.toSeq
      .flatMap(_.collectWithSubqueries {
        case org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias(id,
            r: UnresolvedRelation) if r.multipartIdentifier.length == 2 =>
          id.name.toLowerCase(java.util.Locale.ROOT) ->
            (r.multipartIdentifier(0).toLowerCase(java.util.Locale.ROOT),
              r.multipartIdentifier(1).toLowerCase(java.util.Locale.ROOT))
      }).toMap
    def wantsMetaColsFor(ns: String, t: String): Boolean = {
      val nsL = ns.toLowerCase(java.util.Locale.ROOT)
      val tL = t.toLowerCase(java.util.Locale.ROOT)
      metaColQuals.exists { q =>
        q.isEmpty || q == Seq(tL) || q == Seq(nsL, tL) ||
          (q.length == 1 && aliasOf.get(q.head).contains((nsL, tL)))
      }
    }

    val views = scala.collection.mutable.Map.empty[(String, String), String]
    val infos = refs.map { ref =>
      val meta = catalog.describe(ref.ns, ref.table)
      val snap = readSnapshot(meta) // WAP read redirect when opted in
      val (files, total) = snap match {
        case None => (Nil, 0)
        case Some(s) => (prunedFilesFor(ref.ns, ref.table, s, ref.bounds),
          s.files.size)
      }
      val schema = catalog.schemaOf(ref.ns, ref.table)
      // Iceberg metadata columns: when the query references `_file` /
      // `_pos`, the view carries each row's physical provenance —
      // served through the row-id read path, so MoR deletes still
      // apply and a deleted row's (file, pos) never surfaces. Scoped
      // to queries that ASK (plain reads stay on the vectorized
      // no-row-id path); note `SELECT *` in such a query sees them
      // too (they are real view columns, unlike Iceberg's hidden ones)
      val wantsMetaCols = wantsMetaColsFor(ref.ns, ref.table)
      val df = snap match {
        case Some(s) if wantsMetaCols =>
          import graft.catalog.SnapshotCatalog.{RowIdFileCol, RowIdPosCol}
          val base = catalog.readFilesWithRowId(s, schema, files,
            meta.fieldIds)
          base.select(schema.fieldNames.map(org.apache.spark.sql
            .functions.col(_)) ++ Seq(
            org.apache.spark.sql.functions.col(RowIdFileCol).as("_file"),
            org.apache.spark.sql.functions.col(RowIdPosCol)
              .cast("long").as("_pos")): _*)
        case Some(s) => catalog.readFilesOf(s, schema, files, meta.fieldIds)
        case None =>
          val sch =
            if (!wantsMetaCols) schema
            else org.apache.spark.sql.types.StructType(schema.fields ++ Seq(
              org.apache.spark.sql.types.StructField("_file",
                org.apache.spark.sql.types.StringType),
              org.apache.spark.sql.types.StructField("_pos",
                org.apache.spark.sql.types.LongType)))
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sch)
      }
      val view = Engine.viewName(ref.ns, ref.table)
      df.createOrReplaceTempView(view)
      views((ref.ns, ref.table)) = view
      Engine.PruneInfo(s"${ref.ns}.${ref.table}", files.size, total)
    }
    import org.apache.spark.sql.catalyst.analysis.RelationTimeTravel
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias, UnresolvedWith}
    // transformDown recurses into the children of UNREPLACED
    // RelationTimeTravel nodes too, so the inner relation must be
    // skipped by identity (a kept-as-written time-travel node must
    // reach Spark's analyzer verbatim)
    val ttInner = parsed.map(ttInnerRelations).getOrElse(
      java.util.Collections.emptySet[UnresolvedRelation]())
    // UnresolvedWith is a UnaryNode: its CTE definitions are NOT in
    // `children`, so the transform recurses into them explicitly
    def substitute(p: LogicalPlan): LogicalPlan = p.transformWithSubqueries {
      case w: UnresolvedWith =>
        w.copy(cteRelations = w.cteRelations.map { case (n, rel, m) =>
          (n, substitute(rel).asInstanceOf[SubqueryAlias], m)
        })
      case rt @ RelationTimeTravel(r: UnresolvedRelation, ts, v) =>
        resolveTimeTravel(r, ts, v) match {
          case Some(key @ (kns, kt, _)) if ttViews.contains(key) =>
            SubqueryAlias(
              org.apache.spark.sql.catalyst.AliasIdentifier(kt, Seq(kns)),
              r.copy(multipartIdentifier = Seq(ttViews(key))))
          case _ => rt // left for Spark to reject as-written
        }
      case tvf: org.apache.spark.sql.catalyst.analysis.UnresolvedTableValuedFunction
          if changesKey(tvf).exists(chViews.contains) =>
        val key = changesKey(tvf).get
        SubqueryAlias(
          org.apache.spark.sql.catalyst.AliasIdentifier("changes",
            Seq(key._1, key._2)),
          UnresolvedRelation(Seq(chViews(key))))
      case r: UnresolvedRelation if !ttInner.contains(r) =>
        r.multipartIdentifier match {
          case Seq(ns, t) if views.contains((ns, t)) =>
            // alias the view back to [ns, t] so `t.col` / `ns.t.col`
            // references in the query still resolve (an explicit
            // user alias parses as its own SubqueryAlias above this
            // one and shadows it, exactly as for a plain table)
            SubqueryAlias(
              org.apache.spark.sql.catalyst.AliasIdentifier(t, Seq(ns)),
              r.copy(multipartIdentifier = Seq(views((ns, t)))))
          case Seq(ns, t, k) if metaViews.contains((ns, t, k)) =>
            SubqueryAlias(
              org.apache.spark.sql.catalyst.AliasIdentifier(k, Seq(ns, t)),
              r.copy(multipartIdentifier = Seq(metaViews((ns, t, k)))))
          case _ => r
        }
    }
    val substituted = substitute(parsed.get)
    try (org.apache.spark.sql.graft.PlanExec.ofRows(spark, substituted), infos)
    finally {
      views.values.foreach(spark.catalog.dropTempView(_))
      metaViews.values.foreach(spark.catalog.dropTempView(_))
      ttViews.values.foreach(spark.catalog.dropTempView(_))
      chViews.values.foreach(spark.catalog.dropTempView(_))
    }
  }

  /** Decode one `changes('ns.tbl', fromSnapshot[, toSnapshot])` table-
    * function reference: (ns, table, from, to) for a literal-argument
    * call on an existing catalog table; anything else is None and the
    * node reaches Spark's own rejection untouched. Window endpoints
    * are snapshot ids, NAMED REFS as string literals (the VERSION
    * AS OF discipline: `changes('db.t', 'nightly-tag')` consumes
    * everything since the tagged audit point), or TIMESTAMPS — a
    * `TIMESTAMP '…'` literal or a 'yyyy-MM-dd HH:mm:ss[.f]' string —
    * resolved to the latest snapshot committed at-or-before (the same
    * rule as `TIMESTAMP AS OF`): the CDC consumer's natural "changes
    * since last night 02:00" is one SQL call, no snapshot-id lookup.
    */
  private def changesKey(
      tvf: org.apache.spark.sql.catalyst.analysis.UnresolvedTableValuedFunction):
      Option[(String, String, Long, Option[Long])] = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, Literal}
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType, TimestampType}
    def tbl(e: Expression): Option[(String, String)] = e match {
      case Literal(s, StringType) if s != null =>
        s.toString.split('.') match {
          case Array(ns, t) if catalog.tableExists(ns, t) => Some((ns, t))
          case _ => None
        }
      case _ => None
    }
    def snap(ns: String, t: String)(e: Expression): Option[Long] = e match {
      case Literal(v: Int, IntegerType) => Some(v.toLong)
      case Literal(v: Long, LongType) => Some(v)
      // TIMESTAMP '…' parses as Cast(string, timestamp) or a resolved
      // timestamp literal depending on the parser path — accept both
      case Cast(Literal(s, StringType), TimestampType, _, _) if s != null =>
        parseSessionTimestampMs(s.toString)
          .flatMap(snapshotAtOrBefore(ns, t, _))
      case Literal(micros: Long, TimestampType) =>
        snapshotAtOrBefore(ns, t, micros / 1000L)
      case Literal(s, StringType) if s != null =>
        val v = s.toString
        val meta = catalog.describe(ns, t)
        val asId = scala.util.Try(v.toLong).toOption
        // numeric strings resolve as a snapshot id only when that id
        // EXISTS; otherwise a ref named like a number still resolves
        // (round-14 VERDICT item 3 — Iceberg shares the ambiguity, the
        // existence check is how both ends stay reachable). A numeric
        // string naming neither stays an id so the downstream
        // no-such-snapshot error names the number the user typed.
        asId.filter(id => meta.snapshots.exists(_.snapshotId == id))
          .orElse(meta.refs.get(v))
          .orElse(asId)
          .orElse(parseSessionTimestampMs(v)
            .flatMap(snapshotAtOrBefore(ns, t, _)))
      case _ => None
    }
    if (tvf.name.map(_.toLowerCase(java.util.Locale.ROOT)) != Seq("changes"))
      None
    else tvf.functionArgs match {
      case Seq(te, fe) => for {
        (ns, t) <- tbl(te); f <- snap(ns, t)(fe)
      } yield (ns, t, f, None)
      case Seq(te, fe, toE) => for {
        (ns, t) <- tbl(te); f <- snap(ns, t)(fe); to <- snap(ns, t)(toE)
      } yield (ns, t, f, Some(to))
      case _ => None
    }
  }

  /** `changes(...)` references in the parsed plan — same subquery/CTE-
    * aware walk as [[metadataRefs]].
    */
  private def changesRefs(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan):
      Seq[(String, String, Long, Option[Long])] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedTableValuedFunction
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnresolvedWith}
    val out = scala.collection.mutable.LinkedHashSet
      .empty[(String, String, Long, Option[Long])]
    def walk(p: LogicalPlan): Unit = p.foreachWithSubqueries {
      case w: UnresolvedWith =>
        w.cteRelations.foreach { case (_, rel, _) => walk(rel) }
      case tvf: UnresolvedTableValuedFunction =>
        changesKey(tvf).foreach(out += _)
      case _ => ()
    }
    walk(plan)
    out.toSeq
  }

  /** Manifest file pruning for one table snapshot under merged
    * predicate bounds — range stats for inequalities, blooms (∩ the
    * hidden-partition value when the spec's transform preserves
    * equality) for point predicates. Conservative by construction:
    * pruning may only ever KEEP extra files, never skip a matching
    * one — which is what lets the DML path reuse it to pick
    * copy-on-write rewrite candidates.
    */
  private[graft] def prunedFilesFor(ns: String, table: String,
      s: graft.catalog.SnapshotCatalog.SnapshotMeta,
      bounds: Seq[Engine.ColBounds]): Seq[String] =
    bounds.foldLeft(s.files) { case (acc, b) =>
      val pruned = b match {
        case Engine.NumBounds(c, lo, hi) => catalog.prunedFilesRange(s, c, lo, hi)
        case Engine.StrBounds(c, lo, hi) => catalog.prunedFilesStringRange(s, c, lo, hi)
        // equality: bloom file skipping, intersected with the
        // hidden-partition value when the table's spec covers the
        // column with an equality-preserving transform (bucket/
        // identity/truncate) — the metadata-only prune blooms
        // can't give when every file's min/max spans the key
        case Engine.EqValue(c, v) =>
          // bloom ∩ per-ERA pval pruning (SnapshotCatalog.prunedFilesIn):
          // each file prunes under the spec it was written with, so
          // equality lookups stay metadata-exact across partition-spec
          // evolutions; a no-op when no era covers the column
          val schema = catalog.schemaOf(ns, table)
          if (!schema.fieldNames.contains(c)) catalog.prunedFilesBloom(s, c, v)
          else catalog.prunedFilesIn(s, c, Seq(v), schema(c).dataType)
      }
      acc.intersect(pruned)
    }

  /** SQL DDL + DML on snapshot-catalog tables — CREATE / CTAS / DROP /
    * INSERT / DELETE / UPDATE / MERGE routed to the catalog's commit
    * primitives (an extension beyond the reference, whose DuckDB
    * pass-through accepts DDL/DML on ITS in-memory tables — parity for
    * the catalog surface):
    *
    *  - `CREATE TABLE ns.tbl (cols…) [IF NOT EXISTS] [PARTITIONED BY
    *    (transform)]` and `CREATE TABLE ns.tbl [PARTITIONED BY …] AS
    *    <query>` → [[SnapshotCatalog.createTable]] (+ one append
    *    snapshot for CTAS); a single supported transform maps to the
    *    hidden partition.spec ([[Engine.partitionSpecString]]),
    *    multi-transform clauses fall through. `DROP TABLE [IF EXISTS]
    *    ns.tbl` → pointer removed first, then the tree reclaimed.
    *    `ALTER TABLE ns.tbl ADD COLUMNS (…) | RENAME COLUMN a TO b |
    *    DROP COLUMN [IF EXISTS] a` → metadata-only schema-evolution
    *    commits (field-id discipline: old files resolve by id, dropped
    *    ids are never reused; the BACKWARD gate rejects duplicates/
    *    type changes).
    *  - `INSERT INTO ns.tbl [(cols…)] <query>` → positional alignment
    *    (an explicit column list binds positionally, unnamed columns
    *    null-pad), cast to declared types, one atomic append snapshot;
    *    `INSERT OVERWRITE` replaces the manifest in the same atomic
    *    commit. Static-partition clauses fall through.
    *  - `DELETE FROM ns.tbl WHERE c` → candidate files picked by the
    *    SAME manifest range/bloom pruning the read path uses
    *    ([[prunedFilesFor]] over [[Engine.extractBounds]]); the write
    *    path follows `write.delete.mode` — merge-on-read commits a
    *    positional delete file (data files untouched), copy-on-write
    *    rewrites candidates with `NOT c`, unset picks by matched
    *    fraction. At 100 TB a key-clustered retention delete touches
    *    boundary files only.
    *  - `UPDATE ns.tbl SET col = expr, … [WHERE c]` → same candidate
    *    pruning; all assignments evaluate against the PRE-update row
    *    (cast back to declared types); `write.update.mode =
    *    merge-on-read` commits delete-entries + updated versions in
    *    one atomic snapshot instead of rewriting.
    *  - `MERGE INTO ns.tbl t USING <src> s ON t.k = s.k …` → the
    *    whole-row `UPDATE SET * / INSERT *` shape rides
    *    [[SnapshotCatalog.upsert]] (key-range-pruned copy-on-write);
    *    every other supported shape — conditional WHEN MATCHED
    *    UPDATE/DELETE, SET subsets, INSERT column lists, NOT MATCHED
    *    BY SOURCE — runs through [[mergeGeneral]]'s single-join
    *    cascade. The source is any relation the stock analyzer
    *    resolves (parquet.`…`, VALUES, subqueries); the ON condition
    *    must equate one same-named column.
    *
    * Every statement commits ONE atomic snapshot and returns a 1-row
    * summary frame (operation, target, rows_affected, files_rewritten,
    * files_total, delete_files_written, bytes_rewritten, snapshot_id)
    * that renders through the normal records envelope. The maintenance
    * tier is also reachable as `CALL system.<proc>(…)` ([[callExec]]).
    * Unsupported DML shapes return None and fall through to Spark's
    * own rejection — never a silent partial apply.
    */
  /** Validate-and-retry for plan-outside-lock rewrites: a concurrent
    * commit between candidate selection and the rewrite makes the
    * plan stale (rows may have moved into unexamined files), the
    * catalog refuses, and the statement re-plans from the new
    * snapshot — bounded attempts, then the conflict surfaces as the
    * error envelope rather than a lost update.
    */
  private def retryConcurrent[T](body: => T): T = {
    var attempts = 0
    var out: Option[T] = None
    while (out.isEmpty) {
      try out = Some(body)
      catch {
        case e: java.util.ConcurrentModificationException =>
          attempts += 1
          if (attempts >= 3) throw e
      }
    }
    out.get
  }

  /** The 1-row DML/DDL result frame every statement renders through
    * the records envelope. `delete_files_written` / `bytes_rewritten`
    * make the merge-on-read-vs-copy-on-write choice OBSERVABLE per
    * statement: MoR commits report the delete file and zero rewritten
    * bytes, CoW reports the candidate files' input bytes — the number
    * an operator watches to know which write path a 100 TB DML took.
    */
  /** The session's WRITE-AUDIT-PUBLISH branch for DML (the Iceberg
    * `spark.wap.branch` discipline, round 15): while
    * `SET graft.wap.branch = <name>` is in effect, every
    * DELETE/UPDATE/MERGE/INSERT against a catalog table READS the
    * branch's state and COMMITS by moving only the branch ref — the
    * published pointer (and every plain SELECT) is untouched until
    * `CALL system.fast_forward('ns.tbl', '<name>')` publishes the
    * audited result in one pointer move. The branch is auto-created at
    * the current snapshot on first use (Iceberg's branch-on-first-write
    * behavior); clear with `SET graft.wap.branch = ''` (quote pairs are
    * unquoted — see [[Engine.stripQuotePair]]) or `RESET`. Reads are
    * NOT redirected by default — audit the staged state explicitly via
    * `VERSION AS OF '<name>'`, which is what keeps the blast radius of
    * a session-level switch write-only; opt in to Iceberg's
    * read-follows-branch parity with `SET graft.wap.read = true`
    * ([[readSnapshot]]).
    */
  private def wapBranch(): Option[String] =
    spark.conf.getOption(Engine.WapBranchConf)
      .map(v => Engine.stripQuotePair(v.trim)).filter(_.nonEmpty)

  /** The session's staged-commit id (Iceberg's `spark.wap.id` flavor
    * of write-audit-publish): while `SET graft.wap.id = <id>` is in
    * effect, every DML stages onto the internal ref
    * `wap.id.<id>` instead of the published pointer — same staging
    * machinery as the branch flavor, so expiry retains the staged
    * chain while the ref holds. Publish with
    * `CALL system.publish_changes('ns.tbl', '<id>')`, which
    * cherry-picks the staged snapshot onto the CURRENT head (a pure
    * pointer move when the table hasn't moved; a metadata-only
    * re-attach of the appended files when it has — the case
    * `fast_forward` refuses) and drops the ref. Unlike the branch
    * flavor, reads are NEVER redirected under a wap.id (Iceberg
    * parity: only `wap.branch` participates in read redirection) —
    * audit via `VERSION AS OF 'wap.id.<id>'`.
    */
  private def wapId(): Option[String] =
    spark.conf.getOption(Engine.WapIdConf)
      .map(v => Engine.stripQuotePair(v.trim)).filter(_.nonEmpty)

  /** The DML staging target: the WAP branch, or the wap.id-derived
    * internal ref. Setting both is a contradiction (which staged
    * lineage would the DML belong to?) and is refused, as in Iceberg.
    */
  private def wapTarget(): Option[String] = (wapBranch(), wapId()) match {
    case (Some(b), Some(id)) => throw new IllegalArgumentException(
      s"both ${Engine.WapBranchConf} ('$b') and ${Engine.WapIdConf} " +
        s"('$id') are set — clear one before writing")
    case (b, id) => b.orElse(id.map(Engine.WapIdRefPrefix + _))
  }

  /** Opt-in WAP read redirection ([[Engine.WapReadConf]], Iceberg
    * `spark.wap.branch` read parity): true iff the session asked for
    * reads to follow the staged branch.
    */
  private def wapRead(): Boolean =
    spark.conf.getOption(Engine.WapReadConf)
      .map(v => Engine.stripQuotePair(v.trim))
      .exists(_.equalsIgnoreCase("true"))

  /** The snapshot a plain SELECT resolves: the WAP branch head when
    * read redirection is on AND the branch exists (a branch never
    * written to yet falls back to published — Iceberg's behavior),
    * else the published current snapshot.
    */
  private def readSnapshot(
      meta: graft.catalog.SnapshotCatalog.TableMeta):
      Option[graft.catalog.SnapshotCatalog.SnapshotMeta] = {
    val staged =
      if (!wapRead()) None
      else wapBranch().flatMap(meta.refs.get)
        .flatMap(id => meta.snapshots.find(_.snapshotId == id))
    staged.orElse(meta.currentSnapshot)
  }

  /** The snapshot a DML statement plans against: the WAP branch head
    * (auto-created at current on first use) or the current snapshot.
    */
  private def dmlBase(ns: String, t: String,
      meta: graft.catalog.SnapshotCatalog.TableMeta):
      Option[graft.catalog.SnapshotCatalog.SnapshotMeta] =
    wapTarget() match {
      case Some(b) =>
        val m =
          if (meta.refs.contains(b)) meta
          else if (meta.currentSnapshotId.isEmpty) meta // nothing to branch
          else try catalog.createBranch(ns, t, b, None)
          catch {
            // a concurrent session under the same WAP branch won the
            // check-then-create race — its branch is ours too
            case _: IllegalArgumentException => catalog.describe(ns, t)
          }
        m.refs.get(b).flatMap(id => m.snapshots.find(_.snapshotId == id))
      case None => meta.currentSnapshot
    }

  /** `ALTER TABLE ns.tbl ADD PARTITION FIELD <transform>` /
    * `DROP PARTITION FIELD <transform>` /
    * `REPLACE PARTITION FIELD <old> WITH <new>` — Iceberg's
    * partition-spec evolution DDL. Spec evolution is METADATA-ONLY:
    * the `partition.spec` property changes in one commit; every
    * existing file keeps pruning under the spec it was written with
    * (the per-file [[graft.catalog.SnapshotCatalog.FileStats.pspec]]
    * era discipline) and only new writes partition under the new
    * spec — no data is rewritten, which is what makes re-partitioning
    * a 100 TB table a pointer-sized operation. A bare column is
    * `identity(col)`; Iceberg's singular `day/month/hour` spellings
    * normalize to the catalog grammar. The catalog supports ONE
    * partition field, so ADD refuses on an already-partitioned table
    * (use REPLACE) and DROP/REPLACE must name the current spec —
    * a typo can never silently de-partition the wrong field.
    */
  private def partitionFieldDdl(
      sql: String): Option[(DataFrame, Seq[Engine.PruneInfo])] = {
    val pk = graft.catalog.PartitionSpec.PropertyKey
    def norm(raw: String, ns: String, t: String): String = {
      val FnRe = raw"(?s)^([A-Za-z_]+)\s*\(\s*(.*?)\s*\)$$".r
      val s = raw.trim.replace("`", "") match {
        case FnRe(fn, args) =>
          val f = fn.toLowerCase(java.util.Locale.ROOT) match {
            case "day" => "days"
            case "month" => "months"
            case "hour" => "hours"
            case x => x
          }
          s"$f($args)"
        case c => s"identity($c)"
      }
      val spec = graft.catalog.PartitionSpec.parse(s) // grammar gate
      require(catalog.schemaOf(ns, t).fieldNames.contains(spec.column),
        s"no column ${spec.column} in $ns.$t")
      s
    }
    def cur(ns: String, t: String): Option[String] =
      catalog.describe(ns, t).properties.get(pk)
        .map(_.trim).filter(_.nonEmpty)
    def same(a: String, b: String): Boolean =
      graft.catalog.PartitionSpec.parse(a) ==
        graft.catalog.PartitionSpec.parse(b)
    def done(ns: String, t: String) = {
      val total = catalog.describe(ns, t).currentSnapshot
        .map(_.files.size).getOrElse(0)
      Some(summary("ALTER", ns, t, 0L, 0, total))
    }
    sql match {
      case Engine.ReplacePartitionFieldRe(ns, t, oldF, newF)
          if catalog.tableExists(ns, t) =>
        val o = norm(oldF, ns, t)
        val n = norm(newF, ns, t)
        require(cur(ns, t).exists(same(_, o)),
          s"$ns.$t's current partition field is " +
            s"${cur(ns, t).getOrElse("<none>")}, not $o")
        catalog.updateProperties(ns, t, Map(pk -> n))
        done(ns, t)
      case Engine.AddDropPartitionFieldRe(ns, t, verb, f)
          if catalog.tableExists(ns, t) =>
        val s = norm(f, ns, t)
        if (verb.equalsIgnoreCase("ADD")) {
          cur(ns, t).foreach(c => throw new IllegalArgumentException(
            s"$ns.$t already declares partition field $c — one field " +
              "is supported; use REPLACE PARTITION FIELD"))
          catalog.updateProperties(ns, t, Map(pk -> s))
        } else {
          require(cur(ns, t).exists(same(_, s)),
            s"$ns.$t's current partition field is " +
              s"${cur(ns, t).getOrElse("<none>")}, not $s")
          catalog.removeProperties(ns, t, Seq(pk))
        }
        done(ns, t)
      case _ => None
    }
  }

  private def summary(op: String, ns: String, t: String, affected: Long,
      rewritten: Int, total: Int, deleteFilesWritten: Long = 0L,
      bytesRewritten: Long = 0L): (DataFrame, Seq[Engine.PruneInfo]) = {
    import org.apache.spark.sql.functions.lit
    // the table may be gone (DROP) or never have existed (DROP IF
    // EXISTS on a missing table) — no snapshot to report then; under a
    // WAP branch the statement's own commit is the BRANCH head
    val snapId =
      if (!catalog.tableExists(ns, t)) -1L
      else {
        val m = catalog.describe(ns, t)
        wapTarget().flatMap(m.refs.get)
          .orElse(m.currentSnapshotId).getOrElse(-1L)
      }
    // single row, SINGLE partition: bare range(1) inherits
    // defaultParallelism partitions, so every DML summary paid a
    // 32-task job at local[32] just to render one JSON row (round-16
    // JobProfile: 8 × ~50 ms per lifecycle query)
    val df = spark.range(0L, 1L, 1L, 1).select(
      lit(op).as("operation"), lit(s"$ns.$t").as("target"),
      lit(affected).as("rows_affected"),
      lit(rewritten).as("files_rewritten"), lit(total).as("files_total"),
      lit(deleteFilesWritten).as("delete_files_written"),
      lit(bytesRewritten).as("bytes_rewritten"),
      lit(snapId).as("snapshot_id"))
    (df, Seq(Engine.PruneInfo(s"$ns.$t", rewritten, total)))
  }

  private def dmlExec(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan):
      Option[(DataFrame, Seq[Engine.PruneInfo])] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
    import org.apache.spark.sql.catalyst.expressions.{EqualTo, Expression, Literal}
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.functions.{coalesce, col, lit, not, when}
    import org.apache.spark.sql.graft.PlanExec

    def relOf(p: LogicalPlan): Option[(String, String)] = p match {
      case SubqueryAlias(_, c) => relOf(c)
      case r: UnresolvedRelation => r.multipartIdentifier match {
        case Seq(ns, t) if catalog.tableExists(ns, t) => Some((ns, t))
        case _ => None
      }
      case _ => None
    }

    // DDL identifiers (CREATE targets don't exist yet, so this keys on
    // the 2-part shape alone — the bridge's namespace.table convention)
    def idOf(p: LogicalPlan): Option[(String, String)] = p match {
      case org.apache.spark.sql.catalyst.analysis.UnresolvedIdentifier(
          Seq(ns, t), _) => Some((ns, t))
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedTableOrView =>
        u.multipartIdentifier match {
          case Seq(ns, t) => Some((ns, t))
          case _ => None
        }
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedTable =>
        u.multipartIdentifier match {
          case Seq(ns, t) => Some((ns, t))
          case _ => None
        }
      case _ => None
    }

    /** Candidate files + read frame (aliased as the table name so
      * `tbl.col` references in conditions resolve) for one rewrite,
      * plus the snapshot the plan was made against — handed to
      * [[SnapshotCatalog.rewriteFiles]] as its optimistic-concurrency
      * guard. Under a WAP branch ([[wapBranch]]) the plan reads the
      * BRANCH head — branch DML reads its own staged state.
      */
    def candidates(ns: String, t: String, cond: Expression) = {
      val schema = catalog.schemaOf(ns, t)
      val tMeta = catalog.describe(ns, t)
      val snap = dmlBase(ns, t, tMeta)
      val bounds = Engine.extractBounds(cond, schema)
      val files = snap.map(s => prunedFilesFor(ns, t, s, bounds)).getOrElse(Nil)
      val total = snap.map(_.files.size).getOrElse(0)
      val df = snap match {
        case Some(s) => catalog.readFilesOf(s, schema, files, tMeta.fieldIds)
        case None => spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      }
      (files, total, df.as(t), snap)
    }

    plan match {
      case DeleteFromTable(rel, cond) =>
        relOf(rel).map { case (ns, t) =>
          retryConcurrent {
            // SQL DELETE removes rows where the predicate is TRUE only:
            // not(NULL) is NULL (filtered away), so without the coalesce
            // a `WHERE x > 5` would silently destroy every NULL-x row —
            // and not count it in rows_affected. Coalescing BOTH sides
            // keeps delete-set and count provably the same rows.
            val c = coalesce(PlanExec.columnOf(cond), lit(false))
            val (files, total, _, snap) = candidates(ns, t, cond)
            snap match {
              case None => summary("DELETE", ns, t, 0L, 0, total)
              case Some(s) =>
                // ONE scan of the candidate files serves both the
                // matched count and the delete-file write (round 16):
                // the matched row identities persist as a tiny
                // (file, pos) frame, so the count's job caches them
                // and addDeleteFile writes from the cache instead of
                // re-scanning the candidates — the old shape paid the
                // filter scan twice per MoR DELETE. `matched` reads
                // through readFilesWithRowId, i.e. LIVE rows only, so
                // its count equals the old readFilesOf-based count.
                val matched = catalog
                  .readFilesWithRowId(s, catalog.schemaOf(ns, t), files,
                    catalog.describe(ns, t).fieldIds)
                  .as(t).filter(c)
                  .select(SnapshotCatalog.RowIdFileCol,
                    SnapshotCatalog.RowIdPosCol)
                  .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
                try {
                  val affected = matched.count()
                  if (affected == 0) summary("DELETE", ns, t, 0L, 0, total)
                  else {
                    // Write-path choice (Iceberg v2's write.delete.mode):
                    // merge-on-read commits a positional delete file and
                    // leaves every data file byte-identical — O(matched)
                    // write IO; copy-on-write rewrites the candidate files.
                    // Unset = auto by matched fraction of the CANDIDATE
                    // files' rows (from the manifest, no extra scan): small
                    // deletes shouldn't rewrite whole files, big ones
                    // shouldn't accrete a delete side larger than the
                    // rewrite it avoids.
                    val mode = catalog.describe(ns, t).properties
                      .get(SnapshotCatalog.DeleteModeProp)
                    val candRows =
                      files.flatMap(f => s.fileStats.find(_.path == f))
                        .map(_.rows).sum
                    val useMor = mode match {
                      case Some("merge-on-read") => true
                      case Some("copy-on-write") => false
                      case _ => candRows > 0 && affected <=
                        (SnapshotCatalog.MorAutoFraction * candRows).toLong
                    }
                    if (useMor) {
                      val (_, wrote) = catalog.addDeleteFile(ns, t, matched,
                        Some(s.snapshotId), toBranch = wapTarget())
                      summary("DELETE", ns, t, affected, 0, total,
                        deleteFilesWritten = if (wrote > 0) 1 else 0)
                    } else {
                      catalog.rewriteFiles(ns, t, files,
                        d => d.as(t).filter(not(c)), Some(s.snapshotId),
                        toBranch = wapTarget())
                      summary("DELETE", ns, t, affected, files.size, total,
                        bytesRewritten = Engine.bytesOf(files))
                    }
                  }
                } finally matched.unpersist()
            }
          }
        }

      case UpdateTable(rel, assignments, condition) =>
        for {
          (ns, t) <- relOf(rel)
          // every assignment key must be a bare column of this table
          names <- Some(assignments.map(_.key)).collect {
            case ks if ks.forall {
              case UnresolvedAttribute(Seq(n)) =>
                catalog.schemaOf(ns, t).fieldNames.contains(n)
              case _ => false
            } => ks.map { case UnresolvedAttribute(Seq(n)) => n }
          }
          // duplicate assignment targets are ambiguous — reject (as
          // standard SQL does) instead of silently picking one
          if names.distinct.size == names.size
        } yield retryConcurrent {
          val schema = catalog.schemaOf(ns, t)
          val cond: Expression = condition.getOrElse(Literal(true))
          val c = PlanExec.columnOf(cond)
          val (files, total, df, snap) = candidates(ns, t, cond)
          val snapId = snap.map(_.snapshotId)
          val byName = names.zip(
            assignments.map(a => PlanExec.columnOf(a.value))).toMap
          // write.update.mode = merge-on-read: ONE atomic commit hides
          // the matched rows positionally and appends their updated
          // versions — O(matched) write IO, old data files untouched.
          // Default (unset / copy-on-write): rewrite candidate files.
          val mor = catalog.describe(ns, t).properties
            .get("write.update.mode").contains("merge-on-read")
          if (mor && snap.isDefined) {
            val s = snap.get
            // ONE scan serves the matched count, the positional delete
            // write AND the updated-rows write (round 16): the matched
            // rows persist once; the old shape scanned the candidates
            // three times per MoR UPDATE (count, positions, updates)
            val withId = catalog.readFilesWithRowId(s, schema, files,
              catalog.describe(ns, t).fieldIds).as(t)
            val matched = withId.filter(c)
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            try {
              val affected = matched.count()
              if (affected == 0) summary("UPDATE", ns, t, 0L, 0, total)
              else {
                val positions = matched.select(SnapshotCatalog.RowIdFileCol,
                  SnapshotCatalog.RowIdPosCol)
                // all assignments against the PRE-update row, one projection
                val updated = matched.select(schema.fields.map { f =>
                  byName.get(f.name) match {
                    case Some(v) => v.cast(f.dataType).as(f.name)
                    case None => col(f.name)
                  }
                }.toSeq: _*)
                val (_, delWrote) = catalog.addDeleteFileWithAppend(
                  ns, t, positions, updated, Some(s.snapshotId),
                  toBranch = wapTarget())
                summary("UPDATE", ns, t, affected, 0, total,
                  deleteFilesWritten = if (delWrote > 0) 1 else 0)
              }
            } finally matched.unpersist()
          } else {
            val affected = df.filter(c).count()
            if (affected > 0) {
              catalog.rewriteFiles(ns, t, files, { d0 =>
                val d = d0.as(t)
                // ONE simultaneous projection: standard SQL evaluates
                // every assignment RHS against the PRE-update row, so
                // `SET a = a + 1, b = a` gives b the ORIGINAL a — a
                // sequential withColumn chain would leak a's new value
                d.select(schema.fields.map { f =>
                  byName.get(f.name) match {
                    case Some(v) =>
                      when(c, v.cast(f.dataType)).otherwise(col(f.name)).as(f.name)
                    case None => col(f.name)
                  }
                }.toSeq: _*)
              }, snapId, toBranch = wapTarget())
            }
            summary("UPDATE", ns, t, affected,
              if (affected > 0) files.size else 0, total,
              bytesRewritten =
                if (affected > 0) Engine.bytesOf(files) else 0L)
          }
        }

      case CreateTable(nameP, columns, partitioning, tableSpec,
          ignoreIfExists) =>
        for {
          (ns, t) <- idOf(nameP)
          // PARTITIONED BY maps to the catalog's hidden-partitioning
          // property; an unmappable clause falls through to rejection
          specOpt <- Engine.partitionSpecString(partitioning)
        } yield {
          val exists = catalog.tableExists(ns, t)
          if (exists && !ignoreIfExists)
            throw new IllegalArgumentException(s"table $ns.$t already exists")
          if (!exists) {
            val schema = org.apache.spark.sql.types.StructType(
              columns.map(_.toV1Column))
            // TBLPROPERTIES land on the table (they were silently
            // dropped before, which made SHOW CREATE TABLE's output
            // recreate a DIFFERENT physical layout); an explicit
            // PARTITIONED BY clause wins over a spec property, and
            // write.order is validated here like at ALTER time
            val declared = tableSpec.properties
            declared.get(graft.catalog.SnapshotCatalog.WriteOrderProp)
              .foreach(o => graft.catalog.SnapshotCatalog
                .parseWriteOrder(o, schema): Unit)
            catalog.createTable(ns, t, schema,
              declared ++ specOpt.map(s => Map(
                graft.catalog.PartitionSpec.PropertyKey -> s))
                .getOrElse(Map.empty))
          }
          summary("CREATE", ns, t, 0L, 0, 0)
        }

      case c: CreateTableAsSelect =>
        for {
          (ns, t) <- idOf(c.name)
          specOpt <- Engine.partitionSpecString(c.partitioning)
        } yield {
          val exists = catalog.tableExists(ns, t)
          if (exists && !c.ignoreIfExists)
            throw new IllegalArgumentException(s"table $ns.$t already exists")
          if (exists) summary("CREATE", ns, t, 0L, 0, 0) // IF NOT EXISTS no-op
          else {
            val src = PlanExec.ofRows(spark, c.query)
            catalog.createTable(ns, t, src.schema,
              specOpt.map(s => Map(
                graft.catalog.PartitionSpec.PropertyKey -> s))
                .getOrElse(Map.empty))
            // rows_affected from the COMMITTED snapshot's file stats —
            // the source plan executes exactly once (the write, which
            // splits into value-pure partition files under a spec), so
            // a non-deterministic query (rand(), unordered LIMIT) can
            // never disagree with the data it actually committed
            val snap = catalog.append(ns, t, src).currentSnapshot
            summary("CTAS", ns, t, snap.map(_.rowCount).getOrElse(0L), 0,
              snap.map(_.files.size).getOrElse(0))
          }
        }

      // `[CREATE OR] REPLACE TABLE … AS SELECT` — RTAS: content AND
      // declared schema replace in one commit, history retained (see
      // SnapshotCatalog.replaceTable for the field-id discipline that
      // keeps pre-replace time travel meaningful). Declared layout
      // properties / PARTITIONED BY land first as a metadata commit,
      // so the replace itself writes under the NEW spec era.
      case r: org.apache.spark.sql.catalyst.plans.logical.ReplaceTableAsSelect =>
        for {
          (ns, t) <- idOf(r.name)
          specOpt <- Engine.partitionSpecString(r.partitioning)
        } yield {
          val exists = catalog.tableExists(ns, t)
          if (!exists && !r.orCreate)
            throw new IllegalArgumentException(
              s"table $ns.$t does not exist — use CREATE OR REPLACE TABLE")
          val src = PlanExec.ofRows(spark, r.query)
          val declared = r.tableSpec.properties
          declared.get(graft.catalog.SnapshotCatalog.WriteOrderProp)
            .foreach(o => graft.catalog.SnapshotCatalog
              .parseWriteOrder(o, src.schema): Unit)
          val layout = declared ++ specOpt.map(s => Map(
            graft.catalog.PartitionSpec.PropertyKey -> s))
            .getOrElse(Map.empty)
          if (!exists) {
            catalog.createTable(ns, t, src.schema, layout)
            val snap = catalog.append(ns, t, src).currentSnapshot
            summary("CTAS", ns, t, snap.map(_.rowCount).getOrElse(0L), 0,
              snap.map(_.files.size).getOrElse(0))
          } else {
            if (layout.nonEmpty) catalog.updateProperties(ns, t, layout)
            val snap = catalog.replaceTable(ns, t, src).currentSnapshot
            summary("RTAS", ns, t, snap.map(_.rowCount).getOrElse(0L), 0,
              snap.map(_.files.size).getOrElse(0))
          }
        }

      case AddColumns(tbl, cols)
          if cols.forall(c => c.path.isEmpty && c.position.isEmpty &&
            c.default.isEmpty) =>
        for {
          (ns, t) <- idOf(tbl)
          if catalog.tableExists(ns, t)
        } yield {
          catalog.addColumns(ns, t, cols.map(c =>
            org.apache.spark.sql.types.StructField(
              c.colName, c.dataType, nullable = true)))
          val total = catalog.describe(ns, t).currentSnapshot
            .map(_.files.size).getOrElse(0)
          summary("ALTER", ns, t, 0L, 0, total)
        }

      // `ALTER TABLE … ALTER COLUMN c TYPE t` — safe type promotion
      // (metadata-only; see SnapshotCatalog.promoteColumnType). Only
      // pure TYPE changes are claimed; comment/position/default forms
      // fall through to Spark's own (failing) resolution.
      case org.apache.spark.sql.catalyst.plans.logical.AlterColumns(tbl, specs)
          if specs.forall(s => s.newDataType.isDefined &&
            s.newNullability.isEmpty && s.newComment.isEmpty &&
            s.newPosition.isEmpty && s.newDefaultExpression.isEmpty &&
            !s.dropDefault) =>
        for {
          (ns, t) <- idOf(tbl)
          if catalog.tableExists(ns, t)
          names <- Some(specs.map(_.column match {
            case org.apache.spark.sql.catalyst.analysis
              .UnresolvedFieldName(Seq(n)) => Some(n)
            case _ => None // nested fields fall through
          })).filter(_.forall(_.isDefined)).map(_.flatten)
        } yield {
          // ONE commit for the whole column list — a later column's
          // unsafe promotion must not leave earlier ones durably
          // applied behind an error return
          catalog.promoteColumnTypes(ns, t,
            names.zip(specs).map { case (n, s) =>
              n -> s.newDataType.get
            }): Unit
          val total = catalog.describe(ns, t).currentSnapshot
            .map(_.files.size).getOrElse(0)
          summary("ALTER", ns, t, 0L, 0, total)
        }

      case RenameColumn(tbl, colF, newName) =>
        for {
          (ns, t) <- idOf(tbl)
          if catalog.tableExists(ns, t)
          from <- colF match {
            case org.apache.spark.sql.catalyst.analysis
              .UnresolvedFieldName(Seq(n)) => Some(n)
            case _ => None // nested fields fall through
          }
        } yield {
          catalog.renameColumn(ns, t, from, newName)
          val total = catalog.describe(ns, t).currentSnapshot
            .map(_.files.size).getOrElse(0)
          summary("ALTER", ns, t, 0L, 0, total)
        }

      case DropColumns(tbl, colFs, ifExists) =>
        for {
          (ns, t) <- idOf(tbl)
          if catalog.tableExists(ns, t)
          names <- Some(colFs.map {
            case org.apache.spark.sql.catalyst.analysis
              .UnresolvedFieldName(Seq(n)) => Some(n)
            case _ => None
          }).filter(_.forall(_.isDefined)).map(_.flatten)
        } yield {
          names.foreach { n =>
            if (catalog.schemaOf(ns, t).fieldNames.contains(n))
              catalog.dropColumn(ns, t, n): Unit
            else if (!ifExists)
              throw new IllegalArgumentException(s"no column $n in $ns.$t")
          }
          val total = catalog.describe(ns, t).currentSnapshot
            .map(_.files.size).getOrElse(0)
          summary("ALTER", ns, t, 0L, 0, total)
        }

      // `ALTER TABLE … SET TBLPROPERTIES (…)` / `UNSET TBLPROPERTIES
      // [IF EXISTS] (…)`: the knobs that pick write paths
      // (write.delete.mode/write.update.mode/write.merge.mode), bloom
      // columns, and the hidden partition spec become SQL-reachable —
      // metadata-only commits, the updateProperties discipline
      case SetTableProperties(tbl, props) =>
        idOf(tbl).filter { case (ns, t) => catalog.tableExists(ns, t) }
          .map { case (ns, t) =>
            // write.order is validated at DDL time (column exists,
            // clusterable type) — Iceberg refuses an invalid sort
            // order at declaration, and a garbage property must never
            // land where every later write/rewrite would trip on it
            props.get(graft.catalog.SnapshotCatalog.WriteOrderProp)
              .foreach(o => graft.catalog.SnapshotCatalog
                .parseWriteOrder(o, catalog.schemaOf(ns, t)): Unit)
            catalog.updateProperties(ns, t, props)
            val total = catalog.describe(ns, t).currentSnapshot
              .map(_.files.size).getOrElse(0)
            summary("ALTER", ns, t, 0L, 0, total)
          }

      case UnsetTableProperties(tbl, keys, ifExists) =>
        idOf(tbl).filter { case (ns, t) => catalog.tableExists(ns, t) }
          .map { case (ns, t) =>
            catalog.removeProperties(ns, t, keys, ifExists)
            val total = catalog.describe(ns, t).currentSnapshot
              .map(_.files.size).getOrElse(0)
            summary("ALTER", ns, t, 0L, 0, total)
          }

      case TruncateTable(child) =>
        idOf(child).filter { case (ns, t) => catalog.tableExists(ns, t) }
          .map { case (ns, t) =>
            // one atomic empty-manifest snapshot: rows vanish, history
            // stays time-travelable until expired (Iceberg TRUNCATE)
            val before = catalog.describe(ns, t).currentSnapshot
              .flatMap(_.statsRowCount).getOrElse(-1L)
            val schema = catalog.schemaOf(ns, t)
            catalog.overwrite(ns, t, spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema))
            summary("TRUNCATE", ns, t, before, 0, 0)
          }

      case DescribeRelation(rel, partSpec, _, _) if partSpec.isEmpty =>
        idOf(rel).filter { case (ns, t) => catalog.tableExists(ns, t) }
          .map { case (ns, t) =>
            // the standard 3-column DESCRIBE shape over the declared
            // schema (the SQL twin of the HTTP describeTable endpoint)
            import spark.implicits._
            val df = catalog.schemaOf(ns, t).fields.toSeq
              .map(f => (f.name, f.dataType.simpleString,
                f.getComment().getOrElse("")))
              .toDF("col_name", "data_type", "comment")
            (df, Seq(Engine.PruneInfo(s"$ns.$t", 0, 0)))
          }

      case org.apache.spark.sql.catalyst.plans.logical.ShowCreateTable(
          rel, _, _) =>
        idOf(rel).filter { case (ns, t) => catalog.tableExists(ns, t) }
          .map { case (ns, t) =>
            // the reproducible-DDL surface (Spark's 1-row
            // createtab_stmt shape): declared schema + every table
            // property, so a table's layout contract (write.order,
            // partition spec, write modes) is copy-paste recreatable
            import spark.implicits._
            val meta = catalog.describe(ns, t)
            val cols = catalog.schemaOf(ns, t).fields
              .map(f => s"  ${f.name} ${f.dataType.sql}")
              .mkString(",\n")
            val props = meta.properties.toSeq.sortBy(_._1)
              .map { case (k, v) => s"  '$k' = '$v'" }.mkString(",\n")
            val stmt = s"CREATE TABLE $ns.$t (\n$cols)" +
              (if (props.isEmpty) ""
               else s"\nTBLPROPERTIES (\n$props)")
            (Seq(stmt).toDF("createtab_stmt"),
              Seq(Engine.PruneInfo(s"$ns.$t", 0, 0)))
          }

      case org.apache.spark.sql.catalyst.plans.logical.ShowTableProperties(
          rel, key, _) =>
        idOf(rel).filter { case (ns, t) => catalog.tableExists(ns, t) }
          .map { case (ns, t) =>
            import spark.implicits._
            val props = catalog.describe(ns, t).properties
            val rows = key match {
              case Some(k) => Seq(k -> props.getOrElse(k,
                s"Table $ns.$t does not have property: $k"))
              case None => props.toSeq.sortBy(_._1)
            }
            (rows.toDF("key", "value"),
              Seq(Engine.PruneInfo(s"$ns.$t", 0, 0)))
          }

      case ShowTables(
          org.apache.spark.sql.catalyst.analysis.UnresolvedNamespace(
            Seq(ns), _), pattern, _) if catalog.listNamespaces().contains(ns) =>
        Some {
          import spark.implicits._
          // Spark's SHOW TABLES LIKE glob semantics ('|'-alternation,
          // '*' wildcard, everything else LITERAL, case-insensitive —
          // StringUtils.filterPattern): literal segments are
          // regex-quoted so 't.' can't match 'tx' and '+'/'(' can't
          // throw PatternSyntaxException
          def globMatch(t: String, p: String): Boolean =
            p.split("\\|").exists { sub =>
              val regex = sub.trim.split("\\*", -1)
                .map(java.util.regex.Pattern.quote).mkString(".*")
              t.matches("(?i)" + regex)
            }
          val names = catalog.listTables(ns)
            .filter(t => pattern.forall(globMatch(t, _)))
          (names.map(t => (ns, t, false))
            .toDF("namespace", "tableName", "isTemporary"),
            Seq.empty[Engine.PruneInfo])
        }

      case DropTable(child, ifExists, _) =>
        idOf(child).flatMap { case (ns, t) =>
          if (catalog.tableExists(ns, t)) {
            catalog.dropTable(ns, t)
            Some(summary("DROP", ns, t, 0L, 0, 0))
          } else if (ifExists) Some(summary("DROP", ns, t, 0L, 0, 0))
          else None // fall through to Spark's missing-table rejection
        }

      case i: InsertIntoStatement
          if i.partitionSpec.isEmpty && !i.ifPartitionNotExists =>
        relOf(i.table).map { case (ns, t) =>
          val schema = catalog.schemaOf(ns, t)
          val src = PlanExec.ofRows(spark, i.query)
          val aligned = i.userSpecifiedCols match {
            case Seq() =>
              require(src.columns.length == schema.fields.length,
                s"INSERT INTO $ns.$t: ${src.columns.length} columns for " +
                  s"${schema.fields.length}-column table")
              // positional semantics: rename by position, then cast to
              // the declared types
              src.toDF(schema.fieldNames.toSeq: _*)
                .select(schema.fields.map(f =>
                  col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)
            case cols =>
              // explicit column list: the query's columns bind to the
              // NAMED table columns positionally; unnamed columns
              // null-pad (standard SQL)
              require(cols.length == src.columns.length,
                s"INSERT INTO $ns.$t: column list names ${cols.length} " +
                  s"columns but the query produces ${src.columns.length}")
              require(cols.distinct.length == cols.length,
                s"INSERT INTO $ns.$t: duplicate column in the list")
              cols.foreach(c => require(schema.fieldNames.contains(c),
                s"INSERT INTO $ns.$t: unknown column '$c'"))
              val named = cols.toSet
              src.toDF(cols: _*).select(schema.fields.map(f =>
                (if (named(f.name)) col(f.name) else lit(null))
                  .cast(f.dataType).as(f.name)).toSeq: _*)
          }
          // one execution: the commit's snapshot records the row count
          // of exactly the files it committed (CTAS-note semantics);
          // OVERWRITE replaces the manifest in the same atomic commit
          val wb = wapTarget()
          // nonempty table: ensure the branch exists (auto-create at
          // current); empty table: the staged commit bootstraps the
          // ref itself with the current pointer left at None
          wb.foreach(_ => dmlBase(ns, t, catalog.describe(ns, t)): Unit)
          val newMeta = (i.overwrite, wb) match {
            case (true, Some(b)) => catalog.overwrite(ns, t, aligned,
              toBranch = Some(b))
            case (true, None) => catalog.overwrite(ns, t, aligned)
            case (false, Some(b)) => catalog.appendToBranch(ns, t, b, aligned)
            case (false, None) => catalog.append(ns, t, aligned)
          }
          val snap = wb.flatMap(b => newMeta.refs.get(b)
              .flatMap(id => newMeta.snapshots.find(_.snapshotId == id)))
            .orElse(newMeta.currentSnapshot)
          summary(if (i.overwrite) "INSERT OVERWRITE" else "INSERT",
            ns, t, snap.map(_.rowCount).getOrElse(0L), 0,
            snap.map(_.files.size).getOrElse(0))
        }

      // Iceberg-style MAINTENANCE PROCEDURES (`CALL system.<proc>(…)`):
      // the table-service tier reachable from the pass-through SQL
      // surface, like Spark-Iceberg's system procedures. Each runs one
      // catalog primitive and renders a 1-row report through the
      // records envelope. Positional literal args only; anything else
      // falls through to Spark's rejection.
      case org.apache.spark.sql.catalyst.plans.logical.Call(
          org.apache.spark.sql.catalyst.analysis.UnresolvedProcedure(nameParts),
          args, _) =>
        callExec(nameParts, args)

      case m: MergeIntoTable =>
        val upsertShape =
          m.matchedActions.toList.collect {
            case UpdateStarAction(None) => ()
          }.size == 1 && m.matchedActions.size == 1 &&
          m.notMatchedActions.toList.collect {
            case InsertStarAction(None) => ()
          }.size == 1 && m.notMatchedActions.size == 1 &&
          m.notMatchedBySourceActions.isEmpty
        def sharedKey(cond: Expression): Option[String] = cond match {
          case EqualTo(a: UnresolvedAttribute, b: UnresolvedAttribute)
              if a.nameParts.last == b.nameParts.last =>
            Some(a.nameParts.last)
          case _ => None
        }
        for {
          (ns, t) <- relOf(m.targetTable)
          key <- sharedKey(m.mergeCondition)
          schema = catalog.schemaOf(ns, t)
          if schema.fieldNames.contains(key)
          result <-
            if (upsertShape) Some {
              // whole-row upsert fast path: no join machinery, the
              // catalog's key-range-pruned copy-on-write upsert.
              // localCheckpoint: the source is materialized ONCE and
              // both the count and the upsert read the same rows — a
              // re-executed non-deterministic plan could otherwise
              // commit different rows than it counted (truncated
              // lineage fails rather than silently recomputing; freed
              // at request quiescence)
              val src = PlanExec.ofRows(spark, m.sourceTable)
                .select(schema.fields.map(f =>
                  col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)
                .localCheckpoint()
              val affected = src.count()
              val tMeta = catalog.describe(ns, t)
              val wb = wapTarget()
              val base = dmlBase(ns, t, tMeta)
              val totalBefore = base.map(_.files.size).getOrElse(0)
              // write.merge.mode=merge-on-read: a whole-row upsert IS
              // the CDC commit shape — one atomic snapshot of an
              // equality delete over the batch's keys plus the batch
              // as new data files, ZERO existing data read or
              // rewritten (the cdcUpsert path q58 proves)
              if (tMeta.properties.get("write.merge.mode")
                    .contains("merge-on-read") &&
                  base.isDefined) {
                val eqBefore = base.map(_.eqDeletes.size).getOrElse(0)
                val newMeta = catalog.cdcUpsert(ns, t, src,
                  deletes = src.select(col(key)).limit(0), Seq(key),
                  toBranch = wb)
                // derived from the COMMITTED snapshot's eqDeletes delta
                // — an empty batch drops its empty delete parquet and
                // commits zero entries, and the summary must say so
                val committed = wb.flatMap(b => newMeta.refs.get(b)
                    .flatMap(id => newMeta.snapshots.find(_.snapshotId == id)))
                  .orElse(newMeta.currentSnapshot)
                val eqAfter = committed.map(_.eqDeletes.size).getOrElse(0)
                summary("MERGE", ns, t, affected, 0, totalBefore,
                  deleteFilesWritten = (eqAfter - eqBefore).toLong)
              } else {
                // files_rewritten = the files the key-range pruning
                // actually selected, not the whole table — the
                // observable write-amplification number the other
                // summaries report
                val (_, touched) =
                  catalog.upsertCounted(ns, t, src, key, toBranch = wb)
                summary("MERGE", ns, t, affected, touched, totalBefore)
              }
            }
            else mergeGeneral(m, ns, t, key)
        } yield result

      case _ => None
    }
  }

  /** `CALL system.<proc>('ns.tbl', …)` — the maintenance surface as
    * SQL procedures (the Spark-Iceberg `system.*` convention, rebuilt
    * on the snapshot catalog):
    *
    *  - `rewrite_data_files('ns.tbl'[, min_file_bytes[, target_file_bytes]][, 'c1,c2'])`
    *    → [[SnapshotCatalog.compactFileGroups]] (per-group, dirty-bytes
    *    cost; the report's numbers land in the result row). A trailing
    *    sort-spec string is Iceberg's SORT strategy: one deliberate
    *    whole-table Z-order rewrite by the named columns; without it
    *    the routine bin-pack still clusters its own rewritten group
    *    when the table declares `write.order`
    *    ([[SnapshotCatalog.WriteOrderProp]]);
    *  - `expire_snapshots('ns.tbl', keep_last[, older_than])` —
    *    `older_than` (epoch millis or a 'yyyy-MM-dd HH:mm:ss[.f]'
    *    session-timezone string) makes expiry AGE-based with
    *    `keep_last` as the retained floor, Iceberg's operative knob;
    *  - `remove_orphan_files('ns.tbl'[, older_than])` — the default
    *    applies the in-flight-write safety window; an explicit
    *    `older_than` forces the sweep;
    *  - `rollback_to_snapshot('ns.tbl', snapshot_id)` — the target
    *    must be a current ANCESTOR (Iceberg's contract);
    *    `set_current_snapshot('ns.tbl', snapshot_id)` — the deliberate
    *    any-snapshot override; `rollback_to_timestamp('ns.tbl', ts)` —
    *    the latest ancestor at or before the timestamp;
    *  - `cherrypick_snapshot('ns.tbl', snapshot_id)` →
    *    [[SnapshotCatalog.cherrypick]] (pointer move when the parent
    *    is current; metadata-only re-attach for appends on a moved
    *    head); `publish_changes('ns.tbl', 'wap_id')` — the wap.id
    *    publish: cherry-pick the single staged snapshot, drop the
    *    staging ref;
    *  - `ancestors_of('ns.tbl'[, snapshot_id])` — multi-row lineage
    *    report (snapshot_id, made_current_at);
    *  - `maintain('ns.tbl', keep_last, target_files[, older_than])` —
    *    the composed nightly pass;
    *  - `create_tag('ns.tbl', 'name')` / `create_branch('ns.tbl', 'name')`
    *    / `fast_forward('ns.tbl', 'branch')` (WAP publish);
    *  - `drop_branch('ns.tbl', 'name')` / `drop_tag('ns.tbl', 'name')` —
    *    kind-checked removal; a dropped branch's staged snapshots
    *    become expirable (`expire_snapshots` reclaims them and their
    *    manifests once unpinned);
    *  - `rewrite_position_delete_files('ns.tbl')` →
    *    [[SnapshotCatalog.rewriteDeleteFiles]] — the delete-side-only
    *    maintenance pass (consolidate positional delete files, drop
    *    dangling entries, convert equality deletes to exact positions;
    *    zero data bytes moved);
    *  - `add_files('ns.tbl', '/path | dir | glob | parquet.`/path`')`
    *    → [[SnapshotCatalog.addFiles]] — zero-copy adoption of
    *    existing parquet as one append snapshot (name-mapped to field
    *    ids, stats collected; the catalog never takes ownership of the
    *    external bytes);
    *  - `snapshot('ns.src', 'ns.dst')` →
    *    [[SnapshotCatalog.snapshotTable]] — zero-copy table FORK:
    *    `dst` is created referencing `src`'s current state (delete
    *    side included) in one metadata commit; fully isolated, never
    *    owns the source bytes.
    *
    * The `system` qualifier is optional. Unknown procedures or
    * non-literal args return None → Spark's own rejection.
    */
  private def callExec(nameParts: Seq[String],
      args: Seq[org.apache.spark.sql.catalyst.expressions.Expression]):
      Option[(DataFrame, Seq[Engine.PruneInfo])] = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.functions.lit
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
    def str(e: org.apache.spark.sql.catalyst.expressions.Expression): Option[String] =
      e match {
        case Literal(s, StringType) if s != null => Some(s.toString)
        case _ => None
      }
    def num(e: org.apache.spark.sql.catalyst.expressions.Expression): Option[Long] =
      e match {
        case Literal(v: Int, IntegerType) => Some(v.toLong)
        case Literal(v: Long, LongType) => Some(v)
        case _ => None
      }
    def tbl(e: org.apache.spark.sql.catalyst.expressions.Expression): Option[(String, String)] =
      str(e).flatMap(_.split('.') match {
        case Array(ns, t) if catalog.tableExists(ns, t) => Some((ns, t))
        case _ => None
      })
    // optional trailing older_than: epoch millis, or a session-timezone
    // 'yyyy-MM-dd HH:mm:ss[.f]' string. Some(None) = absent,
    // Some(Some(ms)) = parsed, None = unparseable → Spark's rejection.
    def olderArg(
        rest: Seq[org.apache.spark.sql.catalyst.expressions.Expression]):
        Option[Option[Long]] = rest.headOption match {
      case None => Some(None)
      case Some(e) =>
        num(e).orElse(str(e).flatMap(parseSessionTimestampMs)) match {
          case Some(ms) => Some(Some(ms))
          case None => None
        }
    }
    def report(ns: String, t: String, kvs: (String, Any)*): (DataFrame, Seq[Engine.PruneInfo]) = {
      val snapId = catalog.describe(ns, t).currentSnapshotId.getOrElse(-1L)
      val cols = lit(s"$ns.$t").as("target") +:
        kvs.map { case (k, v) => lit(v).as(k) } :+ lit(snapId).as("snapshot_id")
      // 1 partition: see summary() — a 1-row report must not fan out
      (spark.range(0L, 1L, 1L, 1).select(cols: _*), Nil)
    }
    // rewrite_data_files' numeric thresholds + optional trailing sort
    // spec — ONE parse shared by the match guard and the body, so
    // validation and extraction can never desynchronize
    def rewriteArgs(
        rest: Seq[org.apache.spark.sql.catalyst.expressions.Expression]):
        Option[(Seq[Long], Option[String])] = {
      val (nums, tail) = rest.span(num(_).isDefined)
      if (rest.size <= 3 && nums.size <= 2 && tail.size <= 1 &&
          tail.forall(str(_).isDefined))
        Some((nums.flatMap(num), tail.headOption.flatMap(str)))
      else None
    }
    val proc = nameParts.map(_.toLowerCase(java.util.Locale.ROOT)) match {
      case Seq("system", p) => p
      case Seq(p) => p
      case _ => return None
    }
    (proc, args) match {
      case ("rewrite_data_files", (te +: rest))
          if rewriteArgs(rest).isDefined =>
        tbl(te).map { case (ns, t) =>
          val (nums, sortSpec) = rewriteArgs(rest).get
          // a trailing 'c1,c2' string is Iceberg's sort strategy: the
          // WHOLE table re-clusters by the named columns (Z-order) in
          // one deliberate pass; without it the rewrite is the routine
          // dirty-bytes bin-pack (which still Z-orders its own group
          // when the table declares 'write.order')
          val sortCols = sortSpec
            .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
            .getOrElse(Nil)
          val r = catalog.compactFileGroups(ns, t,
            minFileBytes = nums.lift(0)
              .getOrElse(SnapshotCatalog.DefaultMinFileBytes),
            targetFileBytes = nums.lift(1)
              .getOrElse(SnapshotCatalog.DefaultTargetFileBytes),
            clusterBy = sortCols, fullRewrite = sortCols.nonEmpty)
          report(ns, t, "operation" -> "rewrite_data_files",
            "rewritten_files" -> r.rewrittenFiles,
            "untouched_files" -> r.untouchedFiles,
            "new_files" -> r.newFiles,
            "bytes_rewritten" -> r.bytesRewritten,
            "delete_files_folded" ->
              (r.posDeleteFilesFolded + r.eqDeleteFilesFolded).toLong)
        }
      case ("snapshot", Seq(se, de)) if str(de).isDefined =>
        // zero-copy table fork (Iceberg's snapshot procedure): the
        // destination must NOT exist — parsed by hand, tbl() requires
        // existence
        tbl(se).flatMap { case (sns, st) =>
          str(de).get.split('.') match {
            case Array(dns, dt) =>
              catalog.snapshotTable(sns, st, dns, dt)
              Some(report(dns, dt, "operation" -> "snapshot",
                "source" -> s"$sns.$st",
                "referenced_data_files" ->
                  catalog.describe(dns, dt).currentSnapshot
                    .map(_.files.size.toLong).getOrElse(0L)))
            case _ => None
          }
        }
      case ("add_files", Seq(te, pe)) if str(pe).isDefined =>
        // zero-copy import of existing parquet (Iceberg's add_files):
        // accepts a plain path/dir/glob or the Spark-procedure
        // `parquet.`/path`` source_table form
        tbl(te).map { case (ns, t) =>
          val raw = str(pe).get.trim
          val src =
            if (raw.toLowerCase(java.util.Locale.ROOT)
                .startsWith("parquet.`") && raw.endsWith("`"))
              raw.substring("parquet.`".length, raw.length - 1)
            else raw
          val r = catalog.addFiles(ns, t, src)
          report(ns, t, "operation" -> "add_files",
            "added_data_files" -> r.addedFiles.toLong,
            "added_rows" -> r.addedRows)
        }
      case ("rewrite_position_delete_files", Seq(te)) =>
        // the delete-side-only maintenance pass: consolidates
        // positional delete files, drops dangling entries, converts
        // equality deletes to exact positions — ZERO data bytes moved
        tbl(te).map { case (ns, t) =>
          val r = catalog.rewriteDeleteFiles(ns, t)
          report(ns, t, "operation" -> "rewrite_position_delete_files",
            "delete_files_before" -> r.deleteFilesBefore,
            "delete_files_after" -> r.deleteFilesAfter,
            "entries_before" -> r.entriesBefore,
            "entries_after" -> r.entriesAfter,
            "eq_delete_files_converted" -> r.eqDeleteFilesConverted)
        }
      case ("expire_snapshots", te +: ke +: rest) if rest.size <= 1 =>
        // older_than = Iceberg's operative retention knob; keep_last
        // stays the floor
        for { (ns, t) <- tbl(te); k <- num(ke); o <- olderArg(rest) } yield {
          val bm = catalog.describe(ns, t)
          catalog.expireSnapshots(ns, t, k.toInt, o)
          val am = catalog.describe(ns, t)
          report(ns, t, "operation" -> "expire_snapshots",
            "expired" -> (bm.snapshots.size - am.snapshots.size).toLong,
            "retained" -> am.snapshots.size.toLong,
            // history.expire.max-ref-age-ms at work (observable, so an
            // operator sees WHICH expiry run dropped an aged ref)
            "refs_aged_out" -> (bm.refs.size - am.refs.size).toLong)
        }
      case ("remove_orphan_files", te +: rest) if rest.size <= 1 =>
        // the DEFAULT applies the safety window (a fresh unreferenced
        // file may be a concurrent writer's in-flight output)
        for { (ns, t) <- tbl(te); o <- olderArg(rest) } yield {
          val removed = catalog.removeOrphanFiles(ns, t, o)
          report(ns, t, "operation" -> "remove_orphan_files",
            "removed" -> removed.size.toLong)
        }
      case ("rollback_to_snapshot", Seq(te, se)) =>
        for { (ns, t) <- tbl(te); id <- num(se) } yield {
          // Iceberg contract: rollback targets an ANCESTOR of the
          // current snapshot — pointing at an abandoned fork is
          // set_current_snapshot, a different deliberate act
          require(catalog.isCurrentAncestor(ns, t, id),
            s"snapshot $id is not an ancestor of $ns.$t's current " +
              "snapshot — use set_current_snapshot to point at an " +
              "arbitrary snapshot")
          catalog.rollback(ns, t, id)
          report(ns, t, "operation" -> "rollback_to_snapshot")
        }
      case ("set_current_snapshot", Seq(te, se)) =>
        for { (ns, t) <- tbl(te); id <- num(se) } yield {
          catalog.rollback(ns, t, id)
          report(ns, t, "operation" -> "set_current_snapshot")
        }
      case ("rollback_to_timestamp", Seq(te, tse)) =>
        for { (ns, t) <- tbl(te)
              ms <- num(tse).orElse(str(tse).flatMap(parseSessionTimestampMs))
            } yield {
          val id = catalog.snapshotIdAsOf(ns, t, ms).getOrElse(
            throw new IllegalArgumentException(
              s"no ancestor snapshot of $ns.$t at or before $ms"))
          catalog.rollback(ns, t, id)
          report(ns, t, "operation" -> "rollback_to_timestamp",
            "rolled_back_to" -> id)
        }
      case ("cherrypick_snapshot", Seq(te, se)) =>
        for { (ns, t) <- tbl(te); id <- num(se) } yield {
          catalog.cherrypick(ns, t, id)
          report(ns, t, "operation" -> "cherrypick_snapshot",
            "source_snapshot_id" -> id)
        }
      case ("publish_changes", Seq(te, we)) =>
        // the wap.id publish: cherry-pick the single staged snapshot
        // onto the current head, then drop the staging ref so expiry
        // can reclaim the chain
        for { (ns, t) <- tbl(te); w <- str(we) } yield {
          val ref = Engine.WapIdRefPrefix + w
          val m = catalog.describe(ns, t)
          val head = m.refs.getOrElse(ref,
            throw new IllegalArgumentException(
              s"no staged changes under wap.id '$w' in $ns.$t"))
          val hs = m.snapshots.find(_.snapshotId == head).get
          // crash-retry idempotency: if the staged snapshot is ALREADY
          // in the published lineage (a prior publish committed the
          // cherry-pick but died before dropping the staging ref),
          // complete the publish by finishing the ref drop instead of
          // refusing — the exact recovery isPublished exists for
          if (catalog.isPublished(ns, t, head)) {
            catalog.dropRef(ns, t, ref)
            report(ns, t, "operation" -> "publish_changes",
              "wap_id" -> w, "published_snapshot_id" -> head)
          } else {
          // ONE snapshot per wap.id (the Iceberg cherry-pick contract):
          // everything beneath the staged head must already be
          // published, or the publish would silently skip it. The two
          // ways the parent stops being a current ancestor — a stacked
          // multi-commit stage, or main rolled back below the fork —
          // are topologically identical from here, so the message
          // names both remedies instead of guessing a diagnosis.
          require(hs.parentId.forall(p =>
              catalog.isCurrentAncestor(ns, t, p)),
            s"cannot publish wap.id '$w' on $ns.$t: the staged " +
              "snapshot's parent is not an ancestor of the current " +
              "head — either more than one snapshot was staged under " +
              "this id (publish the multi-commit audit with a wap " +
              "branch + fast_forward) or main was rolled back below " +
              "the fork point (re-stage, or cherrypick_snapshot " +
              "explicitly)")
          catalog.cherrypick(ns, t, head)
          catalog.dropRef(ns, t, ref)
          report(ns, t, "operation" -> "publish_changes",
            "wap_id" -> w, "staged_snapshot_id" -> head)
          }
        }
      case ("ancestors_of", te +: rest)
          if rest.size <= 1 && rest.forall(num(_).isDefined) =>
        // multi-row lineage report (Iceberg's ancestors_of): the
        // parentId chain from the given snapshot (default current)
        tbl(te).map { case (ns, t) =>
          val m = catalog.describe(ns, t)
          val start = rest.headOption.flatMap(num)
            .orElse(m.currentSnapshotId)
          // an unknown explicit id is an ERROR, not an empty lineage —
          // "no ancestors" must never be how a typo reads during an
          // expiry/rollback audit (every sibling procedure throws too)
          start.filterNot(id => m.snapshots.exists(_.snapshotId == id))
            .foreach(id => throw new IllegalArgumentException(
              s"no snapshot $id in $ns.$t"))
          val chain = start.map(id =>
            catalog.ancestorChain(m.snapshots, id)).getOrElse(Seq.empty)
          val rows = chain.map(s =>
            (s.snapshotId, new java.sql.Timestamp(s.createdAtMs)))
          import spark.implicits._
          (rows.toDF("snapshot_id", "made_current_at"), Nil)
        }
      case ("maintain", te +: ke +: fe +: rest) if rest.size <= 1 =>
        for {
          (ns, t) <- tbl(te); k <- num(ke); f <- num(fe); o <- olderArg(rest)
        } yield {
          val r = catalog.maintain(ns, t, k.toInt, f.toInt,
            olderThanMs = o)
          report(ns, t, "operation" -> "maintain",
            "compacted" -> r.compacted,
            "files_before" -> r.filesBefore.toLong,
            "files_after" -> r.filesAfter.toLong,
            "snapshots_after" -> r.snapshotsAfter.toLong,
            "orphans_removed" -> r.orphansRemoved.toLong)
        }
      case ("create_tag", Seq(te, ne)) =>
        for { (ns, t) <- tbl(te); n <- str(ne) } yield {
          catalog.createTag(ns, t, n, None)
          report(ns, t, "operation" -> "create_tag", "ref" -> n)
        }
      case ("create_branch", Seq(te, ne)) =>
        for { (ns, t) <- tbl(te); n <- str(ne) } yield {
          catalog.createBranch(ns, t, n, None)
          report(ns, t, "operation" -> "create_branch", "ref" -> n)
        }
      case ("fast_forward", Seq(te, ne)) =>
        for { (ns, t) <- tbl(te); n <- str(ne) } yield {
          catalog.publish(ns, t, n)
          report(ns, t, "operation" -> "fast_forward", "ref" -> n)
        }
      // branch/tag REMOVAL (round 16): without these, an abandoned WAP
      // branch pins its staged snapshot chain forever (expiry retains
      // every ref'd snapshot). Kind-checked like Iceberg's procedures:
      // drop_branch refuses a tag and vice versa, so a typo can never
      // silently unpin the wrong kind of ref.
      case ("drop_branch", Seq(te, ne)) =>
        for { (ns, t) <- tbl(te); n <- str(ne) } yield {
          val m = catalog.describe(ns, t)
          require(!m.tagNames.contains(n),
            s"'$n' is a tag in $ns.$t — use drop_tag")
          catalog.dropRef(ns, t, n)
          report(ns, t, "operation" -> "drop_branch", "ref" -> n)
        }
      case ("drop_tag", Seq(te, ne)) =>
        for { (ns, t) <- tbl(te); n <- str(ne) } yield {
          val m = catalog.describe(ns, t)
          require(m.tagNames.contains(n),
            s"'$n' is not a tag in $ns.$t — use drop_branch")
          catalog.dropRef(ns, t, n)
          report(ns, t, "operation" -> "drop_tag", "ref" -> n)
        }
      case _ => None
    }
  }

  /** General copy-on-write MERGE, for the shapes beyond the whole-row
    * upsert fast path: conditional `WHEN MATCHED [AND c] THEN UPDATE
    * SET col = expr, …` (subset assignments) and `THEN DELETE`,
    * conditional `WHEN NOT MATCHED [AND c] THEN INSERT (cols…) VALUES
    * …` / `INSERT *` (unnamed columns null-pad), and `WHEN NOT MATCHED
    * BY SOURCE THEN UPDATE/DELETE`. Clause cascade follows the SQL
    * rule: per row, the FIRST clause (in statement order) whose
    * condition is TRUE fires; no firing clause keeps a matched/
    * by-source row and drops a not-matched source row. Assignment RHS
    * and clause conditions are arbitrary expressions over the
    * statement's own target/source aliases.
    *
    * Execution is ONE full-outer join between the key-range-pruned
    * target files (merge-on-read deletes applied) and the
    * once-materialized source, projected through per-field
    * when-cascades — a single pass emits updated, carried, and
    * inserted rows together; untouched files carry by reference
    * (the [[SnapshotCatalog.rewriteFiles]] discipline, optimistic
    * validate-and-retry included). With notMatchedBySourceActions
    * present every file is a rewrite target (such a row can live
    * anywhere); otherwise only key-range-intersecting files rewrite —
    * the same file-level write amplification as the fast path.
    * Unsupported action shapes return None and fall through to Spark's
    * rejection — never a silent partial apply.
    */
  private def mergeGeneral(
      m: org.apache.spark.sql.catalyst.plans.logical.MergeIntoTable,
      ns: String, t: String, key: String):
      Option[(DataFrame, Seq[Engine.PruneInfo])] = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.Expression
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.functions.{coalesce, col, lit, sum, when}
    import org.apache.spark.sql.graft.PlanExec

    val schema = catalog.schemaOf(ns, t)

    def aliasOf(p: LogicalPlan, fallback: String): String = p match {
      case SubqueryAlias(id, _) => id.name
      case _ => fallback
    }
    val tAlias = aliasOf(m.targetTable, t)
    val sAlias = aliasOf(m.sourceTable, "__graft_src")

    // a NULL clause condition must not fire the clause (SQL TRUE-only)
    def condOf(c: Option[Expression]): Column =
      c.map(e => coalesce(PlanExec.columnOf(e), lit(false))).getOrElse(lit(true))
    def colNameOf(e: Expression): Option[String] = e match {
      case UnresolvedAttribute(Seq(n)) if schema.fieldNames.contains(n) => Some(n)
      case UnresolvedAttribute(Seq(q, n))
          if q == tAlias && schema.fieldNames.contains(n) => Some(n)
      case _ => None
    }
    def compileAssigns(as: Seq[Assignment]): Option[Map[String, Column]] = {
      val named = as.map(a => colNameOf(a.key).map(_ -> PlanExec.columnOf(a.value)))
      if (named.exists(_.isEmpty)) None
      else {
        val kv = named.flatten
        if (kv.map(_._1).distinct.size != kv.size) None // dup targets
        else Some(kv.toMap)
      }
    }
    val starFromSource: Map[String, Column] =
      schema.fieldNames.map(n => n -> col(s"$sAlias.$n")).toMap

    case class CAct(cond: Column, isDelete: Boolean, values: Map[String, Column])
    def compileMatched(a: MergeAction): Option[CAct] = a match {
      case DeleteAction(c) => Some(CAct(condOf(c), isDelete = true, Map.empty))
      case UpdateAction(c, as, _) =>
        compileAssigns(as).map(CAct(condOf(c), isDelete = false, _))
      case UpdateStarAction(c) =>
        Some(CAct(condOf(c), isDelete = false, starFromSource))
      case _ => None
    }
    def compileInsert(a: MergeAction): Option[CAct] = a match {
      case InsertAction(c, as) =>
        compileAssigns(as).map(CAct(condOf(c), isDelete = false, _))
      case InsertStarAction(c) =>
        Some(CAct(condOf(c), isDelete = false, starFromSource))
      case _ => None
    }
    def compileBySource(a: MergeAction): Option[CAct] = a match {
      case DeleteAction(c) => Some(CAct(condOf(c), isDelete = true, Map.empty))
      case UpdateAction(c, as, _) =>
        compileAssigns(as).map(CAct(condOf(c), isDelete = false, _))
      case _ => None
    }
    def all[A](xs: Seq[Option[A]]): Option[Seq[A]] =
      if (xs.exists(_.isEmpty)) None else Some(xs.flatten)

    for {
      mActs <- all(m.matchedActions.map(compileMatched))
      iActs <- all(m.notMatchedActions.map(compileInsert))
      nActs <- all(m.notMatchedBySourceActions.map(compileBySource))
    } yield retryConcurrent {
      val meta = catalog.describe(ns, t)
      // under a WAP branch the MERGE reads and commits the BRANCH state
      val wb = wapTarget()
      val current = dmlBase(ns, t, meta)
      val total = current.map(_.files.size).getOrElse(0)
      // once-materialized source (the upsert fast path's discipline)
      val src = PlanExec.ofRows(spark, m.sourceTable).localCheckpoint()
      def keyPruned(s: SnapshotCatalog.SnapshotMeta): Seq[String] =
        if (!src.columns.contains(key)) s.files
        else schema(key).dataType match {
          case org.apache.spark.sql.types.StringType =>
            val b = src.agg(org.apache.spark.sql.functions.min(col(key)),
              org.apache.spark.sql.functions.max(col(key))).head()
            if (b.isNullAt(0)) Nil
            else catalog.prunedFilesStringRange(s, key,
              Some(b.getString(0)), Some(b.getString(1)))
          case _ =>
            val b = src.agg(
              org.apache.spark.sql.functions.min(col(key)).cast("double"),
              org.apache.spark.sql.functions.max(col(key)).cast("double")).head()
            if (b.isNullAt(0)) Nil
            else catalog.prunedFilesRange(s, key,
              Some(b.getDouble(0)), Some(b.getDouble(1)))
        }
      val touched: Seq[String] = current match {
        case None => Nil
        // a not-matched-by-source row can live in ANY file
        case Some(s) if nActs.nonEmpty => s.files
        case Some(s) => keyPruned(s)
      }
      // target rows carry their (file, position) identity: the MERGE
      // cardinality check needs a per-target-row grain, and the
      // merge-on-read write path needs the positions themselves
      val tgt0 = current match {
        case Some(s) =>
          catalog.readFilesWithRowId(s, schema, touched, meta.fieldIds)
        case None => spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(schema.fields ++ Seq(
            org.apache.spark.sql.types.StructField(
              SnapshotCatalog.RowIdFileCol,
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField(
              SnapshotCatalog.RowIdPosCol,
              org.apache.spark.sql.types.LongType))))
      }
      val tgt = tgt0.withColumn("__t_present", lit(true)).as(tAlias)
      val srcA = src.withColumn("__s_present", lit(true)).as(sAlias)
      // the join feeds up to three actions (cardinality+affected
      // counts, the delete positions, the new rows) — persist so the
      // full-outer join materializes ONCE per statement; spill-safe,
      // and released in the finally (plus the request's scopedRelease
      // backstop)
      val joined = tgt.join(srcA,
          PlanExec.columnOf(m.mergeCondition), "full_outer")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
      val tP = coalesce(col("__t_present"), lit(false))
      val sP = coalesce(col("__s_present"), lit(false))
      val mFlag = tP && sP
      val tOnly = tP && !sP
      // first-TRUE-clause cascade: reverse fold nests the FIRST action
      // outermost, so earlier clauses shadow later ones (the SQL rule)
      def cascade(actions: Seq[CAct], base: String => Column):
          (String => Column, Column, Column) = {
        val drop = actions.reverse.foldLeft(lit(false)) { (els, a) =>
          when(a.cond, lit(a.isDelete)).otherwise(els) }
        val hit = actions.reverse.foldLeft(lit(false)) { (els, a) =>
          when(a.cond, lit(true)).otherwise(els) }
        val vf = (f: String) => actions.reverse.foldLeft(base(f)) { (els, a) =>
          when(a.cond, a.values.getOrElse(f, base(f))).otherwise(els) }
        (vf, drop, hit)
      }
      val tBase = (f: String) => col(s"$tAlias.$f")
      val nullBase = (_: String) => lit(null)
      val (mVf, mDrop, mHit) = cascade(mActs, tBase)
      val (nVf, nDrop, nHit) = cascade(nActs, tBase)
      val (iVf, _, iHit) = cascade(iActs, nullBase)
      val keep = when(mFlag, !mDrop).when(tOnly, !nDrop).otherwise(iHit)
      val outCols = schema.fields.map { f =>
        when(mFlag, mVf(f.name)).when(tOnly, nVf(f.name))
          .otherwise(iVf(f.name)).cast(f.dataType).as(f.name)
      }.toSeq
      val rif = col(SnapshotCatalog.RowIdFileCol)
      val rip = col(SnapshotCatalog.RowIdPosCol)
      // rows a clause actually fired on (target files immutable + src
      // checkpointed ⇒ this pass and the write see the same rows) —
      // plus, in the SAME pass, the MERGE cardinality check: matched
      // join rows vs DISTINCT matched target identities. A target row
      // matched by >1 source rows would be updated/duplicated once per
      // copy — standard SQL, Spark, and Iceberg all raise instead.
      val cnt = joined.agg(
        sum(when(mFlag && mHit, 1L).otherwise(0L)),
        sum(when(tOnly && nHit, 1L).otherwise(0L)),
        sum(when(!tP && sP && iHit, 1L).otherwise(0L)),
        sum(when(mFlag, 1L).otherwise(0L)),
        org.apache.spark.sql.functions.countDistinct(
          when(mFlag, org.apache.spark.sql.functions.struct(rif, rip)))).head()
      def cell(i: Int): Long = if (cnt.isNullAt(i)) 0L else cnt.getLong(i)
      // cardinality is only a violation when a matched/by-source
      // clause could act on the duplicated row — standard SQL, Spark,
      // and Iceberg all PERMIT insert-only MERGE over a many-to-one
      // ON condition (the kept target row is simply emitted once)
      val insertOnly = mActs.isEmpty && nActs.isEmpty
      if (!insertOnly && cell(3) != cell(4))
        throw new IllegalStateException(
          "MERGE_CARDINALITY_VIOLATION: the ON condition matched " +
            s"${cell(3)} source rows onto ${cell(4)} distinct target rows " +
            s"of $ns.$t — a target row must match at most one source row")
      val affected = (0 to 2).map(cell).sum
      // write.merge.mode=merge-on-read completes the v2 DML triad:
      // ONE atomic snapshot commits positional deletes for every row a
      // matched/by-source clause fired on plus the new row versions
      // (updated + inserted) — O(changed rows) write IO, every data
      // file byte-untouched; copy-on-write (default) rewrites the
      // touched files.
      val mergeMor = meta.properties.get("write.merge.mode")
        .contains("merge-on-read")
      current match {
        case Some(s) if insertOnly =>
          // insert-only MERGE changes NO target row (a multiply-matched
          // target row is simply kept, once, in its untouched file) —
          // append the fired inserts with zero rewrites, under the same
          // optimistic snapshot guard
          val inserts = joined.filter(!tP && sP && iHit).select(outCols: _*)
          catalog.rewriteFiles(ns, t, Nil, _ => inserts, Some(s.snapshotId),
            toBranch = wb)
          summary("MERGE", ns, t, affected, 0, total)
        case Some(s) if mergeMor =>
          val positions = joined
            .filter((mFlag && mHit) || (tOnly && nHit)).select(rif, rip)
          val newRows = joined.filter(
              (mFlag && mHit && !mDrop) || (tOnly && nHit && !nDrop) ||
                (!tP && sP && iHit))
            .select(outCols: _*)
          val (_, delWritten) = catalog.addDeleteFileWithAppend(
            ns, t, positions, newRows, Some(s.snapshotId), toBranch = wb)
          summary("MERGE", ns, t, affected, 0, total,
            deleteFilesWritten = if (delWritten > 0) 1 else 0)
        case Some(s) =>
          val out = joined.filter(keep)
            .select(outCols: _*)
          catalog.rewriteFiles(ns, t, touched, _ => out, Some(s.snapshotId),
            toBranch = wb)
          summary("MERGE", ns, t, affected, touched.size, total,
            bytesRewritten = Engine.bytesOf(touched))
        case None =>
          val outRows = joined.filter(keep).select(outCols: _*)
          wb match {
            // empty table under WAP: the first staged commit
            // BOOTSTRAPS the branch ref, current pointer stays None
            case Some(b) => catalog.appendToBranch(ns, t, b, outRows)
            case None => catalog.append(ns, t, outRows)
          }
          summary("MERGE", ns, t, affected, 0, 0)
      }
      } finally joined.unpersist(blocking = false)
    }
  }

  /** 3-part metadata-table references (`ns.tbl.snapshots` etc.) in the
    * parsed plan — same subquery/CTE-aware walk as [[catalogRefs]].
    */
  private def metadataRefs(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Seq[(String, String, String)] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnresolvedWith}
    val out = scala.collection.mutable.LinkedHashSet.empty[(String, String, String)]
    def walk(p: LogicalPlan): Unit = p.foreachWithSubqueries {
      case w: UnresolvedWith =>
        w.cteRelations.foreach { case (_, rel, _) => walk(rel) }
      case r: UnresolvedRelation => r.multipartIdentifier match {
        case Seq(ns, t, k) if Engine.MetadataKinds(k) && catalog.tableExists(ns, t) =>
          out += ((ns, t, k))
        case _ => ()
      }
      case _ => ()
    }
    walk(plan)
    out.toSeq
  }

  /** Resolve one time-travel reference to (ns, table, snapshotId):
    * `VERSION AS OF n` is the id directly; `TIMESTAMP AS OF ts` maps
    * to the latest snapshot committed at-or-before ts (the Iceberg
    * rule). Unresolvable forms return None and the node is left for
    * Spark to reject.
    */
  private def resolveTimeTravel(
      r: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation,
      ts: Option[org.apache.spark.sql.catalyst.expressions.Expression],
      v: Option[String]): Option[(String, String, Long)] = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{StringType, TimestampType}
    r.multipartIdentifier match {
      case Seq(ns, t) if catalog.tableExists(ns, t) =>
        val msOpt = (ts, v) match {
          case (None, Some(ver)) =>
            // numeric = snapshot id; otherwise a NAMED REF — a tag or
            // branch head resolves to its pinned snapshot (Iceberg's
            // `VERSION AS OF 'audit-tag'` surface; refs are listed by
            // the `ns.tbl.refs` metadata table)
            return scala.util.Try(ver.toLong).toOption
              .orElse(catalog.describe(ns, t).refs.get(ver))
              .map((ns, t, _))
          case (Some(Literal(u, StringType)), None) =>
            parseSessionTimestampMs(u.toString)
          case (Some(Literal(micros: Long, TimestampType)), None) =>
            Some(micros / 1000L)
          case _ => None
        }
        msOpt.flatMap(snapshotAtOrBefore(ns, t, _)).map((ns, t, _))
      case _ => None
    }
  }

  /** Wall-clock string → epoch millis, interpreted in the SESSION
    * timezone (java.sql.Timestamp.valueOf would use the JVM default,
    * silently resolving to a different snapshot when the two differ) —
    * snapshot createdAtMs is epoch-based. Shared by `TIMESTAMP AS OF`
    * and `changes()` timestamp endpoints.
    */
  private def parseSessionTimestampMs(s: String): Option[Long] =
    scala.util.Try {
      val fmt = new java.time.format.DateTimeFormatterBuilder()
        .appendPattern("yyyy-MM-dd HH:mm:ss")
        .optionalStart()
        .appendFraction(
          java.time.temporal.ChronoField.NANO_OF_SECOND, 1, 9, true)
        .optionalEnd()
        .toFormatter
      java.time.LocalDateTime.parse(s, fmt)
        .atZone(java.time.ZoneId.of(
          spark.sessionState.conf.sessionLocalTimeZone))
        .toInstant.toEpochMilli
    }.toOption

  /** The latest snapshot committed at-or-before `ms` (the Iceberg
    * time-travel rule), or None when the table has no snapshot yet.
    * Same-millisecond commits (back-to-back appends do this routinely)
    * tie-break by snapshot id — commit order — so "at or before" never
    * silently resolves one commit early.
    */
  private def snapshotAtOrBefore(ns: String, t: String,
      ms: Long): Option[Long] =
    catalog.describe(ns, t).snapshots
      .filter(_.createdAtMs <= ms)
      .maxByOption(s => (s.createdAtMs, s.snapshotId))
      .map(_.snapshotId)

  /** The UnresolvedRelation instances sitting INSIDE RelationTimeTravel
    * nodes, by identity — they belong to the time-travel substitution
    * (or to Spark's own rejection when unresolvable) and must be
    * invisible to the plain-view machinery: counting them in
    * [[catalogRefs]] would fabricate a current-snapshot PruneInfo, and
    * substituting them with the current-snapshot view would turn a
    * clean "unsupported time travel" error into one about a graft temp
    * view.
    */
  private def ttInnerRelations(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): java.util.Set[org.apache.spark.sql.catalyst.analysis.UnresolvedRelation] = {
    import org.apache.spark.sql.catalyst.analysis.{RelationTimeTravel, UnresolvedRelation}
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnresolvedWith}
    val out = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[UnresolvedRelation, java.lang.Boolean]())
    def walk(p: LogicalPlan): Unit = p.foreachWithSubqueries {
      case w: UnresolvedWith =>
        w.cteRelations.foreach { case (_, rel, _) => walk(rel) }
      case RelationTimeTravel(r: UnresolvedRelation, _, _) => out.add(r): Unit
      case _ => ()
    }
    walk(plan)
    out
  }

  /** Time-travel references in the plan: (ns, table, snapshotId). */
  private def timeTravelRefs(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Seq[(String, String, Long)] = {
    import org.apache.spark.sql.catalyst.analysis.{RelationTimeTravel, UnresolvedRelation}
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnresolvedWith}
    val out = scala.collection.mutable.LinkedHashSet.empty[(String, String, Long)]
    def walk(p: LogicalPlan): Unit = p.foreachWithSubqueries {
      case w: UnresolvedWith =>
        w.cteRelations.foreach { case (_, rel, _) => walk(rel) }
      case RelationTimeTravel(r: UnresolvedRelation, ts, v) =>
        resolveTimeTravel(r, ts, v).foreach(out += _)
      case _ => ()
    }
    walk(plan)
    out.toSeq
  }

  /** Catalog-table references in the parsed plan, with merged predicate
    * bounds. A table referenced anywhere WITHOUT a directly-enclosing
    * filter gets no bounds at all (the shared view must serve every
    * occurrence); multiple filtered occurrences keep only columns
    * bounded in all of them, with the loosest range.
    *
    * Traversal uses `foreachWithSubqueries`, so relations nested inside
    * scalar/EXISTS/IN subquery EXPRESSIONS count too — a bare
    * `(SELECT count(*) FROM db.m)` occurrence correctly disables
    * pruning for an outer filtered `db.m` scan sharing the view
    * (round-2 VERDICT "What's wrong" #1).
    */
  private def catalogRefs(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Seq[Engine.CatalogRef] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter, LogicalPlan, SubqueryAlias, UnresolvedWith}

    def strip(p: LogicalPlan): LogicalPlan = p match {
      case SubqueryAlias(_, c) => strip(c)
      case other => other
    }
    def nameOf(r: UnresolvedRelation): Option[(String, String)] =
      r.multipartIdentifier match {
        case Seq(ns, t) if catalog.tableExists(ns, t) => Some((ns, t))
        case _ => None
      }

    // every occurrence, paired with the filter directly above (if any);
    // relations inside RelationTimeTravel belong to the time-travel
    // machinery, not the current-snapshot view (see ttInnerRelations)
    val ttInner = ttInnerRelations(plan)
    val occurrences = scala.collection.mutable.ListBuffer.empty[((String, String), Option[Seq[Engine.ColBounds]])]
    def walk(p: LogicalPlan): Unit = p.foreachWithSubqueries {
      case w: UnresolvedWith =>
        // UnaryNode: CTE definitions are innerChildren, walk explicitly
        w.cteRelations.foreach { case (_, rel, _) => walk(rel) }
      case LFilter(cond, child) => strip(child) match {
        case r: UnresolvedRelation if !ttInner.contains(r) =>
          nameOf(r).foreach { k =>
            occurrences += k -> Some(Engine.extractBounds(cond, catalog.schemaOf(k._1, k._2)))
          }
        case _ => ()
      }
      case r: UnresolvedRelation if !ttInner.contains(r) =>
        // also counts the relations already matched above; reconciled below
        nameOf(r).foreach(k => occurrences += k -> None)
      case _ => ()
    }
    walk(plan)
    occurrences.groupBy(_._1).toSeq.sortBy(_._1).map { case ((ns, t), occ) =>
      val filtered = occ.flatMap(_._2)
      // the walk visits each UnresolvedRelation once as itself (None)
      // and possibly once via its Filter parent (Some): `filtered.size`
      // filtered occurrences out of `bare` total.
      val bare = occ.count(_._2.isEmpty)
      val bounds =
        if (filtered.size < bare || filtered.isEmpty) Nil
        else filtered.reduce(Engine.mergeBounds)
      Engine.CatalogRef(ns, t, bounds)
    }
  }

  /** Metadata-only `SELECT count(*) FROM ns.tbl` (the Iceberg
    * metadata-count optimization): a GROUPLESS, UNFILTERED,
    * non-distinct count over exactly one catalog relation is answered
    * from the manifest — the sum of per-file stats rows over the
    * current snapshot's file set, which every commit path (append,
    * delete, upsert, compact) maintains — without listing, footer-
    * reading, or scanning a single data file. At 100 TB that is the
    * difference between a metadata read and a full-table scan for the
    * most common audit query there is. Reported as kept=0 of total
    * files: nothing is read. Any filter, grouping, extra select item,
    * DISTINCT, time travel, or metadata-table suffix falls through to
    * the regular bridge (the plan shape no longer matches).
    */
  private def metadataCountFast(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan):
      Option[(DataFrame, Seq[Engine.PruneInfo])] = {
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAlias, UnresolvedFunction, UnresolvedRelation, UnresolvedStar}
    import org.apache.spark.sql.catalyst.expressions.{Alias, Expression, Literal, NamedExpression}
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project, SubqueryAlias}
    // Spark's generated column name, reproduced ONLY where it is
    // unambiguous: count(*) and count(<int literal>). Other literal
    // types (strings, decimals) pretty-print differently than
    // Literal.sql (count('x') → count(x), count(1.5) vs count(1.5BD))
    // — those shapes fall through so the envelope's column name can
    // never depend on which path answered.
    def countName(f: Expression): Option[String] = f match {
      case uf: UnresolvedFunction
          if uf.nameParts.map(_.toLowerCase(java.util.Locale.ROOT)) == Seq("count") &&
            !uf.isDistinct && uf.filter.isEmpty && uf.arguments.size == 1 =>
        uf.arguments.head match {
          case _: UnresolvedStar => Some("count(1)")
          case Literal(v: Int, org.apache.spark.sql.types.IntegerType) =>
            Some(s"count($v)")
          case _ => None
        }
      case _ => None
    }
    // at PARSE time `SELECT count(*) FROM t` is a Project (the
    // analyzer's GlobalAggregates turns it into Aggregate later);
    // an explicit empty GROUP BY parses as Aggregate — accept both
    val shape: Option[(NamedExpression, LogicalPlan)] = plan match {
      case a: Aggregate
          if a.groupingExpressions.isEmpty && a.aggregateExpressions.size == 1 =>
        Some((a.aggregateExpressions.head, a.child))
      case p: Project if p.projectList.size == 1 =>
        Some((p.projectList.head, p.child))
      case _ => None
    }
    import org.apache.spark.sql.catalyst.analysis.RelationTimeTravel
    // (ns, t, snapshot-to-count): current snapshot for a plain
    // relation; the resolved historical snapshot for VERSION/TIMESTAMP
    // AS OF ("how many rows did we have at snapshot N" — the audit
    // query time travel exists for). An unresolvable reference falls
    // through so the bridge/Spark rejects it exactly as before.
    def target(child: LogicalPlan): Option[(String, String, Option[Long])] =
      child match {
        case r: UnresolvedRelation => r.multipartIdentifier match {
          case Seq(ns, t) if catalog.tableExists(ns, t) => Some((ns, t, None))
          case _ => None
        }
        case RelationTimeTravel(r: UnresolvedRelation, ts, v) =>
          resolveTimeTravel(r, ts, v).map { case (ns, t, id) =>
            (ns, t, Some(id))
          }
        case SubqueryAlias(_, inner) => target(inner)
        case _ => None
      }
    for {
      (proj, child) <- shape
      (ns, t, snapId) <- target(child)
      name <- proj match {
        case al @ Alias(fn, _) => countName(fn).map(_ => al.name)
        case ua: UnresolvedAlias => countName(ua.child)
        case other => countName(other)
      }
      snap = snapId match {
        // plain-relation counts follow the WAP read redirect too —
        // the fast path must answer exactly what the scan would
        case None => readSnapshot(catalog.describe(ns, t))
        case Some(id) => catalog.describe(ns, t).snapshots
          .find(_.snapshotId == id)
      }
      // a version-only reference resolves without validation — an
      // unknown snapshot id must fall through for the normal rejection
      _ <- if (snapId.isDefined && snap.isEmpty) None else Some(())
      // exact total = Σ per-file stats rows − Σ positional-delete rows
      // over the snapshot (a snapshot's `rowCount` records the rows its
      // own operation added, not the table total; delete entries are
      // globally deduped on write, so the subtraction is exact). A
      // file without stats makes the metadata answer unprovable — fall
      // through to the scan, never undercount silently.
      n <- snap match {
        case None => Some(0L)
        case Some(s) => s.statsRowCount
      }
    } yield {
      val df = spark.range(0L, 1L, 1L, 1).select(
        org.apache.spark.sql.functions.lit(n).as(name))
      (df, Seq(Engine.PruneInfo(s"$ns.$t", 0,
        snap.map(_.files.size).getOrElse(0))))
    }
  }

  /** Rewrite DuckDB's `glob('<pattern>')` table function
    * (duckdb_rest_server.py:111: `SELECT * FROM glob('{path}')`) into
    * an inline VALUES relation of the matching file names (column
    * `file`, as DuckDB names it). The listing runs driver-side at
    * rewrite time — same observable semantics.
    */
  private def rewriteGlob(sql: String): String =
    Engine.GlobRe.replaceAllIn(sql, m => {
      val p = new HPath(m.group(1))
      val fs = FileSystem.get(p.toUri, spark.sparkContext.hadoopConfiguration)
      val files = Option(fs.globStatus(p)).getOrElse(Array.empty)
        .map(_.getPath.toString).sorted
      val rows =
        if (files.isEmpty) "(CAST(NULL AS STRING))"
        else files.map(f => s"('${f.replace("'", "''")}')").mkString(", ")
      scala.util.matching.Regex.quoteReplacement(s"(VALUES $rows) AS glob_t(file)")
    })

  /** Canned `SELECT * FROM parquet LIMIT n`
    * (duckdb_rest_server.py:126-135; default 5).
    */
  def queryParquet(path: String, limit: Int = 5): String =
    served(envelope(Try(spark.read.parquet(path).limit(limit))))

  /** Parquet file listing by glob (duckdb_rest_server.py:86-124),
    * INCLUDING the reference's error-path fallback (lines 101-122):
    * the listing is gated on a LIMIT-0 readability probe of the glob
    * (`SELECT * FROM read_parquet(path) LIMIT 0`, line 101-109 — here
    * a footer/schema read, no job); if the probe fails, every `*` is
    * substituted with `0` and that SPECIFIC file's rows are returned
    * as a records envelope (lines 115-122 — the reference returns the
    * parquet CONTENT, not file names, on this path; bounded by the
    * sink's flush.size=1000-record file rolls, so no unbounded
    * collect); only a double failure errors, carrying both causes in
    * the reference's message shape.
    */
  def listParquet(pathGlob: String): String = served {
    Try {
      // LIMIT-0 probe. mergeSchema forces a footer read of EVERY
      // matched file — the reference's read_parquet binds all matched
      // files, so one unreadable member fails the probe there and must
      // fail it here (plain .schema samples a single footer and would
      // miss poison members). Footer-reads only; no data scan.
      // nanosAsLong: DuckDB reads TIMESTAMP(NANOS) natively, so a
      // nanos-generation file (TESTDATA.md drift log) is "readable"
      // to the reference and must not fail OUR probe — the conf is set
      // at session construction (GraftSession.builder), not here: a
      // per-call conf.set would mutate the shared session under a
      // concurrent HttpApi query. Probe cost is O(#matched files)
      // footer reads (distributed, no data scan) — same order as the
      // reference's read_parquet bind of the full glob.
      spark.read.option("mergeSchema", "true").parquet(pathGlob).schema
      val p = new HPath(pathGlob)
      val fs = FileSystem.get(p.toUri, spark.sparkContext.hadoopConfiguration)
      Option(fs.globStatus(p)).getOrElse(Array.empty)
        .map(_.getPath.toString).sorted
    } match {
      case Success(files) =>
        s"""{"files":[${files.map(jsonStr).mkString(",")}],"count":${files.length}}"""
      case Failure(probeErr) =>
        val specific = pathGlob.replace("*", "0")
        Try(spark.read.parquet(specific)).flatMap(recordsJson) match {
          case Success(ok) => ok
          case Failure(e2) =>
            def msg(e: Throwable) =
              Option(e.getMessage).getOrElse(e.toString).take(200)
            errorJson(new RuntimeException(
              s"Failed to list Parquet files: ${msg(probeErr)}, " +
                s"Alternative approach failed: ${msg(e2)}"))
        }
    }
  }

  /** 3.2 — catalog table scan (pyiceberg_rest_server.py:173-234),
    * default limit 100 (line 184; we ENFORCE it — R5 note above).
    * Optional snapshot id = time travel.
    *
    * `filter` (extension beyond the reference, which scans unfiltered:
    * pyiceberg_rest_server.py:208 `table.scan()`): a numeric range on
    * one column, served through MANIFEST PRUNING — only files whose
    * min/max stats intersect the range are read, the residual
    * predicate applies on top, and the response carries a
    * `"pruned":{"kept":k,"total":n}` audit so callers can see the
    * file-skipping take effect. At 100 TB this is the difference
    * between touching one day's files and listing the whole table.
    */
  def queryTable(ns: String = "default_db", table: String = "purchase_events",
      limit: Int = 100, snapshotId: Option[Long] = None,
      filter: Option[Engine.RangeFilter] = None): String =
    if (!catalog.tableExists(ns, table))
      s"""{"error":${jsonStr(s"Table $ns.$table does not exist")}}"""
    else served(filter match {
      case None => envelope(Try(catalog.read(ns, table, snapshotId).limit(limit)))
      case Some(f) =>
        Try {
          import org.apache.spark.sql.functions.{col, lit}
          val meta = catalog.describe(ns, table)
          val snapOpt = snapshotId.map(id => meta.snapshots.find(_.snapshotId == id)
            .getOrElse(throw new NoSuchElementException(s"no snapshot $id in $ns.$table")))
            .orElse(meta.currentSnapshot)
          val schema = catalog.schemaOf(ns, table)
          snapOpt match {
            case None => (spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema), 0, 0)
            case Some(snap) =>
              val keep = catalog.prunedFilesRange(snap, f.column, f.min, f.max)
              val base = catalog.readFilesOf(snap, schema, keep, meta.fieldIds)
              val c = col(f.column).cast("double")
              val residual = (f.min.map(c >= _).toSeq ++ f.max.map(c <= _).toSeq)
                .reduceOption(_ && _).getOrElse(lit(true))
              (base.filter(residual), keep.size, snap.files.size)
          }
        } match {
          case Success((df, kept, total)) =>
            val env = envelope(Success(df.limit(limit)))
            if (env.startsWith("""{"error"""")) env
            else env.dropRight(1) +
              s""","pruned":{"kept":$kept,"total":$total}}"""
          case Failure(e) => errorJson(e)
        }
    })

  /** Point lookup (extension beyond the reference): one key's rows,
    * served through per-file BLOOM pruning — bloom-negative files are
    * skipped before Spark lists them, which range stats alone cannot do
    * when every file's [min,max] straddles the key. `value` is the
    * key's canonical string rendering (string/integral columns — the
    * bloom-probe contract in [[SnapshotCatalog.bloomPositions]]); the
    * response carries the same `"pruned"` audit as the ranged scan.
    */
  def queryTableEquals(ns: String, table: String, column: String,
      value: String, limit: Int = 100): String =
    if (!catalog.tableExists(ns, table))
      s"""{"error":${jsonStr(s"Table $ns.$table does not exist")}}"""
    else served(Try(catalog.readIn(ns, table, column, Seq(value))) match {
      // one prune of one snapshot: the audit counts exactly the files
      // the read scans (partition values AND blooms), never a second
      // snapshot's
      case Success(r) =>
        val env = envelope(Success(r.df.limit(limit)))
        if (env.startsWith("""{"error"""")) env
        else env.dropRight(1) + s""","pruned":{"kept":${r.kept},"total":${r.total}}}"""
      case Failure(e) => errorJson(e)
    })

  /** R7 (pyiceberg_rest_server.py:101-112). */
  def listNamespaces(): String =
    s"""{"namespaces":[${catalog.listNamespaces().map(jsonStr).mkString(",")}]}"""

  /** R8 (pyiceberg_rest_server.py:114-127). */
  def listTables(ns: String = "default_db"): String =
    s"""{"namespace":${jsonStr(ns)},"tables":[${
      catalog.listTables(ns).map(jsonStr).mkString(",")}]}"""

  /** R9 — schema + metadata introspection
    * (pyiceberg_rest_server.py:129-171): field name/type list,
    * location, format_version, properties; error envelope on missing.
    */
  def describeTable(ns: String = "default_db",
      table: String = "purchase_events"): String =
    if (!catalog.tableExists(ns, table))
      s"""{"error":${jsonStr(s"Table $ns.$table does not exist")}}"""
    else {
      val meta = catalog.describe(ns, table)
      val schema = catalog.schemaOf(ns, table)
      val fields = schema.fields.zipWithIndex.map { case (f, i) =>
        s"""{"id":${i + 1},"name":${jsonStr(f.name)},"type":${
          jsonStr(f.dataType.simpleString)},"required":${!f.nullable}}"""
      }
      val props = meta.properties.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${jsonStr(k)}:${jsonStr(v)}" }
      s"""{"namespace":${jsonStr(ns)},"table":${jsonStr(table)},""" +
        s""""schema":[${fields.mkString(",")}],""" +
        s""""metadata":{"location":${jsonStr(meta.location)},""" +
        s""""format_version":${meta.formatVersion},""" +
        s""""current_snapshot_id":${meta.currentSnapshotId.getOrElse(-1L)},""" +
        s""""properties":{${props.mkString(",")}}}}"""
    }

  /** R3 — LIMIT-0 schema probe (duckdb_rest_server.py:101-109): cheap
    * path/schema validation with no job launched (df.schema only reads
    * the parquet footer).
    */
  def schemaProbe(path: String): String =
    Try(spark.read.parquet(path).schema) match {
      case Success(schema) =>
        val fields = schema.fields.map(f =>
          s"""{"name":${jsonStr(f.name)},"type":${jsonStr(f.dataType.simpleString)}}""")
        s"""{"schema":[${fields.mkString(",")}],"valid":true}"""
      case Failure(e) => errorJson(e)
    }

  /** C8 — health probe (duckdb_rest_server.py:62-65). */
  def health(): String = """{"status":"healthy"}"""

  private def recordsJson(d: DataFrame): Try[String] =
    Try(jsonRecords(d)).map(rows => s"""{"records":[${rows.mkString(",")}]}""")

  private def envelope(df: Try[DataFrame]): String =
    df.flatMap(recordsJson) match {
      case Success(json) => json
      case Failure(e) => errorJson(e)
    }
}

object Engine {

  /** Session conf selecting the DML write-audit-publish branch —
    * `SET graft.wap.branch = audit` stages every subsequent DML on
    * that branch (see [[Engine.wapBranch]]'s scaladoc for the full
    * contract; Iceberg's `spark.wap.branch` analog).
    */
  val WapBranchConf = "graft.wap.branch"

  /** Session conf redirecting READS at the WAP branch (opt-in Iceberg
    * `spark.wap.branch` read parity, round 16): with
    * `SET graft.wap.read = true`, plain SELECT and `changes()` against
    * a catalog table resolve through the staged branch head when
    * [[WapBranchConf]] names an existing branch; without it reads stay
    * published-only (the write-only blast radius documented on
    * [[Engine.wapBranch]]).
    */
  val WapReadConf = "graft.wap.read"

  /** Session conf selecting the STAGED-COMMIT id (Iceberg's
    * `spark.wap.id` flavor, round 16): DML under `SET graft.wap.id`
    * stages onto the internal ref [[WapIdRefPrefix]]`<id>`; publish
    * with `CALL system.publish_changes('ns.tbl', '<id>')` — a
    * cherry-pick onto the current head that, unlike `fast_forward`,
    * survives the table having MOVED since staging (append snapshots
    * re-attach metadata-only). Reads are never redirected under a
    * wap.id, matching Iceberg.
    */
  val WapIdConf = "graft.wap.id"

  /** Ref-name prefix for wap.id staging: the staged snapshot lives on
    * `wap.id.<id>` — visible in the `refs` metadata table (the audit
    * trail Iceberg keeps in the snapshot summary, kept here as a ref
    * so snapshot expiry retains the staged chain while it is
    * unpublished, and reclaims it once `publish_changes` drops the
    * ref or the audit is abandoned via `drop_branch`).
    */
  val WapIdRefPrefix = "wap.id."

  /** Spark's `SET k = ''` stores the LITERAL two-character string `''`
    * (verified on the shipped 4.1.2) — without unquoting, the
    * documented clear idiom would leave every subsequent DML staging
    * onto a branch literally named `''` while the published table
    * silently receives nothing. Strip one matching surrounding
    * quote pair so `''`/`""`/`'name'` behave as SQL intends;
    * `RESET graft.wap.branch` also clears.
    */
  private[query] def stripQuotePair(s: String): String =
    if (s.length >= 2 && (s.head == '\'' || s.head == '"') && s.last == s.head)
      s.substring(1, s.length - 1).trim
    else s

  /** Shared daemon watchdog for [[Engine.withBudget]] query-budget
    * cancellation — one timer thread serves every Engine in the JVM
    * (it only ever runs `cancelJobGroup`, a cheap scheduler call).
    */
  private[graft] val watchdog: java.util.concurrent.ScheduledThreadPoolExecutor = {
    val w = new java.util.concurrent.ScheduledThreadPoolExecutor(1, r => {
      val t = new Thread(r, "graft-engine-watchdog")
      t.setDaemon(true)
      t
    })
    // a request's timer is cancelled when the request returns; without
    // this the cancelled task would stay queued for the whole budget
    w.setRemoveOnCancelPolicy(true)
    w
  }

  /** Every row of `d` as its JSON object text, in `d`'s order: the
    * records of a reply. One projection on top of `d`,
    * `to_json(struct(…))` over `d`'s columns taken BY POSITION, so a
    * dotted or repeated column name is never re-resolved. The
    * projection is deterministic, so the optimizer pushes it below a
    * root `limit`: a limited reply plans as `CollectLimitExec` (or
    * `TakeOrderedAndProjectExec` under an ORDER BY) and runs Spark's
    * incremental take — the first partition is read first, the JSON is
    * built in the scan tasks, and there is no exchange and no row
    * object round trip.
    *
    * Wire format. Top-level timestamps are epoch MILLISECONDS: the
    * reference's DuckDB path renders pandas `to_json(orient='records')`
    * (duckdb_rest_server.py:81-82, SURVEY §7.4 risk 3); nested ones
    * stay ISO strings. ANSI intervals, at any depth, print at their
    * widest range (`INTERVAL '1 00:00:00' DAY TO SECOND`), as the row
    * object encoding did.
    */
  private[graft] def jsonRecords(d: DataFrame): Array[String] = {
    import org.apache.spark.sql.functions.{col, struct, to_json, unix_millis}
    val fields = d.schema.fields
    val byPos = d.toDF(fields.indices.map(i => s"_$i"): _*)
    val cols = fields.zipWithIndex.map { case (f, i) =>
      val c = col(s"_$i")
      (f.dataType match {
        case TimestampType => unix_millis(c)
        case TimestampNTZType => unix_millis(c.cast(TimestampType))
        case t =>
          val w = widestIntervals(t)
          if (w == t) c else c.cast(w)
      }).as(f.name)
    }
    byPos.select(to_json(struct(cols.toSeq: _*))).collect().map(_.getString(0))
  }

  private def widestIntervals(t: DataType): DataType = t match {
    case _: DayTimeIntervalType => DayTimeIntervalType()
    case _: YearMonthIntervalType => YearMonthIntervalType()
    case a: ArrayType => a.copy(elementType = widestIntervals(a.elementType))
    case m: MapType => m.copy(keyType = widestIntervals(m.keyType),
      valueType = widestIntervals(m.valueType))
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = widestIntervals(f.dataType))))
    case other => other
  }

  /** The ≤30-line DuckDB-dialect pre-rewrite (SURVEY §2.5 dialect
    * note): lets the reference README's committed query texts
    * (`read_parquet('<path>')`, README.md:288) run unchanged.
    * A string transform, deliberately not a Catalyst rule — the
    * rewrite happens before parsing.
    */
  private val ReadParquetRe =
    raw"(?i)read_parquet\(\s*'([^']+)'\s*\)".r

  /** Metadata-table suffixes served by the SQL bridge. */
  private[query] val MetadataKinds: Set[String] =
    Set("snapshots", "files", "all_files", "manifests", "history",
      "refs", "delete_files", "partitions", "entries")

  /** Iceberg metadata columns served on demand over catalog reads. */
  private[query] val MetaColNames: Set[String] = Set("_file", "_pos")

  /** Partition-spec evolution DDL (extension syntax — pre-parse
    * intercepts, see [[Engine.partitionFieldDdl]]).
    */
  private[query] val AddDropPartitionFieldRe =
    raw"(?is)^\s*ALTER\s+TABLE\s+`?([A-Za-z0-9_]+)`?\.`?([A-Za-z0-9_]+)`?\s+(ADD|DROP)\s+PARTITION\s+FIELD\s+(.+?)\s*;?\s*$$".r
  private[query] val ReplacePartitionFieldRe =
    raw"(?is)^\s*ALTER\s+TABLE\s+`?([A-Za-z0-9_]+)`?\.`?([A-Za-z0-9_]+)`?\s+REPLACE\s+PARTITION\s+FIELD\s+(.+?)\s+WITH\s+(.+?)\s*;?\s*$$".r

  private[query] val GlobRe =
    raw"(?i)glob\(\s*'([^']+)'\s*\)".r

  def rewriteDialect(sql: String): String =
    ReadParquetRe.replaceAllIn(sql, m => s"parquet.`${m.group(1)}`")

  /** Map a DDL `PARTITIONED BY` clause to the catalog's hidden
    * `partition.spec` property string. The catalog supports ONE
    * transform over one top-level column (identity/days/months/hours/
    * bucket/truncate — PartitionSpec.parse's grammar), matched through
    * the PUBLIC connector-expression surface (name + arguments), so
    * the mapping never depends on Spark-private case classes.
    * Some(None) = unpartitioned; None = unsupported clause, the
    * statement falls through to Spark's rejection.
    */
  private[graft] def partitionSpecString(
      transforms: Seq[org.apache.spark.sql.connector.expressions.Transform]):
      Option[Option[String]] = {
    import org.apache.spark.sql.connector.expressions.{Expression => CExpr, Literal => CLit, NamedReference}
    def col1(e: CExpr): Option[String] = e match {
      case r: NamedReference if r.fieldNames.length == 1 =>
        Some(r.fieldNames()(0))
      case _ => None
    }
    transforms match {
      case Seq() => Some(None)
      case Seq(tr) =>
        val args = tr.arguments().toSeq
        tr.name() match {
          case n @ ("identity" | "days" | "months" | "hours") =>
            args match {
              case Seq(a) => col1(a).map(c => Some(s"$n($c)"))
              case _ => None
            }
          case n @ ("bucket" | "truncate") =>
            args match {
              case Seq(l: CLit[_], r) =>
                col1(r).map(c => Some(s"$n(${l.value()}, $c)"))
              case Seq(r, l: CLit[_]) =>
                col1(r).map(c => Some(s"$n(${l.value()}, $c)"))
              case _ => None
            }
          case _ => None
        }
      case _ => None
    }
  }

  /** One table's prune outcome: `kept` of `total` manifest files. */
  case class PruneInfo(table: String, kept: Int, total: Int)

  /** On-disk bytes of a file set — the `bytes_rewritten` a copy-on-
    * write DML summary reports (input bytes of the candidate files the
    * rewrite read; files already gone read as 0).
    */
  private[graft] def bytesOf(files: Seq[String]): Long =
    files.map(f => scala.util.Try(
      java.nio.file.Files.size(java.nio.file.Paths.get(f))).getOrElse(0L)).sum

  /** Numeric range filter for [[Engine.queryTable]] (None = unbounded
    * side); timestamps compare as epoch seconds, matching the stats.
    */
  case class RangeFilter(column: String,
      min: Option[Double], max: Option[Double])

  /** Per-column predicate bounds (None = unbounded side). Exclusive
    * comparisons are widened to inclusive — pruning may only ever keep
    * EXTRA files, never skip a matching one.
    */
  private[graft] sealed trait ColBounds {
    def column: String
    def defined: Boolean
  }
  private[graft] case class NumBounds(column: String,
      lower: Option[Double], upper: Option[Double]) extends ColBounds {
    def defined: Boolean = lower.nonEmpty || upper.nonEmpty
  }
  private[graft] case class StrBounds(column: String,
      lower: Option[String], upper: Option[String]) extends ColBounds {
    def defined: Boolean = lower.nonEmpty || upper.nonEmpty
  }
  /** Point-equality on a column whose type has a canonical string
    * rendering (string/integral — the bloom-probe contract): drives
    * bloom file skipping on top of the min/max range prune. Emitted
    * only when the literal's rendering provably matches the write-side
    * rendering (e.g. NOT for `bigint_col = 42.0`), so the bloom can
    * only skip files that provably lack the value.
    */
  private[graft] case class EqValue(column: String, value: String) extends ColBounds {
    def defined: Boolean = true
  }
  private[graft] case class CatalogRef(ns: String, table: String,
      bounds: Seq[ColBounds])

  /** Unique temp-view name for one catalog table in one query. Raw
    * catalog names may contain characters invalid in Spark identifiers
    * (createTable permits hyphens etc.) — sanitize to [A-Za-z0-9_] so
    * `createOrReplaceTempView` never throws on them.
    */
  private[graft] def viewName(ns: String, t: String): String = {
    val clean = (s: String) => s.replaceAll("[^A-Za-z0-9_]", "_")
    s"graft_${clean(ns)}_${clean(t)}_${java.util.UUID.randomUUID().toString.take(8)}"
  }

  /** Conjunctive range bounds on `schema`'s columns from an UNRESOLVED
    * filter condition: only bare single-part attributes that name a
    * column of this relation (a filter directly above the relation
    * binds such names to it), compared to foldable literals. Anything
    * else contributes nothing — never wrong, just unpruned.
    */
  private[graft] def extractBounds(
      cond: org.apache.spark.sql.catalyst.expressions.Expression,
      schema: org.apache.spark.sql.types.StructType): Seq[ColBounds] = {
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction}
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types._

    def conj(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conj(l) ++ conj(r)
      case x => Seq(x)
    }
    def colOf(e: Expression): Option[StructField] = e match {
      case UnresolvedAttribute(Seq(n)) => schema.fields.find(_.name == n)
      case _ => None
    }
    def numVal(l: Literal): Option[Double] = l.dataType match {
      case _: NumericType => Option(l.value).map(_.toString.toDouble)
      // stats store timestamps as epoch seconds (cast to double)
      case TimestampType | TimestampNTZType =>
        Option(l.value).map(_.asInstanceOf[Long] / 1e6)
      case _ => None
    }
    def strVal(l: Literal): Option[String] =
      if (l.dataType == StringType) Option(l.value).map(_.toString) else None

    val num = scala.collection.mutable.Map.empty[String, (Option[Double], Option[Double])]
    val str = scala.collection.mutable.Map.empty[String, (Option[String], Option[String])]
    // tightest bound wins inside one condition: max of lowers, min of uppers
    def addNum(f: StructField, lo: Option[Double], hi: Option[Double]): Unit =
      if (lo.nonEmpty || hi.nonEmpty) {
        val (l0, h0) = num.getOrElse(f.name, (None, None))
        num(f.name) = ((l0 ++ lo).maxOption, (h0 ++ hi).minOption)
      }
    def addStr(f: StructField, lo: Option[String], hi: Option[String]): Unit =
      if (lo.nonEmpty || hi.nonEmpty) {
        val (l0, h0) = str.getOrElse(f.name, (None, None))
        str(f.name) = ((l0 ++ lo).maxOption, (h0 ++ hi).minOption)
      }
    def add(a: Expression, l: Literal, asLower: Boolean, asUpper: Boolean): Unit =
      colOf(a).foreach { f =>
        f.dataType match {
          case _: NumericType | TimestampType | TimestampNTZType =>
            numVal(l).foreach(v => addNum(f,
              if (asLower) Some(v) else None, if (asUpper) Some(v) else None))
          case StringType =>
            strVal(l).foreach(v => addStr(f,
              if (asLower) Some(v) else None, if (asUpper) Some(v) else None))
          case _ => ()
        }
      }
    // equality additionally yields a bloom probe value when the column
    // and literal renderings provably agree (bloom-probe contract:
    // string = string, integral = integral literal)
    val eqs = scala.collection.mutable.Map.empty[String, Option[String]]
    def addEq(a: Expression, l: Literal): Unit =
      colOf(a).foreach { f =>
        val rendering = (f.dataType, l.dataType) match {
          case (StringType, StringType) => strVal(l)
          case (ByteType | ShortType | IntegerType | LongType,
                ByteType | ShortType | IntegerType | LongType) =>
            Option(l.value).map(_.toString)
          case _ => None
        }
        rendering.foreach { v =>
          // two DIFFERENT equality values on one column inside one
          // conjunction can match nothing: poison to None (no bloom
          // prune rather than an arbitrary pick)
          eqs(f.name) = eqs.get(f.name) match {
            case None => Some(v)
            case Some(Some(prev)) if prev == v => Some(v)
            case _ => None
          }
        }
      }

    conj(cond).foreach {
      case GreaterThan(a, l: Literal)          => add(a, l, asLower = true,  asUpper = false)
      case GreaterThanOrEqual(a, l: Literal)   => add(a, l, asLower = true,  asUpper = false)
      case LessThan(a, l: Literal)             => add(a, l, asLower = false, asUpper = true)
      case LessThanOrEqual(a, l: Literal)      => add(a, l, asLower = false, asUpper = true)
      case EqualTo(a, l: Literal)              => add(a, l, asLower = true,  asUpper = true); addEq(a, l)
      case EqualTo(l: Literal, a)              => add(a, l, asLower = true,  asUpper = true); addEq(a, l)
      case GreaterThan(l: Literal, a)          => add(a, l, asLower = false, asUpper = true)
      case GreaterThanOrEqual(l: Literal, a)   => add(a, l, asLower = false, asUpper = true)
      case LessThan(l: Literal, a)             => add(a, l, asLower = true,  asUpper = false)
      case LessThanOrEqual(l: Literal, a)      => add(a, l, asLower = true,  asUpper = false)
      // the parser leaves `a BETWEEN lo AND hi` as an unresolved
      // `between(a, lo, hi)` call: the same bounds as `a >= lo AND
      // a <= hi` (`NOT BETWEEN` arrives wrapped in Not and stays unpruned)
      case f: UnresolvedFunction if f.nameParts.map(_.toLowerCase) == Seq("between") =>
        f.arguments match {
          case Seq(a, lo: Literal, hi: Literal) =>
            add(a, lo, asLower = true, asUpper = false)
            add(a, hi, asLower = false, asUpper = true)
          case _ => ()
        }
      case _ => ()
    }
    (num.toSeq.map { case (c, (lo, hi)) => NumBounds(c, lo, hi) } ++
      str.toSeq.map { case (c, (lo, hi)) => StrBounds(c, lo, hi) } ++
      eqs.toSeq.collect { case (c, Some(v)) => EqValue(c, v) })
      .filter(_.defined).sortBy(_.column)
  }

  /** Loosest common bounds across two filtered occurrences of the same
    * table: only columns bounded in both survive, with min-lower /
    * max-upper (None absorbs — an unbounded side stays unbounded).
    */
  private[graft] def mergeBounds(a: Seq[ColBounds], b: Seq[ColBounds]): Seq[ColBounds] = {
    // keyed by (column, kind): one column can carry a range bound AND
    // an equality value simultaneously
    def key(x: ColBounds): (String, Class[_]) = (x.column, x.getClass)
    val byCol = b.map(x => key(x) -> x).toMap
    a.flatMap { ab =>
      (ab, byCol.get(key(ab))) match {
        case (NumBounds(c, lo1, hi1), Some(NumBounds(_, lo2, hi2))) =>
          Some(NumBounds(c,
            for { x <- lo1; y <- lo2 } yield math.min(x, y),
            for { x <- hi1; y <- hi2 } yield math.max(x, y)))
        case (StrBounds(c, lo1, hi1), Some(StrBounds(_, lo2, hi2))) =>
          Some(StrBounds(c,
            for { x <- lo1; y <- lo2 } yield Ordering[String].min(x, y),
            for { x <- hi1; y <- hi2 } yield Ordering[String].max(x, y)))
        // equality prunes across occurrences only when BOTH filter on
        // the same value
        case (EqValue(c, v1), Some(EqValue(_, v2))) if v1 == v2 =>
          Some(EqValue(c, v1))
        case _ => None
      }
    }.filter(_.defined)
  }

  private[query] def errorJson(e: Throwable): String =
    s"""{"error":${jsonStr(Option(e.getMessage).getOrElse(e.toString).take(500))}}"""

  private[query] def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
