package graft.catalog

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import com.fasterxml.jackson.databind.annotation.JsonDeserialize
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{WriteJobStatsTracker, WriteTaskStats, WriteTaskStatsTracker}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, StructType}

import graft.schema.SchemaCompat

/** File-backed snapshot catalog rebuilding the reference's Iceberg-JDBC
  * catalog *capabilities* on Spark-native primitives (SURVEY §1.3/§7.1;
  * init-scripts/init-iceberg-catalog.sql:10-38): the three logical
  * relations become
  *
  *  - `iceberg.tables`   → `<wh>/<ns>/<table>/metadata/version-hint.text`
  *    (the metadata-pointer; swap is the atomic commit primitive, same
  *    as `tables.metadata_location`, init-iceberg-catalog.sql:14-15),
  *  - `iceberg.snapshots`→ the `snapshots` array inside each
  *    `v<N>.metadata.json` (id, parent, sequence number, file manifest),
  *  - `iceberg.properties` → the `properties` map in the same file.
  *
  * Commit protocol (optimistic for concurrent writers): every commit
  * goes through one loop, [[transact]]. An attempt loads the current
  * `v<N>.metadata.json`, evaluates the commit's precondition against
  * it and returns one of three outcomes — commit this metadata, already
  * applied, or conflict — and a commit writes `v<N+1>.metadata.json`
  * with CREATE_NEW, then ATOMIC_MOVEs a temp pointer file onto
  * `version-hint.text`. A committer that loses the CREATE_NEW race
  * re-runs its attempt against the new state; an outcome other than a
  * landed commit deletes the files the commit wrote. Readers resolve
  * pointer → metadata → file list, so they always see a consistent
  * snapshot (never a half-committed file set). Data files are immutable
  * once written; snapshots share them structurally (append = old
  * manifest ++ new files).
  *
  * Capabilities: namespaces, create/list/describe, append with
  * BACKWARD-gated schema evolution (old files null-pad new columns on
  * read), snapshot time travel by id, format_version/properties
  * introspection (pyiceberg_rest_server.py:148-159).
  */
class SnapshotCatalog(spark: SparkSession, val warehouse: String) {

  import SnapshotCatalog._

  new File(warehouse).mkdirs()

  // -------------------------------------------------------------- paths

  private def nsDir(ns: String): Path = Paths.get(warehouse, ns)
  private def tableDir(ns: String, t: String): Path = nsDir(ns).resolve(t)
  private def metaDir(ns: String, t: String): Path = tableDir(ns, t).resolve("metadata")
  private def dataDir(ns: String, t: String): Path = tableDir(ns, t).resolve("data")
  private def pointer(ns: String, t: String): Path =
    metaDir(ns, t).resolve("version-hint.text")
  private def uuidFile(ns: String, t: String): Path =
    metaDir(ns, t).resolve("table-uuid.text")

  /** The table's per-incarnation uuid ([[createTable]]); empty for
    * tables created before the uuid file existed.
    */
  def incarnationUuid(ns: String, t: String): String =
    if (Files.exists(uuidFile(ns, t)))
      new String(Files.readAllBytes(uuidFile(ns, t)),
        StandardCharsets.UTF_8).trim
    else ""

  // ---------------------------------------------------------- namespaces

  def createNamespace(ns: String): Unit = Files.createDirectories(nsDir(ns))

  def listNamespaces(): Seq[String] =
    Option(new File(warehouse).listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory).map(_.getName).sorted.toSeq

  // -------------------------------------------------------------- tables

  /** Creates table `ns.name` at version 1; fails if it exists. With
    * `ifAbsent` it returns the existing table instead, also when a
    * concurrent creator commits version 1 first: writers that
    * auto-create a missing table can start together.
    */
  def createTable(ns: String, name: String, schema: StructType,
      properties: Map[String, String] = Map.empty,
      ifAbsent: Boolean = false): TableMeta = {
    if (tableExists(ns, name)) {
      require(ifAbsent, s"table $ns.$name already exists")
      return describe(ns, name)
    }
    createNamespace(ns)
    Files.createDirectories(metaDir(ns, name))
    Files.createDirectories(dataDir(ns, name))
    // false when a concurrent creator wrote the file first
    def createdNew(write: => Unit): Boolean =
      try { write; true }
      catch { case _: java.nio.file.FileAlreadyExistsException => false }
    // per-INCARNATION uuid (Iceberg's table-uuid): written once at
    // CREATE, deleted by DROP, so a DROP + re-CREATE that reuses
    // version numbers can never alias a cached metadata parse — the
    // uuid is part of [[loadMeta]]'s cache key, closing the residual
    // cross-process window that (path, size, mtime, fileKey) alone
    // leaves open when the filesystem reuses an inode. A concurrent
    // creator's uuid is the same incarnation either way (only one
    // racer's v1 commit can win).
    createdNew(Files.write(uuidFile(ns, name),
      java.util.UUID.randomUUID().toString.getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE): Unit): Unit
    val meta = TableMeta(
      tableId = s"$ns.$name",
      tableUuid = incarnationUuid(ns, name),
      namespace = ns,
      name = name,
      location = tableDir(ns, name).toString,
      formatVersion = 2,
      schemaJson = schema.json,
      properties = DefaultProperties ++ properties,
      currentSnapshotId = None,
      snapshots = Seq.empty)
    if (createdNew(commit(ns, name, version = 1, meta))) meta
    else {
      require(ifAbsent, s"table $ns.$name already exists")
      // the winner moves the version hint right after its v1 write
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!tableExists(ns, name) && System.nanoTime() < deadline) Thread.sleep(1)
      describe(ns, name)
    }
  }

  /** The commit loop, through which every commit but [[createTable]]'s
    * first version goes. One attempt holds the catalog monitor only for
    * load → `attempt` → CREATE_NEW of the next version, so in-process
    * writers interleave between attempts. `attempt` states the commit's
    * precondition against the freshly loaded metadata and returns
    * [[Commit]], [[Applied]] (the change is already in, or there is
    * nothing to do) or [[Conflict]] (the caller's plan is stale). A lost
    * CREATE_NEW race — another process or catalog instance committed
    * that version — backs off outside the monitor and re-runs the
    * attempt. Ending already applied, in a conflict, in a failed
    * attempt or with every race lost deletes the `written` dirs, which
    * nothing references then; work that must follow the commit
    * (expiry's reap) runs after the loop returns.
    */
  private def transact(ns: String, name: String, written: Seq[Path] = Nil)(
      attempt: TableMeta => Outcome): TableMeta = {
    def discard(): Unit = written.foreach(deleteRecursively)
    var lost = 0
    while (true) {
      val landed: Option[TableMeta] = synchronized {
        val (version, meta) = loadMeta(ns, name)
        val outcome =
          try attempt(meta)
          catch { case scala.util.control.NonFatal(e) => discard(); throw e }
        outcome match {
          case Commit(next) =>
            try { commit(ns, name, version + 1, next); Some(next) }
            catch {
              case e: java.nio.file.FileAlreadyExistsException =>
                if (lost < MaxCommitRetries) None else { discard(); throw e }
            }
          case Applied(found) => discard(); Some(found)
          case Conflict(e) => discard(); throw e
        }
      }
      landed match {
        case Some(m) => return m
        case None =>
          lost += 1
          // the winner may not have moved the pointer yet, in which
          // case the reload still sees the old version — back off so
          // the pointer lands instead of burning all retries spinning
          Thread.sleep(1L << math.min(lost, 6))
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** A streaming writer's outcome: [[Commit]] `next` while `expect`
    * holds on `meta`, else [[Applied]] — another writer already
    * recorded this batch or window.
    */
  private def unlessApplied(expect: Option[Expect], meta: TableMeta)(
      next: => TableMeta): Outcome =
    if (expect.forall(_.holds(meta))) Commit(next) else Applied(meta)

  /** The planned-rewrite precondition. A plan made from `plan` (and
    * against the caller's `expected` snapshot, when given) commits only
    * while `fresh` still has the head — the branch ref or the current
    * pointer — schema and field ids it planned against; otherwise its
    * files, positions or colIds stamps may be wrong, and the
    * [[Conflict]] sends the caller back to re-plan
    * (Engine.retryConcurrent's contract).
    */
  private def stale(ns: String, name: String, plan: TableMeta,
      fresh: TableMeta, toBranch: Option[String] = None,
      expected: Option[Long] = None): Option[Conflict] = {
    def head(m: TableMeta) = toBranch.fold(m.currentSnapshotId)(m.refs.get)
    val why =
      if (expected.exists(e => !head(plan).contains(e)))
        s"moved to snapshot ${head(plan).getOrElse("none")} " +
          s"(planned against ${expected.get})"
      else if (head(fresh) != head(plan)) "moved since the plan"
      else if (fresh.schemaJson != plan.schemaJson ||
          fresh.fieldIds != plan.fieldIds) "schema evolved since the plan"
      else return None
    Some(Conflict(new java.util.ConcurrentModificationException(
      s"$ns.$name $why — re-plan and retry")))
  }

  /** A fresh write directory under the table's data dir, named by a
    * unique write id: two writers that load the same version pick the
    * same snapshot id, so a loser's discard must never reach the
    * winner's files.
    */
  private def writeDir(ns: String, name: String, kind: String): Path =
    dataDir(ns, name).resolve(
      s"$kind-${java.util.UUID.randomUUID().toString.take(8)}")

  /** Explicit schema evolution — `ALTER TABLE … ADD COLUMNS` as a
    * METADATA-ONLY commit (no snapshot, no data IO): the declared
    * schema gains the new nullable fields, existing files null-pad
    * them on read (the read path's declared-schema contract), and the
    * same BACKWARD gate that guards evolve-on-write rejects duplicate
    * names or type changes.
    */
  def addColumns(ns: String, name: String,
      fields: Seq[org.apache.spark.sql.types.StructField]): TableMeta =
    transact(ns, name) { meta =>
      val current = DataType.fromJson(meta.schemaJson).asInstanceOf[StructType]
      fields.foreach(f => require(!current.fieldNames.contains(f.name),
        s"column ${f.name} already exists in $ns.$name"))
      val target = StructType(current.fields ++
        fields.map(_.copy(nullable = true)))
      val evolved = SchemaCompat.evolve(current, target) match {
        case Right(s) => s
        case Left(violations) =>
          throw new IllegalArgumentException(
            "schema not BACKWARD-compatible: " +
              violations.map(v => s"${v.field}: ${v.reason}").mkString("; "))
      }
      val (extIds, extLast) =
        extendFieldIds(meta.fieldIds, meta.lastFieldId, evolved)
      Commit(meta.copy(schemaJson = evolved.json,
        fieldIds = extIds, lastFieldId = extLast))
    }

  /** `ALTER TABLE … ALTER COLUMN <c> TYPE <t>` — Iceberg's SAFE type
    * promotion (int→long, float→double, decimal precision widen at the
    * same scale) as a METADATA-ONLY commit: the declared schema gains
    * the wide type and every existing file is CAST AT READ (the
    * parquet reader widens int32→int64 / float→double / decimal
    * natively under the declared read schema — verified on the shipped
    * Spark, so old-era files need no rewrite and no per-file branch).
    * Renderings in the manifests stay valid: min/max stats are
    * collected through a cast-to-double that already widens, and
    * blooms exist only for string+integral columns whose canonical
    * string rendering is promotion-stable ("5" as int == "5" as long).
    * The one surface promotion CAN break is a hidden-partition pval
    * whose derivation is type-dependent (`bucket`'s xxhash64 hashes
    * int and long differently; float renderings change under
    * identity/truncate) — any live spec era like that refuses the
    * promotion loudly rather than silently mis-pruning old files.
    * The implicit write-side BACKWARD gate still rejects ALL type
    * changes: promotion is an explicit DDL act, as in Iceberg.
    */
  def promoteColumnType(ns: String, name: String, colName: String,
      newType: DataType): TableMeta =
    promoteColumnTypes(ns, name, Seq(colName -> newType))

  /** Multi-column [[promoteColumnType]] in ONE metadata commit —
    * `ALTER TABLE … ALTER COLUMN a TYPE t1, b TYPE t2` is atomic: if
    * ANY promotion is unsafe, NOTHING commits (a half-altered table
    * behind an error return would poison every later writer's evolve
    * gate).
    */
  def promoteColumnTypes(ns: String, name: String,
      changes: Seq[(String, DataType)]): TableMeta =
    transact(ns, name) { meta =>
      val schema = DataType.fromJson(meta.schemaJson).asInstanceOf[StructType]
      changes.foreach { case (colName, newType) =>
        require(schema.fieldNames.contains(colName),
          s"no column $colName in $ns.$name")
        val from = schema(colName).dataType
        require(SchemaCompat.safePromotion(from, newType),
          s"unsafe type change ${from.simpleString} -> " +
            s"${newType.simpleString} for $colName — safe promotions are " +
            "int->bigint, float->double, decimal(P,S)->decimal(P',S) with " +
            "P' >= P")
        // every live spec era (current property + per-file pspec stamps)
        // that derives a pval from this column must derive the SAME pval
        // from the widened type, or old files would silently mis-prune
        val eras = (meta.properties.get(PartitionSpec.PropertyKey).toSeq ++
          meta.snapshots.flatMap(_.fileStats.flatMap(_.pspec))).distinct
        eras.flatMap(e => scala.util.Try(PartitionSpec.parse(e)).toOption)
          .filter(_.column == colName)
          .foreach { p =>
            require(pvalStableUnderPromotion(p.transform, from, newType),
              s"cannot promote $colName under partition spec " +
                s"'${p.transform}(${p.column})' — the transform's value " +
                "derivation is type-dependent; evolve the spec (and let " +
                "compaction migrate old files) first")
          }
      }
      val byName = changes.toMap
      val newSchema = StructType(schema.fields.map(f =>
        byName.get(f.name) match {
          case Some(to) => f.copy(dataType = to)
          case None => f
        }))
      Commit(meta.copy(schemaJson = newSchema.json))
    }

  /** Whether a partition transform derives the SAME pval from a value
    * before and after the promotion. `bucket` never does for int→long
    * (xxhash64 is type-dependent) and decimal hashing crosses the
    * 18-digit representation boundary, so it is refused outright;
    * float renderings change under every transform.
    */
  private def pvalStableUnderPromotion(transform: String,
      from: DataType, to: DataType): Boolean = {
    import org.apache.spark.sql.types._
    if (from == to) true
    else (from, to) match {
      case (IntegerType, LongType) => transform != "bucket"
      case (_: DecimalType, _: DecimalType) => transform != "bucket"
      case _ => false // float->double: string renderings diverge
    }
  }

  /** The field-id mapping, ACTIVATED on demand: before any rename/drop
    * the table carries none (physical names == declared names by
    * construction); the first rename/drop initializes ids from the
    * current schema order — at that instant every existing file's
    * physical names ARE the current declared names, which is what
    * makes the lazy activation sound.
    */
  private def activatedIds(meta: TableMeta, schema: StructType): Map[String, Int] =
    if (meta.fieldIds.nonEmpty) meta.fieldIds
    else schema.fieldNames.zipWithIndex.map { case (n, i) => n -> (i + 1) }.toMap

  /** Fresh ids for columns evolution added (no-op while dormant),
    * allocated above the table's ever-allocated high-water mark so a
    * retired (dropped) id is never reused. Returns (ids, newLast).
    */
  private def extendFieldIds(ids: Map[String, Int], last: Int,
      schema: StructType): (Map[String, Int], Int) =
    if (ids.isEmpty) (ids, last)
    else {
      var next = math.max(last, ids.values.max)
      val out = ids ++ schema.fieldNames.filterNot(ids.contains).map { n =>
        next += 1; n -> next
      }
      (out, next)
    }

  /** The colIds stamp for files written NOW under `written` names. */
  private def colIdsStamp(fieldIds: Map[String, Int],
      written: StructType): Option[Map[String, Int]] =
    if (fieldIds.isEmpty) None
    else Some(written.fieldNames.flatMap(n =>
      fieldIds.get(n).map(n -> _)).toMap)

  /** `ALTER TABLE … RENAME COLUMN` as a METADATA-ONLY commit with the
    * Iceberg field-id discipline: the declared schema renames, the
    * field keeps its stable id, and every file keeps resolving by id —
    * files written under the old name need no rewrite (and time travel
    * to pre-rename snapshots reads correct data under the new name).
    * Per-snapshot file stats and blooms re-key to the new name so
    * manifest pruning keeps working; files without a recorded colIds
    * mapping are backfilled with the at-activation identity mapping.
    */
  def renameColumn(ns: String, name: String, from: String,
      to: String): TableMeta = {
    transact(ns, name) { meta =>
      val schema = DataType.fromJson(meta.schemaJson).asInstanceOf[StructType]
      require(schema.fieldNames.contains(from), s"no column $from in $ns.$name")
      require(!schema.fieldNames.contains(to),
        s"column $to already exists in $ns.$name")
      require(!PartitionSpec.of(meta.properties).exists(_.column == from),
        s"cannot rename partition column $from — evolve the spec first")
      val ids0 = activatedIds(meta, schema)
      val newSchema = StructType(schema.fields.map(f =>
        if (f.name == from) f.copy(name = to) else f))
      val props = meta.properties.get(BloomColumnsProp) match {
        case Some(cs) => meta.properties + (BloomColumnsProp ->
          cs.split(",").map(_.trim).map(c => if (c == from) to else c)
            .mkString(","))
        case None => meta.properties
      }
      // O(1) rename (round 16): NO snapshot or manifest is touched —
      // the rename is recorded as a [[NameLink]] in the slim versioned
      // metadata and every manifest entry written before it remaps at
      // LOAD ([[remapNames]]). Stats, blooms, and eq-delete key columns
      // of a million-file history follow the new name without a byte of
      // manifest IO.
      Commit(meta.copy(schemaJson = newSchema.json,
        fieldIds = (ids0 - from) + (to -> ids0(from)),
        lastFieldId = math.max(meta.lastFieldId, ids0.values.max),
        nameLinks = meta.nameLinks :+
          NameLink(from, Some(to), nextSeqOf(meta)),
        activationIds =
          if (meta.fieldIds.nonEmpty) meta.activationIds else ids0,
        properties = props))
    }: Unit
    // reload: the returned view must carry the remapped (current-name)
    // manifest entries, not the pre-DDL in-memory ones
    describe(ns, name)
  }

  /** The sequence number the NEXT data commit would take — the name-
    * era boundary a [[NameLink]] records: entries strictly below it
    * were written under the old name.
    */
  private def nextSeqOf(meta: TableMeta): Long =
    meta.snapshots.map(_.sequenceNumber).maxOption.getOrElse(0L) + 1

  /** The snapshot id the next snapshot commit takes. */
  private def nextIdOf(meta: TableMeta): Long =
    meta.snapshots.map(_.snapshotId).maxOption.getOrElse(0L) + 1

  /** `ALTER TABLE … DROP COLUMN` as a METADATA-ONLY commit: the
    * declared schema loses the field, its id is retired, and its stats/
    * bloom entries are removed from every snapshot (a later re-ADD of
    * the same name gets a FRESH id, so old files' data and stats can
    * never resurface under it). No data file is touched.
    */
  def dropColumn(ns: String, name: String, colName: String): TableMeta = {
    transact(ns, name) { meta =>
      val schema = DataType.fromJson(meta.schemaJson).asInstanceOf[StructType]
      require(schema.fieldNames.contains(colName),
        s"no column $colName in $ns.$name")
      require(schema.fields.length > 1,
        s"cannot drop the only column of $ns.$name")
      require(!PartitionSpec.of(meta.properties).exists(_.column == colName),
        s"cannot drop partition column $colName — evolve the spec first")
      // an equality delete keyed on the column would become
      // unresolvable (readers anti-join on schema(col)), making every
      // read/compact of a referencing snapshot throw — refuse, like
      // Iceberg refuses dropping a column in any delete's equality_ids;
      // compact first to fold the delete side away
      require(!meta.snapshots.exists(_.eqDeletes.exists(_.cols.contains(colName))),
        s"cannot drop column $colName — equality delete files of " +
          s"$ns.$name key on it; compact to fold them first")
      val ids0 = activatedIds(meta, schema)
      val newSchema = StructType(schema.fields.filterNot(_.name == colName))
      val props = meta.properties.get(BloomColumnsProp) match {
        case Some(cs) => meta.properties + (BloomColumnsProp ->
          cs.split(",").map(_.trim).filterNot(_ == colName).mkString(","))
        case None => meta.properties
      }
      // O(1) drop (the renameColumn discipline): a drop [[NameLink]]
      // (to = None) removes the column's stat/bloom entries from
      // pre-link manifest entries at LOAD — no manifest rewrite; a
      // later re-ADD of the name gets a fresh field id and fresh
      // entries (post-link seq), so old data/stats never resurface
      Commit(meta.copy(schemaJson = newSchema.json,
        fieldIds = ids0 - colName,
        lastFieldId = math.max(meta.lastFieldId, ids0.values.max),
        nameLinks = meta.nameLinks :+
          NameLink(colName, None, nextSeqOf(meta)),
        activationIds =
          if (meta.fieldIds.nonEmpty) meta.activationIds else ids0,
        properties = props))
    }: Unit
    describe(ns, name) // remapped (current-name) view
  }

  /** Drop a table (the purge form — Iceberg's `DROP TABLE … PURGE`):
    * the POINTER is removed first, so a reader racing the drop sees a
    * clean missing-table state (the same atomicity unit every commit
    * swaps), then the metadata and data trees are reclaimed.
    */
  def dropTable(ns: String, name: String): Unit = synchronized {
    require(tableExists(ns, name), s"table $ns.$name does not exist")
    // drop memoized metadata parses for this table: a re-CREATE reuses
    // version numbers, and on a coarse-mtime filesystem a same-size
    // rewrite within the timestamp granule could otherwise alias the
    // old incarnation's cached TableMeta
    val prefix = metaDir(ns, name).toString
    metaParseCache.synchronized {
      val it = metaParseCache.keySet().iterator()
      // key shape-agnostic match (the key tuple has grown twice; a
      // fixed-arity pattern here silently stopped evicting anything)
      while (it.hasNext) it.next() match {
        case k: Product if k.productArity > 0 &&
            (k.productElement(0) match {
              case p: String => p.startsWith(prefix)
              case _ => false
            }) => it.remove()
        case _ => ()
      }
    }
    hydratedByPath.synchronized(
      hydratedByPath.remove(metaDir(ns, name).toString)): Unit
    Files.deleteIfExists(pointer(ns, name))
    val root = tableDir(ns, name)
    if (Files.exists(root)) {
      val w = Files.walk(root)
      try w.iterator().asScala.toSeq.sortBy(-_.getNameCount)
        .foreach(p => Files.deleteIfExists(p): Unit)
      finally w.close()
    }
  }

  def tableExists(ns: String, name: String): Boolean =
    Files.exists(pointer(ns, name))

  def listTables(ns: String): Seq[String] =
    Option(nsDir(ns).toFile.listFiles()).getOrElse(Array.empty)
      .filter(f => Files.exists(pointer(ns, f.getName)))
      .map(_.getName).sorted.toSeq

  def describe(ns: String, name: String): TableMeta = loadMeta(ns, name)._2

  def schemaOf(ns: String, name: String): StructType =
    DataType.fromJson(describe(ns, name).schemaJson).asInstanceOf[StructType]

  // -------------------------------------------------------------- append

  /** Append a batch, evolving the table schema if the incoming batch
    * adds columns (BACKWARD gate: drops/type-changes throw). Returns the
    * new table metadata.
    */
  def append(ns: String, name: String, df: DataFrame): TableMeta =
    appendImpl(ns, name, df, toBranch = None)

  /** Append with extra table properties merged ATOMICALLY in the same
    * snapshot commit. This is the idempotence hook for at-least-once
    * writers (foreachBatch sinks): recording the micro-batch id as a
    * property of the very commit that added the rows means a replayed
    * batch either sees its id already recorded (and skips) or the
    * original commit never happened — no window where rows landed but
    * the marker didn't. `expect` is such a writer's precondition
    * ([[SnapshotCatalog.Expect]]): when two writers replay one batch,
    * the one whose attempt finds the marker moved deletes its files and
    * returns the table as it found it.
    */
  def append(ns: String, name: String, df: DataFrame,
      extraProperties: Map[String, String],
      expect: Option[Expect] = None): TableMeta =
    appendImpl(ns, name, df, toBranch = None, extraProperties, expect = expect)

  /** Append to a named BRANCH: the new snapshot chains off the branch
    * head and the branch ref moves to it; the table's current pointer
    * (what readers see) is untouched. With [[publish]] this is the
    * write-audit-publish (WAP) flow: stage data on a branch, audit it
    * with [[readRef]], fast-forward publish — or drop the branch and
    * no reader ever saw the bad batch.
    */
  def appendToBranch(ns: String, name: String, branch: String,
      df: DataFrame, expect: Option[Expect] = None): TableMeta =
    appendImpl(ns, name, df, toBranch = Some(branch), expect = expect)

  /** INSERT OVERWRITE semantics: one atomic snapshot whose manifest
    * REPLACES the table's file list with the batch's files — old data
    * files and any merge-on-read delete side stop being referenced (and
    * stay time-travelable until expired). Same write machinery as
    * append (hidden partitioning, schema evolution, optimistic retry).
    */
  def overwrite(ns: String, name: String, df: DataFrame,
      extraProperties: Map[String, String] = Map.empty,
      toBranch: Option[String] = None,
      expect: Option[Expect] = None): TableMeta =
    appendImpl(ns, name, df, toBranch, extraProperties,
      replaceManifest = true, expect = expect)

  /** `CREATE OR REPLACE TABLE … AS SELECT` (RTAS): one atomic commit
    * that replaces BOTH the content (an overwrite — empty manifest of
    * old files, delete side dies) and the DECLARED SCHEMA, which may
    * change arbitrarily (the BACKWARD evolve gate is write-path
    * protection for appends; a replace is a new declaration). History
    * is retained — pre-replace snapshots stay time-travelable, and the
    * RTAS field-id rule keeps that read MEANINGFUL: a column keeps its
    * stable id only when name AND type survive the replace, so time
    * travel reads preserved columns exactly and NULL-pads changed/new
    * ones (a retired id resolves to no physical column) instead of
    * casting garbage.
    */
  def replaceTable(ns: String, name: String, df: DataFrame,
      extraProperties: Map[String, String] = Map.empty): TableMeta =
    appendImpl(ns, name, df, toBranch = None, extraProperties,
      replaceManifest = true, replaceSchema = true)

  private def appendImpl(ns: String, name: String, df: DataFrame,
      toBranch: Option[String],
      extraProperties: Map[String, String] = Map.empty,
      replaceManifest: Boolean = false,
      replaceSchema: Boolean = false,
      expect: Option[Expect] = None): TableMeta =
    {
      // Data files are written once, into a dir keyed by a unique
      // write id, OUTSIDE the catalog lock (round 14: the streaming-
      // append hot path must not serialize every other in-process
      // commit behind its file IO); each commit attempt rebuilds the
      // snapshot on the state it loads and re-attaches the same files —
      // the Iceberg retry protocol (files immutable, metadata
      // contended).
      val snapDir = writeDir(ns, name, "write")
      // Hidden partitioning (PartitionSpec scaladoc): the spec's value
      // expression splits the append into VALUE-PURE files via a
      // partitionBy on a derived column that never reaches file
      // contents or readers. Value-pure files make the source column's
      // min/max stats tight (time-range pruning needs nothing more);
      // the value itself is recorded per file for equality pruning on
      // bucket/identity/truncate specs.
      val tblProps = describe(ns, name).properties
      val specStr = tblProps.get(PartitionSpec.PropertyKey).map(_.trim)
      // Declared clustering at WRITE time ([[WriteOrderProp]], the
      // Iceberg write sort-order + range distribution): when the table
      // declares `write.order`, the batch range-distributes on its
      // Z-value (file count preserved) and locally sorts, so NEW files
      // land with tight min/max envelopes instead of eroding the
      // clustered layout until the next maintenance pass. Opt-in per
      // table (one extra min/max aggregate over the batch); a batch
      // missing a declared column (pre-evolution writer) skips the
      // sort rather than failing — maintenance re-clusters it later.
      val toWrite = tblProps.get(SnapshotCatalog.WriteOrderProp)
        .flatMap(o => scala.util.Try(
          SnapshotCatalog.parseWriteOrder(o, df.schema)).toOption)
        .filter(_.nonEmpty) match {
        case Some(cols) =>
          // ONE materialization of the batch: the Z-bounds aggregate
          // and the write both read the checkpointed rows, so an
          // expensive INSERT … SELECT plan is never executed twice
          // (the MERGE path's discipline) and a non-deterministic
          // source cannot write rows different from the ones its
          // bounds were computed from
          val src = df.localCheckpoint()
          val n = math.max(1, src.rdd.getNumPartitions)
          src.withColumn("_graft_wz",
              graft.functions.ZOrder.scaled(src, cols))
            .repartitionByRange(n, col("_graft_wz"))
            .sortWithinPartitions("_graft_wz")
            .drop("_graft_wz")
        case None => df
      }
      val stats = writeFiles(toWrite, snapDir, df.schema,
        bloomColsFor(ns, name, df.schema), specStr)
      val newFiles = stats.map(_.path)
      transact(ns, name, Seq(snapDir)) { meta => unlessApplied(expect, meta) {
        // base = branch head (re-resolved per retry — the branch may
        // have moved) or the table's current snapshot
        val base = toBranch match {
          case Some(b) if meta.refs.contains(b) =>
            require(!meta.tagNames.contains(b), s"'$b' is a tag — tags are immutable")
            meta.snapshots.find(_.snapshotId == meta.refs(b))
          case Some(b) =>
            // BOOTSTRAP staging (round 15): an EMPTY table has no
            // snapshot to branch from, but a WAP writer must still be
            // able to stage its first batch unpublished — the branch
            // ref is created BY this commit (refs + (b -> new id))
            // while the current pointer stays None, so no reader sees
            // the rows until publish
            require(meta.currentSnapshotId.isEmpty,
              s"no ref '$b' in $ns.$name")
            None
          case None => meta.currentSnapshot
        }
        val current = DataType.fromJson(meta.schemaJson).asInstanceOf[StructType]
        val evolved =
          if (replaceSchema) df.schema // RTAS: the query's schema WINS
          else SchemaCompat.evolve(current, df.schema) match {
            case Right(s) => s
            case Left(violations) =>
              throw new IllegalArgumentException(
                "schema not BACKWARD-compatible: " +
                  violations.map(v => s"${v.field}: ${v.reason}").mkString("; "))
          }
        val snapshotId = nextIdOf(meta)
        val seqNum = nextSeqOf(meta)
        // once field ids are active, evolution-added columns get fresh
        // ids and every new file records its physical-name mapping;
        // every new file also records its commit sequence (the gate
        // equality deletes apply under)
        val (newIds, newLast) =
          if (!replaceSchema)
            extendFieldIds(meta.fieldIds, meta.lastFieldId, evolved)
          else {
            // RTAS field-id discipline: a column keeps its id only
            // when BOTH name and type survive the replace — time
            // travel to pre-replace snapshots then reads preserved
            // columns correctly and NULL-pads changed/new ones
            // (retired ids resolve to nothing), never casts garbage.
            // Activation is forced ([[TableMeta.activationIds]]) so
            // colIds-less old files resolve through the OLD era map.
            val ids0 = activatedIds(meta, current)
            val oldTypes = current.fields.map(f => f.name -> f.dataType).toMap
            var next = math.max(meta.lastFieldId,
              ids0.values.maxOption.getOrElse(0))
            val fresh = evolved.fields.map { f =>
              if (oldTypes.get(f.name).contains(f.dataType) &&
                  ids0.contains(f.name)) f.name -> ids0(f.name)
              else { next += 1; f.name -> next }
            }.toMap
            (fresh, next)
          }
        val rtasActivation =
          if (replaceSchema && meta.fieldIds.isEmpty)
            activatedIds(meta, current)
          else meta.activationIds
        val stamped = stats.map(_.copy(
          colIds = colIdsStamp(newIds, df.schema), seq = Some(seqNum)))
        val snap = SnapshotMeta(
          snapshotId = snapshotId,
          parentId = base.map(_.snapshotId),
          sequenceNumber = seqNum,
          files =
            if (replaceManifest) newFiles
            else base.map(_.files).getOrElse(Seq.empty) ++ newFiles,
          rowCount = stamped.map(_.rows).sum,
          createdAtMs = System.currentTimeMillis(),
          fileStats =
            if (replaceManifest) stamped
            else base.map(_.fileStats).getOrElse(Seq.empty) ++ stamped,
          // an overwrite references nothing old — the delete side
          // (merge-on-read) dies with the replaced files; an append
          // carries the base snapshot's delete side forward unchanged
          deleteFiles =
            if (replaceManifest) Seq.empty
            else base.map(_.deleteFiles).getOrElse(Seq.empty),
          deleteFileStats =
            if (replaceManifest) Seq.empty
            else base.map(_.deleteFileStats).getOrElse(Seq.empty),
          eqDeletes =
            if (replaceManifest) Seq.empty
            else base.map(_.eqDeletes).getOrElse(Seq.empty),
          operation = Some(if (replaceManifest) "overwrite" else "append"))
        advanced(meta, toBranch, snap).copy(
          schemaJson = evolved.json,
          fieldIds = newIds, lastFieldId = newLast,
          activationIds = rtasActivation,
          properties = meta.properties ++ extraProperties)
      }}
    }

  /** Update table properties (merge; null-out by empty value is not
    * supported — set a tombstone value instead). Used for PARTITION
    * SPEC EVOLUTION: changing `partition.spec` affects only FUTURE
    * appends — existing files keep their recorded partition values
    * (or none) and every pruning path treats a non-matching/missing
    * pval conservatively, so readers never need to know which spec
    * era a file came from. Same versioned-commit protocol as appends;
    * `expect` makes it a streaming writer's bookmark commit.
    */
  def updateProperties(ns: String, name: String,
      props: Map[String, String],
      expect: Option[Expect] = None): TableMeta =
    transact(ns, name) { meta =>
      unlessApplied(expect, meta)(
        meta.copy(properties = meta.properties ++ props))
    }

  /** Remove table properties (the `ALTER TABLE … UNSET TBLPROPERTIES`
    * primitive): metadata-only commit via the same optimistic retry.
    * With `ifExists = false` a missing key refuses (the standard SQL
    * contract) — evaluated against freshly loaded state per attempt.
    */
  def removeProperties(ns: String, name: String, keys: Seq[String],
      ifExists: Boolean = false): TableMeta =
    transact(ns, name) { meta =>
      if (!ifExists) {
        val missing = keys.filterNot(meta.properties.contains)
        require(missing.isEmpty,
          s"no such properties on $ns.$name: ${missing.mkString(", ")} " +
            "(use IF EXISTS)")
      }
      Commit(meta.copy(properties = meta.properties -- keys))
    }

  /** Iceberg-style METADATA TABLES: the table's commit history, file
    * inventory, and refs exposed as DataFrames (`db.t.snapshots`,
    * `.files`, `.history`, `.refs` through the SQL bridge — the
    * introspection surface Iceberg users query daily). Metadata is
    * small by design (one manifest row per file/snapshot), so these
    * materialize driver-side from the already-loaded TableMeta — no
    * data files are touched.
    */
  def metadataTable(ns: String, name: String, kind: String): DataFrame = {
    import spark.implicits._
    val meta = describe(ns, name)
    kind match {
      case "snapshots" =>
        meta.snapshots.map(s => (s.snapshotId, s.parentId,
          s.sequenceNumber, new java.sql.Timestamp(s.createdAtMs),
          s.files.size.toLong, s.rowCount,
          s.operation.getOrElse("unknown")))
          .toDF("snapshot_id", "parent_id", "sequence_number",
            "committed_at", "n_files", "added_rows", "operation")
      case "files" =>
        val cur = meta.currentSnapshot.map(_.files).getOrElse(Seq.empty).toSet
        val stats = meta.currentSnapshot.map(_.fileStats).getOrElse(Seq.empty)
        stats.filter(s => cur(s.path))
          .map(s => (s.path, s.rows, s.pval))
          .toDF("file_path", "record_count", "partition_value")
      case "all_files" =>
        // every data file referenced by ANY live snapshot (Iceberg's
        // .all_files): the reachability set expiry/orphan-sweep reason
        // about — still metadata-only (manifests, no file IO)
        val rows = for {
          s <- meta.snapshots
          byPath = s.fileStats.map(st => st.path -> st).toMap
          f <- s.files
        } yield (f, s.snapshotId,
          byPath.get(f).map(_.rows).getOrElse(-1L))
        rows.groupBy(_._1).toSeq.map { case (f, refs) =>
          (f, refs.map(_._2).min, refs.map(_._2).max,
            refs.head._3, refs.size.toLong)
        }.toDF("file_path", "first_snapshot_id", "last_snapshot_id",
          "record_count", "referencing_snapshots")
      case "manifests" =>
        // one row per snapshot manifest side file (the round-15
        // manifest split); inline (pre-split) snapshots report NULL
        // path with their entry counts, so the surface is total
        meta.snapshots.map { s =>
          val len = s.manifestPath.flatMap(p =>
            scala.util.Try(Files.size(Paths.get(p))).toOption)
          (s.manifestPath.orNull, len, s.snapshotId,
            s.files.size.toLong,
            (s.deleteFiles.size + s.eqDeletes.size).toLong)
        }.toDF("path", "length", "added_snapshot_id",
          "data_file_count", "delete_file_count")
      case "history" =>
        // ancestry chain of the current snapshot, oldest first
        val chain = meta.currentSnapshotId
          .map(ancestorChain(meta.snapshots, _)).getOrElse(Seq.empty)
          .reverse
        val ancestors = chain.map(_.snapshotId).toSet
        meta.snapshots.map(s => (new java.sql.Timestamp(s.createdAtMs),
          s.snapshotId, s.parentId, ancestors(s.snapshotId)))
          .toDF("made_current_at", "snapshot_id", "parent_id",
            "is_current_ancestor")
      case "refs" =>
        val branches = meta.refs.toSeq.map { case (n, id) =>
          (n, if (meta.tagNames.contains(n)) "TAG" else "BRANCH", id)
        }
        (branches :+ (("main", "BRANCH",
          meta.currentSnapshotId.getOrElse(-1L))))
          .toDF("name", "type", "snapshot_id")
      case "delete_files" =>
        // the current snapshot's merge-on-read delete files, both
        // flavors (Iceberg's .delete_files introspection surface)
        val pos = meta.currentSnapshot.map(s =>
          s.deleteFiles.map { f =>
            (f, "position",
              s.deleteFileStats.find(_.path == f).map(_.rows).getOrElse(-1L))
          }).getOrElse(Seq.empty)
        val eqs = meta.currentSnapshot.map(_.eqDeletes.map(d =>
          (d.path, "equality", d.rows))).getOrElse(Seq.empty)
        (pos ++ eqs).toDF("file_path", "kind", "record_count")
      case "entries" =>
        // the current snapshot's manifest entries with ADD provenance
        // (Iceberg's .entries, flattened): content 0 = data file,
        // 1 = position deletes, 2 = equality deletes; status 1 = ADDED
        // by the current snapshot, 0 = EXISTING (carried forward).
        // The adding snapshot is the first ancestor whose manifest
        // lists the path — one oldest-first chain walk over in-memory
        // metadata, O(history + entries), no file IO
        val chain = meta.currentSnapshotId
          .map(ancestorChain(meta.snapshots, _)).getOrElse(Seq.empty)
          .reverse
        val firstSeen = scala.collection.mutable.HashMap.empty[String, Long]
        chain.foreach { s =>
          (s.files ++ s.deleteFiles ++ s.eqDeletes.map(_.path))
            .foreach(f =>
              if (!firstSeen.contains(f)) firstSeen(f) = s.snapshotId)
        }
        val curId = meta.currentSnapshotId.getOrElse(-1L)
        val rows = meta.currentSnapshot.toSeq.flatMap { s =>
          val byPath = s.fileStats.map(st => st.path -> st).toMap
          val delByPath = s.deleteFileStats.map(st => st.path -> st).toMap
          s.files.map(f => (f, 0,
            byPath.get(f).map(_.rows).getOrElse(-1L),
            byPath.get(f).flatMap(_.seq).getOrElse(-1L))) ++
          s.deleteFiles.map(f => (f, 1,
            delByPath.get(f).map(_.rows).getOrElse(-1L),
            delByPath.get(f).flatMap(_.seq).getOrElse(-1L))) ++
          s.eqDeletes.map(d => (d.path, 2, d.rows, d.seq))
        }.map { case (f, content, rc, seq) =>
          val added = firstSeen.getOrElse(f, curId)
          (if (added == curId) 1 else 0, added, seq, content, f, rc)
        }
        rows.toDF("status", "snapshot_id", "sequence_number",
          "content", "file_path", "record_count")
      case "partitions" =>
        // per-partition file/row rollup of the current snapshot
        // (Iceberg's .partitions surface): hidden-partition values
        // come from the manifest, so this is metadata-only; files
        // written without a pval (unpartitioned eras, MoR update
        // appends) roll up under NULL — the same files partition
        // pruning conservatively keeps on every lookup
        val cur = meta.currentSnapshot
        val stats = cur.map { s =>
          val live = s.files.toSet
          s.fileStats.filter(fs => live(fs.path))
        }.getOrElse(Seq.empty)
        stats.groupBy(fs => (fs.pval, fs.pspec)).toSeq
          .map { case ((pval, pspec), fss) =>
            (pval.orNull, pspec.orNull, fss.size.toLong,
              fss.map(_.rows).sum)
          }
          .toDF("partition_value", "partition_spec", "n_files",
            "record_count")
      case other => throw new IllegalArgumentException(
        s"unknown metadata table '$other' — expected snapshots|files|" +
          "all_files|manifests|history|refs|delete_files|partitions")
    }
  }

  // ---------------------------------------------------------------- refs

  /** Create a movable branch ref at `at` (default: current snapshot). */
  def createBranch(ns: String, name: String, branch: String,
      at: Option[Long] = None): TableMeta =
    createRef(ns, name, branch, at, isTag = false)

  /** Create an immutable tag at `at` (default: current snapshot). */
  def createTag(ns: String, name: String, tag: String,
      at: Option[Long] = None): TableMeta =
    createRef(ns, name, tag, at, isTag = true)

  private def createRef(ns: String, name: String, ref: String,
      at: Option[Long], isTag: Boolean): TableMeta =
    transact(ns, name) { meta =>
      require(!meta.refs.contains(ref), s"ref '$ref' already exists in $ns.$name")
      val snapId = at.orElse(meta.currentSnapshotId).getOrElse(
        throw new IllegalStateException(s"$ns.$name has no snapshot to reference"))
      require(meta.snapshots.exists(_.snapshotId == snapId),
        s"no snapshot $snapId in $ns.$name")
      Commit(meta.copy(refs = meta.refs + (ref -> snapId),
        tagNames = if (isTag) meta.tagNames :+ ref else meta.tagNames))
    }

  /** The base snapshot a WRITE targets: `toBranch`'s head when set
    * (tags refused — immutable), else the table's current snapshot.
    * This is what gives every row-level commit primitive its
    * WRITE-AUDIT-PUBLISH mode (round 15): a DELETE/UPDATE/MERGE staged
    * on a branch reads the BRANCH's state, commits by moving only the
    * branch ref, and no reader of the table's current pointer ever
    * sees it until `publish`/`fast_forward` — the Iceberg
    * `spark.wap.branch` discipline extended from appends to the full
    * DML surface, which is the audit story for risky mutations at
    * 100 TB (stage the MERGE, validate via `VERSION AS OF branch`,
    * publish one pointer move or walk away at zero cost).
    */
  private def writeBase(meta: TableMeta, ns: String, name: String,
      toBranch: Option[String]): Option[SnapshotMeta] = toBranch match {
    case Some(b) =>
      require(meta.refs.contains(b), s"no ref '$b' in $ns.$name")
      require(!meta.tagNames.contains(b), s"'$b' is a tag — tags are immutable")
      meta.snapshots.find(_.snapshotId == meta.refs(b))
    case None => meta.currentSnapshot
  }

  /** Attach `snap` and advance the write target: the branch REF moves
    * (the readers' current pointer untouched — WAP staging), or the
    * current pointer for main-line commits.
    */
  private def advanced(meta: TableMeta, toBranch: Option[String],
      snap: SnapshotMeta): TableMeta = toBranch match {
    case Some(b) => meta.copy(refs = meta.refs + (b -> snap.snapshotId),
      snapshots = meta.snapshots :+ snap)
    case None => meta.copy(currentSnapshotId = Some(snap.snapshotId),
      snapshots = meta.snapshots :+ snap)
  }

  /** Create OR MOVE a branch ref to `snapshotId` in one atomic commit —
    * the consumer-position pin ([[graft.streaming.Sinks.ChangelogFollower]]):
    * a downstream subscriber advances its ref as it consumes, and
    * because [[expireSnapshots]] always retains ref'd snapshots, the
    * subscriber's `from` endpoint can never be expired out from under
    * it while the pin holds (Iceberg's branch-as-consumer-bookmark
    * pattern). Tags stay immutable — moving one is refused.
    */
  def setRef(ns: String, name: String, ref: String,
      snapshotId: Long): TableMeta =
    transact(ns, name) { meta =>
      require(!meta.tagNames.contains(ref),
        s"'$ref' is a tag — tags are immutable")
      require(meta.snapshots.exists(_.snapshotId == snapshotId),
        s"no snapshot $snapshotId in $ns.$name")
      Commit(meta.copy(refs = meta.refs + (ref -> snapshotId)))
    }

  /** Drop a branch or tag; snapshots stay until [[expireSnapshots]]. */
  def dropRef(ns: String, name: String, ref: String): TableMeta =
    transact(ns, name) { meta =>
      require(meta.refs.contains(ref), s"no ref '$ref' in $ns.$name")
      Commit(meta.copy(refs = meta.refs - ref,
        tagNames = meta.tagNames.filterNot(_ == ref)))
    }

  /** Read the table at a named ref (tag or branch head). */
  def readRef(ns: String, name: String, ref: String): DataFrame = {
    val meta = describe(ns, name)
    require(meta.refs.contains(ref), s"no ref '$ref' in $ns.$name")
    read(ns, name, snapshotId = Some(meta.refs(ref)))
  }

  /** WAP publish: fast-forward the table's current pointer to the
    * branch head — an O(metadata) pointer move (same machinery as
    * [[rollback]]); readers atomically see everything staged on the
    * branch.
    */
  /** FAST-FORWARD only (round 15, the Iceberg `fast_forward`
    * contract): the current snapshot must be an ANCESTOR of the branch
    * head (or the table empty). Without this guard, a concurrent
    * main-line commit landing after the branch forked would be
    * SILENTLY DISCARDED by the pointer move — lost rows, the one
    * failure mode a table format must never have. A refused publish
    * means the branch is stale: re-stage against the new current state
    * (the WAP sink's retried batch does exactly that) or re-point the
    * branch and re-apply. `expect` makes it a streaming writer's
    * marker commit ([[append]]).
    */
  def publish(ns: String, name: String, branch: String,
      extraProperties: Map[String, String] = Map.empty,
      expect: Option[Expect] = None): TableMeta =
    transact(ns, name) { meta => unlessApplied(expect, meta) {
      require(meta.refs.contains(branch), s"no ref '$branch' in $ns.$name")
      require(!meta.tagNames.contains(branch), s"'$branch' is a tag")
      val head = meta.refs(branch)
      meta.currentSnapshotId.foreach { cur =>
        if (!ancestorIds(meta.snapshots, head).contains(cur))
          throw new java.util.ConcurrentModificationException(
            s"cannot fast-forward $ns.$name to branch '$branch': the " +
              s"current snapshot $cur is not an ancestor of the branch " +
              s"head $head — the table moved since the branch forked; " +
              "re-stage the branch against the new current state")
      }
      meta.copy(currentSnapshotId = Some(head),
        properties = meta.properties ++ extraProperties)
    }}

  /** The table's configured bloom columns, restricted to types with a
    * canonical string rendering (string + integral): a float bloom
    * would hash a rendering the probe side can't reproduce.
    */
  private def bloomColsFor(ns: String, name: String, schema: StructType): Seq[String] = {
    import org.apache.spark.sql.types._
    val declared = describe(ns, name).properties.get(BloomColumnsProp)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
    declared.filter(c => schema.fields.find(_.name == c).map(_.dataType) match {
      case Some(StringType | LongType | IntegerType | ShortType | ByteType) => true
      case _ => false
    })
  }

  /** Blooms of files the catalog did NOT write ([[addFiles]]' imports):
    * one read-back aggregation per bloom column, every row contributing
    * its [[BloomProbes]] bit positions (an expression mirror of
    * [[SnapshotCatalog.bloomPositions]]); `collect_set` bounds what
    * reaches the driver at ≤ [[BloomBits]] ints per file regardless of
    * row count. Returns path → column → base64 bitset. Files the
    * catalog writes get theirs from [[writeFiles]]' write tasks.
    */
  private[graft] def collectFileBlooms(schema: StructType, files: Seq[String],
      bloomCols: Seq[String]): Map[String, Map[String, String]] = {
    import org.apache.spark.sql.functions._
    if (files.isEmpty || bloomCols.isEmpty) return Map.empty
    val perCol = bloomCols.map { c =>
      val hex = md5(col(c).cast("string"))
      val positions = array((0 until BloomProbes).map { i =>
        conv(substring(hex, i * 8 + 1, 8), 16, 10).cast("long") % BloomBits
      }: _*)
      val rows = spark.read.schema(schema).parquet(files: _*)
        .where(col(c).isNotNull)
        .select(input_file_name().as("_file"), explode(positions).as("pos"))
        .groupBy("_file").agg(collect_set(col("pos").cast("int")).as("ps"))
        .collect()
      rows.toSeq.map { r =>
        val bits = new Array[Byte](BloomBits / 8)
        r.getAs[scala.collection.Seq[Int]]("ps").foreach { p =>
          bits(p >> 3) = (bits(p >> 3) | (1 << (p & 7))).toByte
        }
        normalizePath(r.getString(0)) ->
          (c -> java.util.Base64.getEncoder.encodeToString(bits))
      }
    }
    perCol.flatten.groupBy(_._1).map { case (path, kvs) =>
      path -> kvs.map(_._2).toMap
    }
  }

  /** The one way the catalog writes data and delete files: `df` goes
    * out as parquet under `dir` in ONE Spark job — `FileFormatWriter`
    * over `df`'s executed plan with the session's commit protocol, what
    * `df.write.parquet` runs, under `df`'s own execution id so
    * QueryExecutionListeners see it. Returns the [[FileStats]] of every
    * non-empty file in path order: rows and min/max from the footers
    * ([[collectFileStats]]), `bloomCols` bitsets built in the write
    * tasks ([[SnapshotCatalog.BloomTracker]]) — a commit never re-reads
    * what it wrote. `specStr` splits the rows into value-pure
    * hidden-partition dirs (PartitionSpec scaladoc) and records each
    * file's pval/pspec.
    */
  private def writeFiles(df: DataFrame, dir: Path, statsSchema: StructType,
      bloomCols: Seq[String] = Seq.empty,
      specStr: Option[String] = None): Seq[FileStats] = {
    import org.apache.spark.internal.io.FileCommitProtocol
    import org.apache.spark.sql.execution.SQLExecution
    import org.apache.spark.sql.execution.datasources.FileFormatWriter
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    val frame = specStr.map(PartitionSpec.parse) match {
      case Some(p) => df.withColumn(PartitionSpec.HiddenCol,
        p.valueExprFor(df.schema.find(_.name == p.column).map(_.dataType)))
      case None => df
    }
    val session = frame.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val qe = frame.queryExecution
    val plan = qe.executedPlan
    val root = dir.toAbsolutePath
    val out = root.toString
    val partCols = plan.output.filter(_.name == PartitionSpec.HiddenCol)
    val tracker = new SnapshotCatalog.BloomTracker(
      plan.output.filterNot(partCols.contains).zipWithIndex.collect {
        case (a, i) if bloomCols.contains(a.name) => (a.name, i, a.dataType)
      })
    val committer = FileCommitProtocol.instantiate(
      session.sessionState.conf.fileCommitProtocolClass,
      java.util.UUID.randomUUID().toString, out)
    SQLExecution.withNewExecutionId(qe, Some("save")) {
      FileFormatWriter.write(session, plan, new ParquetFileFormat, committer,
        FileFormatWriter.OutputSpec(out, Map.empty, plan.output),
        session.sessionState.newHadoopConf(), partCols, None,
        if (tracker.cols.isEmpty) Seq.empty else Seq(tracker), Map.empty)
    }
    def walk(f: File): Seq[File] =
      Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap {
        case d if d.isDirectory => walk(d)
        case p if p.getName.endsWith(".parquet") => Seq(p)
        case _ => Seq.empty
      }
    val files = walk(root.toFile).map(_.getAbsolutePath).sorted
    val pvalRe = (PartitionSpec.HiddenCol + "=([^/]+)/").r
    val stats = collectFileStats(statsSchema, files).sortBy(_.path).map { s =>
      val rel = root.relativize(Paths.get(s.path)).toString
      val bits = tracker.blooms.getOrElse(rel, Map.empty)
      // a file with a non-null bloom value (a footer min) the tracker
      // never saw would silently lose its bloom — refuse instead
      tracker.cols.map(_._1).filter(c => s.min.contains(c) && !bits.contains(c))
        .foreach(c => throw new IllegalStateException(
          s"no bloom for $c of written file $rel"))
      val pval = pvalRe.findFirstMatchIn(rel)
        .map(m => PartitionSpec.unescapePathName(m.group(1)))
      s.copy(
        blooms = Some(bits.map { case (c, b) =>
          c -> java.util.Base64.getEncoder.encodeToString(b) })
          .filter(_.nonEmpty),
        pval = pval, pspec = specStr.filter(_ => pval.isDefined))
    }
    // zero-row parts get no stats entry: referencing them would break
    // the manifest's completeness (statsRowCount needs stats for every
    // file) and every read would list them for nothing — delete them
    files.filterNot(stats.map(_.path).toSet)
      .foreach(f => Files.deleteIfExists(Paths.get(f)))
    stats
  }

  /** input_file_name yields a URI (file:///...); manifests store plain
    * absolute paths.
    */
  private def normalizePath(raw: String): String =
    scala.util.Try(new java.net.URI(raw).getPath)
      .toOption.filter(_ != null)
      // fallback for URI-hostile paths: strip the scheme and collapse
      // the authority slashes to ONE leading slash, so the key matches
      // the Paths.get(...).toAbsolutePath form used everywhere else —
      // a mismatched key would silently attribute a delete file to the
      // empty set and resurrect its deleted rows
      .getOrElse("/" + raw.stripPrefix("file:").dropWhile(_ == '/'))

  /** Footer-derived per-file stats — the round-16 commit-overhead cut:
    * every parquet footer already carries exact row counts and per-
    * column min/max, so reading them on the driver (O(files) metadata
    * IO, microseconds per file) replaces the full Spark read-back job
    * the old path launched per commit. At 100 TB this is the
    * difference between "commit cost ∝ manifest" and "commit re-scans
    * every byte it just wrote" — the Iceberg discipline (stats come
    * from the writer, never a second pass).
    *
    * Exactness contract (value-equal to the Spark aggregate path —
    * FooterStatsSpec pins it type by type): numeric/timestamp min/max
    * are monotone double conversions, so min-then-convert equals
    * convert-then-min; string stats are unsigned-byte-lexicographic in
    * BOTH parquet footers and Spark's UTF8String ordering. Rendering
    * goes through the same `Double.toString` / raw-string forms the
    * old `cast(... as string)` produced; every consumer parses values
    * back (`.toDouble`) or compares strings, so equal values ⇒ equal
    * pruning decisions and equal metadata-table outputs.
    *
    * Returns None — caller falls back to the Spark job — on anything
    * outside the proven envelope: INT96 timestamps, NaN float/double
    * bounds (Spark orders NaN above all values, parquet drops it),
    * unsigned int logical types, missing/dropped chunk statistics,
    * unreadable footers.
    */
  private[graft] def footerFileStats(schema: StructType,
      files: Seq[String]): Option[Seq[FileStats]] = {
    import org.apache.spark.sql.types._
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val conf = spark.sessionState.newHadoopConf()
    // the same column set the Spark path aggregates
    val wanted = schema.fields.filter(f =>
      f.dataType.isInstanceOf[NumericType] ||
        f.dataType == TimestampType || f.dataType == StringType)
    final class Unprovable extends RuntimeException
    def bail(): Nothing = throw new Unprovable
    // unsigned byte-wise compare = parquet UTF8 stat order = Spark's
    // UTF8String ordering
    def byteLt(a: Array[Byte], b: Array[Byte]): Boolean = {
      var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) {
        val x = a(i) & 0xff; val y = b(i) & 0xff
        if (x != y) return x < y
        i += 1
      }
      a.length < b.length
    }
    def statsOf(path: String): Option[FileStats] = {
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(path), conf))
      try {
        val footer = reader.getFooter
        val blocks = footer.getBlocks.asScala.toSeq
        val rows = blocks.map(_.getRowCount).sum
        // zero-row file: the Spark groupBy path yields no stats row —
        // mirror that (writeFiles deletes the file)
        if (rows == 0L) return None
        val mins = Map.newBuilder[String, String]
        val maxs = Map.newBuilder[String, String]
        for (f <- wanted) {
          val chunks = blocks.map(_.getColumns.asScala
            .find(_.getPath.toDotString == f.name))
          // a column matching only case-insensitively would be resolved
          // by the Spark read path (caseSensitive=false) but missed by
          // the exact match above — silently weaker stats. Bail so the
          // batch falls back to the Spark job (round-16 ADVICE).
          if (chunks.exists(_.isEmpty) && blocks.exists(_.getColumns.asScala
              .exists(_.getPath.toDotString.equalsIgnoreCase(f.name))))
            bail()
          if (chunks.exists(_.isDefined)) {
            if (chunks.exists(_.isEmpty)) bail() // inconsistent row groups
            val cds = chunks.map(_.get)
            // chunks that provably hold only nulls contribute nothing;
            // a chunk with values but no usable stats is unprovable
            val valued = cds.filter { cd =>
              val st = cd.getStatistics
              if (st == null) bail()
              if (st.hasNonNullValue) true
              else if (st.isNumNullsSet && st.getNumNulls == cd.getValueCount)
                false
              else bail()
            }
            if (valued.nonEmpty) {
              val prim = valued.head.getPrimitiveType
              f.dataType match {
                case StringType =>
                  if (prim.getPrimitiveTypeName != BINARY ||
                      !prim.getLogicalTypeAnnotation.isInstanceOf[
                        LogicalTypeAnnotation.StringLogicalTypeAnnotation]) bail()
                  val lo = valued.map(_.getStatistics.getMinBytes)
                    .reduce((a, b) => if (byteLt(a, b)) a else b)
                  val hi = valued.map(_.getStatistics.getMaxBytes)
                    .reduce((a, b) => if (byteLt(a, b)) b else a)
                  mins += f.name -> truncLower(
                    new String(lo, StandardCharsets.UTF_8))
                  maxs += f.name -> truncUpper(
                    new String(hi, StandardCharsets.UTF_8))
                case dt =>
                  // numeric/timestamp → the double the Spark path's
                  // cast-to-double aggregate produced; conversions are
                  // monotone, so per-chunk convert-then-merge is exact
                  def asDouble(st: org.apache.parquet.column.statistics.Statistics[_],
                      takeMin: Boolean): Double = {
                    def raw: Any =
                      if (takeMin) st.genericGetMin else st.genericGetMax
                    (prim.getPrimitiveTypeName, dt) match {
                      case (INT32, d: DecimalType) =>
                        java.math.BigDecimal.valueOf(
                          raw.asInstanceOf[java.lang.Integer].longValue,
                          d.scale).doubleValue
                      case (INT64, d: DecimalType) =>
                        java.math.BigDecimal.valueOf(
                          raw.asInstanceOf[java.lang.Long].longValue,
                          d.scale).doubleValue
                      case (FIXED_LEN_BYTE_ARRAY | BINARY, d: DecimalType) =>
                        new java.math.BigDecimal(
                          new java.math.BigInteger((if (takeMin)
                            st.getMinBytes else st.getMaxBytes)),
                          d.scale).doubleValue
                      case (INT32, ByteType | ShortType | IntegerType) =>
                        prim.getLogicalTypeAnnotation match {
                          case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation
                              if !i.isSigned => bail()
                          case _ => ()
                        }
                        raw.asInstanceOf[java.lang.Integer].doubleValue
                      case (INT64, LongType) =>
                        prim.getLogicalTypeAnnotation match {
                          case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation
                              if !i.isSigned => bail()
                          // TIMESTAMP(NANOS/MICROS)-as-long (the legacy
                          // nanosAsLong read path) reads the raw int64 —
                          // so does this
                          case _ => ()
                        }
                        raw.asInstanceOf[java.lang.Long].doubleValue
                      case (INT64, TimestampType) =>
                        val unit = prim.getLogicalTypeAnnotation match {
                          case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
                            t.getUnit
                          case _ => bail()
                        }
                        val v = raw.asInstanceOf[java.lang.Long].longValue
                        unit match {
                          case LogicalTypeAnnotation.TimeUnit.MICROS =>
                            v / 1000000.0
                          case LogicalTypeAnnotation.TimeUnit.MILLIS =>
                            v / 1000.0
                          case _ => bail() // NANOS as TimestampType: not our writer
                        }
                      case (FLOAT, FloatType) =>
                        val v = raw.asInstanceOf[java.lang.Float].floatValue
                        if (java.lang.Float.isNaN(v)) bail()
                        v.toDouble
                      case (DOUBLE, DoubleType) =>
                        val v = raw.asInstanceOf[java.lang.Double].doubleValue
                        if (java.lang.Double.isNaN(v)) bail()
                        v
                      case _ => bail() // INT96 timestamps and anything else
                    }
                  }
                  val lo = valued.map(cd => asDouble(cd.getStatistics,
                    takeMin = true)).min
                  val hi = valued.map(cd => asDouble(cd.getStatistics,
                    takeMin = false)).max
                  mins += f.name -> java.lang.Double.toString(lo)
                  maxs += f.name -> java.lang.Double.toString(hi)
              }
            }
          } // column absent from the file: null-padded read ⇒ no stats
        }
        Some(FileStats(path = path, rows = rows,
          min = mins.result(), max = maxs.result()))
      } finally reader.close()
    }
    // footer IO parallelized on the shared driver pool
    // (SnapshotCatalog.footerPool, guide §1.2): each
    // statsOf is an independent open + footer read (~ms local, tens of
    // ms on an object store) and the serial loop was the largest single
    // identifiable driver-side cost of a MERGE commit (DriverProfile,
    // round 17). Results keep `files` order; any Unprovable/IO failure
    // surfaces on this thread and falls back to the Spark job exactly
    // as the serial form did. A worker's failure arrives wrapped in an
    // ExecutionException: a fatal cause (OOM, linkage error) is
    // rethrown, never read as "fall back".
    try {
      if (files.sizeIs <= 1) Some(files.flatMap(statsOf))
      else {
        val futs = files.map { f =>
          SnapshotCatalog.footerPool.submit(
            new java.util.concurrent.Callable[Option[FileStats]] {
              def call(): Option[FileStats] = statsOf(f)
            })
        }
        Some(futs.flatMap(_.get()))
      }
    } catch {
      case e: java.util.concurrent.ExecutionException
          if e.getCause != null && !scala.util.control.NonFatal(e.getCause) =>
        throw e.getCause
      case scala.util.control.NonFatal(_) => None
    }
  }

  /** Per-file rows and min/max — the write-side half of manifest
    * pruning (SURVEY §4): from the footers ([[footerFileStats]]) when
    * provably exact, else one Spark aggregation. Zero-row files get no
    * entry. Blooms come from [[writeFiles]] or [[collectFileBlooms]].
    */
  private def collectFileStats(schema: StructType,
      files: Seq[String]): Seq[FileStats] = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    if (files.isEmpty) return Seq.empty
    footerFileStats(schema, files) match {
      case Some(stats) => return stats
      case None => () // fall through to the Spark read-back job
    }
    val statCols = schema.fields.collect {
      case f if f.dataType.isInstanceOf[NumericType] => f.name -> col(f.name).cast("double")
      case f if f.dataType == TimestampType => f.name -> col(f.name).cast("double")
      case f if f.dataType == StringType => f.name -> col(f.name)
    }.toSeq
    val stringCols = schema.fields.collect {
      case f if f.dataType == StringType => f.name }.toSet
    val aggs = count(lit(1)).as("_rows") +:
      statCols.flatMap { case (n, c) =>
        Seq(min(c).cast("string").as(s"_min_$n"), max(c).cast("string").as(s"_max_$n"))
      }
    val rows = spark.read.schema(schema).parquet(files: _*)
      .groupBy(input_file_name().as("_file"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
    rows.toSeq.map { r =>
      val path = normalizePath(r.getString(0))
      FileStats(
        path = path,
        rows = r.getAs[Long]("_rows"),
        min = statCols.flatMap { case (n, _) =>
          Option(r.getAs[String](s"_min_$n"))
            .map(v => n -> (if (stringCols(n)) truncLower(v) else v)) }.toMap,
        max = statCols.flatMap { case (n, _) =>
          Option(r.getAs[String](s"_max_$n"))
            .map(v => n -> (if (stringCols(n)) truncUpper(v) else v)) }.toMap)
    }
  }

  private val StatStringLen = 64

  /** Iceberg-style bound truncation: a truncated LOWER bound rounds
    * down for free; a truncated UPPER bound must be incremented at its
    * last character to stay a valid upper bound.
    */
  private def truncLower(v: String): String = v.take(StatStringLen)

  /** Carries the increment leftward past maxed-out ('\uffff') chars,
    * like Iceberg's truncate transform: incrementing only the last char
    * would wrap '\uffff' to u0000 and produce a bound SMALLER than
    * the data, silently pruning files that contain matching rows. If
    * every truncated char is '\uffff' there is no valid finite upper
    * bound — return the untruncated value.
    */
  private[graft] def truncUpper(v: String): String =
    if (v.length <= StatStringLen) v
    else {
      val t = v.take(StatStringLen).toCharArray
      var i = t.length - 1
      while (i >= 0 && t(i) == '\uffff') i -= 1
      if (i < 0) v // all '\uffff': no incrementable position; keep full value
      else {
        t(i) = (t(i) + 1).toChar
        new String(t, 0, i + 1)
      }
    }

  /** File-pruned read: skip data files whose [min, max] range for
    * `column` cannot intersect [lower, upper] — manifest pruning before
    * Spark ever lists the files; the residual predicate is applied on
    * top, so results equal `read().filter(...)`. Files without stats
    * are conservatively kept.
    */
  def readWhere(ns: String, name: String, column: String,
      lower: Double, upper: Double): DataFrame = {
    import org.apache.spark.sql.functions.col
    val meta = describe(ns, name)
    val snap = meta.currentSnapshot.getOrElse(return read(ns, name))
    val keep = prunedFiles(snap, column, lower, upper)
    val schema = DataType.fromJson(meta.schemaJson).asInstanceOf[StructType]
    readFilesOf(snap, schema, keep, meta.fieldIds)
      .filter(col(column).cast("double") >= lower &&
        col(column).cast("double") <= upper)
  }

  /** The pruning decision, exposed for tests/inspection. */
  def prunedFiles(snap: SnapshotMeta, column: String,
      lower: Double, upper: Double): Seq[String] =
    pruneBy(snap, column)((mn, mx) =>
      !(mx.toDouble < lower || mn.toDouble > upper))

  /** String-column pruning (lexicographic, truncation-safe bounds). */
  def prunedFilesString(snap: SnapshotMeta, column: String,
      lower: String, upper: String): Seq[String] =
    pruneBy(snap, column)((mn, mx) => !(mx < lower || mn > upper))

  /** One- or two-sided numeric pruning (None = unbounded on that side)
    * — the shape the SQL predicate bridge produces ([[graft.query.Engine]]).
    */
  def prunedFilesRange(snap: SnapshotMeta, column: String,
      lower: Option[Double], upper: Option[Double]): Seq[String] =
    pruneBy(snap, column)((mn, mx) =>
      lower.forall(lo => mx.toDouble >= lo) && upper.forall(hi => mn.toDouble <= hi))

  /** One- or two-sided lexicographic pruning for string columns. */
  def prunedFilesStringRange(snap: SnapshotMeta, column: String,
      lower: Option[String], upper: Option[String]): Seq[String] =
    pruneBy(snap, column)((mn, mx) =>
      lower.forall(lo => mx >= lo) && upper.forall(hi => mn <= hi))

  private def pruneBy(snap: SnapshotMeta, column: String)(
      intersects: (String, String) => Boolean): Seq[String] = {
    val statsByFile = snap.fileStats.map(s => s.path -> s).toMap
    snap.files.filter { f =>
      statsByFile.get(f) match {
        case Some(s) =>
          (s.min.get(column), s.max.get(column)) match {
            case (Some(mn), Some(mx)) => intersects(mn, mx)
            case _ => true
          }
        case None => true
      }
    }
  }

  /** Point-lookup pruning: keep only files whose bloom for `column`
    * might contain `value` (files without a bloom are kept). Min/max
    * range stats can't skip inside a file's range; the bloom can —
    * the needle-in-haystack lookup (one key in a 100 TB table) reads
    * the handful of bloom-positive files instead of every file whose
    * [min,max] happens to straddle the key.
    */
  def prunedFilesBloom(snap: SnapshotMeta, column: String,
      value: String): Seq[String] = {
    val statsByFile = snap.fileStats.map(s => s.path -> s).toMap
    snap.files.filter { f =>
      statsByFile.get(f).forall(mightContain(_, column, value))
    }
  }

  /** Partition-value pruning: keep files whose recorded hidden-
    * partition value matches, BUT only when the file was written under
    * `underSpec` — a pval recorded under a different spec era (e.g.
    * bucket mod 4 after evolving to mod 8) is meaningless against the
    * current spec's literal value, so those files are conservatively
    * kept, as are files with no pval at all. This is what makes
    * equality lookups on a `bucket(N, col)` spec metadata-only even
    * though the column's min/max stats span every file.
    */
  def prunedFilesPval(snap: SnapshotMeta, pval: String,
      underSpec: String): Seq[String] = {
    val statsByFile = snap.fileStats.map(s => s.path -> s).toMap
    snap.files.filter { f =>
      statsByFile.get(f).forall { s =>
        !s.pspec.contains(underSpec.trim) || s.pval.forall(_ == pval)
      }
    }
  }

  /** Per-ERA partition-value pruning (round 15 — Iceberg's per-file
    * spec-id model, the v2 partition-spec-evolution discipline): each
    * file prunes under the spec it was WRITTEN with. `FileStats.pspec`
    * records the exact spec string per file (the spec-id analog —
    * self-describing, so no spec lookup table is needed), so after a
    * `partition.spec` evolution (bucket(4,k) → bucket(8,k), or
    * days(ts) → hours(ts)) an equality lookup prunes EXACTLY in BOTH
    * eras: for every distinct spec era that covers `column` with an
    * equality-preserving transform, the literal's partition value is
    * derived once under THAT era's transform and compared against the
    * era's files' recorded pvals. Files of eras that don't cover the
    * column (or predate partitioning) are conservatively kept —
    * [[prunedFilesPval]] only ever prunes the CURRENT era and keeps
    * the rest, which at 100 TB would mean a re-partitioned table scans
    * its entire pre-evolution history for every point lookup until
    * compaction migrates it. Re-partitioning a live table is a
    * when-not-if operation at that scale; this keeps it metadata-only.
    * ([[compactFileGroups]] migrates every file it rewrites to the
    * current spec — value-pure re-split, fresh pval/pspec — so the old
    * era drains with normal maintenance.)
    */
  def prunedFilesPvalEras(snap: SnapshotMeta, column: String,
      value: String, dt: DataType): Seq[String] = {
    val statsByFile = snap.fileStats.map(s => s.path -> s).toMap
    // literal pval per distinct era covering `column` — one tiny local
    // one-row projection per era, no job
    val eras: Map[String, String] = snap.fileStats
      .flatMap(_.pspec).distinct
      .flatMap { specStr =>
        scala.util.Try(PartitionSpec.parse(specStr)).toOption
          .filter(p => p.column == column && p.prunesEquality)
          .map(p => specStr -> pvalOfLiteral(p, value, dt))
      }.toMap
    snap.files.filter { f =>
      statsByFile.get(f).forall { s =>
        s.pspec.flatMap(eras.get) match {
          case Some(litPval) => s.pval.forall(_ == litPval)
          case None => true // unknown/uncovering era: keep
        }
      }
    }
  }

  /** The table's partition spec, if `partition.spec` is declared. */
  def partitionSpecOf(ns: String, name: String): Option[PartitionSpec] =
    PartitionSpec.of(describe(ns, name).properties)

  /** Hidden-partition value of a literal under `spec` — evaluated
    * through the session (one local one-row projection, no job) so
    * `bucket`'s xxhash64 matches the write path bit-for-bit.
    */
  def pvalOfLiteral(spec: PartitionSpec, value: String,
      dt: DataType): String = {
    import org.apache.spark.sql.functions.lit
    val row = spark.range(0L, 1L, 1L, 1).toDF()
      .select(lit(value).cast(dt).as(spec.column))
      .select(spec.valueExprFor(Some(dt)).cast("string"))
      .head()
    row.getString(0)
  }

  /** Bloom-pruned equality read: skip bloom-negative files, then apply
    * the residual equality — results equal `read().filter(col === v)`.
    * `value` is the canonical string rendering (string and integral
    * columns; the literal is cast back to the column type, keeping
    * parquet pushdown on the residual). On a table whose partition
    * spec covers `column` with an equality-preserving transform, the
    * recorded partition values prune FIRST (exact, no false
    * positives), blooms handle the survivors.
    */
  def readEquals(ns: String, name: String, column: String,
      value: String): DataFrame =
    readIn(ns, name, column, Seq(value)).df

  /** [[readEquals]] over a SET of values — results equal
    * `read().filter(col IN values)` — as ONE read of ONE snapshot: the
    * files any value may hit ([[prunedFilesIn]]) scan once, and the
    * returned [[SnapshotCatalog.PrunedRead]] reports exactly the files
    * it reads (`kept`) against the snapshot's file count (`total`). A
    * query batch's probed cells of a cell-partitioned ANN index read
    * this way: N cells cost one snapshot load and one scan.
    */
  def readIn(ns: String, name: String, column: String,
      values: Seq[String]): SnapshotCatalog.PrunedRead = {
    import org.apache.spark.sql.functions.lit
    val meta = describe(ns, name)
    val schema = DataType.fromJson(meta.schemaJson).asInstanceOf[StructType]
    meta.currentSnapshot match {
      case None => SnapshotCatalog.PrunedRead(
        read(ns, name).filter(col(column).isin(values: _*)), 0, 0)
      case Some(snap) =>
        val dt = schema(column).dataType
        val keep = prunedFilesIn(snap, column, values, dt)
        // typed IN (literals cast to the column type) so the residual
        // still pushes into the parquet reader — a one-value IN
        // optimizes to the equality; for the supported bloom types this
        // equals string-rendering equality
        SnapshotCatalog.PrunedRead(readFilesOf(snap, schema, keep, meta.fieldIds)
          .filter(col(column).isin(values.map(v => lit(v).cast(dt)): _*)),
          keep.size, snap.files.size)
    }
  }

  /** Files of `snap` that may hold a row whose `column` equals one of
    * `values`, in snapshot order: per value, per-ERA partition values
    * prune first (exact; a no-op on unpartitioned tables) and blooms
    * prune the survivors.
    */
  def prunedFilesIn(snap: SnapshotMeta, column: String,
      values: Seq[String], dt: DataType): Seq[String] = {
    val keep = values.flatMap { v =>
      prunedFilesBloom(snap, column, v)
        .filter(prunedFilesPvalEras(snap, column, v, dt).toSet)
    }.toSet
    snap.files.filter(keep)
  }

  // ----------------------------------------------------- row-level ops

  /** CDC upsert commit, the merge-on-read flavor (the Flink/Kafka →
    * Iceberg v2 sink pattern): ONE atomic snapshot that (a) commits an
    * equality delete file over `keyCols` for every key the batch
    * touches — upserted keys' OLD versions and `deletes`' keys vanish
    * — and (b) appends the batch's new rows as data files. The
    * appended files carry THIS commit's sequence number while the
    * equality delete applies only to strictly-smaller sequences, so
    * the batch's own rows survive their own delete — no read of
    * existing data anywhere: a CDC batch costs O(batch) IO on a 100 TB
    * table ([[upsert]], the copy-on-write alternative, pays file-level
    * rewrite IO instead; [[compact]] folds the accumulated delete side
    * periodically — [[maintain]]'s job).
    */
  /** @param extraProperties merged atomically with the same commit —
    *   the [[append]]-style idempotence hook (at-least-once streaming
    *   replays record their batch id in the very commit that applied
    *   the batch).
    * @param expect such a writer's precondition ([[append]]): an
    *   attempt that finds the marker moved deletes its write dirs and
    *   returns the table as it found it.
    */
  def cdcUpsert(ns: String, name: String, rows: DataFrame,
      deletes: DataFrame, keyCols: Seq[String],
      extraProperties: Map[String, String] = Map.empty,
      toBranch: Option[String] = None,
      expect: Option[Expect] = None): TableMeta =
    {
      import org.apache.spark.sql.functions.col
      require(keyCols.nonEmpty, "cdcUpsert needs at least one key column")
      val (_, meta0) = loadMeta(ns, name)
      val schema = DataType.fromJson(meta0.schemaJson).asInstanceOf[StructType]
      keyCols.foreach(c => require(schema.fieldNames.contains(c),
        s"no column $c in $ns.$name"))
      // Files are written ONCE under a unique write id; each commit
      // attempt rebuilds the snapshot on the state it loads and
      // re-attaches the same files — safe here because a CDC batch's
      // content is independent of the base snapshot (the equality
      // delete re-gates on whatever sequence number the winning attempt
      // lands at), the appendImpl retry discipline.
      val keyCast = keyCols.map(c => col(c).cast(schema(c).dataType).as(c))
      val touched = rows.select(keyCast: _*)
        .unionByName(deletes.select(keyCast: _*))
        .dropDuplicates(keyCols)
      val delDir = writeDir(ns, name, "cdc-delete-eq")
      val keySchema = StructType(keyCols.map(c => schema(c)))
      val delStats = writeFiles(touched.coalesce(1), delDir, keySchema)
      val dataDirNew = writeDir(ns, name, "cdc-data")
      // write the batch's OWN columns (cast to declared types): a batch
      // narrower than a concurrently-evolved table schema is fine —
      // readers null-pad the missing columns, the append discipline
      rows.columns.foreach(c => require(schema.fieldNames.contains(c),
        s"cdcUpsert batch column $c not in $ns.$name"))
      val written = rows.select(
        schema.fields.filter(f => rows.columns.contains(f.name))
          .map(f => col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)
      val writtenSchema = written.schema
      // honor the table's HIDDEN PARTITION SPEC like the append path
      // (round 15): a CDC batch on a partitioned table splits
      // value-pure and records pval/pspec per file, so partition
      // pruning (cell-pruned ANN serving, bucket lookups) never erodes
      // as windows accumulate — before this, every CDC-committed file
      // spanned all partitions and was conservatively kept by every
      // pruned read
      val specStr = meta0.properties.get(PartitionSpec.PropertyKey)
        .map(_.trim)
        .filter(p => writtenSchema.fieldNames.contains(PartitionSpec.parse(p).column))
      val stats0 = writeFiles(written, dataDirNew, schema,
        bloomColsFor(ns, name, schema), specStr)
      val newFiles = stats0.map(_.path)
      transact(ns, name, Seq(delDir, dataDirNew)) { meta => unlessApplied(expect, meta) {
        val current = writeBase(meta, ns, name, toBranch).getOrElse(
          throw new IllegalStateException(s"$ns.$name has no data"))
        // revalidate against the FRESHLY loaded state every attempt: a
        // cross-process RENAME/DROP landing between the write above and
        // the winning commit would make the colIds stamp (and the
        // declared keyCols) silently wrong — null-padded reads forever.
        // Refuse loudly instead; the caller replays the batch.
        val freshSchema =
          DataType.fromJson(meta.schemaJson).asInstanceOf[StructType]
        val renamedAway = keyCols.filterNot(freshSchema.fieldNames.contains) ++
          (if (meta.fieldIds.isEmpty) Nil
           else writtenSchema.fieldNames.filterNot(meta.fieldIds.contains))
        if (renamedAway.nonEmpty)
          throw new java.util.ConcurrentModificationException(
            s"$ns.$name columns ${renamedAway.distinct.mkString(", ")} were " +
              "renamed/dropped concurrently with this CDC batch — replay it")
        val snapshotId = nextIdOf(meta)
        val seqNum = nextSeqOf(meta)
        // per-FILE row count (the write coalesces to one part, but a
        // multi-part delete write must not duplicate the total);
        // physCols pins the parquet's physical key names for renames;
        // keyMin/keyMax make later candidate pruning metadata-only
        val newEq = delStats.map(st =>
          EqDeleteMeta(st.path, keyCols, seqNum, st.rows,
            physCols = Some(keyCols),
            keyMin = Some(st.min), keyMax = Some(st.max)))
        val newStats = stats0.map(_.copy(
          colIds = colIdsStamp(meta.fieldIds, writtenSchema), seq = Some(seqNum)))
        val snap = SnapshotMeta(
          snapshotId = snapshotId,
          parentId = Some(current.snapshotId),
          sequenceNumber = seqNum,
          files = current.files ++ newFiles,
          rowCount = newStats.map(_.rows).sum,
          createdAtMs = System.currentTimeMillis(),
          fileStats = current.fileStats ++ newStats,
          deleteFiles = current.deleteFiles,
          deleteFileStats = current.deleteFileStats,
          eqDeletes = current.eqDeletes ++ newEq,
          operation = Some("overwrite")) // row-delta (Iceberg's label)
        advanced(meta, toBranch, snap)
          .copy(properties = meta.properties ++ extraProperties)
      }}
    }

  /** Copy-on-write MERGE (upsert) on a numeric key column: incoming
    * rows REPLACE existing rows with the same key and insert otherwise
    * — `MERGE INTO … WHEN MATCHED UPDATE WHEN NOT MATCHED INSERT` for
    * whole rows.
    *
    * Only data files whose [min,max] key range intersects the incoming
    * batch's key bounds are rewritten (anti-join out the matched keys,
    * union the batch); every other file is carried into the new
    * snapshot untouched — file-level write amplification, not
    * table-level, which is what makes copy-on-write viable at 100 TB
    * when writes are key-clustered. Files without stats are
    * conservatively rewritten. Old files stay referenced by older
    * snapshots for time travel until expired.
    */
  def upsert(ns: String, name: String, df: DataFrame, keyCol: String,
      toBranch: Option[String] = None): TableMeta =
    upsertCounted(ns, name, df, keyCol, toBranch)._1

  /** [[upsert]], additionally returning how many existing data files the
    * key-range pruning selected for rewrite — the honest
    * write-amplification number a DML summary should report (reporting
    * the table's file total would overstate it).
    */
  def upsertCounted(ns: String, name: String, df: DataFrame,
      keyCol: String, toBranch: Option[String] = None): (TableMeta, Int) = {
    val preview = synchronized(loadMeta(ns, name)._2)
    // an upsert with no base is an append; under a branch the append
    // STAGES (bootstrap-capable: an empty table's first staged commit
    // creates the ref, the current pointer stays None)
    val base0 = toBranch match {
      case Some(b) if !preview.refs.contains(b) &&
          preview.currentSnapshotId.isEmpty => None
      case _ => writeBase(preview, ns, name, toBranch)
    }
    if (base0.isEmpty)
      return (toBranch match {
        case Some(b) => appendToBranch(ns, name, b, df)
        case None => append(ns, name, df)
      }, 0)
    // key-range pruning by the key's type: numeric keys compare via
    // the double stats, string keys lexicographically (both stat kinds
    // are collected on write) — so e.g. a changelog keyed on a string
    // id still rewrites only intersecting files
    val touchedIn: SnapshotMeta => Seq[String] =
      df.schema(keyCol).dataType match {
        case org.apache.spark.sql.types.StringType =>
          val b = df.agg(
            org.apache.spark.sql.functions.min(col(keyCol)),
            org.apache.spark.sql.functions.max(col(keyCol))).head()
          require(!b.isNullAt(0), s"upsert batch has no $keyCol values")
          snap => prunedFilesString(snap, keyCol, b.getString(0), b.getString(1))
        case _ =>
          val b = df.agg(
            org.apache.spark.sql.functions.min(col(keyCol)).cast("double"),
            org.apache.spark.sql.functions.max(col(keyCol)).cast("double")).head()
          require(!b.isNullAt(0), s"upsert batch has no $keyCol values")
          snap => prunedFiles(snap, keyCol, b.getDouble(0), b.getDouble(1))
      }
    synchronized {
      val (_, meta) = loadMeta(ns, name)
      val schema = DataType.fromJson(meta.schemaJson).asInstanceOf[StructType]
      val current = writeBase(meta, ns, name, toBranch).get
      val touched = touchedIn(current)
      val untouched = current.files.filterNot(touched.toSet)
      val remain =
        if (touched.isEmpty) spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
        else readFilesOf(current, schema, touched, meta.fieldIds)
          .join(df.select(col(keyCol)).distinct(), Seq(keyCol), "left_anti")
      val out = remain.unionByName(df, allowMissingColumns = true)
      val snapDir = writeDir(ns, name, "upsert")
      val carryDir = writeDir(ns, name, "delete-carry")
      val newStats = writeFiles(out, snapDir, out.schema,
          bloomColsFor(ns, name, out.schema))
        .map(_.copy(colIds = colIdsStamp(meta.fieldIds, out.schema)))
      val untouchedStats = current.fileStats.filter(s => untouched.contains(s.path))
      val (carryDel, carryDelStats) = carryDeletes(current, untouched, carryDir)
      (transact(ns, name, Seq(snapDir, carryDir)) { m =>
        stale(ns, name, meta, m, toBranch).getOrElse(Commit(replacing(m,
          untouched, untouchedStats, newStats, carryDel, carryDelStats,
          current.eqDeletes, toBranch)))
      }, touched.size)
    }
  }

  /** Copy-on-write range delete on a numeric column, with the
    * metadata-only fast path: files whose stats prove every row falls
    * inside [lower, upper] are DROPPED from the manifest without any
    * IO; files provably disjoint are carried unchanged; only files
    * that straddle the boundary (or lack stats) are rewritten with the
    * complement filter. On a well-clustered 100 TB table a
    * time-range retention delete touches only the two boundary files.
    */
  def deleteWhere(ns: String, name: String, column: String,
      lower: Double, upper: Double): TableMeta =
    synchronized {
      val (_, meta) = loadMeta(ns, name)
      val schema = DataType.fromJson(meta.schemaJson).asInstanceOf[StructType]
      val current = meta.currentSnapshot.getOrElse(
        throw new IllegalStateException(s"$ns.$name has no data"))
      val statsByFile = current.fileStats.map(s => s.path -> s).toMap
      def bound(f: String): Option[(Double, Double)] = for {
        s <- statsByFile.get(f)
        mn <- s.min.get(column)
        mx <- s.max.get(column)
      } yield (mn.toDouble, mx.toDouble)
      val (inside, rest) = current.files.partition(f =>
        bound(f).exists { case (mn, mx) => mn >= lower && mx <= upper })
      val (disjoint, straddling) = rest.partition(f =>
        bound(f).exists { case (mn, mx) => mx < lower || mn > upper })
      val snapDir = writeDir(ns, name, "delete")
      val carryDir = writeDir(ns, name, "delete-carry")
      val newStats =
        if (straddling.isEmpty) Seq.empty
        else writeFiles(
            readFilesOf(current, schema, straddling, meta.fieldIds)
              .filter(!col(column).between(lower, upper)),
            snapDir, schema, bloomColsFor(ns, name, schema))
          .map(_.copy(colIds = colIdsStamp(meta.fieldIds, schema)))
      val keptStats = current.fileStats.filter(s => disjoint.contains(s.path))
      val (carryDel, carryDelStats) = carryDeletes(current, disjoint, carryDir)
      transact(ns, name, Seq(snapDir, carryDir)) { m =>
        stale(ns, name, meta, m).getOrElse(Commit(replacing(m, disjoint,
          keptStats, newStats, carryDel, carryDelStats, current.eqDeletes,
          operation = "delete")))
      }
    }

  /** Copy-on-write rewrite of a TARGETED file subset — the primitive
    * under the SQL bridge's DELETE/UPDATE (query/Engine DML): callers
    * pick the candidate files (typically via the same manifest
    * range/bloom pruning the read path uses, so only files that MAY
    * contain matching rows pay IO), `transform` rewrites their rows,
    * and every other file is carried into the new snapshot untouched —
    * file-level write amplification, the [[upsert]] discipline
    * generalized to an arbitrary row transform. Old files stay
    * referenced by older snapshots for time travel until expired.
    *
    * The transform's output is re-projected onto the table schema
    * (same columns, same order), so a transform cannot accidentally
    * evolve the schema through this path.
    */
  /** @param expectedSnapshotId optimistic-concurrency guard: callers
    *   that picked `targets` from a snapshot OUTSIDE this lock (the
    *   SQL DML path) pass the snapshot they read — if another commit
    *   landed in between, the target list may be stale (rows can have
    *   moved into files the caller never examined), so the rewrite
    *   REFUSES with [[java.util.ConcurrentModificationException]] and
    *   the caller re-plans against the new snapshot (the Iceberg
    *   validate-and-retry discipline). None skips the check.
    */
  def rewriteFiles(ns: String, name: String, targets: Seq[String],
      transform: DataFrame => DataFrame,
      expectedSnapshotId: Option[Long] = None,
      toBranch: Option[String] = None): TableMeta =
    {
      // Plan + write OUTSIDE the catalog lock (round 14, the
      // compactFileGroups discipline): a large CoW DELETE/UPDATE/MERGE
      // rewrite must not serialize every other in-process commit
      // behind its IO. If the table moved mid-rewrite, the commit
      // attempt's [[stale]] check discards the written files and sends
      // the CALLER back to re-plan (Engine.retryConcurrent's contract —
      // the same signal the expectedSnapshotId check raises).
      val (_, meta) = loadMeta(ns, name)
      val schema = DataType.fromJson(meta.schemaJson).asInstanceOf[StructType]
      val current = writeBase(meta, ns, name, toBranch).getOrElse(
        throw new IllegalStateException(s"$ns.$name has no data"))
      stale(ns, name, meta, meta, toBranch, expectedSnapshotId)
        .foreach(c => throw c.e)
      val targetSet = targets.toSet.intersect(current.files.toSet)
      val untouched = current.files.filterNot(targetSet)
      // the WHOLE unlocked plan/write phase (target read + transform
      // write + stats + delete-side carry, all of which read
      // planned-state files) converts failures through staleOrRethrow
      // — a concurrent commit + expiry deleting planned files mid-scan
      // must surface as the re-plan signal, wherever it strikes.
      // The transform runs even with ZERO targets: a row-producing
      // transform (the SQL MERGE's insert side) must still write its
      // output — an empty input with a row-preserving transform writes
      // no part files, so the no-op case stays free.
      val snapDir = writeDir(ns, name, "rewrite")
      val carryDir = writeDir(ns, name, "delete-carry")
      val (newStats, keptStats, carryDel, carryDelStats) = try {
        // merge-on-read interplay: the targets are read with their
        // delete entries APPLIED (folded into the rewrite); entries
        // for untouched files are carried forward below
        val st = writeFiles(
            transform(readFilesOf(current, schema, targetSet.toSeq.sorted,
              meta.fieldIds)).select(schema.fieldNames.map(col(_)).toSeq: _*),
            snapDir, schema, bloomColsFor(ns, name, schema))
          .map(_.copy(colIds = colIdsStamp(meta.fieldIds, schema)))
        val kept = current.fileStats.filter(s => untouched.contains(s.path))
        val (cd, cds) = carryDeletes(current, untouched, carryDir)
        (st, kept, cd, cds)
      } catch {
        case scala.util.control.NonFatal(e) =>
          throw staleOrRethrow(ns, name, meta, e)
      }
      // equality deletes carry whole: rewritten files get the NEW
      // sequence number (the rewrite already applied the deletes), so
      // they only keep applying to the untouched lower-seq files
      transact(ns, name, Seq(snapDir, carryDir)) { m =>
        stale(ns, name, meta, m, toBranch).getOrElse(Commit(replacing(m,
          untouched, keptStats, newStats, carryDel, carryDelStats,
          current.eqDeletes, toBranch)))
      }
    }


  /** An unlocked plan-phase read/write failed: if the table MOVED off
    * the planned-against state, the failure is almost certainly the
    * staleness itself (a concurrent commit + expiry deleted the
    * planned snapshot's files mid-scan) — convert it to the re-plan
    * signal the callers already retry on, instead of surfacing an
    * opaque FileNotFound-wrapped SparkException. If the table did NOT
    * move, the failure is real and rethrows unchanged.
    */
  private def staleOrRethrow(ns: String, name: String,
      planned: TableMeta, e: Throwable): Throwable = {
    val movedTo = scala.util.Try(loadMeta(ns, name)._2.currentSnapshotId)
      .toOption.flatten
    if (movedTo != planned.currentSnapshotId) {
      val cme = new java.util.ConcurrentModificationException(
        s"$ns.$name moved during an unlocked rewrite read " +
          s"(planned=${planned.currentSnapshotId} now=$movedTo) — " +
          "re-plan and retry")
      cme.initCause(e)
      cme
    } else e
  }

  /** Delete-side carryover for a copy-on-write rewrite that replaces
    * some data files: entries pointing at SURVIVING files move to a
    * fresh delete file (they still hide live rows); entries for
    * replaced files were folded into the rewrite itself (the rewrite
    * read via [[readFilesOf]]) and are dropped — keeping them would
    * make [[SnapshotMeta.statsRowCount]] double-subtract. O(delete
    * side) IO, which merge-on-read keeps small by construction.
    */
  private def carryDeletes(current: SnapshotMeta, survivors: Seq[String],
      delDir: Path): (Seq[String], Seq[FileStats]) = {
    if (current.deleteFiles.isEmpty) return (Seq.empty, Seq.empty)
    import spark.implicits._
    val survDf = survivors.toDF("file_path")
    val kept = spark.read.schema(DeleteFileSchema)
      .parquet(current.deleteFiles: _*)
      .join(survDf, Seq("file_path"), "left_semi")
    val stats = writeFiles(kept.coalesce(1), delDir, DeleteFileSchema)
    if (stats.isEmpty) {
      // nothing survived: drop the whole empty carry dir immediately
      deleteRecursively(delDir)
      (Seq.empty, Seq.empty)
    } else (stats.map(_.path), stats)
  }

  /** Best-effort recursive delete of an abandoned WRITE DIRECTORY —
    * parquet parts, `_SUCCESS` marker and the dir itself go together,
    * so a discarded optimistic-concurrency attempt leaves nothing for
    * [[removeOrphanFiles]] to age out.
    */
  private def deleteRecursively(dir: Path): Unit = {
    def rm(p: Path): Unit = {
      if (Files.isDirectory(p)) {
        val s = Files.list(p)
        try s.iterator().forEachRemaining(rm(_)) finally s.close()
      }
      Files.deleteIfExists(p): Unit
    }
    try rm(dir) catch { case scala.util.control.NonFatal(_) => () }
  }

  /** `meta` advanced by a snapshot whose manifest REPLACES the write
    * target's file list (compact/upsert/delete shape, vs append's
    * cumulative one): the `untouched` files keep their `kept` stats and
    * the `added` files take this commit's sequence number.
    */
  private def replacing(meta: TableMeta, untouched: Seq[String],
      kept: Seq[FileStats], added: Seq[FileStats],
      deleteFiles: Seq[String] = Seq.empty,
      deleteFileStats: Seq[FileStats] = Seq.empty,
      eqDeletes: Seq[EqDeleteMeta] = Seq.empty,
      toBranch: Option[String] = None,
      operation: String = "overwrite"): TableMeta = {
    val seq = nextSeqOf(meta)
    val stats = kept ++ added.map(_.copy(seq = Some(seq)))
    advanced(meta, toBranch, SnapshotMeta(
      snapshotId = nextIdOf(meta),
      parentId = toBranch.fold(meta.currentSnapshotId)(meta.refs.get),
      sequenceNumber = seq,
      files = untouched ++ added.map(_.path),
      rowCount = stats.map(_.rows).sum,
      createdAtMs = System.currentTimeMillis(),
      fileStats = stats,
      deleteFiles = deleteFiles,
      deleteFileStats = deleteFileStats,
      eqDeletes = eqDeletes,
      operation = Some(operation)))
  }

  // -------------------------------------------------------- maintenance

  /** Expire all but the last `keepLast` snapshots and delete data files
    * no longer referenced by any retained snapshot (Iceberg
    * expire-snapshots semantics; safe because file lists are
    * append-cumulative).
    *
    * @param olderThanMs Iceberg's operative retention knob
    *   (`older_than` + `retain_last` floor): when set, ONLY snapshots
    *   committed strictly before this wall-clock instant are eligible
    *   to expire — younger ones are retained regardless of how many,
    *   and `keepLast` stays a floor of most-recent snapshots kept even
    *   when the whole history is old. None = pure count-based trim.
    */
  def expireSnapshots(ns: String, name: String, keepLast: Int,
      olderThanMs: Option[Long] = None): TableMeta = {
    require(keepLast >= 1, "must retain at least one snapshot")
    // what the landed attempt expired: reaped after the commit
    var orphaned = Seq.empty[String]
    var droppedManifests = Seq.empty[String]
    val landed = transact(ns, name) { meta =>
      // REF AGING (round 16, Iceberg's `history.expire.max-ref-age-ms`,
      // opt-in): with the property set, branches and tags whose HEAD
      // snapshot committed before the age window drop in this same
      // expiry commit — an abandoned WAP branch or stale tag stops
      // pinning its chain forever without a manual drop_branch. Age is
      // the head snapshot's commit time (Iceberg's rule, zero extra
      // metadata): an ACTIVE consumer pin keeps advancing and stays
      // young by construction. Refs on a cold table age out too —
      // that is the operator's declared policy, and the snapshots a
      // dropped ref pointed at still obey keep_last/older_than below.
      val maxRefAge = meta.properties.get(MaxRefAgeProp)
        .flatMap(v => scala.util.Try(v.trim.toLong).toOption)
      val agedOut: Set[String] = maxRefAge match {
        case None => Set.empty
        case Some(a) =>
          val cutoff = System.currentTimeMillis() - a
          val byId = meta.snapshots.map(s => s.snapshotId -> s).toMap
          meta.refs.filter { case (_, id) =>
            byId.get(id).exists(_.createdAtMs < cutoff)
          }.keySet
      }
      val liveRefs = meta.refs -- agedOut
      // The CURRENT snapshot and every surviving ref'd (branch/tag)
      // snapshot are always retained even when off the tail — expiring
      // a snapshot a pointer references would corrupt the table.
      val tail = meta.snapshots.sortBy(_.snapshotId).takeRight(keepLast)
      val pinned = liveRefs.values.toSet ++ meta.currentSnapshotId
      val retained = meta.snapshots
        .filter(s => tail.exists(_.snapshotId == s.snapshotId) ||
          pinned.contains(s.snapshotId) ||
          olderThanMs.exists(s.createdAtMs >= _))
      // delete files are referenced artifacts too — expiring a snapshot
      // must never reap a delete file a retained snapshot still applies
      val referenced = retained.flatMap(s =>
        s.files ++ s.deleteFiles ++ s.eqDeletes.map(_.path)).toSet
      orphaned = meta.snapshots.flatMap(s =>
        s.files ++ s.deleteFiles ++ s.eqDeletes.map(_.path))
        .distinct.filterNot(referenced.contains)
      // RE-PARENT survivors over the expired gaps (round 15): a
      // retained snapshot whose parent expired points at its nearest
      // RETAINED ancestor instead, so ancestry stays WALKABLE — the
      // fast-forward publish guard and the follower's replace-skip
      // chain walk keep working across expiry (before this, expiring
      // a staged branch's intermediates made a legitimate publish
      // refuse forever). The stitched edge spans only expired commits,
      // whose file lists the surviving child carries cumulatively —
      // exactly the endpoints-window the changelog already reads.
      val retainedIds = retained.map(_.snapshotId).toSet
      val parentOf = meta.snapshots
        .map(s => s.snapshotId -> s.parentId).toMap
      @scala.annotation.tailrec
      def nearestRetained(id: Option[Long]): Option[Long] = id match {
        case Some(p) if retainedIds(p) => Some(p)
        case Some(p) => nearestRetained(parentOf.getOrElse(p, None))
        case None => None
      }
      val healed = retained.map { s =>
        if (s.parentId.exists(p => !retainedIds(p)))
          s.copy(parentId = nearestRetained(s.parentId),
            stitched = Some(true))
        else s
      }
      // dropped snapshots' side manifests are unreferenced artifacts
      // too (per-snapshot, never shared) — reclaim them with the data
      val keptManifests = retained.flatMap(_.manifestPath).toSet
      droppedManifests = meta.snapshots.flatMap(_.manifestPath)
        .filterNot(keptManifests)
      Commit(meta.copy(snapshots = healed, refs = liveRefs,
        tagNames = meta.tagNames.filterNot(agedOut)))
    }
    // physical reap stops at the ownership boundary: [[addFiles]]
    // imports live OUTSIDE the table tree and are forgotten from
    // metadata only — expiry must never destroy a source dataset
    // the catalog merely adopted (native files all live inside, so
    // the guard costs nothing on the normal path)
    orphaned.filter(ownsPath(ns, name, _))
      .foreach(f => Files.deleteIfExists(Paths.get(f)))
    droppedManifests.foreach { p =>
      manifestCache.synchronized(manifestCache.remove(p)): Unit
      Files.deleteIfExists(Paths.get(p)): Unit
    }
    landed
  }

  /** Roll the table back to an earlier snapshot (Iceberg
    * rollback-to-snapshot semantics): the current-snapshot pointer
    * moves; NO history is rewritten, so the abandoned "future"
    * snapshots stay time-travelable until [[expireSnapshots]] and a
    * roll-FORWARD is just another rollback. Appends after a rollback
    * chain off the rolled-back snapshot (parentId records the fork).
    * An O(metadata) operation — no data files are touched, which is
    * what makes it the 100 TB incident-recovery path (undoing a bad
    * commit costs one pointer write, not a restore job).
    */
  def rollback(ns: String, name: String, snapshotId: Long): TableMeta =
    transact(ns, name) { meta =>
      require(meta.snapshots.exists(_.snapshotId == snapshotId),
        s"no snapshot $snapshotId in $ns.$name")
      Commit(meta.copy(currentSnapshotId = Some(snapshotId)))
    }

  /** The ancestor chain from `headId` to the root (inclusive, newest
    * first), following `parentId` edges through the given snapshot
    * list — THE shared lineage walk (`ancestors_of`, the `history`
    * metadata table, publish/rollback guards all consume it; chain
    * semantics live in exactly one place).
    */
  private[graft] def ancestorChain(snapshots: Seq[SnapshotMeta],
      headId: Long): Seq[SnapshotMeta] = {
    val byId = snapshots.map(s => s.snapshotId -> s).toMap
    Iterator.iterate(byId.get(headId))(
        _.flatMap(_.parentId).flatMap(byId.get))
      .takeWhile(_.isDefined).flatten.toSeq
  }

  /** Snapshot ids on the ancestor chain from `headId` (inclusive). */
  private def ancestorIds(snapshots: Seq[SnapshotMeta],
      headId: Long): Set[Long] =
    ancestorChain(snapshots, headId).map(_.snapshotId).toSet

  /** True iff `snapshotId`'s CONTENT is already in the published
    * lineage: the id itself is a current ancestor, or a cherry-picked
    * re-attach of it is. This is what makes a publish retry after a
    * crash-between-commits (cherrypick landed, ref drop didn't) safe
    * to detect — the path-overlap heuristic alone would stop matching
    * as soon as a compaction rewrote the re-attached files, and the
    * retry would silently duplicate every staged row.
    */
  def isPublished(ns: String, name: String, snapshotId: Long): Boolean =
    isPublished(describe(ns, name), snapshotId)

  private def isPublished(meta: TableMeta, snapshotId: Long): Boolean =
    meta.currentSnapshotId.exists { cur =>
      val chain = ancestorIds(meta.snapshots, cur)
      chain(snapshotId) || meta.snapshots.exists(x =>
        x.cherrypickedFrom.contains(snapshotId) && chain(x.snapshotId))
    }

  /** True iff `snapshotId` is on the current snapshot's ancestor
    * chain (inclusive) — the guard Iceberg's `rollback_to_snapshot`
    * applies: rolling "back" to an abandoned fork is a different
    * operation (`set_current_snapshot`) and must be asked for by name.
    */
  def isCurrentAncestor(ns: String, name: String, snapshotId: Long): Boolean = {
    val meta = describe(ns, name)
    meta.currentSnapshotId.exists(c =>
      ancestorIds(meta.snapshots, c)(snapshotId))
  }

  /** Latest snapshot on the CURRENT ancestor chain created at or
    * before `tsMs` (the `rollback_to_timestamp` resolver). Only
    * ancestors qualify — a staged branch snapshot or an abandoned
    * fork must never be what "the table as of 3pm" rolls back to.
    */
  def snapshotIdAsOf(ns: String, name: String, tsMs: Long): Option[Long] = {
    val meta = describe(ns, name)
    val chain = meta.currentSnapshotId
      .map(ancestorIds(meta.snapshots, _)).getOrElse(Set.empty)
    meta.snapshots.filter(s => chain(s.snapshotId) && s.createdAtMs <= tsMs)
      .sortBy(s => (s.createdAtMs, s.snapshotId)).lastOption.map(_.snapshotId)
  }

  /** Cherry-pick `snapshotId` onto the CURRENT head (Iceberg's
    * `cherrypick_snapshot` procedure): when the snapshot's parent IS
    * the current head, this is a pure pointer move (the staged-commit
    * fast path — the snapshot was built against exactly this state).
    * When the table has MOVED since, the snapshot must be an `append`
    * whose parent edge is its own commit (not stitched across expiry):
    * its added files are re-attached to the head as a NEW snapshot —
    * metadata-only, no data bytes move — stamped with a FRESH sequence
    * number so the head's existing equality deletes (which apply only
    * to strictly-smaller sequences) do not hide the re-committed rows,
    * Iceberg's re-commit semantics. Row-CHANGING snapshots
    * (delete/overwrite/replace) are refused on a moved head: their
    * effect depends on the base state they were computed against, and
    * re-applying one against different data could silently drop or
    * resurrect rows — the failure class a table format must never
    * have. Re-publishing an already-applied snapshot is refused (its
    * files are present on the head already).
    */
  def cherrypick(ns: String, name: String, snapshotId: Long): TableMeta =
    transact(ns, name) { meta =>
      val s = meta.snapshots.find(_.snapshotId == snapshotId).getOrElse(
        throw new IllegalArgumentException(
          s"no snapshot $snapshotId in $ns.$name"))
      if (meta.currentSnapshotId.contains(snapshotId)) Applied(meta)
      else {
        // durable double-publish guard (NOT the path heuristic below —
        // a compaction after the first publish rewrites the re-attached
        // files, so paths stop overlapping exactly when a retry would
        // silently duplicate the rows)
        require(!isPublished(meta, snapshotId),
          s"snapshot $snapshotId of $ns.$name was already published: it " +
            "(or a cherry-pick of it) is an ancestor of the current head")
        // built against exactly the current state: publishing is one
        // pointer move
        if (meta.currentSnapshotId == s.parentId)
          Commit(meta.copy(currentSnapshotId = Some(snapshotId)))
        else Commit(cherrypicked(ns, name, meta, s))
      }
    }

  /** `meta` with `s`'s added files re-attached to the moved head as a
    * new snapshot ([[cherrypick]]).
    */
  private def cherrypicked(ns: String, name: String, meta: TableMeta,
      s: SnapshotMeta): TableMeta = {
    val snapshotId = s.snapshotId
    require(s.operation.contains("append"),
      s"cannot cherry-pick snapshot $snapshotId of $ns.$name onto a " +
        s"moved head: its operation is " +
        s"'${s.operation.getOrElse("unknown")}' — only append " +
        "snapshots re-apply safely after the table advanced")
    require(!s.stitched.contains(true),
      s"cannot cherry-pick snapshot $snapshotId of $ns.$name: snapshot " +
        "expiry stitched its parent edge, so its file delta spans more " +
        "than its own commit")
    val parent = s.parentId.flatMap(pid =>
      meta.snapshots.find(_.snapshotId == pid))
    require(s.parentId.isEmpty || parent.isDefined,
      s"cannot cherry-pick snapshot $snapshotId of $ns.$name: its " +
        "parent snapshot was expired, so its own file delta is unknowable")
    val parentFiles = parent.map(_.files.toSet).getOrElse(Set.empty)
    require(parentFiles.subsetOf(s.files.toSet) &&
        s.deleteFiles == parent.map(_.deleteFiles).getOrElse(Seq.empty) &&
        s.eqDeletes == parent.map(_.eqDeletes).getOrElse(Seq.empty),
      s"snapshot $snapshotId of $ns.$name is labeled append but its " +
        "delta is not purely additive")
    val added = s.files.filterNot(parentFiles)
    val head = meta.currentSnapshot
    val headFiles = head.map(_.files).getOrElse(Seq.empty)
    require(!added.exists(headFiles.toSet),
      s"snapshot $snapshotId of $ns.$name was already published: its " +
        "files are present on the current head")
    val newSeq = nextSeqOf(meta)
    val newId = nextIdOf(meta)
    val addedSet = added.toSet
    val addedStats = s.fileStats.filter(fs => addedSet(fs.path))
      .map(_.copy(seq = Some(newSeq)))
    val snap = SnapshotMeta(
      snapshotId = newId,
      parentId = head.map(_.snapshotId),
      sequenceNumber = newSeq,
      files = headFiles ++ added,
      rowCount = addedStats.map(_.rows).sum,
      createdAtMs = System.currentTimeMillis(),
      fileStats = head.map(_.fileStats).getOrElse(Seq.empty) ++ addedStats,
      deleteFiles = head.map(_.deleteFiles).getOrElse(Seq.empty),
      deleteFileStats =
        head.map(_.deleteFileStats).getOrElse(Seq.empty),
      eqDeletes = head.map(_.eqDeletes).getOrElse(Seq.empty),
      operation = Some("append"),
      cherrypickedFrom = Some(snapshotId))
    meta.copy(currentSnapshotId = Some(newId),
      snapshots = meta.snapshots :+ snap)
  }

  /** Delete data files under the table's data directory that no
    * snapshot references (Iceberg remove-orphan-files semantics):
    * leftovers of failed/aborted writes. Returns the deleted paths.
    * Metadata is NOT rewritten — orphans are by definition invisible
    * to every reader, so this needs no commit.
    *
    * @param olderThanMs SAFETY WINDOW (Iceberg's `older_than`
    *   contract, round 14): only files last modified STRICTLY BEFORE
    *   the cutoff are eligible; default = now −
    *   [[SnapshotCatalog.OrphanSafetyWindowMs]]. This is load-bearing,
    *   not cosmetic — data files are written OUTSIDE the catalog lock
    *   (appendImpl/cdcUpsert/rewriteFiles/compactFileGroups write
    *   first, commit after; other PROCESSES always wrote lock-free),
    *   so a fresh unreferenced file may be a concurrent writer's
    *   not-yet-committed output, not garbage. A file that is still an
    *   orphan a window later is a true aborted-write leftover.
    */
  def removeOrphanFiles(ns: String, name: String,
      olderThanMs: Option[Long] = None): Seq[String] =
    synchronized {
      val cutoff = olderThanMs.getOrElse(
        System.currentTimeMillis() - OrphanSafetyWindowMs)
      val (_, meta) = loadMeta(ns, name)
      val referenced = meta.snapshots
        .flatMap(s => s.files ++ s.deleteFiles ++ s.eqDeletes.map(_.path))
        .map(f => Paths.get(f).toAbsolutePath.normalize.toString).toSet
      // SIDE MANIFESTS orphaned by a crashed commit (manifest written,
      // metadata CREATE_NEW never reached, in-process cleanup died
      // with the writer): anything manifest-* the current metadata
      // doesn't reference and older than the safety window is garbage
      // — every LIVE snapshot's manifest is referenced by the current
      // version (snapshot lists are carried whole), and an in-flight
      // concurrent commit's manifest is younger than the window.
      val refManifests = meta.snapshots.flatMap(_.manifestPath)
        .map(p => Paths.get(p).toAbsolutePath.normalize.toString).toSet
      val mdir = metaDir(ns, name)
      if (Files.isDirectory(mdir)) {
        val ms = Files.list(mdir)
        try {
          import scala.jdk.CollectionConverters._
          ms.iterator().asScala
            .filter(p => p.getFileName.toString.startsWith("manifest-") &&
              !refManifests.contains(p.toAbsolutePath.normalize.toString) &&
              scala.util.Try(Files.getLastModifiedTime(p).toMillis)
                .getOrElse(Long.MaxValue) < cutoff)
            .foreach { p =>
              manifestCache.synchronized(
                manifestCache.remove(p.toString)): Unit
              Files.deleteIfExists(p): Unit
            }
        } finally ms.close()
      }
      val dir = dataDir(ns, name)
      if (!Files.isDirectory(dir)) Seq.empty
      else {
        val it = Files.walk(dir)
        try {
          import scala.jdk.CollectionConverters._
          val orphans = it.iterator().asScala
            .filter(p => Files.isRegularFile(p) &&
              p.getFileName.toString.endsWith(".parquet") &&
              !referenced.contains(p.toAbsolutePath.normalize.toString) &&
              scala.util.Try(Files.getLastModifiedTime(p).toMillis)
                .getOrElse(Long.MaxValue) < cutoff)
            .toList
          orphans.foreach(p => Files.deleteIfExists(p): Unit)
          // Reap abandoned WRITE DIRECTORIES (round-14 ADVICE item 5):
          // a discarded attempt that predates the whole-dir discard, or
          // one that crashed between write and commit, leaves a dir
          // holding only a `_SUCCESS` marker (and .crc siblings) after
          // the parquet sweep above. A directory that (a) isn't the
          // data root, (b) holds no referenced file anywhere below it,
          // and (c) whose every remaining entry is such a marker older
          // than the safety window deletes whole — bottom-up so nested
          // hidden-partition subdirs fold first. An IN-FLIGHT writer's
          // dir is never eligible: Spark's committer puts a fresh
          // `_temporary` subtree there immediately, and fresh anything
          // fails (c).
          def marker(p: Path): Boolean = {
            val n = p.getFileName.toString
            n == "_SUCCESS" || n.endsWith(".crc")
          }
          def reap(d: Path): Boolean = {
            val entries = {
              val s = Files.list(d)
              try { import scala.jdk.CollectionConverters._
                s.iterator().asScala.toList } finally s.close()
            }
            val left = entries.filterNot(c => Files.isDirectory(c) && reap(c))
            // an EMPTY dir has no entry to age-check — gate on the
            // dir's own mtime instead, or a writer's just-created
            // output dir would vanish between mkdir and first file
            val deletable = d != dir &&
              (left.nonEmpty || scala.util.Try(
                Files.getLastModifiedTime(d).toMillis)
                .getOrElse(Long.MaxValue) < cutoff) &&
              left.forall(p =>
                Files.isRegularFile(p) && marker(p) &&
                  !referenced.contains(p.toAbsolutePath.normalize.toString) &&
                  scala.util.Try(Files.getLastModifiedTime(p).toMillis)
                    .getOrElse(Long.MaxValue) < cutoff)
            if (deletable) {
              left.foreach(p => Files.deleteIfExists(p): Unit)
              scala.util.Try(Files.deleteIfExists(d)).getOrElse(false)
            } else false
          }
          reap(dir): Unit
          orphans.map(_.toString)
        } finally it.close()
      }
    }

  /** Compact the current snapshot into `numFiles` files: rewrites data
    * and commits a snapshot whose file list REPLACES (not appends) the
    * previous manifest — old files stay referenced by older snapshots
    * for time travel until expired.
    *
    * With `clusterBy` columns the rewrite Z-orders the data (Morton
    * curve over the named numeric columns, `functions.ZOrder`):
    * range-partition + sort on the z-value, so each output file covers
    * a small hyper-rectangle of the key space and [[readWhere]]'s
    * min/max pruning works on EVERY clustered column at once — the
    * `OPTIMIZE ... ZORDER BY` layout move that keeps multi-predicate
    * scans sublinear at 100 TB.
    */
  def compact(ns: String, name: String, numFiles: Int,
      clusterBy: Seq[String] = Nil): TableMeta =
    synchronized {
      val (_, meta) = loadMeta(ns, name)
      val schema = DataType.fromJson(meta.schemaJson).asInstanceOf[StructType]
      val current = meta.currentSnapshot.getOrElse(
        throw new IllegalStateException(s"$ns.$name has no data to compact"))
      val snapDir = writeDir(ns, name, "compact")
      // compact FOLDS merge-on-read delete files back into the data:
      // the rewrite reads with deletes applied and the new snapshot
      // carries none
      val df = readFilesOf(current, schema, current.files, meta.fieldIds)
      val rewritten =
        if (clusterBy.isEmpty) df.repartition(numFiles)
        else df
          .withColumn("_graft_z", graft.functions.ZOrder.scaled(df, clusterBy))
          .repartitionByRange(numFiles, col("_graft_z"))
          .sortWithinPartitions("_graft_z")
          .drop("_graft_z")
      val stats = writeFiles(rewritten, snapDir, schema,
          bloomColsFor(ns, name, schema))
        .map(_.copy(colIds = colIdsStamp(meta.fieldIds, schema)))
      transact(ns, name, Seq(snapDir)) { m =>
        stale(ns, name, meta, m).getOrElse(Commit(replacing(m, Nil, Nil,
          stats, operation = "replace"))) // content-preserving layout rewrite
      }
    }

  /** Data files (among `among`) an equality-delete set MAY hit,
    * decided METADATA-FIRST: a file is a candidate for delete `d` when
    * its sequence number is strictly below `d.seq` (the v2 gate) AND,
    * for every key column, the file's min/max stats intersect the
    * delete's key bounds — taken from the MANIFEST
    * ([[EqDeleteMeta.keyMin]]/`keyMax`, stamped at commit like
    * Iceberg's delete-manifest lower/upper bounds), so a delete whose
    * keys touch nothing is dismissed with ZERO IO. Deletes under
    * [[EqCandidateKeysCap]] entries whose key columns are ALL
    * stat-typed and that DO intersect something are refined exactly:
    * the distinct keys are read (tiny, driver-sized) and a file stays
    * a candidate only when SOME key falls inside its [min,max] (every
    * column at once for composite keys — per-column bounds alone
    * would smear a delete touching (t1, low) and (t2, high) over
    * every file in between), with a per-key bloom veto on
    * bloom-declared columns. Files without stats (or with
    * non-stat-typed key columns) are conservatively kept — pruning may
    * only ever KEEP extra files. The changelog/compaction analogue of
    * the read path's range pruning: a narrow key window costs
    * O(touched files), not O(table).
    */
  private def eqDeleteCandidates(snap: SnapshotMeta, schema: StructType,
      eqs: Seq[EqDeleteMeta], among: Seq[String]): Seq[String] = {
    if (eqs.isEmpty || among.isEmpty) return Nil
    val statsByFile = snap.fileStats.map(s => s.path -> s).toMap
    val hit = scala.collection.mutable.LinkedHashSet.empty[String]
    eqs.foreach { d =>
      hit ++= eqCandidatesOfEntry(d, schema, statsByFile, among)
    }
    among.filter(hit)
  }

  /** Per-ENTRY candidate decision, with the entry's expensive parsed
    * state MEMOIZED ([[eqStateCache]], round-15 VERDICT item 1): a
    * changelog FOLLOWER's consecutive windows each carry a different
    * delete side (one new entry per window), which used to defeat the
    * whole-side memo and re-run every entry's bounds/key reads per
    * window — O(windows x entries) delete-file jobs. Keying the parsed
    * bounds + sorted key tuples on the (immutable) entry itself makes
    * each entry pay its Spark read ONCE ever; re-deciding a new
    * snapshot's files is then pure driver CPU (binary search over
    * pre-parsed arrays — also the round-14 ADVICE fix: per-column
    * Double arrays are parsed once per entry, never per (file, tuple,
    * column)).
    */
  private def eqCandidatesOfEntry(d: EqDeleteMeta, schema: StructType,
      statsByFile: Map[String, FileStats],
      among: Seq[String]): Seq[String] = {
    val state = eqEntryStateOf(d, schema)
    state.bounds match {
      case None => Nil // some comparable key column is ALL NULL: inert
      case Some(b) =>
        val coarse = among.filter { f =>
          statsByFile.get(f) match {
            case None => true
            case Some(fs) => fs.seq.getOrElse(0L) < d.seq &&
              eqBoundsPass(state, fs, b)
          }
        }
        val exact = state.exactEligible && coarse.nonEmpty
        if (!exact) coarse
        else {
          val t = state.tuples(eqTuplesOf(d, schema, state))
          if (t.count == 0) Nil
          else coarse.filter { f =>
            statsByFile.get(f) match {
              case None => true
              case Some(fs) => eqTuplesKeep(state, t, d, fs)
            }
          }
        }
    }
  }

  /** The comparable (stats-collected) key columns of an entry:
    * (declared name, physical name, numeric-stat rendering). Numeric
    * and timestamp columns compare as doubles, strings raw — matching
    * what [[collectFileStats]] records for the data files.
    */
  private def eqStatCols(d: EqDeleteMeta,
      schema: StructType): Seq[(String, String, Boolean)] = {
    import org.apache.spark.sql.types._
    val phys = d.physCols.getOrElse(d.cols)
    d.cols.zip(phys).flatMap { case (c, p) =>
      schema(c).dataType match {
        case _: NumericType => Some((c, p, true))
        case TimestampType => Some((c, p, true))
        case StringType => Some((c, p, false))
        case _ => None
      }
    }
  }

  private def eqKeySchema(d: EqDeleteMeta, schema: StructType): StructType = {
    val phys = d.physCols.getOrElse(d.cols)
    StructType(d.cols.zip(phys).map { case (c, p) =>
      schema(c).copy(name = p) })
  }

  /** Parsed per-entry state: key-column typing, (lo, hi, numeric)
    * bounds per comparable column — manifest-stamped when present
    * (zero IO), else ONE tiny read of the delete file — and a lazy
    * slot for the exact-refinement tuples. `bounds` None = some
    * comparable column is ALL NULL, so no data row can equal any entry
    * (the delete is inert).
    */
  private final class EqEntryState(
      val statCols: Array[(String, String, Boolean)],
      val bounds: Option[Map[String, (String, String, Boolean)]],
      val exactEligible: Boolean) {
    // built on the FIRST call whose coarse candidates are non-empty
    // (the only time the key read pays for itself), reused forever
    @volatile private var tuplesRef: EqTuples = null
    def tuples(build: => EqTuples): EqTuples = {
      val t0 = tuplesRef
      if (t0 != null) t0
      else synchronized {
        if (tuplesRef == null) tuplesRef = build
        tuplesRef
      }
    }
  }

  /** The exact-refinement key tuples of one entry, sorted by first
    * column, with every numeric rendering PRE-PARSED to primitive
    * doubles and every bloom probe position precomputed — per-file
    * decisions compare primitives only.
    */
  private final class EqTuples(
      val count: Int,
      val statS: Array[Array[String]],      // [tuple][col] stat renderings
      val statD: Array[Array[Double]],      // [tuple][col] doubles (NaN for string cols)
      val positions: Array[Array[Seq[Int]]], // [tuple][col] bloom positions (null = not probing)
      val firstD: Array[Double],            // sorted first-col keys (numeric entries)
      val firstS: Array[String])            // or string entries

  private def eqEntryStateOf(d: EqDeleteMeta,
      schema: StructType): EqEntryState = {
    val statCols = eqStatCols(d, schema)
    val cacheKey = (d, statCols)
    eqStateCache.synchronized(Option(eqStateCache.get(cacheKey))) match {
      case Some(s) => s
      case None =>
        import org.apache.spark.sql.functions.{col => fcol, max => fmax, min => fmin}
        val keySchema = eqKeySchema(d, schema)
        val raw: Map[String, (String, String, Boolean)] =
          (d.keyMin, d.keyMax) match {
            case (Some(mn), Some(mx)) =>
              statCols.flatMap { case (c, _, num) =>
                (mn.get(c), mx.get(c)) match {
                  case (Some(lo), Some(hi)) => Some(c -> ((lo, hi, num)))
                  case _ => None
                }
              }.toMap
            case _ if statCols.nonEmpty =>
              val aggs = statCols.flatMap { case (c, p, num) =>
                val e = if (num) fcol(p).cast("double") else fcol(p)
                Seq(fmin(e).cast("string").as(s"_lo_$c"),
                  fmax(e).cast("string").as(s"_hi_$c")) }
              val r = spark.read.schema(keySchema).parquet(d.path)
                .agg(aggs.head, aggs.tail: _*).head()
              statCols.flatMap { case (c, _, num) =>
                (Option(r.getAs[String](s"_lo_$c")),
                  Option(r.getAs[String](s"_hi_$c"))) match {
                  case (Some(lo), Some(hi)) => Some(c -> ((lo, hi, num)))
                  case _ => None
                }
              }.toMap
            case _ => Map.empty
          }
        val bounds =
          if (statCols.exists { case (c, _, _) => !raw.contains(c) }) None
          else Some(raw)
        val st = new EqEntryState(statCols.toArray, bounds,
          exactEligible = statCols.size == d.cols.size &&
            d.rows <= EqCandidateKeysCap)
        eqStateCache.synchronized(eqStateCache.put(cacheKey, st)): Unit
        st
    }
  }

  /** One read of the entry's DISTINCT key tuples (driver-sized, capped
    * by [[EqCandidateKeysCap]]), sorted by first column: each file
    * then checks only the span its first-column range admits
    * (clustered layouts yield tiny spans). Two renderings per key: the
    * stats rendering for range membership, the RAW column rendering
    * for bloom probes (the write side hashes md5(col.cast(string)) of
    * the column's own type — "250", not the double-stat "250.0").
    */
  private def eqTuplesOf(d: EqDeleteMeta, schema: StructType,
      state: EqEntryState): EqTuples = {
    import org.apache.spark.sql.functions.{col => fcol}
    val statCols = state.statCols
    val n = statCols.length
    val keySchema = eqKeySchema(d, schema)
    val sel = statCols.toSeq.map { case (c, p, num) =>
      val e = if (num) fcol(p).cast("double") else fcol(p)
      e.cast("string").as(s"_k_$c") } ++
      statCols.toSeq.map { case (c, p, _) =>
        fcol(p).cast("string").as(s"_r_$c") }
    val rows = spark.read.schema(keySchema).parquet(d.path)
      .select(sel: _*)
      .na.drop(statCols.map { case (c, _, _) => s"_k_$c" }.toSeq)
      .distinct().collect()
    val firstNum = n > 0 && statCols(0)._3
    val sorted =
      if (firstNum) rows.sortBy(_.getString(0).toDouble)
      else rows.sortBy(_.getString(0))
    val count = sorted.length
    val probeBlooms = count <= BloomVetoMaxKeys
    val statS = Array.tabulate(count, n)((j, i) => sorted(j).getString(i))
    val statD = Array.tabulate(count, n) { (j, i) =>
      if (statCols(i)._3) statS(j)(i).toDouble else Double.NaN }
    val posMemo = scala.collection.mutable.HashMap.empty[String, Seq[Int]]
    val positions: Array[Array[Seq[Int]]] =
      if (!probeBlooms) null
      else Array.tabulate(count, n) { (j, i) =>
        val rawV = sorted(j).getString(n + i)
        if (rawV == null) null
        else posMemo.getOrElseUpdate(rawV, bloomPositions(rawV))
      }
    new EqTuples(count, statS, statD, positions,
      if (firstNum) statD.map(_(0)) else null,
      if (firstNum) null else statS.map(_(0)))
  }

  /** Coarse bounds intersection of one file against the entry's key
    * bounds — per column: ranges must overlap; missing stats keep.
    */
  private def eqBoundsPass(state: EqEntryState, fs: FileStats,
      b: Map[String, (String, String, Boolean)]): Boolean =
    b.forall { case (c, (lo, hi, num)) =>
      (fs.min.get(c), fs.max.get(c)) match {
        case (Some(mn), Some(mx)) =>
          if (num) !(mx.toDouble < lo.toDouble || mn.toDouble > hi.toDouble)
          else !(mx < lo || mn > hi) // trunc bounds stay valid
        case _ => true
      }
    }

  /** Exact refinement of one file against the sorted tuple set: the
    * file stays a candidate only when SOME tuple fits inside its
    * per-column [min,max] — every column at once for composite keys
    * (per-column bounds alone would smear a delete touching (t1, low)
    * and (t2, high) over every file in between) — with a per-tuple
    * bloom veto on bloom-declared columns. The file's own min/max
    * parse ONCE here; tuple comparisons are primitive-only.
    */
  private def eqTuplesKeep(state: EqEntryState, t: EqTuples,
      d: EqDeleteMeta, fs: FileStats): Boolean = {
    val statCols = state.statCols
    val n = statCols.length
    // per-column file bounds, parsed once per (file, entry) decision
    val hasB = new Array[Boolean](n)
    val loD = new Array[Double](n); val hiD = new Array[Double](n)
    val loS = new Array[String](n); val hiS = new Array[String](n)
    var i = 0
    while (i < n) {
      val c = d.cols(i)
      (fs.min.get(c), fs.max.get(c)) match {
        case (Some(mn), Some(mx)) =>
          hasB(i) = true
          if (statCols(i)._3) { loD(i) = mn.toDouble; hiD(i) = mx.toDouble }
          else { loS(i) = mn; hiS(i) = mx }
        case _ => hasB(i) = false
      }
      i += 1
    }
    val colBlooms: Array[Array[Byte]] =
      if (t.positions == null) null
      else Array.tabulate(n) { k =>
        fs.blooms.flatMap(_.get(d.cols(k)))
          .map(java.util.Base64.getDecoder.decode)
          .orNull
      }
    def lowerBound(): Int =
      if (!hasB(0)) 0
      else if (t.firstD != null) {
        val lo = loD(0)
        var l = 0; var h = t.firstD.length
        while (l < h) { val m = (l + h) >>> 1
          if (t.firstD(m) < lo) l = m + 1 else h = m }
        l
      } else {
        val lo = loS(0)
        var l = 0; var h = t.firstS.length
        while (l < h) { val m = (l + h) >>> 1
          if (t.firstS(m) < lo) l = m + 1 else h = m }
        l
      }
    def upperBound(): Int =
      if (!hasB(0)) t.count
      else if (t.firstD != null) {
        val hiV = hiD(0)
        var l = 0; var h = t.firstD.length
        while (l < h) { val m = (l + h) >>> 1
          if (t.firstD(m) <= hiV) l = m + 1 else h = m }
        l
      } else {
        val hiV = hiS(0)
        var l = 0; var h = t.firstS.length
        while (l < h) { val m = (l + h) >>> 1
          if (t.firstS(m) <= hiV) l = m + 1 else h = m }
        l
      }
    def fits(j: Int, i2: Int): Boolean = {
      val rangeOk = !hasB(i2) || {
        if (statCols(i2)._3) {
          val x = t.statD(j)(i2)
          x >= loD(i2) && x <= hiD(i2)
        } else {
          val s = t.statS(j)(i2)
          s >= loS(i2) && s <= hiS(i2)
        }
      }
      rangeOk && (colBlooms == null || colBlooms(i2) == null || {
        val ps = t.positions(j)(i2)
        ps == null || ps.forall(p =>
          (colBlooms(i2)(p >> 3) & (1 << (p & 7))) != 0)
      })
    }
    val lo = lowerBound(); val hi = upperBound()
    var j = lo
    while (j < hi) {
      var ok = true
      var i2 = 0
      while (ok && i2 < n) { ok = fits(j, i2); i2 += 1 }
      if (ok) return true
      j += 1
    }
    false
  }

  /** Bounded LRU for per-entry parsed state ([[eqEntryStateOf]]) —
    * entries are immutable content (the cache key includes the key
    * columns' stat typing), retired delete sides age out as
    * maintenance folds them away.
    */
  private val eqStateCache =
    new java.util.LinkedHashMap[Any, EqEntryState](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[Any, EqEntryState]): Boolean = size > 64
    }

  /** Max delete-side entries for which [[eqDeleteCandidates]] collects
    * the exact key set (a driver-side string array) instead of falling
    * back to bounds intersection.
    */
  private val EqCandidateKeysCap = 100000L

  /** Max delete keys for which the candidate pass additionally probes
    * data-file BLOOMS (4 md5 positions per key, precomputed once) — a
    * needle delete skips even range-straddling files on bloom-declared
    * key columns.
    */
  private val BloomVetoMaxKeys = 4096

  /** PER-FILE-GROUP compaction — the scale-honest maintenance rewrite
    * (Iceberg's rewrite_data_files bin-pack, vs [[compact]]'s explicit
    * whole-table layout rewrite): only files that are actually DIRTY
    * pay IO —
    *
    *  - data files below `minFileBytes` (streaming-commit shards),
    *    bin-packed together (skipped when there is only one — nothing
    *    to pack it with);
    *  - files NAMED by positional delete entries (their rows are the
    *    ones the delete side hides);
    *  - files whose key stats INTERSECT an equality delete's key
    *    bounds with a smaller sequence number
    *    ([[eqDeleteCandidates]]) — every other file provably holds no
    *    matching row.
    *
    * Everything else is carried BYTE-UNTOUCHED into the new snapshot
    * (same path, same stats — including their recorded hidden-
    * partition values; rewritten files are re-split value-pure under
    * the table's partition spec and record fresh pvals, so partition
    * pruning never erodes). The rewrite reads with deletes
    * applied, and because the rewrite set covers every file any
    * delete entry can hit, the new snapshot carries an EMPTY delete
    * side — the accumulated CDC debt is fully folded at a cost
    * proportional to dirty bytes, not table bytes (measured scale-flat
    * at 10×: tools.MaintScale, SCALING.md). At 100 TB under a steady
    * CDC stream, that is the difference between a nightly job and an
    * impossible one.
    */
  /** @param clusterBy optional Z-order columns for the REWRITTEN group
    *   only (Iceberg's rewrite_data_files sort strategy): dirty files
    *   come out clustered without touching clean ones — the scale-safe
    *   way to keep layout entropy down on a CDC-fed table. The
    *   whole-table [[compact]] remains the explicit global OPTIMIZE.
    */
  /** Concurrency (round 14): the group REWRITE — the long part at real
    * file sizes — runs OUTSIDE the catalog lock; only the final
    * validate-and-commit step serializes (the cdcUpsert/rewriteFiles
    * write-outside/commit-inside discipline), so an in-process CDC
    * commit lands DURING a slow compaction instead of queuing behind
    * it. If the table moved while rewriting, the written files are
    * discarded and the pass re-plans against the new state (bounded);
    * later attempts hold the in-process lock end-to-end so in-process
    * committers can no longer interleave. The lock does NOT exclude a
    * CROSS-PROCESS committer (round-14 VERDICT item 2), so locked
    * attempts keep retrying on conflict up to a bound — under any
    * realistic churn one of them lands; a churn rate that defeats all
    * of them surfaces the ConcurrentModificationException to the
    * caller (the pass terminates either way, never spins).
    */
  def compactFileGroups(ns: String, name: String,
      minFileBytes: Long = DefaultMinFileBytes,
      targetFileBytes: Long = DefaultTargetFileBytes,
      clusterBy: Seq[String] = Nil,
      fullRewrite: Boolean = false): CompactReport =
    replanning(compactGroupsOnce(ns, name, minFileBytes, targetFileBytes,
      clusterBy, fullRewrite))

  /** A maintenance pass `once`, re-planned on each conflict up to a
    * bound ([[compactFileGroups]]' concurrency contract): the first two
    * passes plan unlocked, later ones hold the in-process lock end to
    * end.
    */
  private def replanning[T](once: => T): T = {
    var attempt = 0
    while (true) {
      try return (if (attempt >= 2) synchronized(once) else once)
      catch {
        case _: java.util.ConcurrentModificationException if attempt < 6 =>
          attempt += 1 // a commit landed mid-rewrite: re-plan
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def compactGroupsOnce(ns: String, name: String,
      minFileBytes: Long, targetFileBytes: Long,
      clusterBy: Seq[String], fullRewrite: Boolean): CompactReport = {
      val (_, meta) = loadMeta(ns, name)
      val schema = DataType.fromJson(meta.schemaJson).asInstanceOf[StructType]
      // the table-declared clustering ([[WriteOrderProp]]) is the
      // default sort for every rewrite; an explicit clusterBy overrides
      // and fails LOUD on a bad spec (the caller asked for it by name),
      // while the property path skips silently if the declared column
      // was since dropped/retyped — maintenance must never brick on a
      // stale layout hint (same opportunistic contract as the write
      // path; DDL-time validation keeps garbage from landing at all)
      val effCluster =
        if (clusterBy.nonEmpty)
          SnapshotCatalog.parseWriteOrder(clusterBy.mkString(","), schema)
        else meta.properties.get(SnapshotCatalog.WriteOrderProp)
          .flatMap(o => scala.util.Try(
            SnapshotCatalog.parseWriteOrder(o, schema)).toOption)
          .getOrElse(Nil)
      val current = meta.currentSnapshot.getOrElse(
        return CompactReport(0, 0, 0, 0L, 0, 0, compacted = false))
      def sizeOf(f: String): Long =
        scala.util.Try(Files.size(Paths.get(f))).getOrElse(0L)
      val small = current.files.filter(f => sizeOf(f) < minFileBytes)
      val smallSet: Set[String] =
        if (small.size >= 2) small.toSet else Set.empty
      // the dirty-set reads touch planned-state delete files that a
      // concurrent commit + expiry can take mid-scan — route failures
      // through staleOrRethrow (the re-plan signal) like the rewrite
      // below
      val (posTouched: Set[String], eqTouched: Set[String]) = try {
        val pos: Set[String] =
          if (current.deleteFiles.isEmpty) Set.empty
          else spark.read.schema(DeleteFileSchema)
            .parquet(current.deleteFiles: _*)
            .select("file_path").distinct()
            .collect().map(_.getString(0)).toSet
            .intersect(current.files.toSet)
        val eq = eqDeleteCandidates(current, schema,
          current.eqDeletes, current.files).toSet
        (pos, eq)
      } catch {
        case scala.util.control.NonFatal(e) =>
          throw staleOrRethrow(ns, name, meta, e)
      }
      // fullRewrite (the SQL `rewrite_data_files` sort strategy): the
      // WHOLE current file set is the rewrite group — a deliberate
      // one-shot re-cluster of the table, as opposed to the routine
      // dirty-bytes pass. Only ever set by an explicit operator
      // request; the property-driven default never forces it.
      val rewrite =
        if (fullRewrite && effCluster.nonEmpty) current.files
        else current.files.filter(f =>
          smallSet(f) || posTouched(f) || eqTouched(f))
      val dirtyDeleteSide =
        current.deleteFiles.nonEmpty || current.eqDeletes.nonEmpty
      if (rewrite.isEmpty && !dirtyDeleteSide)
        return CompactReport(0, current.files.size, 0, 0L, 0, 0,
          compacted = false)
      val untouched = current.files.filterNot(rewrite.toSet)
      val bytes = rewrite.map(sizeOf).sum
      val snapDir = writeDir(ns, name, "binpack")
      val newStats =
        if (rewrite.isEmpty) Seq.empty[FileStats]
        else try {
          val numOut = math.max(1,
            math.ceil(bytes.toDouble / targetFileBytes).toInt)
          val df = readFilesOf(current, schema, rewrite, meta.fieldIds)
          val packed =
            if (effCluster.isEmpty) df.coalesce(numOut) // no shuffle
            else {
              // Z-scaling bounds come from the manifest's per-file
              // min/max — ZERO extra pass over the data (the aggregate
              // overload would re-execute the whole rewrite-set scan
              // just to learn them; on the fullRewrite path that is
              // the entire table read twice). File-level stats may be
              // wider than the LIVE rows (MoR deletes) — harmless, the
              // scaling just loses a little resolution. Any file
              // missing parseable stats for a cluster column falls
              // back to the aggregate.
              val stByPath = current.fileStats.map(st => st.path -> st).toMap
              def boundsOf(c: String): Option[(Double, Double)] = {
                val per = rewrite.map(f => stByPath.get(f).flatMap(st =>
                  scala.util.Try((st.min(c).toDouble, st.max(c).toDouble))
                    .toOption))
                if (per.isEmpty || per.exists(_.isEmpty)) None
                else Some((per.flatten.map(_._1).min,
                  per.flatten.map(_._2).max))
              }
              val bounds = effCluster.map(c => c -> boundsOf(c))
              val z =
                if (bounds.forall(_._2.isDefined))
                  graft.functions.ZOrder.scaledWithBounds(
                    bounds.map { case (c, b) => c -> b.get })
                else graft.functions.ZOrder.scaled(df, effCluster)
              df // group-local Z-order: only dirty bytes shuffle
                .withColumn("_graft_z", z)
                .repartitionByRange(numOut, col("_graft_z"))
                .sortWithinPartitions("_graft_z")
                .drop("_graft_z")
            }
          // partitioned tables keep their HIDDEN-PARTITION layout
          // through maintenance (the appendImpl write shape):
          // value-pure rewritten files record fresh pvals, so pval
          // pruning stays metadata-exact instead of eroding to
          // conservative keeps with every bin-pack pass
          writeFiles(packed, snapDir, schema,
              bloomColsFor(ns, name, schema),
              meta.properties.get(PartitionSpec.PropertyKey).map(_.trim))
            .map(_.copy(colIds = colIdsStamp(meta.fieldIds, schema)))
        } catch {
          case scala.util.control.NonFatal(e) =>
            throw staleOrRethrow(ns, name, meta, e)
        }
      val untouchedStats =
        current.fileStats.filter(s => untouched.contains(s.path))
      // the rewrite set covers every file any delete entry can hit
      // (positional by name, equality by candidate pruning), so the
      // delete side folds away COMPLETELY — a dead eq-delete (no
      // candidates at all) is dropped too. The plan is only valid
      // against the snapshot it was made from: if the table moved while
      // rewriting, the attempt discards the written files and the pass
      // re-plans
      transact(ns, name, Seq(snapDir)) { m =>
        stale(ns, name, meta, m).getOrElse(Commit(replacing(m, untouched,
          untouchedStats, newStats, operation = "replace"))) // consumers skip it
      }
      CompactReport(
        rewrittenFiles = rewrite.size,
        untouchedFiles = untouched.size,
        newFiles = newStats.size,
        bytesRewritten = bytes,
        posDeleteFilesFolded = current.deleteFiles.size,
        eqDeleteFilesFolded = current.eqDeletes.size,
        compacted = true)
    }

  /** Rewrite the MERGE-ON-READ delete side WITHOUT touching a single
    * data byte (Iceberg's `rewrite_position_delete_files`, plus the
    * eq→pos conversion its compaction path performs): accumulated
    * positional delete files consolidate into few range-sorted files,
    * dangling entries (naming data files no longer live) drop, and
    * every EQUALITY delete converts into exact positional entries —
    * after which the snapshot's row count is metadata-only again
    * ([[SnapshotMeta.statsRowCount]] returns None while eq entries
    * exist) and reads take the cheap named-file/needle path instead of
    * per-read seq-gated anti-joins.
    *
    * Cost posture at 100 TB: the pos-only case never scans data at
    * all — it is O(delete side). The eq-conversion case scans only the
    * DIRTY files once (the same candidate set every read was already
    * paying for), and the conversion is computed as `all row ids of
    * dirty files ANTI-JOIN ids the read path serves` — the new delete
    * side is BY CONSTRUCTION exactly what reads were hiding, so
    * before/after results are identical whatever the delete-side
    * corner (seq gates, re-inserted keys, dedup). Compare with
    * [[compactFileGroups]], which achieves the same fold by rewriting
    * the dirty DATA bytes — this procedure is the cheap intermediate
    * for delete-heavy windows between real compactions.
    *
    * Output files range-partition on `file_path`, so each consolidated
    * delete file covers a contiguous slice of data files and per-read
    * delete-side pruning ([[namedByFile]] memos) stays narrow. The
    * commit is a content-preserving `replace` — table subscribers skip
    * it like any compaction. Plan/write happens OUTSIDE the catalog
    * lock with validate-and-commit + bounded re-plan on conflict (the
    * [[compactFileGroups]] discipline).
    */
  def rewriteDeleteFiles(ns: String, name: String): DeleteRewriteReport =
    replanning(rewriteDeleteFilesOnce(ns, name))

  private def rewriteDeleteFilesOnce(ns: String,
      name: String): DeleteRewriteReport = {
    import org.apache.spark.sql.functions.col
    val (_, meta) = loadMeta(ns, name)
    val schema = DataType.fromJson(meta.schemaJson).asInstanceOf[StructType]
    val current = meta.currentSnapshot.getOrElse(
      return DeleteRewriteReport(0, 0, 0L, 0L, 0, rewritten = false))
    if (current.deleteFiles.isEmpty && current.eqDeletes.isEmpty)
      return DeleteRewriteReport(0, 0, 0L, 0L, 0, rewritten = false)
    val posBefore = current.deleteFileStats.map(_.rows).sum
    val estEntries = posBefore + current.eqDeletes.map(_.rows).sum
    val outDir = writeDir(ns, name, "delete-rw")
    val (newFiles, newStats) = try {
      import spark.implicits._
      val hidden =
        if (current.eqDeletes.isEmpty) {
          // pos-only: consolidate with ZERO data scan — live-file
          // filter (drops dangling entries) + dedup over the delete
          // side alone
          val liveDf = current.files.toDF("file_path")
          spark.read.schema(DeleteFileSchema)
            .parquet(current.deleteFiles: _*)
            .join(org.apache.spark.sql.functions.broadcast(liveDf),
              Seq("file_path"), "left_semi")
            .dropDuplicates("file_path", "pos")
        } else {
          // eq conversion: one pass over the DIRTY files only. The
          // hidden set is defined through the read path itself
          // ([[deletesApplied]]), so the converted side can never
          // disagree with what reads were serving.
          val dirty = deleteTouchedFiles(current, schema, current.files)
          val all = baseRead(current, schema, dirty, meta.fieldIds,
              withRowId = true)
            .select(col(RowIdFileCol).as("file_path"),
              col(RowIdPosCol).cast("long").as("pos"))
          val live = deletesApplied(current, schema, dirty, meta.fieldIds)
            .select(col(RowIdFileCol).as("file_path"),
              col(RowIdPosCol).cast("long").as("pos"))
          all.join(live, Seq("file_path", "pos"), "left_anti")
        }
      val numOut = math.max(1L, math.min(64L,
        estEntries / DeleteRewriteRowsPerFile + 1)).toInt
      val st = writeFiles(hidden
        .repartitionByRange(numOut, col("file_path"), col("pos"))
        .sortWithinPartitions("file_path", "pos"), outDir, DeleteFileSchema)
      (st.map(_.path), st)
    } catch {
      case scala.util.control.NonFatal(e) =>
        deleteRecursively(outDir)
        throw staleOrRethrow(ns, name, meta, e)
    }
    if (newFiles.isEmpty) deleteRecursively(outDir) // all entries dead
    transact(ns, name, Seq(outDir)) { m =>
      stale(ns, name, meta, m).getOrElse(Commit(replacing(m, current.files,
        current.fileStats, Nil, newFiles, newStats,
        operation = "replace"))) // content-preserving: consumers skip it
    }
    DeleteRewriteReport(
      deleteFilesBefore = current.deleteFiles.size,
      deleteFilesAfter = newFiles.size,
      entriesBefore = posBefore,
      entriesAfter = newStats.map(_.rows).sum,
      eqDeleteFilesConverted = current.eqDeletes.size,
      rewritten = true)
  }

  /** ZERO-COPY import (Iceberg's `add_files` procedure): register
    * existing parquet files into the table as ONE append snapshot —
    * no byte is rewritten or moved, which is the entire migration
    * story at 100 TB (re-ingesting would cost a full copy; this costs
    * one distributed stats pass over the imported bytes and one
    * metadata commit). Reference scope: the playground bootstraps its
    * tables by re-ingesting through Kafka; this is the Spark-Iceberg
    * procedure surface for adopting data in place instead.
    *
    * Contract:
    *  - `source` is a directory (recursive `*.parquet` walk), a single
    *    parquet file, or a `*` glob in the basename;
    *  - the imported schema must match the table's declared columns
    *    EXACTLY by name set and type (nullability-insensitive) — an
    *    import is not schema evolution; evolve first, then import;
    *  - files are NAME-MAPPED to the table's stable field ids at
    *    import (the [[FileStats.colIds]] stamp — Iceberg's name-mapping
    *    for files without field ids), so later renames/promotions
    *    resolve into them like any native file;
    *  - per-file min/max/bloom stats are collected in the same pass,
    *    so manifest pruning over imported files is exactly as sharp as
    *    over written ones;
    *  - imported files are registered at their EXTERNAL paths and the
    *    catalog never takes ownership of the bytes: [[expireSnapshots]]
    *    forgets unreferenced files from METADATA but only physically
    *    reaps paths under the table's own data dir ([[ownsPath]]), and
    *    [[removeOrphanFiles]] scans only the table tree — DROP/expiry/
    *    compaction can never destroy the source dataset;
    *  - duplicate registration (a path already live) refuses, as does
    *    importing into a hidden-partitioned table (imported files
    *    carry no partition values; MoR DML on top works regardless).
    */
  def addFiles(ns: String, name: String, source: String): AddFilesReport = {
    require(partitionSpecOf(ns, name).isEmpty,
      s"$ns.$name declares a partition spec — add_files imports " +
        "unpartitioned layouts only (write through INSERT to " +
        "partition on ingest)")
    val resolved = resolveImportFiles(source)
    require(resolved.nonEmpty, s"no parquet files at $source")
    val own = dataDir(ns, name).toAbsolutePath.normalize.toString + "/"
    resolved.find(_.startsWith(own)).foreach(f =>
      throw new IllegalArgumentException(
        s"$f is inside $ns.$name's own data tree — already table-managed"))
    val declared = DataType.fromJson(describe(ns, name).schemaJson)
      .asInstanceOf[StructType]
    // mergeSchema: the inferred schema is the UNION across every
    // imported footer, so a stray heterogeneous file in the source
    // dir surfaces as an extra/conflicting column here instead of
    // silently null-padding at read
    val imported = spark.read.option("mergeSchema", "true")
      .parquet(resolved: _*).schema
    val tblT = declared.fields.map(f => f.name -> f.dataType).toMap
    val impT = imported.fields.map(f => f.name -> f.dataType).toMap
    val missing = tblT.keySet -- impT.keySet
    val extra = impT.keySet -- tblT.keySet
    require(missing.isEmpty && extra.isEmpty,
      s"imported schema does not match $ns.$name: " +
        (missing.map(m => s"missing $m") ++
          extra.map(e => s"unexpected $e")).mkString(", "))
    val mismatched = tblT.keys.filter(n => impT(n) != tblT(n)).toSeq.sorted
      .map(n => s"$n is ${impT(n).simpleString}, declared ${tblT(n).simpleString}")
    require(mismatched.isEmpty,
      s"imported types do not match $ns.$name: ${mismatched.mkString("; ")}" +
        " — ALTER COLUMN TYPE cannot retro-apply to imports; convert first")
    // one distributed pass: rows + min/max (+ declared blooms) per
    // file. Zero-row files simply produce no group — they register
    // nothing and are NOT deleted (external bytes are never touched).
    val blooms = collectFileBlooms(declared, resolved,
      bloomColsFor(ns, name, declared))
    val stats = collectFileStats(declared, resolved)
      .map(s => s.copy(blooms = blooms.get(s.path)))
      .filter(_.rows > 0L).sortBy(_.path)
    if (stats.isEmpty) return AddFilesReport(0, 0L)
    val files = stats.map(_.path)
    val schemaAtPlan = declared.json
    transact(ns, name) { meta =>
      // stats were keyed under the planned schema — a concurrent
      // evolution invalidates name-keyed min/max and the colIds
      // stamp, so refuse rather than commit a mismatched manifest
      require(meta.schemaJson == schemaAtPlan,
        s"$ns.$name's schema evolved during the import — retry")
      val base = meta.currentSnapshot
      val live = base.map(_.files.toSet).getOrElse(Set.empty)
      val dup = files.filter(live)
      require(dup.isEmpty, s"already live in $ns.$name: " +
        dup.take(3).mkString(", ") +
        (if (dup.size > 3) s" (+${dup.size - 3} more)" else ""))
      val snapshotId = nextIdOf(meta)
      val seqNum = nextSeqOf(meta)
      val stamped = stats.map(_.copy(
        colIds = colIdsStamp(meta.fieldIds, declared),
        seq = Some(seqNum)))
      val snap = SnapshotMeta(
        snapshotId = snapshotId,
        parentId = base.map(_.snapshotId),
        sequenceNumber = seqNum,
        files = base.map(_.files).getOrElse(Seq.empty) ++ files,
        rowCount = stamped.map(_.rows).sum,
        createdAtMs = System.currentTimeMillis(),
        fileStats =
          base.map(_.fileStats).getOrElse(Seq.empty) ++ stamped,
        deleteFiles = base.map(_.deleteFiles).getOrElse(Seq.empty),
        deleteFileStats =
          base.map(_.deleteFileStats).getOrElse(Seq.empty),
        eqDeletes = base.map(_.eqDeletes).getOrElse(Seq.empty),
        operation = Some("append"))
      Commit(meta.copy(currentSnapshotId = Some(snapshotId),
        snapshots = meta.snapshots :+ snap))
    }: Unit
    AddFilesReport(files.size, stats.map(_.rows).sum)
  }

  /** ZERO-COPY TABLE FORK (Iceberg's `snapshot` procedure): create
    * `dstNs.dst` as a NEW table whose first snapshot references the
    * source's current state in place — data files, positional delete
    * files and equality entries included, so a merge-on-read source
    * forks mid-lifecycle with identical read semantics. The fork is
    * the test-in-prod primitive at 100 TB: trial a format change, a
    * risky MERGE, or a maintenance policy against production data
    * with ONE metadata commit, no copy, and total isolation — DML on
    * the fork writes into the fork's own tree; the source never sees
    * it. Ownership follows [[addFiles]]' boundary: the fork never
    * owns the referenced source bytes ([[ownsPath]]), so expiring,
    * compacting, or DROPping the fork can never reap a source file.
    *
    * The fork copies the source's declared schema, properties
    * (write modes, partition spec, bloom columns), field ids and
    * activation map, so colIds-resolved reads and later evolution
    * behave exactly as they would on the source; the carried
    * `sequenceNumber` preserves the equality-delete gate algebra.
    * The source's HISTORY is not copied — the fork starts at one
    * snapshot (Iceberg's contract: `snapshot` captures a state, not
    * a lineage).
    */
  def snapshotTable(srcNs: String, src: String, dstNs: String,
      dst: String): TableMeta = {
    val sm = describe(srcNs, src) // hydrated, current-name form
    require(!tableExists(dstNs, dst),
      s"table $dstNs.$dst already exists")
    val schema = DataType.fromJson(sm.schemaJson).asInstanceOf[StructType]
    createTable(dstNs, dst, schema, sm.properties)
    val cur = sm.currentSnapshot
    transact(dstNs, dst) { meta =>
      val snap0 = cur.map(c => SnapshotMeta(
        snapshotId = 1L,
        parentId = None,
        // preserved: equality entries apply to files with seq
        // STRICTLY BELOW theirs — renumbering would re-gate them
        sequenceNumber = c.sequenceNumber,
        files = c.files,
        rowCount = c.fileStats.map(_.rows).sum,
        createdAtMs = System.currentTimeMillis(),
        fileStats = c.fileStats,
        deleteFiles = c.deleteFiles,
        deleteFileStats = c.deleteFileStats,
        eqDeletes = c.eqDeletes,
        operation = Some("append")))
      Commit(meta.copy(
        currentSnapshotId = snap0.map(_.snapshotId),
        snapshots = snap0.toSeq,
        // stats/colIds arrive ALREADY remapped to current names
        // (describe hydrates through the source's rename chain), so
        // the fork carries the id space without the links
        fieldIds = sm.fieldIds,
        lastFieldId = sm.lastFieldId,
        activationIds = sm.activationIds))
    }: Unit
    describe(dstNs, dst)
  }

  /** `source` → absolute parquet paths: a directory walks `*.parquet`
    * recursively, a basename `*` glob expands against its parent, a
    * plain path must exist.
    */
  private def resolveImportFiles(source: String): Seq[String] = {
    // CANONICAL paths throughout (absolute + `.`/`..` collapsed): the
    // own-tree refusal, the duplicate-registration check and the
    // [[ownsPath]] expiry boundary all compare path STRINGS — an
    // alternate `a/../a` spelling of an already-registered file must
    // normalize to the same key, never register twice
    val p = Paths.get(source).toAbsolutePath.normalize
    def walk(d: File): Seq[String] =
      Option(d.listFiles()).getOrElse(Array.empty).toSeq.flatMap {
        case f if f.isDirectory => walk(f)
        case f if f.getName.endsWith(".parquet") =>
          Seq(f.toPath.toAbsolutePath.normalize.toString)
        case _ => Seq.empty
      }
    val base = p.getFileName.toString
    if (Files.isDirectory(p)) walk(p.toFile).sorted
    else if (base.contains("*")) {
      val dir = Option(p.getParent).getOrElse(Paths.get("."))
      val m = java.nio.file.FileSystems.getDefault
        .getPathMatcher(s"glob:$base")
      if (!Files.isDirectory(dir)) Seq.empty
      else {
        val s = Files.list(dir)
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala
            .filter(f => m.matches(f.getFileName) &&
              f.toString.endsWith(".parquet"))
            .map(_.toAbsolutePath.normalize.toString).toSeq.sorted
        } finally s.close()
      }
    } else if (Files.exists(p)) Seq(p.toString)
    else Seq.empty
  }

  /** True iff `path` is inside this table's own data tree — the only
    * region the catalog physically deletes from. Everything the
    * catalog writes lands here, so the guard is a no-op for native
    * files; for [[addFiles]] imports it is the ownership boundary that
    * keeps expiry/DROP from destroying an external source dataset.
    */
  private def ownsPath(ns: String, name: String, path: String): Boolean =
    Paths.get(path).toAbsolutePath.normalize.toString
      .startsWith(dataDir(ns, name).toAbsolutePath.normalize.toString + "/")

  /** One scheduled MAINTENANCE pass composing the three table-health
    * primitives in dependency order — the nightly job a 100 TB
    * streaming table needs to stay queryable:
    *
    *  1. [[compactFileGroups]] (when small files pile past
    *     `targetFiles` or the delete side is dirty enough — see the
    *     trigger below): folds small streaming-commit files and the
    *     merge-on-read delete side at a cost proportional to DIRTY
    *     bytes, never table bytes. `clusterBy` Z-orders just the
    *     rewritten group; a whole-table re-layout is only ever the
    *     explicit [[compact]] call;
    *  2. [[expireSnapshots]]: trims history to the last `keepLast`
    *     snapshots and reclaims data/delete files no retained snapshot
    *     references. The RETENTION GUARANTEE rides inside it: the
    *     current snapshot and every branch/tag-referenced snapshot
    *     (the WAP branches of [[graft.streaming.Sinks]], audit tags)
    *     are pinned even when off the tail — a ref can never dangle;
    *  3. [[removeOrphanFiles]]: sweeps aborted-write leftovers that no
    *     snapshot ever referenced.
    *
    * This order matters: compacting FIRST makes the pre-compact small
    * files expirable in the same pass (they drop off the retained
    * tail), and orphan removal LAST sweeps aborted-write leftovers
    * that have aged past the safety window (a nightly pass therefore
    * reaps yesterday's aborts under Iceberg's 3-day default; a FORCED
    * sweep is the explicit `removeOrphanFiles(..., olderThanMs)` /
    * `CALL system.remove_orphan_files('t', older_than)`, never part
    * of the composed pass — fresh unreferenced files may be a
    * concurrent writer's in-flight output). Each step is its own
    * atomic commit; a crash between steps leaves a consistent table
    * that the next pass finishes.
    *
    * TRIGGER (the 100 TB discipline): the old "compact whenever any
    * delete file exists" fired a full rewrite on every pass of a table
    * under a steady CDC stream — there is ALWAYS a delete file then.
    * Now compaction runs when the live file count exceeds
    * `targetFiles` (small-file debt), OR the delete side holds at
    * least [[SnapshotCatalog.DeleteFilesCompactThreshold]] files, OR
    * manifest-counted delete entries exceed
    * [[SnapshotCatalog.DeletedFractionThreshold]] of the table's rows
    * — and even then [[compactFileGroups]] rewrites only the dirty
    * files, so a pass between thresholds is a metadata no-op.
    */
  def maintain(ns: String, name: String, keepLast: Int,
      targetFiles: Int, clusterBy: Seq[String] = Nil,
      minFileBytes: Long = DefaultMinFileBytes,
      olderThanMs: Option[Long] = None): MaintenanceReport = {
    val before = describe(ns, name)
    val filesBefore = before.currentSnapshot.map(_.files.size).getOrElse(0)
    val deleteFilesBefore = before.currentSnapshot
      .map(s => s.deleteFiles.size + s.eqDeletes.size).getOrElse(0)
    val deletedFraction = before.currentSnapshot.map { s =>
      val statRows = s.fileStats.map(fs => fs.path -> fs.rows).toMap
      val delStatRows = s.deleteFileStats.map(fs => fs.path -> fs.rows).toMap
      val dataRows = s.files.flatMap(statRows.get).sum
      val delRows = s.deleteFiles.flatMap(delStatRows.get).sum +
        s.eqDeletes.map(_.rows).sum
      if (dataRows <= 0) 0.0 else delRows.toDouble / dataRows
    }.getOrElse(0.0)
    val due = filesBefore > targetFiles ||
      deleteFilesBefore >= DeleteFilesCompactThreshold ||
      deletedFraction > DeletedFractionThreshold
    // clusterBy Z-orders only the REWRITTEN group — maintenance never
    // pays a whole-table rewrite; global re-layout is the explicit
    // [[compact]] call, not a nightly side effect
    val compacted =
      if (!due) false
      else compactFileGroups(ns, name, minFileBytes,
        clusterBy = clusterBy).compacted
    expireSnapshots(ns, name, keepLast, olderThanMs)
    val orphans = removeOrphanFiles(ns, name)
    val after = describe(ns, name)
    MaintenanceReport(
      compacted = compacted,
      filesBefore = filesBefore,
      filesAfter = after.currentSnapshot.map(_.files.size).getOrElse(0),
      snapshotsBefore = before.snapshots.size,
      snapshotsAfter = after.snapshots.size,
      orphansRemoved = orphans.size)
  }

  // ---------------------------------------------------------------- read

  /** Read the table at its current snapshot, or time-travel to a
    * specific snapshot id. The declared table schema is applied, so
    * files written before a column was added null-pad it. Positional
    * delete files of the snapshot (merge-on-read) are anti-joined away.
    */
  def read(ns: String, name: String, snapshotId: Option[Long] = None): DataFrame = {
    val meta = describe(ns, name)
    val snap = snapshotId match {
      case Some(id) => meta.snapshots.find(_.snapshotId == id)
        .getOrElse(throw new NoSuchElementException(
          s"no snapshot $id in $ns.$name"))
      case None => meta.currentSnapshot
        .getOrElse(return spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          DataType.fromJson(meta.schemaJson).asInstanceOf[StructType]))
    }
    val schema = DataType.fromJson(meta.schemaJson).asInstanceOf[StructType]
    readFilesOf(snap, schema, snap.files, meta.fieldIds)
  }

  /** Merge-on-read data-file read: `files` (a pruned subset of
    * `snap.files`) with the snapshot's positional delete files applied.
    * A snapshot with no delete files takes the plain vectorized-scan
    * fast path — zero overhead for the overwhelmingly common case.
    *
    * With delete files present, the read SPLITS by [[deleteTouchedFiles]]:
    * files no delete entry can touch (the overwhelming majority of a
    * 100 TB table with a needle delete) take the same vectorized fast
    * path, and ONLY the dirty candidates pay the row-identity
    * projection + anti-join tax — the read-side twin of
    * [[compactFileGroups]]'s dirty-bytes discipline. Before the split,
    * ONE live delete routed every scanned row through the `_metadata` +
    * anti-join path: a measured ~10× full-scan penalty at sf1 that
    * GREW with table size while the dirty set stayed one file
    * (tools.MorPlanProbe, SCALING.md). For the dirty files, each row's
    * (file, position) identity comes from the parquet reader's
    * `_metadata` column (no extra IO) and delete entries are removed
    * with a broadcast LEFT ANTI join — the delete side is small by
    * design (the write path falls back to copy-on-write for large
    * matched fractions), so the anti-join never shuffles the data side.
    */
  def readFilesOf(snap: SnapshotMeta, schema: StructType,
      files: Seq[String], fieldIds: Map[String, Int] = Map.empty): DataFrame = {
    if (snap.deleteFiles.isEmpty && snap.eqDeletes.isEmpty)
      return baseRead(snap, schema, files, fieldIds, withRowId = false)
    val dirty = deleteTouchedFiles(snap, schema, files)
    val clean = files.filterNot(dirty.toSet)
    if (dirty.isEmpty)
      return baseRead(snap, schema, clean, fieldIds, withRowId = false)
    val dirtyDf = deletesApplied(snap, schema, dirty, fieldIds)
      .drop(RowIdFileCol, RowIdPosCol)
    if (clean.isEmpty) dirtyDf
    else baseRead(snap, schema, clean, fieldIds, withRowId = false)
      .unionByName(dirtyDf)
  }

  /** The DIRTY file set of a merge-on-read read: files (among `files`)
    * the snapshot's delete side MAY touch — files NAMED by positional
    * delete entries (one O(delete-side) read of the entries, tiny by
    * the MoR write discipline) plus the stat/bloom-pruned equality-
    * delete candidates ([[eqDeleteCandidates]], metadata-only in the
    * common case). Everything else provably holds no deleted row and
    * may skip delete application entirely. Conservative by
    * construction — pruning only ever KEEPS extra files.
    */
  private[graft] def deleteTouchedFiles(snap: SnapshotMeta,
      schema: StructType, files: Seq[String]): Seq[String] = {
    if (files.isEmpty ||
        (snap.deleteFiles.isEmpty && snap.eqDeletes.isEmpty)) return Nil
    val all = dirtyOfSnapshot(snap, schema)
    files.filter(all)
  }

  /** The dirty set over the snapshot's files, memoized INCREMENTALLY
    * per delete side: the per-file dirty decision is a pure function
    * of (the file's immutable stats, the immutable delete-side
    * content), so decisions are cached in a per-delete-side map keyed
    * by STRUCTURAL content (no hash-collision risk; delete-file paths
    * are table-scoped, so keys can't alias across tables). A query
    * only computes decisions for files the map hasn't seen — a
    * steady-append stream (delete side carried forward unchanged)
    * pays O(new files) per commit instead of re-running the candidate
    * jobs per snapshot, and a ROLLBACK to a snapshot whose files were
    * later rewritten away decides those files freshly on first read
    * (a whole-set memo would have served them as clean).
    */
  private def dirtyOfSnapshot(snap: SnapshotMeta,
      schema: StructType): Set[String] = {
    val key = (snap.deleteFiles, snap.eqDeletes)
    val decided: Map[String, Boolean] =
      dirtyCache.synchronized(Option(dirtyCache.get(key)))
        .getOrElse(Map.empty)
    val undecided = snap.files.filterNot(decided.contains)
    val updated =
      if (undecided.isEmpty) decided
      else {
        val named = posNamedFiles(snap)
        val eqCand = eqDeleteCandidates(snap, schema, snap.eqDeletes,
          undecided).toSet
        val add = undecided.map(f => f -> (named(f) || eqCand(f)))
        val m = decided ++ add
        dirtyCache.synchronized(dirtyCache.put(key, m)): Unit
        m
      }
    snap.files.filter(f => updated.getOrElse(f, true)).toSet
  }

  /** Data files NAMED by the snapshot's positional delete entries,
    * memoized PER DELETE FILE (round 15): a follower/stream whose
    * delete side grows by one file per commit used to miss the
    * whole-side memo every window and re-read the ENTIRE accumulated
    * delete side — O(windows x delete files) jobs. Per-file keying
    * makes each window read only its UNSEEN delete files (one batched
    * job, source-attributed via `_metadata.file_path`), so steady
    * consumption pays O(delta) forever. Delete files are immutable
    * once committed — content is identified by path.
    */
  private def posNamedFiles(snap: SnapshotMeta): Set[String] =
    namedOf(snap.deleteFiles)

  private def namedOf(deleteFiles: Seq[String]): Set[String] =
    namedByFile(deleteFiles).values
      .foldLeft(Set.empty[String])(_ ++ _)

  /** Per-DELETE-FILE map of the data files its entries name, from the
    * same memo — the read path uses it to SKIP delete files that name
    * none of the files being read ([[deletesApplied]]).
    */
  private def namedByFile(deleteFiles: Seq[String]): Map[String, Set[String]] = {
    if (deleteFiles.isEmpty) return Map.empty
    // Snapshot the cached values UP FRONT and merge with the freshly
    // read ones: the result never depends on a post-fill cache lookup,
    // so LRU eviction (a delete side larger than the cap, or a
    // concurrent reader churning the cache) can only cost a re-read —
    // never silently turn an evicted file into "names no rows".
    val cached = deleteFiles.iterator.flatMap(f =>
      namedCache.synchronized(Option(namedCache.get(f))).map(f -> _)).toMap
    val unseen = deleteFiles.filterNot(cached.contains)
    if (unseen.isEmpty) return cached
    import org.apache.spark.sql.functions.col
    // source attribution decodes the (possibly %-encoded) file URI
    // through normalizePath — a raw-string strip would silently key
    // every special-character path to the empty set and resurrect
    // its deleted rows
    val rows = spark.read.schema(DeleteFileSchema).parquet(unseen: _*)
      .select(col("_metadata.file_path").as("__src"),
        col("file_path")).distinct()
      .collect()
    val bySrc = rows.groupBy(r => normalizePath(r.getString(0))).view
      .mapValues(_.map(_.getString(1)).toSet).toMap
    val norms = unseen.map(f =>
      f -> Paths.get(f).toAbsolutePath.normalize.toString).toMap
    requireAttributed(bySrc.keySet, norms.values.toSet)
    val fresh = unseen.map { f =>
      val s = bySrc.getOrElse(norms(f), Set.empty[String])
      namedCache.synchronized(namedCache.put(f, s)): Unit
      f -> s
    }.toMap
    cached ++ fresh
  }

  /** Fail LOUD when delete-file source attribution mismatches: a
    * `_metadata.file_path` key that matched none of the requested
    * files means path normalization diverged, and treating it as "that
    * file names no rows" would silently resurrect deleted rows.
    */
  private def requireAttributed(srcKeys: Set[String],
      requested: Set[String]): Unit = {
    val orphans = srcKeys -- requested
    require(orphans.isEmpty,
      s"delete-file source attribution mismatch: read rows from " +
        s"${orphans.mkString(", ")} but requested paths were " +
        s"${requested.mkString(", ")} — path normalization diverged")
  }

  /** Bounded LRU memos for [[dirtyOfSnapshot]]/[[posNamedFiles]]
    * (access-ordered; retired delete sides age out as maintenance
    * folds them away).
    */
  private val dirtyCache =
    new java.util.LinkedHashMap[Any, Map[String, Boolean]](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[Any, Map[String, Boolean]]): Boolean =
        size > 32
    }

  /** Cap for the per-delete-file memos — conf-overridable so tests can
    * pin the eviction-safety contract (results NEVER depend on a
    * post-fill cache lookup) at a tiny cap instead of writing 256+
    * delete files.
    */
  private def deleteMemoCap: Int =
    spark.conf.getOption("spark.graft.catalog.deleteMemoCap")
      .map(_.toInt).getOrElse(256)

  private val namedCache =
    new java.util.LinkedHashMap[String, Set[String]](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Set[String]]): Boolean =
        size > deleteMemoCap
    }

  /** The snapshot's positional delete entries grouped by data file,
    * memoized per snapshot — only consulted when the delete side is at
    * most [[PosInlineMaxRows]] entries, so the cached footprint is
    * bounded and tiny.
    */
  private def posEntriesInline(
      deleteFiles: Seq[String]): Seq[(String, Seq[Long])] = {
    // memoized PER DELETE FILE (the posNamedFiles discipline): a
    // growing delete side re-reads only its unseen files, one batched
    // source-attributed job — consecutive follower windows pay
    // O(delta), not O(accumulated side). Cached values are snapshotted
    // UP FRONT and merged with the fresh reads (the namedByFile
    // eviction-safety discipline): LRU eviction can only cost a
    // re-read, never turn an evicted file into "no delete entries".
    val cached = deleteFiles.iterator.flatMap(f =>
      posCache.synchronized(Option(posCache.get(f))).map(f -> _)).toMap
    val unseen = deleteFiles.filterNot(cached.contains)
    val fresh: Map[String, Seq[(String, Seq[Long])]] =
      if (unseen.isEmpty) Map.empty
      else {
        import org.apache.spark.sql.functions.col
        // decoded attribution, the namedByFile discipline
        val rows = spark.read.schema(DeleteFileSchema).parquet(unseen: _*)
          .select(col("_metadata.file_path").as("__src"),
            col("file_path"), col("pos"))
          .collect()
          .map(r => (normalizePath(r.getString(0)), r.getString(1),
            r.getLong(2)))
        val bySrc = rows.groupBy(_._1)
        val norms = unseen.map(f =>
          f -> Paths.get(f).toAbsolutePath.normalize.toString).toMap
        requireAttributed(bySrc.keySet, norms.values.toSet)
        unseen.map { f =>
          val s = bySrc.getOrElse(norms(f), Array.empty[(String, String, Long)])
            .groupBy(_._2).view
            .mapValues(_.map(_._3).toSeq).toSeq
          posCache.synchronized(posCache.put(f, s)): Unit
          f -> s
        }.toMap
      }
    deleteFiles
      .flatMap(f => cached.getOrElse(f, fresh.getOrElse(f, Seq.empty)))
      .groupBy(_._1).view
      .mapValues(_.flatMap(_._2)).toSeq
  }

  private val posCache =
    new java.util.LinkedHashMap[String, Seq[(String, Seq[Long])]](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Seq[(String, Seq[Long])]]): Boolean =
        size > deleteMemoCap
    }

  /** [[readFilesOf]] retaining each surviving row's (file, position)
    * identity as [[RowIdFileCol]]/[[RowIdPosCol]] columns — the
    * projection a positional DELETE writes its delete entries from.
    * Same clean/dirty split as [[readFilesOf]]: clean files scan
    * vectorized (their `_metadata` identity is still projected — that
    * part is free — but they skip every anti-join); only
    * delete-touched candidates pay the delete application.
    */
  def readFilesWithRowId(snap: SnapshotMeta, schema: StructType,
      files: Seq[String], fieldIds: Map[String, Int] = Map.empty): DataFrame = {
    if (snap.deleteFiles.isEmpty && snap.eqDeletes.isEmpty)
      return baseRead(snap, schema, files, fieldIds, withRowId = true)
    val dirty = deleteTouchedFiles(snap, schema, files)
    val clean = files.filterNot(dirty.toSet)
    if (dirty.isEmpty)
      return baseRead(snap, schema, clean, fieldIds, withRowId = true)
    val dirtyDf = deletesApplied(snap, schema, dirty, fieldIds)
    if (clean.isEmpty) dirtyDf
    else baseRead(snap, schema, clean, fieldIds, withRowId = true)
      .unionByName(dirtyDf)
  }

  /** The delete-application machinery over an (already dirty-pruned)
    * file set: positional entries anti-join on the row identity;
    * equality entries anti-join on their key columns, gated on the
    * data file's sequence number being strictly below the delete's (a
    * row re-inserted after the delete survives it).
    */
  private def deletesApplied(snap: SnapshotMeta, schema: StructType,
      files: Seq[String], fieldIds: Map[String, Int]): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, lit}
    import spark.implicits._
    val base = baseRead(snap, schema, files, fieldIds, withRowId = true)
    val fileSet = files.toSet
    // PER-READ delete-side pruning (round 15): only the delete entries
    // that can actually touch `files` apply — a positional delete file
    // naming none of them matches no row by construction (the join key
    // is the file path), and an equality entry with zero candidates
    // among them provably hides no row (candidate pruning is
    // conservative). A narrow read against a debt-laden snapshot (a
    // changelog window's few candidate files under months of
    // accumulated CDC entries) now reads O(relevant entries), not
    // O(accumulated delete side) — the read-side twin of the dirty-file
    // split, on the delete axis.
    val namedMap = namedByFile(snap.deleteFiles)
    val relPos = snap.deleteFiles.filter(df =>
      namedMap.getOrElse(df, Set.empty).exists(fileSet))
    val posApplied =
      if (relPos.isEmpty) base
      else {
        val posRows = snap.deleteFileStats
          .filter(s => relPos.contains(s.path)).map(_.rows).sum
        if (posRows <= PosInlineMaxRows) {
          // NEEDLE path: a tiny positional delete side becomes a
          // LITERAL filter — no broadcast exchange, no join stage, and
          // the entries are memoized per delete file, so a steady
          // reader pays ZERO delete-side jobs per query. This is what
          // keeps a full scan with one live delete within noise of the
          // delete-free scan (tools.MorPlanProbe).
          val byFile = posEntriesInline(relPos)
            .filter { case (f, _) => fileSet(f) }
          byFile.foldLeft(base) { case (acc, (f, positions)) =>
            acc.filter(!(col(RowIdFileCol) === lit(f) &&
              col(RowIdPosCol).isInCollection(positions)))
          }
        } else {
          val dels = spark.read.schema(DeleteFileSchema)
            .parquet(relPos: _*)
            .select(col("file_path").as("__gd_file"),
              col("pos").as("__gd_pos"))
          base.join(morHinted(dels, posRows, "positional-delete"),
            base(RowIdFileCol) === dels("__gd_file") &&
              base(RowIdPosCol) === dels("__gd_pos"),
            "left_anti")
        }
      }
    val statsByFile = snap.fileStats.map(s => s.path -> s).toMap
    val relEqs = snap.eqDeletes.filter(d =>
      eqCandidatesOfEntry(d, schema, statsByFile, files).nonEmpty)
    if (relEqs.isEmpty) posApplied
    else {
      // attach each row's data-file sequence number (manifest-sized
      // broadcast map; files without one predate the feature = seq 0,
      // older than any delete)
      val seqByFile = snap.fileStats.map(s => s.path -> s.seq.getOrElse(0L)).toMap
      val seqDf = files.map(f => (f, seqByFile.getOrElse(f, 0L)))
        .toDF("__gs_file", "__gs_seq")
      val withSeq = posApplied.join(broadcast(seqDf),
        posApplied(RowIdFileCol) === seqDf("__gs_file"), "left")
      // group by (declared cols, physical cols): the delete parquet is
      // read under its PHYSICAL names (what a rename never changes) and
      // projected back to declared — the field-id discipline applied to
      // the delete side
      val applied = relEqs
        .groupBy(d => (d.cols, d.physCols.getOrElse(d.cols)))
        .foldLeft(withSeq) {
          case (acc, ((cols, phys), dels)) =>
            val keySchema = StructType(cols.zip(phys).map {
              case (c, p) => schema(c).copy(name = p) })
            val keys = dels.map { d =>
              spark.read.schema(keySchema).parquet(d.path)
                .withColumn("__gd_seq", lit(d.seq))
            }.reduce(_ unionByName _)
              .select(cols.zip(phys).map { case (c, p) =>
                col(p).as(s"__gd_$c") } :+ col("__gd_seq"): _*)
            val hintedKeys =
              morHinted(keys, dels.map(_.rows).sum, "equality-delete")
            val cond = cols.map(c => acc(c) === hintedKeys(s"__gd_$c"))
              .reduce(_ && _) && acc("__gs_seq") < hintedKeys("__gd_seq")
            acc.join(hintedKeys, cond, "left_anti")
        }
      applied.drop("__gs_file", "__gs_seq")
    }
  }

  /** Pin the delete side's broadcast EXPLICITLY instead of trusting
    * AQE: the merge-on-read contract is "anti-join adds no shuffle of
    * the 100 TB data side", which only holds while the delete side
    * broadcasts. The manifest knows the delete side's exact row count
    * (delete entries are stats-collected on write), so the decision is
    * metadata-only. A delete side past the threshold degrades LOUDLY —
    * a warning names the table-service fix (compact folds the delete
    * side) — instead of AQE silently sort-merge-shuffling the table.
    */
  private def morHinted(df: DataFrame, estRows: Long,
      what: String): DataFrame = {
    val max = spark.conf.getOption(MorBroadcastMaxRowsConf)
      .flatMap(v => scala.util.Try(v.toLong).toOption)
      .getOrElse(MorBroadcastMaxRowsDefault)
    if (estRows <= max) org.apache.spark.sql.functions.broadcast(df)
    else {
      Log.warn(s"merge-on-read $what side has $estRows entries " +
        s"(> $max broadcast cap) — the anti-join will shuffle; run " +
        "compact/maintain to fold the delete side into data files")
      df
    }
  }

  /** The physical read under the DECLARED schema, resolving each
    * file's columns by FIELD ID (the rename-safe discipline): files are
    * grouped by their declared-name → physical-name mapping (from
    * [[FileStats.colIds]]), each group reads with its physical names
    * and projects back to the declared ones; a field id a file lacks
    * null-pads — which is what keeps a re-added name (fresh id) from
    * resurrecting dropped data. Tables that never renamed/dropped
    * (`fieldIds` empty) take the single vectorized scan unchanged.
    */
  private def baseRead(snap: SnapshotMeta, schema: StructType,
      files: Seq[String], fieldIds: Map[String, Int],
      withRowId: Boolean): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, regexp_replace, url_decode}
    import org.apache.spark.sql.types.{LongType, StringType, StructField}
    // `_metadata.file_path` renders local paths as PERCENT-ENCODED
    // file:// URIs; manifests store plain absolute paths — normalize
    // so delete entries, manifests, and carryover filtering all speak
    // one form. The decode must percent-decode (a space in the
    // warehouse path otherwise mismatches EVERY row identity and
    // deletes silently drop) without the form-urlencoded '+'→space
    // rule, so literal '+' is protected as %2B first.
    def withIds(df: DataFrame): DataFrame =
      if (!withRowId) df
      else df.withColumn(RowIdFileCol,
          url_decode(regexp_replace(
            regexp_replace(col("_metadata.file_path"), "^file:/+", "/"),
            "\\+", "%2B")))
        .withColumn(RowIdPosCol, col("_metadata.row_index"))
    if (files.isEmpty) {
      val s2 =
        if (!withRowId) schema
        else StructType(schema.fields ++ Seq(
          StructField(RowIdFileCol, StringType),
          StructField(RowIdPosCol, LongType)))
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s2)
    }
    if (fieldIds.isEmpty)
      return withIds(spark.read.schema(schema).parquet(files: _*))
    val statsByFile = snap.fileStats.map(s => s.path -> s).toMap
    def mappingOf(f: String): Map[String, Option[String]] =
      statsByFile.get(f).flatMap(_.colIds) match {
        // pre-activation file: physical names == declared names at
        // activation == declared names now for never-renamed fields;
        // renamed fields were backfilled with colIds, so this branch
        // only ever sees identity mappings
        case None => schema.fieldNames.map(n => n -> Option(n)).toMap
        case Some(ids) =>
          val byId = ids.map(_.swap)
          schema.fieldNames.map(n =>
            n -> fieldIds.get(n).flatMap(byId.get)).toMap
      }
    files.groupBy(mappingOf).toSeq.map { case (mp, fs) =>
      if (schema.fieldNames.forall(n => mp(n).contains(n)))
        withIds(spark.read.schema(schema).parquet(fs: _*))
      else {
        val physFields = schema.fields.flatMap(f =>
          mp(f.name).map(pn => f.copy(name = pn)))
        val rd = withIds(
          spark.read.schema(StructType(physFields)).parquet(fs: _*))
        val cols = schema.fields.map { f =>
          mp(f.name) match {
            case Some(pn) => col(pn).cast(f.dataType).as(f.name)
            case None => lit(null).cast(f.dataType).as(f.name)
          }
        } ++ (if (withRowId) Seq(col(RowIdFileCol), col(RowIdPosCol))
              else Seq.empty)
        rd.select(cols.toSeq: _*)
      }
    }.reduce(_ unionByName _)
  }

  /** Commit a MERGE-ON-READ positional DELETE: `positions` is a frame
    * with [[RowIdFileCol]]/[[RowIdPosCol]] columns (the
    * [[readFilesWithRowId]] identities of the rows to hide). Data files
    * are NOT touched — the new snapshot carries the same file list plus
    * one more delete file, so a DELETE costs O(matched rows) write IO
    * instead of rewriting every candidate file (the format-version-2
    * write path; copy-on-write [[rewriteFiles]] remains the choice for
    * large matched fractions, where rewriting beats carrying a delete
    * side forever).
    *
    * Positions are deduped within the batch AND against the snapshot's
    * existing delete files, so Σ delete-file rows never double-counts a
    * row and the manifest's live-row arithmetic
    * ([[SnapshotMeta.statsRowCount]]) stays exact. Returns the new meta
    * and the deduped entry count actually written.
    *
    * @param expectedSnapshotId same optimistic validate-and-retry guard
    *   as [[rewriteFiles]] — positions computed outside this lock are
    *   stale if another commit landed in between.
    */
  def addDeleteFile(ns: String, name: String, positions: DataFrame,
      expectedSnapshotId: Option[Long] = None,
      toBranch: Option[String] = None): (TableMeta, Long) =
    deleteAndAppend(ns, name, positions, None, expectedSnapshotId, toBranch)

  /** Merge-on-read UPDATE commit: ONE atomic snapshot that both hides
    * the matched rows (a positional delete file, [[addDeleteFile]]'s
    * dedup discipline) and appends their updated versions as new data
    * files — a reader can never observe the hidden-but-not-reinserted
    * intermediate state, and the old versions' data files stay
    * byte-identical (time travel reads them without the delete). The
    * appended files are plain (no hidden-partition value) — pval
    * pruning keeps them conservatively, which is correct and the cost
    * of not re-deriving the spec here.
    */
  def addDeleteFileWithAppend(ns: String, name: String,
      positions: DataFrame, rows: DataFrame,
      expectedSnapshotId: Option[Long] = None,
      toBranch: Option[String] = None): (TableMeta, Long) =
    deleteAndAppend(ns, name, positions, Some(rows), expectedSnapshotId, toBranch)

  /** [[addDeleteFile]], appending `rows` in the same commit when given
    * ([[addDeleteFileWithAppend]]). */
  private def deleteAndAppend(ns: String, name: String,
      positions: DataFrame, rows: Option[DataFrame],
      expectedSnapshotId: Option[Long],
      toBranch: Option[String]): (TableMeta, Long) =
    synchronized {
      import org.apache.spark.sql.functions.col
      val (_, meta) = loadMeta(ns, name)
      val schema = DataType.fromJson(meta.schemaJson).asInstanceOf[StructType]
      val current = writeBase(meta, ns, name, toBranch).getOrElse(
        throw new IllegalStateException(s"$ns.$name has no data"))
      stale(ns, name, meta, meta, toBranch, expectedSnapshotId)
        .foreach(c => throw c.e)
      val batch = positions
        .select(col(RowIdFileCol).cast("string").as("file_path"),
          col(RowIdPosCol).cast("long").as("pos"))
        .dropDuplicates("file_path", "pos")
      val fresh =
        if (current.deleteFiles.isEmpty) batch
        else batch.join(
          spark.read.schema(DeleteFileSchema).parquet(current.deleteFiles: _*),
          Seq("file_path", "pos"), "left_anti")
      val delDir = writeDir(ns, name, "delete-mor")
      val updDir = writeDir(ns, name, "update-mor")
      val newDelStats = writeFiles(fresh.coalesce(1), delDir, DeleteFileSchema)
      val newStats = rows.fold(Seq.empty[FileStats])(r => writeFiles(
          r.select(schema.fieldNames.map(col(_)).toSeq: _*),
          updDir, schema, bloomColsFor(ns, name, schema))
        .map(_.copy(colIds = colIdsStamp(meta.fieldIds, schema))))
      (transact(ns, name, Seq(delDir, updDir)) { m =>
        stale(ns, name, meta, m, toBranch).getOrElse {
          val seqNum = nextSeqOf(m)
          val stamped = newStats.map(_.copy(seq = Some(seqNum)))
          Commit(advanced(m, toBranch, SnapshotMeta(
            snapshotId = nextIdOf(m),
            parentId = Some(current.snapshotId),
            sequenceNumber = seqNum,
            files = current.files ++ stamped.map(_.path),
            rowCount = stamped.map(_.rows).sum, // a delete adds no rows
            createdAtMs = System.currentTimeMillis(),
            fileStats = current.fileStats ++ stamped,
            deleteFiles = current.deleteFiles ++ newDelStats.map(_.path),
            deleteFileStats = current.deleteFileStats ++ newDelStats,
            eqDeletes = current.eqDeletes,
            operation = Some(if (rows.isEmpty) "delete" else "overwrite"))))
        }
      }, newDelStats.map(_.rows).sum)
    }

  /** Commit an EQUALITY delete file (Iceberg v2's delete-by-key):
    * `keys` is a frame of the delete key columns `cols`; every data
    * row whose `cols` values match an entry AND whose file predates
    * this commit (file seq < this snapshot's seq) is hidden. NO data
    * is read or rewritten — the CDC shape: a streaming key-delete
    * costs one tiny file write regardless of table size, and a row
    * re-appended AFTER the delete survives it (the sequence-number
    * rule readers enforce). Folded into data files by [[compact]].
    */
  def addEqualityDeleteFile(ns: String, name: String, keys: DataFrame,
      cols: Seq[String],
      expectedSnapshotId: Option[Long] = None): (TableMeta, Long) =
    synchronized {
      import org.apache.spark.sql.functions.col
      require(cols.nonEmpty, "equality delete needs at least one column")
      val (_, meta) = loadMeta(ns, name)
      val schema = DataType.fromJson(meta.schemaJson).asInstanceOf[StructType]
      cols.foreach(c => require(schema.fieldNames.contains(c),
        s"no column $c in $ns.$name"))
      val current = meta.currentSnapshot.getOrElse(
        throw new IllegalStateException(s"$ns.$name has no data"))
      stale(ns, name, meta, meta, expected = expectedSnapshotId)
        .foreach(c => throw c.e)
      val delDir = writeDir(ns, name, "delete-eq")
      val entries = keys
        .select(cols.map(c => col(c).cast(schema(c).dataType).as(c)): _*)
        .dropDuplicates(cols)
      val keySchema = StructType(cols.map(c => schema(c)))
      val eqStats = writeFiles(entries.coalesce(1), delDir, keySchema)
      (transact(ns, name, Seq(delDir)) { m =>
        stale(ns, name, meta, m).getOrElse {
          val seqNum = nextSeqOf(m)
          val newEq = eqStats.map(st =>
            EqDeleteMeta(st.path, cols, seqNum, st.rows,
              physCols = Some(cols), keyMin = Some(st.min),
              keyMax = Some(st.max)))
          Commit(advanced(m, None, SnapshotMeta(
            snapshotId = nextIdOf(m),
            parentId = m.currentSnapshotId,
            sequenceNumber = seqNum,
            files = current.files,
            rowCount = 0L,
            createdAtMs = System.currentTimeMillis(),
            fileStats = current.fileStats,
            deleteFiles = current.deleteFiles,
            deleteFileStats = current.deleteFileStats,
            eqDeletes = current.eqDeletes ++ newEq,
            operation = Some("delete"))))
        }
      }, eqStats.map(_.rows).sum)
    }

  /** Incremental (CDC-style) read: rows added strictly AFTER
    * `fromSnapshotId`, up to `toSnapshotId` (default: current). Data
    * files are immutable and append manifests cumulative, so the
    * increment is exactly the file-set difference — an O(metadata)
    * decision; no data is read twice. This is how a downstream
    * pipeline consumes a 100 TB table without rescanning it.
    *
    * Only valid over append-only history (same restriction as
    * Iceberg's incremental scan): if a compaction/rewrite landed
    * between the two snapshots, old rows live in new files and a file
    * diff would re-surface them — detected (a `from` file missing in
    * `to`) and rejected.
    */
  def readIncremental(ns: String, name: String, fromSnapshotId: Long,
      toSnapshotId: Option[Long] = None): DataFrame = {
    val meta = describe(ns, name)
    def snapOf(id: Long): SnapshotMeta = meta.snapshots.find(_.snapshotId == id)
      .getOrElse(throw new NoSuchElementException(s"no snapshot $id in $ns.$name"))
    val from = snapOf(fromSnapshotId)
    val to = toSnapshotId.map(snapOf).orElse(meta.currentSnapshot).getOrElse(from)
    val missing = from.files.diff(to.files)
    if (missing.nonEmpty)
      throw new IllegalStateException(
        s"non-append history between snapshots $fromSnapshotId and " +
          s"${to.snapshotId} (${missing.size} files rewritten) — " +
          "incremental read requires append-only lineage")
    // a merge-on-read DELETE between the snapshots is equally
    // non-append: the data-file diff would claim "nothing changed"
    // while rows silently vanished from already-consumed files
    if (from.deleteFiles != to.deleteFiles || from.eqDeletes != to.eqDeletes)
      throw new IllegalStateException(
        s"row-level deletes landed between snapshots $fromSnapshotId " +
          s"and ${to.snapshotId} — incremental read requires " +
          "append-only lineage")
    val schema = DataType.fromJson(meta.schemaJson).asInstanceOf[StructType]
    val inc = to.files.diff(from.files)
    if (inc.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.schema(schema).parquet(inc: _*)
  }

  /** CHANGELOG read (net-change semantics, Iceberg's changelog-scan
    * shape): the row-level changes between two snapshots as the table
    * columns plus `_change_type` ('insert' | 'delete') — the
    * incremental-consumption surface for windows where
    * [[readIncremental]] correctly refuses because row-level deletes
    * landed. An update (merge-on-read UPDATE, CDC upsert) appears as
    * its delete + insert pair, exactly what a downstream MERGE applies.
    *
    *  - INSERTS are the window's new data files read under the TARGET
    *    snapshot's delete side — a row both inserted and deleted inside
    *    the window never appears (net semantics); O(delta) IO.
    *  - DELETES are rows visible at `from` but not at `to`, computed by
    *    row identity (file, position) over only the CANDIDATE files
    *    ([[changelogCandidates]]): files named by new positional
    *    delete entries, plus — for new EQUALITY deletes — the
    *    `from`-files whose key stats intersect the delete keys' bounds
    *    under a smaller sequence number ([[eqDeleteCandidates]]); a
    *    narrow-key CDC window therefore reads O(touched files), never
    *    O(table).
    *
    * Data files must be append-only across the window (same check as
    * [[readIncremental]] — a compaction in between rewrites identity).
    */
  /** The DELETE-side candidate file set of [[readChangelog]] for the
    * window `from` → `to`, exposed (like [[prunedFiles]]) so tests and
    * operators can assert the O(touched-files) contract: files named
    * by the window's new positional delete entries, plus the
    * stat-pruned equality-delete candidates among `from`'s files.
    */
  def changelogCandidates(from: SnapshotMeta, to: SnapshotMeta,
      schema: StructType): Seq[String] = {
    val newPos = to.deleteFiles.diff(from.deleteFiles)
    val newEq = to.eqDeletes.diff(from.eqDeletes)
    // per-delete-file memo shared with the MoR read path: a follower's
    // window usually touches delete files its own reads already parsed
    val named: Set[String] = namedOf(newPos)
    // stats live on `to` (a superset carrying `from`'s files forward)
    val eqCand = eqDeleteCandidates(to, schema, newEq, from.files).toSet
    from.files.filter(f => named(f) || eqCand(f))
  }

  /** Output carries `_change_ordinal` (Iceberg's changelog-scan
    * column): 0 for a window whose data files are append-only end to
    * end; when the window CROSSES content-preserving "replace"
    * snapshots (compaction/Z-order), the window DECOMPOSES into
    * maximal row-changing runs between them — each run contributes
    * its net changes under its own ordinal, replaces contribute
    * nothing, and consumers apply runs in ordinal order (a row
    * updated in two runs appears as two delete+insert pairs whose
    * ordering the ordinal preserves). A row-CHANGING rewrite (INSERT
    * OVERWRITE, copy-on-write DML over files the window still needs)
    * still refuses — identity is genuinely gone there.
    */
  def readChangelog(ns: String, name: String, fromSnapshotId: Long,
      toSnapshotId: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val meta = describe(ns, name)
    def snapOf(id: Long): SnapshotMeta = meta.snapshots.find(_.snapshotId == id)
      .getOrElse(throw new NoSuchElementException(s"no snapshot $id in $ns.$name"))
    val from = snapOf(fromSnapshotId)
    val to = toSnapshotId.map(snapOf).orElse(meta.currentSnapshot).getOrElse(from)
    val schema = DataType.fromJson(meta.schemaJson).asInstanceOf[StructType]
    val ord = "_change_ordinal"
    def rewriteError(a: SnapshotMeta, b: SnapshotMeta): Nothing =
      throw new IllegalStateException(
        s"data files were rewritten between snapshots ${a.snapshotId} " +
          s"and ${b.snapshotId} (${a.files.diff(b.files).size} files) — " +
          "changelog identity needs append-only data files; consume " +
          "before compacting")
    if (from.files.diff(to.files).isEmpty)
      return changelogWindow(meta, schema, from, to).withColumn(ord, lit(0))
    // identity broken inside the window: decompose at content-
    // preserving "replace" snapshots via the parent chain; a broken
    // chain (expired intermediates) can prove nothing — refuse
    val byId = meta.snapshots.map(s => s.snapshotId -> s).toMap
    val chain = scala.collection.mutable.ListBuffer.empty[SnapshotMeta]
    var cur = Option(to)
    while (cur.isDefined && cur.get.snapshotId != from.snapshotId) {
      chain.prepend(cur.get)
      cur = cur.get.parentId.flatMap(byId.get)
    }
    if (cur.isEmpty) rewriteError(from, to)
    val runs = Seq.newBuilder[(SnapshotMeta, SnapshotMeta)]
    var runFrom = from
    var prev = from
    chain.foreach { s =>
      // a STITCHED edge spans expired commits — never skip it, even
      // when the surviving child is itself a replace
      if (s.operation.contains("replace") && !s.stitched.contains(true)) {
        if (runFrom.snapshotId != prev.snapshotId) runs += ((runFrom, prev))
        runFrom = s // the replace edge contributes no changes
      }
      prev = s
    }
    if (runFrom.snapshotId != prev.snapshotId) runs += ((runFrom, prev))
    val rs = runs.result()
    rs.foreach { case (a, b) =>
      if (a.files.diff(b.files).nonEmpty) rewriteError(a, b)
    }
    if (rs.isEmpty) // only replaces inside: zero changes by definition
      return emptyChangeFrame(schema).withColumn(ord, lit(0))
    rs.zipWithIndex.map { case ((a, b), i) =>
      changelogWindow(meta, schema, a, b).withColumn(ord, lit(i))
    }.reduce(_ unionByName _)
  }

  /** One append-only window's net changes (no ordinal column). */
  private def changelogWindow(meta: TableMeta, schema: StructType,
      from: SnapshotMeta, to: SnapshotMeta): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val ct = "_change_type"
    val inserted = readFilesOf(to, schema, to.files.diff(from.files),
        meta.fieldIds)
      .withColumn(ct, lit("insert"))
    val candidates = changelogCandidates(from, to, schema)
    val deleted =
      if (candidates.isEmpty) emptyChangeFrame(schema)
      else {
        val was = readFilesWithRowId(from, schema, candidates, meta.fieldIds)
        val still = readFilesWithRowId(to, schema, candidates, meta.fieldIds)
          .select(col(RowIdFileCol).as("__cl_file"),
            col(RowIdPosCol).as("__cl_pos"))
        was.join(still,
            was(RowIdFileCol) === still("__cl_file") &&
              was(RowIdPosCol) === still("__cl_pos"), "left_anti")
          .drop(RowIdFileCol, RowIdPosCol)
          .withColumn(ct, lit("delete"))
      }
    inserted.unionByName(deleted)
  }

  private def emptyChangeFrame(schema: StructType): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(schema.fields :+
        org.apache.spark.sql.types.StructField("_change_type",
          org.apache.spark.sql.types.StringType)))

  // -------------------------------------------------------------- commit

  /** Commit = write the NEW snapshots' manifests (immutable side
    * files, one per snapshot), then the SLIM metadata.json (O(1) per
    * snapshot — ids, counts, ref map, manifest pointer), then move the
    * version hint. Carried-forward snapshots reuse their existing
    * manifests untouched, so history is never re-serialized; but a new
    * snapshot's manifest lists its WHOLE file set (an append's is the
    * base's live files plus its own), so a commit's metadata IO is
    * O(the new snapshot's live files) + O(#snapshots) — it grows with
    * the table, not with the commit. A losing CREATE_NEW race deletes
    * the manifests it just wrote (they are referenced by nothing).
    * Called only from [[transact]] and [[createTable]]'s first version.
    */
  private def commit(ns: String, name: String, version: Int, meta: TableMeta): Unit = {
    val dir = metaDir(ns, name)
    val metaPath = dir.resolve(f"v$version%05d.metadata.json")
    val written = scala.collection.mutable.ListBuffer.empty[Path]
    def writeManifest(sn: SnapshotMeta): String = {
      val uid = java.util.UUID.randomUUID().toString.take(8)
      val mf = dir.resolve(s"manifest-${sn.snapshotId}-$uid.json")
      // name-era stamp: the in-memory stats being persisted are keyed
      // under the CURRENT rename/drop chain (loadMeta remapped them),
      // so entries carried from older files record the link high-water
      // — at reload only links NEWER than it apply ([[remapNames]]),
      // never the already-applied chain again
      val hw = meta.nameLinks.map(_.seq).maxOption
      val stamped =
        if (hw.isEmpty) sn.fileStats
        else sn.fileStats.map(fs => fs.copy(nameSeq = hw))
      val eqStamped =
        if (hw.isEmpty) sn.eqDeletes
        else sn.eqDeletes.map(d => d.copy(nameSeq = hw))
      val doc = ManifestDoc(sn.files, stamped, sn.deleteFiles,
        sn.deleteFileStats, eqStamped)
      Files.write(mf, Mapper.writeValueAsBytes(doc),
        StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
      written += mf
      manifestCache.synchronized(
        manifestCache.put(mf.toString, doc)): Unit
      mf.toString
    }
    val slimSnaps = meta.snapshots.map { sn =>
      val stripped = sn.copy(files = Seq.empty, fileStats = Seq.empty,
        deleteFiles = Seq.empty, deleteFileStats = Seq.empty,
        eqDeletes = Seq.empty)
      sn.manifestPath match {
        // committed manifests are immutable and reused UNCONDITIONALLY
        // — the decision must not depend on manifestCache residency, or
        // a history longer than the LRU would rewrite the evicted tail
        // on every commit. THE CONTRACT: any mutator that changes a
        // committed snapshot's heavy payload in memory MUST clear
        // manifestPath on the snapshots it touched (the superseded
        // manifest becomes an orphan removeOrphanFiles reaps).
        // ALTER RENAME/DROP no longer do — they append a [[NameLink]]
        // and the remap happens at LOAD ([[remapNames]]), which is
        // exactly what makes them O(1).
        case Some(_) => stripped
        case None =>
          stripped.copy(manifestPath = Some(writeManifest(sn)))
      }
    }
    val slim = meta.copy(snapshots = slimSnaps)
    // CREATE_NEW: optimistic-concurrency guard — a losing writer throws.
    try Files.write(metaPath, Mapper.writeValueAsBytes(slim),
      StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
    catch {
      case e: Throwable =>
        written.foreach { mf =>
          manifestCache.synchronized(
            manifestCache.remove(mf.toString)): Unit
          scala.util.Try(Files.deleteIfExists(mf)): Unit
        }
        throw e
    }
    val tmp = dir.resolve(s".version-hint.$version.tmp")
    Files.write(tmp, version.toString.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, pointer(ns, name), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Rehydrate one snapshot from its manifest (parse-once LRU;
    * manifests are immutable, so content is identified by path).
    */
  private def hydrate(sn: SnapshotMeta): SnapshotMeta = sn.manifestPath match {
    case None => sn
    case Some(p) =>
      val doc = manifestCache.synchronized(
          Option(manifestCache.get(p))) match {
        case Some(d) => d
        case None =>
          val d = Mapper.readValue(Files.readAllBytes(Paths.get(p)),
            classOf[ManifestDoc])
          manifestCache.synchronized(manifestCache.put(p, d)): Unit
          d
      }
      sn.copy(files = doc.files, fileStats = doc.fileStats,
        deleteFiles = doc.deleteFiles,
        deleteFileStats = doc.deleteFileStats,
        eqDeletes = doc.eqDeletes)
  }

  private val manifestCache =
    new java.util.LinkedHashMap[String, ManifestDoc](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, ManifestDoc]): Boolean = size > 256
    }

  private def loadMeta(ns: String, name: String): (Int, TableMeta) = {
    require(tableExists(ns, name), s"no such table: $ns.$name")
    val version = new String(Files.readAllBytes(pointer(ns, name)),
      StandardCharsets.UTF_8).trim.toInt
    val metaPath = metaDir(ns, name).resolve(f"v$version%05d.metadata.json")
    // The JSON parse is O(manifest) — per-file stats make a big
    // table's metadata megabytes, and re-parsing it on EVERY read and
    // commit attempt is driver work that grows with the table. The
    // pointer read above stays fresh (that is the OCC primitive);
    // only the version→content parse is memoized. Metadata files are
    // immutable once written (CREATE_NEW), so content is identified
    // by (path, size, mtime, fileKey, incarnationUuid) — fileKey is
    // the filesystem's own object identity (device+inode on POSIX)
    // and the uuid is the table's per-incarnation stamp ([[uuidFile]],
    // round-14 ADVICE item 2 closed for good in round 16): a
    // cross-process DROP + re-CREATE reusing version numbers can never
    // alias a cached parse, even when the filesystem reuses the inode
    // for a same-size file inside one mtime granule.
    val attrs = Files.readAttributes(metaPath,
      classOf[java.nio.file.attribute.BasicFileAttributes])
    val key = (metaPath.toString, attrs.size,
      attrs.lastModifiedTime.toInstant, Option(attrs.fileKey()),
      incarnationUuid(ns, name))
    val meta = metaParseCache.synchronized(
        Option(metaParseCache.get(key))) match {
      case Some(m) => m
      case None =>
        val slim = Mapper.readValue(Files.readAllBytes(metaPath),
          classOf[TableMeta])
        // rehydrate the snapshots' heavy payload from their immutable
        // side manifests; cached metas are ALWAYS hydrated, so nothing
        // downstream knows manifests exist. Carried-forward snapshots
        // REUSE the previous loaded version's in-memory payloads
        // (manifests are immutable and identified by path — structural
        // sharing, zero IO), so a commit's load reads only ITS OWN new
        // manifests no matter how long the history is; the bounded
        // manifestCache is just the fallback for cold loads, and its
        // cap can no longer reintroduce O(history x files) IO per
        // commit (round-15 ADVICE). A missing manifest means a
        // concurrent expiry deleted it between our pointer read and
        // this parse — reload from the moved pointer (the fresh
        // version no longer references it); an unmoved pointer with a
        // missing manifest is real corruption and rethrows.
        // the reuse entry is valid only under the SAME rename/drop
        // chain AND activation map — a DDL between loads means every
        // payload must remap freshly ([[remapNames]]; manifestCache
        // still makes that IO-free). activationIds is part of the key
        // because RTAS activates field ids WITHOUT adding a link: a
        // reuse keyed on links alone would serve pre-replace snapshots
        // without their virtual old-era colIds, and a changed-type
        // column would resolve BY NAME into garbage reads
        val prev = hydratedByPath.synchronized(
          Option(hydratedByPath.get(metaDir(ns, name).toString)))
          .filter(_._1 == ((slim.nameLinks, slim.activationIds)))
          .map(_._2)
          .getOrElse(Map.empty[String, SnapshotMeta])
        val m = try slim.copy(snapshots = slim.snapshots.map { sn =>
          sn.manifestPath.flatMap(prev.get) match {
            case Some(h) => sn.copy(files = h.files,
              fileStats = h.fileStats, deleteFiles = h.deleteFiles,
              deleteFileStats = h.deleteFileStats, eqDeletes = h.eqDeletes)
            case None => remapNames(hydrate(sn), slim)
          }
        })
        catch {
          case e: java.nio.file.NoSuchFileException =>
            val nowVersion = new String(
              Files.readAllBytes(pointer(ns, name)),
              StandardCharsets.UTF_8).trim.toInt
            if (nowVersion != version) return loadMeta(ns, name)
            else throw e
        }
        metaParseCache.synchronized(metaParseCache.put(key, m)): Unit
        // refresh this table's manifestPath -> hydrated-snapshot view
        // (references the SAME immutable SnapshotMeta objects as the
        // cached TableMeta — structural sharing, no copies)
        hydratedByPath.synchronized(hydratedByPath.put(
          metaDir(ns, name).toString,
          ((slim.nameLinks, slim.activationIds),
            m.snapshots.flatMap(s => s.manifestPath.map(_ -> s)).toMap))): Unit
        m
    }
    (version, meta)
  }

  /** Bounded LRU for [[loadMeta]]'s parse (TableMeta is immutable and
    * shared structurally across versions, so entries are cheap).
    */
  private val metaParseCache =
    new java.util.LinkedHashMap[Any, TableMeta](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[Any, TableMeta]): Boolean = size > 16
    }

  /** Per-table view of the LAST loaded version's hydrated snapshots
    * keyed by manifest path — the structural-sharing source
    * [[loadMeta]] reuses so consecutive version loads pay IO only for
    * NEW manifests (one map of references per table; bounded by live
    * tables).
    */
  private val hydratedByPath =
    new java.util.LinkedHashMap[
        String,
        ((Seq[NameLink], Map[String, Int]), Map[String, SnapshotMeta])](
        16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[
            String,
            ((Seq[NameLink], Map[String, Int]),
              Map[String, SnapshotMeta])]): Boolean =
        size > 64
    }

  /** Apply the table's rename/drop chain to one RAW hydrated snapshot
    * (the O(1)-rename read side): every manifest entry written before
    * a [[NameLink]] (name-era stamp strictly below the link's seq)
    * follows it — stat/bloom keys rename or drop, eq-delete key
    * columns rename with their physical names pinned first, and
    * colIds-less (pre-activation) entries get the virtual
    * at-activation identity mapping. Entries at or above a link's seq
    * were written under the post-link names already (including
    * compaction-carried stats, which stamp [[FileStats.nameSeq]] at
    * manifest write) — applying the link to them would double-rename.
    * Identity (zero-cost) when the table never renamed or dropped.
    */
  private def remapNames(sn: SnapshotMeta, meta: TableMeta): SnapshotMeta = {
    val links = meta.nameLinks
    val act = meta.activationIds
    if (links.isEmpty && act.isEmpty) return sn
    def remapKeys[V](m: Map[String, V], appl: Seq[NameLink]): Map[String, V] =
      appl.foldLeft(m) { (acc, l) =>
        acc.get(l.from) match {
          case None => acc
          case Some(v) => l.to match {
            case Some(t) => (acc - l.from) + (t -> v)
            case None => acc - l.from
          }
        }
      }
    val fileStats = sn.fileStats.map { fs =>
      val era = fs.nameSeq.orElse(fs.seq).getOrElse(Long.MinValue)
      val appl = links.filter(_.seq > era)
      val withIds = fs.copy(colIds = fs.colIds.orElse(
        if (act.nonEmpty) Some(act) else None))
      if (appl.isEmpty) withIds
      else withIds.copy(min = remapKeys(fs.min, appl),
        max = remapKeys(fs.max, appl),
        blooms = fs.blooms.map(remapKeys(_, appl)))
    }
    val eqs = sn.eqDeletes.map { d =>
      val era = d.nameSeq.getOrElse(d.seq)
      val appl = links.filter(_.seq > era)
      if (appl.isEmpty) d
      else {
        def walk(c: String): String = appl.foldLeft(c)((n, l) =>
          if (l.from == n) l.to.getOrElse(n) else n)
        d.copy(physCols = d.physCols.orElse(Some(d.cols)),
          cols = d.cols.map(walk),
          keyMin = d.keyMin.map(remapKeys(_, appl)),
          keyMax = d.keyMax.map(remapKeys(_, appl)))
      }
    }
    sn.copy(fileStats = fileStats, eqDeletes = eqs)
  }
}

object SnapshotCatalog {

  private val Log = org.slf4j.LoggerFactory.getLogger(classOf[SnapshotCatalog])

  /** Shared daemon pool for [[SnapshotCatalog.footerFileStats]]' footer
    * reads — one per JVM, like `Engine.watchdog`, so a commit pays no
    * thread start-up. Eight threads: the reads are independent opens +
    * footer parses, IO-bound.
    */
  private val footerPool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newFixedThreadPool(8, r => {
      val t = new Thread(r, "graft-footer-stats")
      t.setDaemon(true)
      t
    })

  /** An equality read ([[SnapshotCatalog.readIn]]) with its pruning
    * audit: `df` reads exactly `kept` of the snapshot's `total` files.
    */
  final case class PrunedRead(df: DataFrame, kept: Int, total: Int)

  /** Optimistic-concurrency commit retries before giving up. */
  val MaxCommitRetries = 10

  /** What one [[SnapshotCatalog.transact]] attempt decided against the
    * metadata it loaded.
    */
  private sealed trait Outcome
  /** Commit `meta` as the next version. */
  private final case class Commit(meta: TableMeta) extends Outcome
  /** Commit nothing: the change is already in `meta`, the table as the
    * attempt found it.
    */
  private final case class Applied(meta: TableMeta) extends Outcome
  /** The caller's plan is stale; `e` sends it back to re-plan. */
  private final case class Conflict(
      e: java.util.ConcurrentModificationException) extends Outcome

  /** A streaming writer's commit precondition, a compare-and-set on the
    * marker or position property it records: `key` must still hold
    * `value` (None: unset), the value the writer read before writing.
    * A commit attempt that finds anything else commits nothing and
    * returns the table as it found it — another writer already applied
    * this batch or window.
    */
  final case class Expect(key: String, value: Option[String]) {
    def holds(meta: TableMeta): Boolean = meta.properties.get(key) == value
  }

  /** Positional delete sides at or below this many entries apply as an
    * inline literal filter instead of a broadcast anti-join (see
    * [[SnapshotCatalog.readFilesWithRowId]]): the needle-delete case
    * costs zero extra jobs per query. Small enough that the filter
    * expression and the per-snapshot memo stay trivial.
    */
  val PosInlineMaxRows = 1000L

  /** Default [[SnapshotCatalog.removeOrphanFiles]] safety window: an
    * unreferenced file younger than this may belong to a concurrent
    * writer that hasn't committed yet (writes run outside the catalog
    * lock) — never reap it. Iceberg's default (3 days): the window
    * must bound WRITE DURATION, not commit latency — a multi-hour
    * 100 TB rewrite writes its first part file long before it commits.
    */
  val OrphanSafetyWindowMs: Long = 3L * 24 * 3600 * 1000

  /** Session conf capping the delete-side rows [[SnapshotCatalog.readFilesWithRowId]]
    * will pin with an explicit broadcast hint; above it the join is
    * left to the planner and a loud warning points at compaction. The
    * default (10 M entries ≈ a few hundred MB broadcast) is far above
    * what the write path's CoW fallback lets accumulate.
    */
  val MorBroadcastMaxRowsConf = "spark.graft.mor.broadcastMaxRows"
  val MorBroadcastMaxRowsDefault = 10000000L

  /** What one [[SnapshotCatalog.maintain]] pass did. */
  final case class MaintenanceReport(compacted: Boolean,
      filesBefore: Int, filesAfter: Int,
      snapshotsBefore: Int, snapshotsAfter: Int, orphansRemoved: Int)

  /** What one [[SnapshotCatalog.compactFileGroups]] pass did —
    * `bytesRewritten` is the honest maintenance-cost number (dirty
    * bytes, which SCALING.md tracks against table bytes).
    */
  final case class CompactReport(rewrittenFiles: Int, untouchedFiles: Int,
      newFiles: Int, bytesRewritten: Long, posDeleteFilesFolded: Int,
      eqDeleteFilesFolded: Int, compacted: Boolean)

  /** What one [[SnapshotCatalog.rewriteDeleteFiles]] pass did —
    * entry counts are POSITIONAL entries (`entriesAfter` includes the
    * rows converted from equality deletes; `entriesBefore` is the
    * positional side only, so after > before is normal when eq
    * entries converted).
    */
  final case class DeleteRewriteReport(deleteFilesBefore: Int,
      deleteFilesAfter: Int, entriesBefore: Long, entriesAfter: Long,
      eqDeleteFilesConverted: Int, rewritten: Boolean)

  /** What one [[SnapshotCatalog.addFiles]] import registered. */
  final case class AddFilesReport(addedFiles: Int, addedRows: Long)

  /** Target positional entries per consolidated delete file
    * ([[SnapshotCatalog.rewriteDeleteFiles]]): (path, pos) rows are
    * ~tens of bytes encoded (file_path dictionary/RLE-compresses), so
    * 8M entries keep each file well under the data-file target while
    * bounding how many files a huge delete side consolidates into.
    */
  val DeleteRewriteRowsPerFile: Long = 8L * 1024 * 1024

  /** Bin-pack thresholds ([[SnapshotCatalog.compactFileGroups]]):
    * files under `DefaultMinFileBytes` are small enough to pack;
    * rewritten groups aim at `DefaultTargetFileBytes` per output file
    * (Iceberg's 512 MB default target, ~75% min — scaled to what one
    * executor comfortably rewrites).
    */
  val DefaultMinFileBytes: Long = 384L << 20
  val DefaultTargetFileBytes: Long = 512L << 20

  /** Table property declaring the table's CLUSTERING columns
    * (Iceberg's write sort-order, `ALTER TABLE … WRITE ORDERED BY`
    * expressed as `SET TBLPROPERTIES ('write.order' = 'c1,c2')`):
    * every maintenance rewrite without an explicit `clusterBy`
    * Z-orders the rewritten group by these columns, so routine
    * compaction continuously tightens per-file min/max envelopes on
    * the declared predicate columns — at 100 TB this is what turns
    * stats-based file pruning from "lucky" into "by construction"
    * without a separate OPTIMIZE job. Columns must be numeric or
    * timestamp (the Morton-scaling domain).
    */
  val WriteOrderProp = "write.order"

  /** Opt-in ref aging for [[SnapshotCatalog.expireSnapshots]]
    * (Iceberg's knob): refs whose head snapshot committed more than
    * this many milliseconds ago drop during expiry.
    */
  val MaxRefAgeProp = "history.expire.max-ref-age-ms"

  /** Parse a `write.order` property / sort-spec string into column
    * names, validating each against `schema` (must exist, numeric or
    * timestamp — the [[graft.functions.ZOrder.scaled]] domain).
    */
  def parseWriteOrder(spec: String, schema: StructType): Seq[String] = {
    val cols = spec.split(',').map(_.trim).filter(_.nonEmpty).toSeq
    cols.foreach { c =>
      val f = schema.find(_.name == c).getOrElse(throw
        new IllegalArgumentException(s"write.order column '$c' not in schema"))
      f.dataType match {
        case _: org.apache.spark.sql.types.NumericType => ()
        case org.apache.spark.sql.types.TimestampType => ()
        case other => throw new IllegalArgumentException(
          s"write.order column '$c' has type ${other.simpleString} — " +
            "clustering needs a numeric or timestamp column")
      }
    }
    cols
  }

  /** [[SnapshotCatalog.maintain]] delete-side triggers: compact when
    * the delete side holds this many files, or hides more than this
    * fraction of the table's manifest-counted rows.
    */
  val DeleteFilesCompactThreshold = 4
  val DeletedFractionThreshold = 0.05

  /** Row-identity columns carried by [[SnapshotCatalog.readFilesWithRowId]]:
    * the parquet reader's file path and within-file row index — the
    * coordinates a positional delete file names rows by.
    */
  val RowIdFileCol = "__graft_file"
  val RowIdPosCol = "__graft_pos"

  /** Schema of a positional delete file (Iceberg v2 position deletes:
    * file_path + pos, spec's required columns).
    */
  val DeleteFileSchema: StructType = StructType(Seq(
    org.apache.spark.sql.types.StructField("file_path",
      org.apache.spark.sql.types.StringType, nullable = false),
    org.apache.spark.sql.types.StructField("pos",
      org.apache.spark.sql.types.LongType, nullable = false)))

  /** Table property selecting the SQL DELETE write path (Iceberg's
    * `write.delete.mode`): `copy-on-write` rewrites candidate files,
    * `merge-on-read` writes positional delete files; unset = auto
    * (merge-on-read when the matched fraction of the candidate files'
    * rows is at most [[MorAutoFraction]], copy-on-write otherwise —
    * small deletes shouldn't rewrite whole files, large ones shouldn't
    * accrete a delete side bigger than the rewrite).
    */
  val DeleteModeProp = "write.delete.mode"
  val MorAutoFraction = 0.3

  val DefaultProperties: Map[String, String] = Map(
    // mirrors connector-config.json:24-26
    "write.format.default" -> "parquet",
    "write.parquet.compression-codec" -> "snappy")

  /** Per-file column statistics (stringified min/max per primitive
    * column + null count) — the manifest-pruning capability of
    * `iceberg.snapshots` manifests (SURVEY §4 "metadata/manifest file
    * pruning"). Values are rendered with a sortable encoding (see
    * `StatValue`) so pruning compares without re-parsing types.
    */
  final case class FileStats(
      path: String,
      rows: Long,
      min: Map[String, String],
      max: Map[String, String],
      // column → base64 bloom bitset (BloomBits wide), for point-lookup
      // file skipping; Option so pre-bloom metadata deserializes (None)
      blooms: Option[Map[String, String]] = None,
      // hidden-partition value of this (value-pure) file under the
      // table's partition.spec; None for unpartitioned tables and
      // pre-partitioning metadata
      pval: Option[String] = None,
      // the EXACT partition.spec string the file was written under —
      // pruning by pval is only valid against the same spec (a file
      // bucketed mod 4 has a meaningless pval under a mod-8 spec), so
      // spec evolution keeps old-era files conservatively
      pspec: Option[String] = None,
      // PHYSICAL column name → stable field id at write time (the
      // Iceberg field-id discipline): after a RENAME COLUMN, readers
      // resolve each declared field to this file's physical name by
      // ID, so files written under the old name keep resolving; a
      // field id absent here means the file predates the column
      // (null-pad — crucially also for a re-added name after a DROP,
      // which gets a FRESH id so old data never resurfaces). None =
      // written before field ids were activated (physical names =
      // declared names at activation, backfilled then).
      colIds: Option[Map[String, Int]] = None,
      // the commit SEQUENCE NUMBER the file was added at — equality
      // deletes apply only to files with a STRICTLY SMALLER sequence
      // (the Iceberg v2 rule: a row re-inserted after the delete must
      // survive it). None = predates the feature = older than any
      // future delete (conservatively deletable). contentAs: same
      // Jackson Option-number boxing issue as SnapshotMeta.parentId.
      @JsonDeserialize(contentAs = classOf[java.lang.Long])
      seq: Option[Long] = None,
      // name-era stamp: the [[NameLink]] high-water the stat KEYS
      // (min/max/blooms) were current at when this entry was WRITTEN
      // into its manifest — only links with seq strictly above it
      // apply at load. Distinct from `seq`: compaction carries an old
      // file (old `seq`, eq-delete semantics unchanged) into a FRESH
      // manifest written under current names; without the stamp the
      // already-applied rename chain would re-apply and double-swap.
      // None = keys as of `seq` (or pre-activation when that is None).
      @JsonDeserialize(contentAs = classOf[java.lang.Long])
      nameSeq: Option[Long] = None)

  /** One equality delete file (Iceberg v2's second delete flavor):
    * rows of `cols` values; a data row is hidden when its `cols`
    * values equal some entry AND its file's sequence number is
    * strictly below `seq`. The CDC workhorse: deleting by key costs
    * ZERO read IO at write time (no positions to find).
    *
    * `cols` are CURRENT DECLARED names (renameColumn remaps them, the
    * field-id discipline applied to the delete side — real Iceberg
    * stores equality_ids for exactly this reason); `physCols` records
    * the PHYSICAL column names inside the delete parquet file (the
    * declared names at write time), which a metadata-only rename never
    * changes — readers resolve the file under physCols and project
    * back. None = physical names equal `cols` (pre-rename metadata).
    *
    * `keyMin`/`keyMax` are the delete file's own per-key-column bounds
    * (declared-name keyed, same rendering as [[FileStats.min]]/`max`),
    * stamped at commit — Iceberg's lower_bounds/upper_bounds for
    * delete manifests. They make candidate pruning METADATA-ONLY for
    * the common case: a delete whose key bounds touch no data file's
    * stats is skipped without reading it at all. None = pre-bounds
    * metadata (candidates computed by reading the file, as before).
    */
  final case class EqDeleteMeta(path: String, cols: Seq[String],
      seq: Long, rows: Long, physCols: Option[Seq[String]] = None,
      keyMin: Option[Map[String, String]] = None,
      keyMax: Option[Map[String, String]] = None,
      // name-era stamp (the FileStats.nameSeq discipline): `cols` /
      // key stats are current as of this link high-water; only
      // rename/drop links NEWER than it apply at load
      @JsonDeserialize(contentAs = classOf[java.lang.Long])
      nameSeq: Option[Long] = None)

  /** One `ALTER TABLE … RENAME/DROP COLUMN` recorded in the versioned
    * metadata (round 16 — the O(1) rename): `to` = None is a drop.
    * Applied at metadata LOAD to every manifest entry written BEFORE
    * the link (`seq` is the snapshot-sequence high-water at DDL time;
    * an entry remaps iff its name-era stamp is strictly below), so the
    * DDL itself touches no manifest — on a million-file, deep-history
    * table a rename is one slim metadata write instead of a
    * multi-minute stop-the-world manifest rewrite.
    */
  final case class NameLink(from: String, to: Option[String], seq: Long)

  /** One snapshot's heavy payload as stored in its side manifest file
    * (see [[SnapshotMeta.manifestPath]]).
    */
  final case class ManifestDoc(
      files: Seq[String],
      fileStats: Seq[FileStats] = Seq.empty,
      deleteFiles: Seq[String] = Seq.empty,
      deleteFileStats: Seq[FileStats] = Seq.empty,
      eqDeletes: Seq[EqDeleteMeta] = Seq.empty)

  /** Bloom sizing: 8192 bits / 4 probes ≈ 1.2% false-positive rate at
    * 1000 distinct values per file, 1 KiB per (file, column) in the
    * manifest — the Iceberg-puffin-style tradeoff: metadata stays tiny
    * next to data files while point lookups skip almost every
    * non-matching file.
    */
  val BloomBits = 8192
  val BloomProbes = 4

  /** Columns to build file blooms for on write (comma-separated table
    * property), mirroring Iceberg's write.parquet.bloom-filter-enabled
    * switches. The catalog's own writes build them in the write tasks
    * ([[SnapshotCatalog.BloomTracker]]); imported files through one
    * read-back job.
    */
  val BloomColumnsProp = "write.bloom-filter.columns"

  /** The probe positions of a value's canonical string rendering —
    * md5 split into four 32-bit words mod [[BloomBits]]. md5 is used
    * (not a faster hash) because the SQL `md5` function and
    * `MessageDigest` provably agree, so the write side (a column
    * expression over the whole batch) and this read-side probe never
    * drift. Integral/string columns render stably across both; that is
    * the supported probe surface (floats have no canonical rendering).
    */
  def bloomPositions(value: String): Seq[Int] =
    bloomPositions(java.security.MessageDigest.getInstance("MD5"),
      value.getBytes(StandardCharsets.UTF_8)).toSeq

  /** [[bloomPositions]] of a rendering's UTF-8 bytes: each probe is one
    * big-endian unsigned 32-bit word of the digest mod [[BloomBits]]. */
  private def bloomPositions(md5: java.security.MessageDigest,
      utf8: Array[Byte]): Array[Int] = {
    val d = md5.digest(utf8)
    Array.tabulate(BloomProbes) { i =>
      ((java.nio.ByteBuffer.wrap(d, i * 4, 4).getInt & 0xffffffffL) % BloomBits).toInt
    }
  }

  /** Builds the blooms of a [[SnapshotCatalog.writeFiles]] job in its
    * write tasks: each non-null value of a bloom column (`cols`: name,
    * ordinal among the written columns, type) ORs the [[bloomPositions]]
    * of its `cast(... as string)` rendering into its (file, column)'s
    * [[BloomBits]]-bit array. Tasks write under an attempt dir
    * (`…/_temporary/0/_temporary/attempt_…/<rel>`), so files are keyed
    * by `<rel>` — with hidden partitioning one task writes the same part
    * name into several `_graft_p=v/` dirs. [[blooms]] is set on commit.
    */
  private[catalog] final class BloomTracker(
      val cols: Seq[(String, Int, DataType)]) extends WriteJobStatsTracker {
    import scala.collection.mutable
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.types._
    @transient @volatile var blooms: Map[String, Map[String, Array[Byte]]] = Map.empty

    def newTaskInstance(): WriteTaskStatsTracker = new WriteTaskStatsTracker {
      private val md5 = java.security.MessageDigest.getInstance("MD5")
      private val files = mutable.Map.empty[String, mutable.Map[String, Array[Byte]]]
      private var path: String = _
      private var perCol: mutable.Map[String, Array[Byte]] = _
      def newPartition(partitionValues: InternalRow): Unit = ()
      def newFile(filePath: String): Unit = ()
      def closeFile(filePath: String): Unit = ()
      def newRow(filePath: String, row: InternalRow): Unit = {
        if (filePath ne path) {
          path = filePath
          perCol = files.getOrElseUpdate(filePath, mutable.Map.empty)
        }
        for ((c, i, dt) <- cols if !row.isNullAt(i)) {
          val rendering = dt match {
            case _: StringType => row.getUTF8String(i).getBytes
            case _ => row.get(i, dt).toString.getBytes(StandardCharsets.UTF_8) // integral
          }
          val bits = perCol.getOrElseUpdate(c, new Array[Byte](BloomBits / 8))
          bloomPositions(md5, rendering).foreach { p =>
            bits(p >> 3) = (bits(p >> 3) | (1 << (p & 7))).toByte
          }
        }
      }
      def getFinalStats(taskCommitTime: Long): WriteTaskStats =
        BloomTaskStats(files.map { case (path, perCol) =>
          AttemptDir.findFirstMatchIn(path).fold(path)(m => path.substring(m.end)) ->
            perCol.toMap
        }.toMap)
    }

    def processStats(stats: Seq[WriteTaskStats], jobCommitTime: Long): Unit =
      blooms = stats.flatMap { case BloomTaskStats(f) => f }.toMap
  }

  private final case class BloomTaskStats(
      files: Map[String, Map[String, Array[Byte]]]) extends WriteTaskStats

  private val AttemptDir = "/_temporary/[^/]+/_temporary/[^/]+/".r

  /** Bloom membership for one file's stats: false ONLY when the file
    * provably lacks `value` (absent/None blooms keep the file).
    */
  def mightContain(stats: FileStats, column: String, value: String): Boolean =
    stats.blooms.flatMap(_.get(column)) match {
      case None => true
      case Some(b64) =>
        val bits = java.util.Base64.getDecoder.decode(b64)
        bloomPositions(value).forall { p =>
          (bits(p >> 3) & (1 << (p & 7))) != 0
        }
    }

  final case class SnapshotMeta(
      snapshotId: Long,
      // contentAs: Jackson-Scala would otherwise box Option numbers as
      // Integer and blow up on Long unboxing.
      @JsonDeserialize(contentAs = classOf[java.lang.Long])
      parentId: Option[Long],
      sequenceNumber: Long,
      files: Seq[String],
      rowCount: Long,
      createdAtMs: Long,
      fileStats: Seq[FileStats] = Seq.empty,
      // Merge-on-read POSITIONAL DELETE files (the format-version-2
      // hallmark, connector-config.json:24-26): parquet files of
      // (file_path: string, pos: long) rows naming data-file rows this
      // snapshot hides. Data files stay byte-identical; readers
      // anti-join these away ([[SnapshotCatalog.readFilesOf]]);
      // [[SnapshotCatalog.compact]] folds them back into data files.
      // Positions are GLOBALLY DEDUPED on write (addDeleteFile), so
      // live rows = Σ fileStats.rows − Σ deleteFileStats.rows exactly.
      // Defaults keep pre-MoR metadata.json readable.
      deleteFiles: Seq[String] = Seq.empty,
      deleteFileStats: Seq[FileStats] = Seq.empty,
      // EQUALITY delete files (see [[EqDeleteMeta]]); like positional
      // deletes they are folded back into data files by compact
      eqDeletes: Seq[EqDeleteMeta] = Seq.empty,
      // Iceberg's snapshot `operation` summary field. The load-bearing
      // value is "replace": the commit REWROTE the file layout while
      // provably preserving row content (compaction/Z-order) — an
      // incremental consumer skips such snapshots instead of
      // full-refreshing ([[graft.streaming.Sinks.ChangelogFollower]]),
      // which is what keeps routine maintenance from breaking every
      // subscriber of a 100 TB table. "append"/"delete"/"overwrite"
      // are informational (surfaced by the `snapshots` metadata
      // table). None = pre-round-15 metadata: treated as
      // row-CHANGING, the conservative direction (at worst one
      // resync, never a wrong result).
      operation: Option[String] = None,
      // Side MANIFEST file holding this snapshot's heavy payload
      // (file list + per-file stats + delete side) — the Iceberg
      // manifest-list discipline (round 15): the versioned
      // metadata.json carries only O(1) per snapshot, so a COMMIT
      // writes O(its own new files), never O(history x files); the
      // manifest is immutable once written and parsed at most once
      // per process ([[SnapshotCatalog.loadMeta]] rehydrates through
      // an LRU). None = heavy fields inline (pre-split metadata reads
      // unchanged; in-memory snapshots are ALWAYS hydrated).
      manifestPath: Option[String] = None,
      // TRUE when [[SnapshotCatalog.expireSnapshots]] re-pointed
      // parentId across EXPIRED commits: the (parent -> this) edge
      // then spans more than this snapshot's own commit, so
      // edge-consumers must not special-case it by this snapshot's
      // `operation` (a stitched "replace" edge may hide expired ROW
      // CHANGES — skipping it would lose them; reading it as a normal
      // endpoints window is always sound).
      stitched: Option[Boolean] = None,
      // the SOURCE snapshot a cherry-pick re-attach was built from
      // (Iceberg records the same provenance in the snapshot summary):
      // the durable already-published marker — without it a publish
      // retry after the re-attached files were compacted away would
      // pass the path-overlap guard and silently duplicate the staged
      // rows ([[SnapshotCatalog.isPublished]]).
      @JsonDeserialize(contentAs = classOf[java.lang.Long])
      cherrypickedFrom: Option[Long] = None) {
    /** Live-row count from the manifest alone, when every data AND
      * delete file carries stats — None forces a scan, never a silent
      * undercount (the metadata-count contract). Equality deletes make
      * the count unprovable from metadata (their match count is
      * data-dependent), so their presence always forces the scan.
      */
    def statsRowCount: Option[Long] = {
      val byPath = fileStats.map(st => st.path -> st.rows).toMap
      val delByPath = deleteFileStats.map(st => st.path -> st.rows).toMap
      if (eqDeletes.isEmpty && files.forall(byPath.contains) &&
          deleteFiles.forall(delByPath.contains))
        Some(files.map(byPath).sum - deleteFiles.map(delByPath).sum)
      else None
    }
  }

  final case class TableMeta(
      tableId: String,
      // per-incarnation uuid (Iceberg's table-uuid) — stamped at
      // CREATE, part of the metadata parse cache key; empty only for
      // metadata written before the uuid existed
      tableUuid: String = "",
      namespace: String,
      name: String,
      location: String,
      formatVersion: Int,
      schemaJson: String,
      properties: Map[String, String],
      @JsonDeserialize(contentAs = classOf[java.lang.Long])
      currentSnapshotId: Option[Long],
      snapshots: Seq[SnapshotMeta],
      // named refs (Iceberg branches/tags): name -> snapshotId; tags
      // (immutable) are the names also listed in tagNames. Defaults
      // keep pre-refs metadata.json readable (same mechanism as
      // SnapshotMeta.fileStats).
      @JsonDeserialize(contentAs = classOf[java.lang.Long])
      refs: Map[String, Long] = Map.empty,
      tagNames: Seq[String] = Seq.empty,
      // current declared name → stable field id (Iceberg schema
      // evolution discipline). Empty until the first RENAME/DROP
      // COLUMN activates it (pre-activation, physical names == declared
      // names by construction, so no mapping is needed); from then on
      // every new file records its physical mapping in
      // [[FileStats.colIds]] and renames are metadata-only.
      @JsonDeserialize(contentAs = classOf[java.lang.Integer])
      fieldIds: Map[String, Int] = Map.empty,
      // high-water mark of ever-allocated field ids: a DROPPED
      // column's id is retired FOREVER (never reused), otherwise a
      // re-added same-named column would inherit the dead id and old
      // files' data would resurface under it
      lastFieldId: Int = 0,
      // the RENAME/DROP chain, applied to manifest entries at LOAD
      // ([[NameLink]]; the O(1)-rename machinery) — empty for tables
      // that never renamed/dropped
      nameLinks: Seq[NameLink] = Seq.empty,
      // declared-name → field id AT ACTIVATION: the virtual colIds of
      // files written before field ids activated (their physical names
      // are the declared names of that instant); empty for tables
      // whose activation predates this field (those had colIds
      // physically backfilled)
      @JsonDeserialize(contentAs = classOf[java.lang.Integer])
      activationIds: Map[String, Int] = Map.empty) {
    def currentSnapshot: Option[SnapshotMeta] =
      currentSnapshotId.flatMap(id => snapshots.find(_.snapshotId == id))
  }

  private val Mapper: ObjectMapper = {
    val m = new ObjectMapper()
    m.registerModule(DefaultScalaModule)
    m.configure(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES, false)
    m
  }
}
