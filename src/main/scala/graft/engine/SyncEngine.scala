package graft.engine

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.{InsertRow, Stmt, TableMeta}
import graft.parse.DumpParser
import graft.sources.DumpSource

/** One classified sync operation with everything codegen needs.
  * `ordOff`/`ordRow` reproduce the reference's dict-insertion ordering:
  * the position of the PK's FIRST occurrence in the relevant dump
  * (production for INSERT/UPDATE, backup for DELETE) — values still come
  * from the LAST occurrence (last-wins upsert, sync.py:64-70).
  */
final case class DiffOp(
    table: String,
    pk: String,
    op: String,
    ordOff: Long,
    ordRow: Int,
    prodVals: Option[Seq[String]],
    backupVals: Option[Seq[String]],
    rawInsert: Option[String])

/** One rendered statement with its global sort key (distributed sink). */
final case class RenderedOp(
    table: String, pk: String, op: String, section: Int, tbl_idx: Int,
    ordOff: Long, ordRow: Int, stmt: String)

/** One line of the full sync script with its global sort key — the
  * distributed full-script sink unions banner/comment lines (driver-built,
  * O(tables)) with rendered statements (executor-built) and range-sorts.
  */
final case class ScriptLine(
    sec: Int, tbl: Int, off: Long, row: Int, sub: Int, line: String)

final case class TableStats(
    table: String,
    productionCount: Long,
    backupCount: Long,
    missingCount: Long,
    updatedCount: Long,
    deletedCount: Long,
    /** Estimated rendered-script bytes of this table's ops (value text
      * + per-(table, op) syntax skeleton rendered from the catalog —
      * an upper bound on actual script bytes) — rides the stats
      * aggregate for free and gates the collected script routes'
      * driver collect (see [[SyncJob.MaxCollectedBytes]]).
      */
    opBytes: Long = 0L)

/** Driver-side result of a sync comparison. `ops` holds every classified
  * operation when it comes from [[SyncJob.run]] or [[LocalSync.run]];
  * the script sinks ([[SyncJob.syncAuto]], [[SyncJob.syncDistributed]],
  * [[SyncJob.syncFromBucketed]]) never collect per-op rows and return
  * it with `ops` empty.
  */
final case class SyncOutcome(
    prodCatalog: ListMap[String, TableMeta],
    backupCatalog: ListMap[String, TableMeta],
    missingTables: Seq[String],
    extraTables: Seq[String],
    commonTables: Seq[String],
    stats: Map[String, TableStats],
    ops: Seq[DiffOp],
    /** Reference-quirk CREATE text per missing table: sync.py:43-45
      * re-searches `CREATE TABLE.*?`name`.*?ENGINE[^;]*;` over the WHOLE
      * dump, so a missing table that is not the dump's first table gets
      * everything from the first CREATE TABLE through its own DDL —
      * intermediate statements included. Empty map when no tables are
      * missing.
      */
    createSections: Map[String, String] = Map.empty)

/** A dump's catalog plus the byte positions needed to reproduce the
  * reference's whole-file CREATE-statement capture (see
  * SyncOutcome.createSections): the byte position of the first "CREATE
  * TABLE" token in the file and each table's own statement-end byte
  * (exclusive of the '\n' after ';'). Built the same way on every route
  * from the dump's CREATE-shaped statements in offset order.
  */
private[graft] final case class CatalogInfo(
    metas: ListMap[String, TableMeta],
    firstCreatePos: Option[Long],
    stmtEnd: Map[String, Long])

private[graft] object CatalogInfo {
  /** A CREATE-shaped statement (`rlike` form; `^` anchors at the text's
    * start, so [[isCreate]]'s `lookingAt` is the same test).
    */
  val CreatePattern = "(?is)^\\s*CREATE\\s+TABLE"
  private val CreateRe = java.util.regex.Pattern.compile(CreatePattern)

  def isCreate(text: String): Boolean = CreateRe.matcher(text).lookingAt()

  /** `creates` are the CREATE-shaped statements in offset order. */
  def of(creates: Seq[Stmt]): CatalogInfo = {
    val metas = DumpParser.parseCatalog(creates.iterator.map(_.text))
    val firstCreatePos = creates.headOption.map { st =>
      val m = "(?i)CREATE TABLE".r.findFirstMatchIn(st.text)
      val charIdx = m.map(_.start).getOrElse(0)
      st.off + st.text.substring(0, charIdx).getBytes("UTF-8").length
    }
    val ends = creates.flatMap { st =>
      DumpParser.parseCreate(st.text).map(m =>
        m.name -> (st.off + st.text.getBytes("UTF-8").length + 1)) // + ';'
    }.toMap
    CatalogInfo(metas, firstCreatePos, ends)
  }

  /** Reference-quirk CREATE text per missing table (see
    * SyncOutcome.createSections), sliced from the production dump.
    */
  def createSections(prodPath: String, firstCreatePos: Option[Long],
      stmtEnd: Map[String, Long], missingTables: Seq[String])
      : Map[String, String] = firstCreatePos match {
    case Some(start) => missingTables.flatMap { t =>
      stmtEnd.get(t).map(end => t -> fileSlice(prodPath, start, end))
    }.toMap
    case None => Map.empty
  }

  /** Raw byte slice of a dump file (driver-side). `end` is clamped to
    * the file: a dump's last statement may lack the `\n` (or `;\n`)
    * that `stmtEnd` counts past its text.
    */
  private def fileSlice(path: String, start: Long, end: Long): String = {
    val raf = new java.io.RandomAccessFile(path, "r")
    try {
      raf.seek(start)
      val buf = new Array[Byte]((math.min(end, raf.length) - start).toInt)
      raf.readFully(buf)
      new String(buf, "UTF-8")
    } finally raf.close()
  }
}

/** The distributed dump-diff pipeline (reference lifecycle
  * sync.py:228-302 re-expressed as DataFrame jobs):
  *
  *   1. statement scan      — splittable `;\n`-delimited read, byte-offset
  *                            ordered ([[graft.sources.DumpSource]])
  *   2. catalog             — CREATE statements are a tiny fraction;
  *                            parsed on the driver in offset order
  *   3. record parse        — executor-side flatMap over INSERT
  *                            statements (quote-aware tokenizer)
  *   4. last-wins dedup     — window per (table, pk) ordered by position
  *   5. diff                — ONE full-outer join on (table, pk) for all
  *                            tables at once (single shuffle), null-safe
  *                            value-array comparison
  *   6. codegen             — executor-side statement rendering
  *
  * Scale: both record frames shuffle once on (table, pk); the dedup
  * window and the join reuse the same hash partitioning.
  *
  * [[run]] collects the classified ops; the two script sinks write the
  * script and route by size ([[SyncJob.collectable]]): [[syncAuto]] to
  * one file (or `<out>.parts`), [[syncDistributed]] to a parts dir. All
  * three share one diff bracket, so no driver state grows with input
  * size except a script-sized collect below the gate.
  */
class SyncJob(spark: SparkSession) {
  import spark.implicits._

  /** Parse the catalog: collect only CREATE-shaped statements (cheap
    * distributed prefilter), then parse driver-side in offset order.
    */
  def catalog(stmts: Dataset[Stmt]): ListMap[String, TableMeta] =
    catalogInfo(stmts).metas

  /** Catalog + the byte positions behind the reference-quirk CREATE
    * sections ([[CatalogInfo]]): CREATE-shaped statements are a handful
    * of rows, so they are collected unsorted — one job — and put in
    * offset order on the driver (an `orderBy` would add the range
    * sort's sampling and shuffle jobs for no gain).
    */
  private[graft] def catalogInfo(stmts: Dataset[Stmt]): CatalogInfo =
    CatalogInfo.of(stmts.filter(col("text").rlike(CatalogInfo.CreatePattern))
      .collect().sortBy(_.off).toSeq)

  /** Parse + dedup the record frame of one dump:
    * (table, pk, ord_off, ord_row, vals) — one row per surviving
    * record, values from the PK's last statement, order key from its
    * first. The replay INSERT text is NOT carried (it is derived from
    * (table, vals) at render time, [[graft.codegen.SyncSqlGenerator
    * .rawInsertCol]]) — carrying it would double the window-shuffle bytes.
    */
  def records(stmts: Dataset[Stmt], cat: ListMap[String, TableMeta]): DataFrame = {
    val bc = spark.sparkContext.broadcast(cat)
    val rows: Dataset[InsertRow] =
      stmts.flatMap(st => DumpParser.insertRows(st, bc.value))
    val part = Window.partitionBy("table", "pk")
    val lastFirst = part.orderBy(col("off").desc, col("row").desc)
    rows.toDF()
      .withColumn("rn", row_number().over(lastFirst))
      .withColumn("ord", min(struct(col("off"), col("row"))).over(part))
      .filter(col("rn") === 1)
      .select(col("table"), col("pk"),
        col("ord.off").as("ord_off"), col("ord.row").as("ord_row"),
        col("vals"))
  }

  /** The classified-op frame WITHOUT collecting: (table, pk, op, ordOff,
    * ordRow, stmt) with statements rendered executor-side — for callers
    * that sink the statements themselves; the full script's sinks are
    * [[syncAuto]] and [[syncDistributed]].
    */
  def opsFrame(prodPath: String, backupPath: String): DataFrame = {
    val (joined, prodInfo, backupCat, commonTables, _) =
      diffFrameInfo(prodPath, backupPath, persistStmts = false)
    renderedOps(joined, prodInfo.metas, backupCat, commonTables)
  }

  /** The changed rows of a joined diff frame as [[DiffOp]]s: the order
    * key comes from the side the op keeps (backup for DELETE).
    */
  private def diffOps(joined: DataFrame): Dataset[DiffOp] =
    joined.filter(col("op").isNotNull)
      .select(col("table"), col("pk"), col("op"),
        when(col("op") === Differ.OP_DELETE, col("b_ord_off"))
          .otherwise(col("p_ord_off")).as("ordOff"),
        when(col("op") === Differ.OP_DELETE, col("b_ord_row"))
          .otherwise(col("p_ord_row")).as("ordRow"),
        col("p_vals").as("prodVals"), col("b_vals").as("backupVals"),
        graft.codegen.SyncSqlGenerator.rawInsertCol(col("table"), col("p_vals"))
          .as("rawInsert"))
      .as[DiffOp]

  /** Executor-side statement rendering of an already-joined diff frame. */
  private def renderedOps(joined: DataFrame,
      prodCat: ListMap[String, TableMeta], backupCat: ListMap[String, TableMeta],
      commonTables: Seq[String]): DataFrame = {
    val tblIdx = commonTables.zipWithIndex.toMap
    val bcProd = spark.sparkContext.broadcast(prodCat)
    val bcBackup = spark.sparkContext.broadcast(backupCat)
    val bcIdx = spark.sparkContext.broadcast(tblIdx)
    diffOps(joined)
      .map { op =>
        val stmt = graft.codegen.SyncSqlGenerator.renderOp(
          bcProd.value(op.table), bcBackup.value(op.table), op)
        val section = op.op match {
          case Differ.OP_DELETE => 3
          case Differ.OP_UPDATE => 4
          case _ => 5
        }
        RenderedOp(op.table, op.pk, op.op, section, bcIdx.value(op.table),
          op.ordOff, op.ordRow, stmt)
      }
      .toDF()
  }

  /** Size-routed parts-dir sink: writes the complete sync script —
    * header, DROP/CREATE sections, per-table banners, statements, stats
    * summary — as part files under `outDir` that, concatenated in name
    * order, are [[graft.codegen.SyncSqlGenerator.assemble]]'s bytes plus
    * a final newline. A diff within [[SyncJob.collectable]] (op count at
    * most `maxCollectedOps`) becomes ONE `part-00000`; a larger one takes
    * the executor-rendered text sink, whose statements are never
    * collected (banner lines are O(tables) driver rows under the same
    * global sort key) — the 100 TB path, where no driver state grows
    * with the diff. `maxCollectedOps = 0` forces the text sink.
    */
  def syncDistributed(prodPath: String, backupPath: String, outDir: String,
      now: String, maxCollectedOps: Long = SyncJob.DefaultMaxCollectedOps)
      : SyncOutcome =
    withDiff(prodPath, backupPath) { (joined, outcome) =>
      writeScript(scriptLineFrame(joined, outcome, now), outcome,
        maxCollectedOps, outDir, file = None)
      outcome
    }

  /** Size-routed single-file sink: a diff within [[SyncJob.collectable]]
    * is written as ONE file at `outPath` (the reference-parity shape,
    * byte-identical to `SyncSqlGenerator.assemble(run(...), now)`); a
    * larger one goes to the executor-rendered text sink at
    * `outPath + ".parts"`, so the driver never holds a diff-sized
    * script. Returns the outcome and, when distributed, the parts
    * directory; the script bytes are identical either way.
    */
  def syncAuto(prodPath: String, backupPath: String, outPath: String,
      now: String, maxCollectedOps: Long = SyncJob.DefaultMaxCollectedOps)
      : (SyncOutcome, Option[String]) =
    withDiff(prodPath, backupPath) { (joined, outcome) =>
      (outcome, writeScript(scriptLineFrame(joined, outcome, now), outcome,
        maxCollectedOps, outPath + ".parts", file = Some(outPath)))
    }

  /** The script sinks' one writer. Within [[SyncJob.collectable]] the
    * ordered lines are collected (script-sized) and written through the
    * Hadoop FS, which resolves the path against the deployment FS as the
    * text sink does, as one file: `file` when given, with no final
    * newline (assemble's bytes), else `partsDir/part-00000`,
    * newline-terminated like a text-sink part and replacing whatever
    * `partsDir` held. One file skips the text sink's
    * shuffle-partition-wide task launch and per-file commit, the
    * measured floor of a small diff. Past the gate the text sink writes
    * `partsDir`, which is returned. Creates are raw (checksum-free): the
    * script is a user-facing file, no .crc sidecar.
    */
  private def writeScript(lines: DataFrame, outcome: SyncOutcome,
      maxCollectedOps: Long, partsDir: String, file: Option[String])
      : Option[String] =
    if (SyncJob.collectable(outcome, maxCollectedOps)) {
      val script = lines.as[String].collect().mkString("\n")
      val conf = spark.sessionState.newHadoopConf()
      val (path, text) = file match {
        case Some(f) => (new org.apache.hadoop.fs.Path(f), script)
        case None =>
          val dir = new org.apache.hadoop.fs.Path(partsDir)
          dir.getFileSystem(conf).delete(dir, true) // overwrite, like the text sink
          (new org.apache.hadoop.fs.Path(dir, "part-00000"), script + "\n")
      }
      val out = graft.operators.ContentGate.rawFs(path.getFileSystem(conf))
        .create(path, true)
      try out.write(text.getBytes("UTF-8")) finally out.close()
      None
    } else {
      lines.write.mode("overwrite").text(partsDir)
      Some(partsDir)
    }

  /** The complete script as one globally-ordered single-column frame —
    * executor-rendered statements unioned with the O(tables) driver
    * banner rows under the (sec, tbl, off, row, sub) sort key. Every
    * Spark script route reads it, so the byte-parity rules (notably:
    * DELETE/UPDATE that render empty are skipped, exactly as assemble
    * does, while empty INSERT lines are kept — assemble emits them bare)
    * live in ONE place.
    */
  private def scriptLineFrame(joined: DataFrame, outcome: SyncOutcome,
      now: String): DataFrame = {
    val stmts = renderedOps(joined, outcome.prodCatalog, outcome.backupCatalog,
      outcome.commonTables)
      .filter(col("op") === Differ.OP_INSERT || length(col("stmt")) > 0)
      .select(col("section").as("sec"), col("tbl_idx").as("tbl"),
        col("ordOff").as("off"), col("ordRow").as("row"),
        lit(0).as("sub"), col("stmt").as("line"))
    val banners = spark.createDataFrame(driverLines(outcome, now))
      .select("sec", "tbl", "off", "row", "sub", "line")
    banners.unionByName(stmts)
      .orderBy("sec", "tbl", "off", "row", "sub")
      .select("line")
  }

  /** The non-statement lines of the full script (header, section banners,
    * per-table comments, stats tail) with their global sort keys —
    * line-for-line the same emission logic as SyncSqlGenerator.assemble.
    */
  private def driverLines(o: SyncOutcome, now: String): Seq[ScriptLine] = {
    val out = Seq.newBuilder[ScriptLine]
    var sub = 0
    def emit(sec: Int, tbl: Int, off: Long, row: Int, line: String): Unit = {
      out += ScriptLine(sec, tbl, off, row, sub, line); sub += 1
    }
    def banner(sec: Int, lines: String*): Unit =
      lines.foreach(emit(sec, -1, Long.MinValue, 0, _))

    banner(0,
      "-- SQL Sync Script - Full CRUD Support",
      "-- Generated to sync backup database with production",
      s"-- Generated on: $now",
      "",
      "-- WARNING: This script contains DELETE operations!",
      "-- Please review carefully before execution.",
      "-- Consider backing up your backup database before running this script.",
      "")

    if (o.extraTables.nonEmpty) {
      banner(1, "-- DROP Extra Tables", "-- ==================",
        "-- These tables exist in backup but not in production", "")
      o.extraTables.zipWithIndex.foreach { case (t, i) =>
        emit(1, i, 0, 0, s"-- Dropping extra table: $t")
        emit(1, i, 0, 1, s"DROP TABLE IF EXISTS `$t`;")
        emit(1, i, 0, 2, "")
      }
    }

    if (o.missingTables.nonEmpty) {
      banner(2, "-- CREATE Missing Tables", "-- =====================", "")
      o.missingTables.zipWithIndex.foreach { case (t, i) =>
        o.prodCatalog.get(t).foreach { meta =>
          emit(2, i, 0, 0, s"-- Creating missing table: $t")
          emit(2, i, 0, 1, s"DROP TABLE IF EXISTS `$t`;")
          emit(2, i, 0, 2, o.createSections.getOrElse(t, meta.createStmt))
          emit(2, i, 0, 3, "")
        }
      }
    }

    // op sections: banner if any table has ops, then per-table comment
    // before its statements and a blank line after them
    case class Sec(sec: Int, count: TableStats => Long, head: Seq[String],
        comment: (Long, String) => String)
    val secs = Seq(
      Sec(3, _.deletedCount,
        Seq("-- DELETE Records", "-- ===============",
          "-- Records that exist in backup but not in production", ""),
        (n, t) => s"-- Deleting $n records from $t"),
      Sec(4, _.updatedCount,
        Seq("-- UPDATE Records", "-- ===============",
          "-- Records with different values between production and backup", ""),
        (n, t) => s"-- Updating $n records in $t"),
      Sec(5, _.missingCount,
        Seq("-- INSERT Missing Records", "-- ======================",
          "-- Records that exist in production but not in backup", ""),
        (n, t) => s"-- Inserting $n missing records into $t"))
    secs.foreach { s =>
      val tables = o.commonTables.zipWithIndex
        .map { case (t, i) => (t, i, o.stats.get(t).map(s.count).getOrElse(0L)) }
        .filter(_._3 > 0)
      if (tables.nonEmpty) {
        banner(s.sec, s.head: _*)
        tables.foreach { case (t, i, n) =>
          emit(s.sec, i, Long.MinValue, 0, s.comment(n, t))
          emit(s.sec, i, Long.MaxValue, Int.MaxValue, "")
        }
      }
    }

    banner(6, "-- CRUD Statistics Summary", "-- =======================", "")
    var totalOperations = 0L
    if (o.missingTables.nonEmpty) {
      totalOperations += o.missingTables.size
      banner(6, s"-- Tables to CREATE: ${o.missingTables.size}")
    }
    if (o.extraTables.nonEmpty) {
      totalOperations += o.extraTables.size
      banner(6, s"-- Tables to DROP: ${o.extraTables.size}")
    }
    def total(f: TableStats => Long): Long =
      o.commonTables.flatMap(o.stats.get).map(f).sum
    val (ti, tu, td) =
      (total(_.missingCount), total(_.updatedCount), total(_.deletedCount))
    totalOperations += ti + tu + td
    banner(6,
      s"-- Records to INSERT: $ti",
      s"-- Records to UPDATE: $tu",
      s"-- Records to DELETE: $td",
      s"-- Total operations: $totalOperations",
      "",
      "-- Per-Table Statistics:")
    o.commonTables.foreach { t =>
      o.stats.get(t).foreach { s =>
        if (s.missingCount > 0 || s.updatedCount > 0 || s.deletedCount > 0)
          banner(6,
            s"-- $t:",
            s"--   Production: ${s.productionCount} records",
            s"--   Backup: ${s.backupCount} records",
            s"--   To INSERT: ${s.missingCount} records",
            s"--   To UPDATE: ${s.updatedCount} records",
            s"--   To DELETE: ${s.deletedCount} records")
      }
    }
    out.result()
  }

  /** With `persistStmts` each dump's statement scan is cached
    * MEMORY_AND_DISK so the catalog pass and the record pass share one
    * text scan per dump instead of two; the returned thunk unpersists
    * them — call it once the joined frame has been fully consumed.
    */
  private def diffFrameInfo(prodPath: String, backupPath: String,
      persistStmts: Boolean = true)
      : (DataFrame, CatalogInfo, ListMap[String, TableMeta], Seq[String], () => Unit) = {
    def stmtsOf(path: String) = {
      val s = DumpSource.statements(spark, path)
      if (persistStmts)
        s.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else s
    }
    val prodStmts = stmtsOf(prodPath)
    val backupStmts = stmtsOf(backupPath)
    val cleanup = () => if (persistStmts) {
      prodStmts.unpersist(); backupStmts.unpersist(); ()
    }
    // the two catalog passes are independent driver-blocking collects —
    // run them as concurrent Spark jobs so both dumps' statement scans
    // (and their caches) fill the executor in parallel
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val prodInfoF = Future(catalogInfo(prodStmts))
    val backupCatF = Future(catalog(backupStmts))
    val prodInfo = Await.result(prodInfoF, Duration.Inf)
    val prodCat = prodInfo.metas
    val backupCat = Await.result(backupCatF, Duration.Inf)

    val commonTables = prodCat.keys.filter(backupCat.contains).toSeq

    def common(recs: DataFrame) =
      recs.filter(col("table").isInCollection(commonTables))
    val joined = SyncJob.classify(common(records(prodStmts, prodCat)),
      common(records(backupStmts, backupCat)))
    (joined, prodInfo, backupCat, commonTables, cleanup)
  }

  /** The one diff bracket behind [[run]] and both script sinks: builds
    * the joined diff frame, caches it, summarizes it, hands both to
    * `body`, and always releases the cache and the statement scans.
    */
  private def withDiff[A](prodPath: String, backupPath: String)(
      body: (DataFrame, SyncOutcome) => A): A = {
    val (joined0, prodInfo, backupCat, commonTables, cleanup) =
      diffFrameInfo(prodPath, backupPath)
    val joined = joined0.cache()
    try body(joined,
      summarize(joined, prodInfo, backupCat, commonTables, prodPath))
    finally { joined.unpersist(); cleanup() }
  }

  /** Estimated rendered-script bytes of one diff row — value text plus
    * per-(table, op) syntax overhead; 0 for unchanged rows. Summed per
    * table inside [[summarize]]'s existing stats aggregate (zero extra
    * jobs — a first cut ran it as its own pass and the bench charged the
    * collected route ~1 s for it), the total gates the collected
    * routes' driver collect: a million WIDE rows is GBs of driver heap
    * even though the op count reads "small".
    *
    * The overhead is an upper bound on the statement's non-value bytes,
    * computed driver-side by rendering the REAL codegen skeleton with
    * empty values over the table's full column list (so column names,
    * backticks, keyword text, and clause separators are charged exactly
    * as [[graft.codegen.SyncSqlGenerator]] will emit them — a flat
    * 64 B/op under-charged wide tables with long column names by a
    * constant factor and let the gate route multi-×-256 MB scripts to
    * the driver). Each value additionally carries +2 B for its ", "
    * separator, which also covers rows with MORE values than the
    * catalog's column list (the reference replays those verbatim).
    * UPDATE's WHERE clause re-renders the backup PK values, but those
    * are byte-equal to the production PK values already in the sum
    * (equal pk join keys ⇒ equal total component text length), so the
    * value sum covers SET + WHERE without a pk term.
    */
  private[graft] def opBytesCol(prodCat: scala.collection.Map[String, TableMeta],
      backupCat: scala.collection.Map[String, TableMeta])
      : org.apache.spark.sql.Column = {
    val ohs = SyncJob.opOverheads(prodCat, backupCat)
    def ohOf(op: String) = element_at(typedLit(ohs(op)), col("table"))
    val oh =
      when(col("op") === Differ.OP_UPDATE, ohOf(Differ.OP_UPDATE))
        .when(col("op") === Differ.OP_DELETE, ohOf(Differ.OP_DELETE))
        .otherwise(ohOf(Differ.OP_INSERT))
    when(col("op").isNotNull,
      aggregate(coalesce(col("p_vals"), col("b_vals")),
        lit(0L),
        (acc, x) => acc + coalesce(length(x).cast("long"), lit(4L)) + lit(2L))
        + coalesce(oh, lit(64L)))
      .otherwise(lit(0L))
  }

  /** Everything in a SyncOutcome except the collected ops: table-set
    * diffs, reference-quirk CREATE sections, and the per-table stats
    * aggregation over the (cached) joined frame.
    */
  private def summarize(joined: DataFrame, prodInfo: CatalogInfo,
      backupCat: ListMap[String, TableMeta], commonTables: Seq[String],
      prodPath: String): SyncOutcome = {
    val prodCat = prodInfo.metas
    val missingTables = prodCat.keys.filterNot(backupCat.contains).toSeq
    val extraTables = backupCat.keys.filterNot(prodCat.contains).toSeq
    val createSections = CatalogInfo.createSections(prodPath,
      prodInfo.firstCreatePos, prodInfo.stmtEnd, missingTables)
    val stats = joined.groupBy("table").agg(
      count(col("p_present")).as("productionCount"),
      count(col("b_present")).as("backupCount"),
      count(when(col("op") === Differ.OP_INSERT, 1)).as("missingCount"),
      count(when(col("op") === Differ.OP_UPDATE, 1)).as("updatedCount"),
      count(when(col("op") === Differ.OP_DELETE, 1)).as("deletedCount"),
      coalesce(sum(opBytesCol(prodCat, backupCat)), lit(0L)).as("opBytes"))
      .as[TableStats].collect()
      .map(s => s.table -> s).toMap
    SyncOutcome(prodCat, backupCat, missingTables, extraTables,
      commonTables, stats, Nil, createSections)
  }

  def run(prodPath: String, backupPath: String): SyncOutcome =
    withDiff(prodPath, backupPath) { (joined, outcome) =>
      outcome.copy(ops = diffOps(joined).collect().toSeq)
    }

  /** Full sync script straight from two [[BucketedSync]] snapshots —
    * the repeated-sync fast path behind the CLI `--state` flag. Byte-
    * identical to `SyncSqlGenerator.assemble(run(...), now)` on the same
    * dump pair (SyncJobSpec pins it), but the dumps are never re-parsed:
    * catalogs, table counts, and CREATE-section offsets come from the
    * snapshot sidecars; the row diff is the Merkle-gated
    * changed-tables-only exchange-free bucket join
    * ([[BucketedSync.diffChanged]]).
    * Unchanged tables contribute their sidecar counts to the stats tail
    * without a single row read. `prodPath` is touched only to slice the
    * reference-quirk CREATE text when the backup is missing a table.
    */
  def syncFromBucketed(prodTable: String, backupTable: String,
      prodPath: String, now: String): (SyncOutcome, String) = {
    val prodSnap = BucketedSync.catalogInfoOf(spark, prodTable)
    val backupSnap = BucketedSync.catalogInfoOf(spark, backupTable)
    val prodCat = prodSnap.metas
    val backupCat = backupSnap.metas
    val commonTables = prodCat.keys.filter(backupCat.contains).toSeq
    val missingTables = prodCat.keys.filterNot(backupCat.contains).toSeq
    val extraTables = backupCat.keys.filterNot(prodCat.contains).toSeq
    val createSections = CatalogInfo.createSections(prodPath,
      prodSnap.firstCreatePos, prodSnap.stmtEnd, missingTables)
    val joined = BucketedSync.diffChanged(spark, prodTable, backupTable).cache()
    try {
      // op-type counts exist only for changed tables (the joined frame
      // is diff rows of changed tables); totals come from the sidecars
      val opStats = joined.groupBy("table").agg(
        count(when(col("op") === Differ.OP_INSERT, 1)).as("missingCount"),
        count(when(col("op") === Differ.OP_UPDATE, 1)).as("updatedCount"),
        count(when(col("op") === Differ.OP_DELETE, 1)).as("deletedCount"))
        .collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
        .toMap
      val stats = commonTables.map { t =>
        val (mi, up, de) = opStats.getOrElse(t, (0L, 0L, 0L))
        t -> TableStats(t, prodSnap.counts.getOrElse(t, 0L),
          backupSnap.counts.getOrElse(t, 0L), mi, up, de)
      }.toMap
      val outcome = SyncOutcome(prodCat, backupCat, missingTables,
        extraTables, commonTables, stats, Nil, createSections)
      val lines = scriptLineFrame(joined, outcome, now).as[String].collect()
      (outcome, lines.mkString("\n"))
    } finally { joined.unpersist(); () }
  }
}

object SyncJob {
  /** Collected-script routing threshold of [[SyncJob.syncAuto]] and
    * [[SyncJob.syncDistributed]]: above this many classified ops the
    * script goes through the distributed text sink instead of a driver
    * collect. 1M ops of TYPICAL width ≈
    * tens of MB of script bytes — comfortably a driver string, while
    * anything larger is the at-scale regime where the single-file
    * contract stops being the point. The op count alone is NOT a safe
    * driver-heap bound (a million wide rows renders to GBs), so the
    * auto routes also gate on [[MaxCollectedBytes]] via an estimated
    * rendered size; callers raising maxCollectedOps are raising op
    * COUNT only — the byte ceiling still applies.
    */
  val DefaultMaxCollectedOps: Long = 1000000L

  /** Hard byte ceiling for the collected routes: estimated rendered
    * script size above this always takes the distributed sink,
    * whatever the op count. 256 MB collected lines (plus the one
    * mkString copy on the single-file route) sits safely inside a
    * modest driver heap; the estimate is value-text length + the
    * catalog-rendered per-op syntax bytes ([[SyncJob.opBytesCol]]).
    */
  val MaxCollectedBytes: Long = 256L << 20

  /** The diff rule, shared by [[SyncJob]] and [[BucketedSync]]: two
    * record frames (table, pk, ord_off, ord_row, vals) full-outer joined
    * on (table, pk), each side's columns prefixed `p_` / `b_` with a
    * `*_present` flag, and `op` = INSERT (production only), DELETE
    * (backup only), UPDATE (values differ, NULL == NULL) or null
    * (unchanged row).
    */
  private[engine] def classify(prod: DataFrame, backup: DataFrame): DataFrame = {
    def side(recs: DataFrame, s: String) =
      recs.select(col("table"), col("pk"), lit(true).as(s"${s}_present"),
        col("ord_off").as(s"${s}_ord_off"), col("ord_row").as(s"${s}_ord_row"),
        col("vals").as(s"${s}_vals"))
    side(prod, "p").join(side(backup, "b"), Seq("table", "pk"), "full_outer")
      .withColumn("op",
        when(col("b_present").isNull, Differ.OP_INSERT)
          .when(col("p_present").isNull, Differ.OP_DELETE)
          .when(!(col("p_vals") <=> col("b_vals")), Differ.OP_UPDATE))
  }

  /** The collected routes' driver gate: the op count is within
    * `maxCollectedOps` and the estimated script size
    * ([[TableStats.opBytes]]) within [[MaxCollectedBytes]].
    */
  private[graft] def collectable(o: SyncOutcome,
      maxCollectedOps: Long = DefaultMaxCollectedOps): Boolean = {
    val nOps = o.stats.valuesIterator
      .map(s => s.missingCount + s.updatedCount + s.deletedCount).sum
    nOps <= maxCollectedOps &&
      o.stats.valuesIterator.map(_.opBytes).sum <= MaxCollectedBytes
  }

  /** Per op, per table: the rendered statement's syntax bytes (the
    * codegen skeleton over empty values, plus its newline) — the
    * non-value part of the [[TableStats.opBytes]] estimate (see
    * [[SyncJob.opBytesCol]]).
    */
  private[graft] def opOverheads(prodCat: scala.collection.Map[String, TableMeta],
      backupCat: scala.collection.Map[String, TableMeta])
      : Map[String, Map[String, Long]] = {
    import graft.codegen.SyncSqlGenerator
    def emptyVals(m: TableMeta) = IndexedSeq.fill(m.columns.length)("")
    def per(cat: scala.collection.Map[String, TableMeta])(
        render: TableMeta => String): Map[String, Long] =
      cat.iterator.map { case (t, m) => t -> (render(m).length + 1L) }.toMap
    Map(
      Differ.OP_UPDATE -> per(prodCat)(m =>
        SyncSqlGenerator.updateStatement(m, emptyVals(m), emptyVals(m))),
      Differ.OP_INSERT -> per(prodCat)(m => DumpParser.rawInsert(m.name, Nil)),
      Differ.OP_DELETE -> per(backupCat)(m =>
        SyncSqlGenerator.deleteStatement(m, emptyVals(m))))
  }

  /** A [[BucketedSync]] snapshot's sidecar restored for script
    * assembly: DDL-ordered catalog, per-table post-dedup record counts,
    * and the byte offsets that let [[SyncJob.syncFromBucketed]] emit
    * the reference-quirk CREATE sections by slicing the original dump.
    */
  final case class SnapshotCatalog(
      metas: ListMap[String, TableMeta],
      counts: Map[String, Long],
      firstCreatePos: Option[Long],
      stmtEnd: Map[String, Long])
}
