package graft.parse

import scala.collection.immutable.ListMap
import scala.collection.mutable

import graft.model.{InsertRow, Stmt, TableMeta}

/** Pure-Scala MySQL-dump grammar, reimplementing the reference parser's
  * documented semantics (/root/reference/sync.py:29-173, catalogued in
  * SURVEY.md §1.3/§2.1). Pure functions only — the DDL half runs on the
  * driver (catalogs are small), the DML half inside executor `flatMap`s.
  *
  * Deliberate semantic deviations (SURVEY.md §7.4 item 3 — our grammar is
  * a superset; differential tests exclude inputs hitting reference bugs):
  *  - value-set splitting is quote-aware, so `)` inside a string literal
  *    does not truncate the row (reference bug at sync.py:111-112);
  *  - statements are pre-split on `;\n` boundaries instead of regexing the
  *    whole file, which removes the O(tables × filesize) rescan
  *    (sync.py:43-44) and makes the scan splittable at 100 TB.
  *
  * Preserved reference quirks:
  *  - only single-column explicit PRIMARY KEYs match; composite keys fall
  *    through to AUTO_INCREMENT then the literal "id" (sync.py:89-104);
  *  - INSERTs require an explicit column list (sync.py:55) yet the
  *    reconstructed raw insert omits it (sync.py:69);
  *  - a PK column absent from the column list keys on the row's first
  *    value (sync.py:169-171);
  *  - values keep their quote characters and are compared as raw strings.
  */
object DumpParser {

  private val CreateHead = "(?is)CREATE TABLE.*?`(\\w+)`\\s*\\((.*?)\\)\\s*ENGINE.*".r
  private val InsertHead = "(?is)\\s*INSERT INTO\\s+`(\\w+)`\\s*\\([^)]+\\)\\s*VALUES\\s*(.*)".r
  private val ColumnLine = "`(\\w+)`.*".r
  private val ColumnTypeLine = "`(\\w+)`\\s+([A-Za-z]+(?:\\s*\\([^)]*\\))?).*".r
  private val PkLine = "(?is).*?PRIMARY KEY\\s*\\(\\s*`([^`]+)`\\s*\\).*".r
  private val AutoIncCol = "(?i)`(\\w+)`[^,\\n]*AUTO_INCREMENT".r

  /** Is this statement a CREATE TABLE the reference grammar accepts? */
  def parseCreate(stmtText: String): Option[TableMeta] = stmtText.trim match {
    case CreateHead(name, body) =>
      Some(TableMeta(
        name = name,
        columns = extractColumns(body),
        pkCols = extractPrimaryKey(body),
        createStmt = stmtText.trim + ";",
        colTypes = extractColumnTypes(body)))
    case _ => None
  }

  /** Column names: one per line starting with a backtick, skipping index
    * lines (sync.py:74-87). Order = declaration order.
    */
  def extractColumns(tableDef: String): IndexedSeq[String] =
    tableDef.split('\n').iterator
      .map(_.trim)
      .filter(l => l.startsWith("`"))
      .collect { case ColumnLine(name) => name }
      .toIndexedSeq

  /** Raw SQL type token per column line, aligned with [[extractColumns]]
    * (empty token for a column line whose type does not parse). The
    * reference keeps only names (sync.py:74-87); typed native mode uses
    * these to emit Long/Double/Timestamp/Decimal columns instead of
    * all-string compat frames.
    */
  def extractColumnTypes(tableDef: String): IndexedSeq[String] =
    tableDef.split('\n').iterator
      .map(_.trim)
      .filter(l => l.startsWith("`"))
      .collect {
        case ColumnTypeLine(_, tpe) => tpe.replaceAll("\\s+", "")
        case ColumnLine(_) => ""
      }
      .toIndexedSeq

  /** PK fallback chain: explicit single-column PRIMARY KEY →
    * first AUTO_INCREMENT column → literal "id" (sync.py:89-104).
    */
  def extractPrimaryKey(tableDef: String): IndexedSeq[String] = tableDef match {
    case PkLine(pk) => IndexedSeq(pk)
    case _ =>
      AutoIncCol.findFirstMatchIn(tableDef) match {
        case Some(m) => IndexedSeq(m.group(1))
        case None => IndexedSeq("id")
      }
  }

  /** Catalog of a full dump from its statement stream, preserving
    * statement order (the reference's dict-insertion order).
    */
  def parseCatalog(stmts: Iterator[String]): ListMap[String, TableMeta] = {
    val out = mutable.LinkedHashMap.empty[String, TableMeta]
    stmts.foreach { s =>
      parseCreate(s).foreach(m => out(m.name) = m)
    }
    ListMap.from(out)
  }

  /** INSERT recognizer: explicit column list required (sync.py:55);
    * returns (table, valuesBlob).
    */
  def parseInsert(stmtText: String): Option[(String, String)] = stmtText match {
    case InsertHead(table, valuesPart) => Some((table, valuesPart))
    case _ => None
  }

  /** The rows of one INSERT statement, keyed against `cat`: one per
    * value set, `row` its index in the VALUES clause. A statement that
    * is not an INSERT with a column list, or names a table outside
    * `cat`, has no rows (sync.py:55,59).
    */
  def insertRows(st: Stmt, cat: collection.Map[String, TableMeta]): Iterator[InsertRow] =
    parseInsert(st.text) match {
      case Some((table, valuesPart)) if cat.contains(table) =>
        val meta = cat(table)
        splitValueSets(valuesPart).iterator.zipWithIndex.map { case (vs, i) =>
          val vals = splitValues(vs)
          InsertRow(table, st.off, i, pkString(vals, meta), vals)
        }
      case _ => Iterator.empty
    }

  /** Split a VALUES blob into individual `(...)` groups, honoring quoted
    * strings (quote-aware superset of the reference's naive regex,
    * sync.py:106-119).
    */
  def splitValueSets(valuesPart: String): List[String] = {
    val out = List.newBuilder[String]
    val cur = new java.lang.StringBuilder
    var inGroup = false
    var quote: Char = 0
    var i = 0
    val n = valuesPart.length
    while (i < n) {
      val c = valuesPart.charAt(i)
      if (!inGroup) {
        if (c == '(') { inGroup = true; cur.setLength(0) }
      } else if (quote != 0) {
        if (c == quote) {
          if (i + 1 < n && valuesPart.charAt(i + 1) == quote) {
            cur.append(c).append(quote); i += 1
          } else { cur.append(c); quote = 0 }
        } else cur.append(c)
      } else c match {
        case '\'' | '"' => quote = c; cur.append(c)
        case ')' => inGroup = false; out += cur.toString
        case _ => cur.append(c)
      }
      i += 1
    }
    out.result()
  }

  /** Comma-split one value set, honoring '/" quoting and SQL doubled-quote
    * escapes; values keep their quotes and are whitespace-trimmed; a
    * trailing empty field is dropped — exact port of the reference state
    * machine's semantics (sync.py:121-158).
    */
  def splitValues(valueSet: String): IndexedSeq[String] = {
    val out = IndexedSeq.newBuilder[String]
    val cur = new java.lang.StringBuilder
    var quote: Char = 0
    var i = 0
    val n = valueSet.length
    while (i < n) {
      val c = valueSet.charAt(i)
      if (quote == 0) {
        if (c == '\'' || c == '"') { quote = c; cur.append(c) }
        else if (c == ',') { out += cur.toString.trim; cur.setLength(0) }
        else cur.append(c)
      } else {
        cur.append(c)
        if (c == quote) {
          if (i + 1 < n && valueSet.charAt(i + 1) == quote) {
            cur.append(quote); i += 1
          } else quote = 0
        }
      }
      i += 1
    }
    if (cur.toString.trim.nonEmpty) out += cur.toString.trim
    out.result()
  }

  /** Pipe-joined PK string (sync.py:160-173): PK columns projected by
    * position; a PK column missing from the column list falls back to the
    * row's first value; an index past the row's end contributes nothing.
    */
  def pkString(values: IndexedSeq[String], meta: TableMeta): String =
    meta.pkCols.flatMap { pk =>
      val idx = meta.columns.indexOf(pk)
      if (idx < 0) Some(values.headOption.getOrElse(""))
      else if (idx < values.length) Some(values(idx))
      else None
    }.mkString("|")

  /** Reconstructed single-row INSERT, column list deliberately omitted
    * (sync.py:69).
    */
  def rawInsert(table: String, values: Seq[String]): String =
    s"INSERT INTO `$table` VALUES (${values.mkString(", ")});"
}
