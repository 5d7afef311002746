package graft.sources

import scala.collection.mutable.ArrayBuffer

/** Pure-Scala parser for MySQL dump files (the S15 scan semantics,
  * reference `d22d/utils/db/sqlfileextra.py` — behavior re-derived from
  * the MySQL literal grammar, not ported).
  *
  * Handles: `CREATE TABLE` blocks (column order learning),
  * `INSERT/REPLACE [IGNORE] INTO tbl [(cols)] VALUES (…),(…);` with
  * single-quoted strings (backslash escapes AND '' doubling), NULL,
  * numbers, 0x… hex blobs, b'…' bit literals, nested parens/commas
  * inside quoted values, and multi-row VALUES lists.
  *
  * All values surface as Strings (NULL → null): the dump format is
  * dynamically typed per-value, exactly like the reference's dict rows;
  * typed casts happen downstream via [[graft.core.SchemaInfer]].
  */
object SqlDumpParser {

  final case class InsertStatement(table: String, columns: Option[Seq[String]], rows: Seq[Seq[String]])

  private val CreateTableRe = """(?i)^\s*CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?[`"]?([^`"\s(]+)[`"]?.*$""".r
  private val ColumnLineRe = """^\s*[`"]([^`"]+)[`"]\s+\S.*$""".r
  private val InsertHeadRe =
    """(?is)^\s*(INSERT|REPLACE)\s+(?:IGNORE\s+)?INTO\s+[`"]?([^`"\s(]+)[`"]?\s*(\(([^)]*)\))?\s*VALUES?\s*(.*)$""".r

  /** Parse a CREATE TABLE block (already grouped lines) → table, columns. */
  def parseCreateTable(block: Seq[String]): Option[(String, Seq[String])] =
    block.headOption.flatMap {
      case CreateTableRe(table) =>
        val cols = block.drop(1).flatMap {
          case ColumnLineRe(name)
              if !Set("primary", "unique", "key", "constraint", "index", "fulltext")
                .contains(name.toLowerCase) =>
            Some(name)
          case _ => None
        }
        if (cols.nonEmpty) Some(table -> cols) else None
      case _ => None
    }

  /** The (table, columns) of each CREATE TABLE … ( … ) block in raw
    * dump lines, lazily: a caller that stops early reads no further.
    */
  def createTables(lines: Iterator[String]): Iterator[(String, Seq[String])] = {
    val block = ArrayBuffer.empty[String]
    var inBlock = false
    lines.flatMap { line =>
      if (!inBlock && CreateTableRe.pattern.matcher(line).matches()) {
        inBlock = true; block.clear(); block += line
        None
      } else if (inBlock) {
        block += line
        if (line.trim.startsWith(")")) { inBlock = false; parseCreateTable(block.toSeq) }
        else None
      } else None
    }
  }

  /** Every table's columns in the first `maxLines` lines (schemas live
    * at the top of a dump — bounded work even on a 100 GB file); the
    * first block of a table wins.
    */
  def scanSchemas(lines: Iterator[String], maxLines: Int = 100000): Map[String, Seq[String]] = {
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Seq[String]]
    createTables(lines.take(maxLines)).foreach { case (t, cs) => out.getOrElseUpdate(t, cs) }
    out.toMap
  }

  /** Parse one INSERT/REPLACE statement line. Returns None for non-insert
    * lines (comments, SET, LOCK TABLES, DDL…).
    */
  def parseInsert(stmt: String): Option[InsertStatement] = stmt match {
    case InsertHeadRe(_, table, _, colList, valuesPart) =>
      val cols = Option(colList).map(_.split(",").map(_.trim.stripPrefix("`").stripSuffix("`")).toSeq)
      Some(InsertStatement(table, cols, parseValues(valuesPart)))
    case _ => None
  }

  /** State-machine tuple parser for `(v, v, …), (v, …) …;`. */
  def parseValues(s: String): Seq[Seq[String]] = {
    val rows = ArrayBuffer.empty[Seq[String]]
    var i = 0
    val n = s.length
    def skipWs(): Unit = while (i < n && (s(i) == ' ' || s(i) == '\t' || s(i) == '\n' || s(i) == '\r')) i += 1

    def parseQuoted(): String = {
      // at opening quote
      i += 1
      val sb = new StringBuilder
      var done = false
      while (!done && i < n) {
        s(i) match {
          case '\\' if i + 1 < n =>
            sb += (s(i + 1) match {
              case 'n' => '\n'
              case 't' => '\t'
              case 'r' => '\r'
              case '0' => '\u0000'
              case 'Z' => '\u001A'
              case 'b' => '\b'
              case c => c // \' \" \\ and any other → literal char
            })
            i += 2
          case '\'' if i + 1 < n && s(i + 1) == '\'' => // '' doubling
            sb += '\''; i += 2
          case '\'' => i += 1; done = true
          case c => sb += c; i += 1
        }
      }
      sb.toString
    }

    def parseBare(): String = {
      val start = i
      while (i < n && s(i) != ',' && s(i) != ')') i += 1
      s.substring(start, i).trim
    }

    def parseValue(): String = {
      skipWs()
      if (i >= n) null
      else s(i) match {
        case '\'' => parseQuoted()
        case 'b' | 'B' if i + 1 < n && s(i + 1) == '\'' =>
          i += 1
          "b'" + parseQuoted() + "'" // bit literal kept textual
        case _ =>
          val tok = parseBare()
          if (tok.equalsIgnoreCase("NULL")) null else tok
      }
    }

    while (i < n) {
      skipWs()
      if (i < n && s(i) == '(') {
        i += 1
        val row = ArrayBuffer.empty[String]
        var closed = false
        while (!closed && i < n) {
          row += parseValue()
          skipWs()
          if (i < n && s(i) == ',') i += 1
          else if (i < n && s(i) == ')') { i += 1; closed = true }
          else if (i >= n) closed = true
        }
        rows += row.toSeq
      } else if (i < n && s(i) == ',') i += 1
      else if (i < n) i = n
      // anything else ends the row list: ';' is the statement
      // terminator, and bare text is a suffix clause — an
      // `ON DUPLICATE KEY UPDATE c=VALUES(c)` tail contains parens
      // that a skip-one-char scan used to re-enter as a phantom row
      // (found by SqlDumpParserPropSpec fuzzing)
    }
    rows.toSeq
  }

  // ---- sink side (S16): value rendering with full escaping ----

  /** SQL string-literal escaping (the sink twin): backslash-escapes
    * quote, backslash, NUL, newline, CR, ctrl-Z.
    */
  def escapeString(v: String): String = {
    val sb = new StringBuilder(v.length + 8)
    v.foreach {
      case '\'' => sb.append("\\'")
      case '\\' => sb.append("\\\\")
      case '\u0000' => sb.append("\\0")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\u001A' => sb.append("\\Z")
      case c => sb.append(c)
    }
    sb.toString
  }

  /** Render one value as a SQL literal. */
  def renderValue(v: Any): String = v match {
    case null => "NULL"
    case b: Array[Byte] => "0x" + b.map(x => f"$x%02X").mkString
    case n: java.lang.Number => n.toString
    case b: java.lang.Boolean => if (b) "1" else "0"
    case t: java.sql.Timestamp => "'" + t.toString.stripSuffix(".0") + "'"
    case d: java.sql.Date => "'" + d.toString + "'"
    case s => "'" + escapeString(s.toString) + "'"
  }

  /** Render a batch of rows as one extended-INSERT statement.
    * `mode`: INSERT | INSERT IGNORE | REPLACE; optional
    * ON DUPLICATE KEY UPDATE suffix (P11).
    */
  def renderInsert(
      table: String,
      columns: Seq[String],
      rows: Seq[Seq[Any]],
      mode: String = "INSERT",
      onDupUpdate: Option[String] = None,
  ): String = {
    val head = s"$mode INTO `$table` (${columns.map(c => s"`$c`").mkString(", ")}) VALUES "
    val vals = rows.map(_.map(renderValue).mkString("(", ", ", ")")).mkString(", ")
    val suffix = onDupUpdate.map(u => s" ON DUPLICATE KEY UPDATE $u").getOrElse("")
    head + vals + suffix + ";"
  }
}
