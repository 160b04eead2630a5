package graft.io

import java.io.ByteArrayInputStream
import java.util.zip.ZipInputStream

import javax.xml.stream.{XMLInputFactory, XMLStreamConstants}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Native .xlsx scan with ZERO dependencies beyond the JDK — an .xlsx
  * file is a zip of XML parts (ECMA-376 / ISO 29500, public), so
  * `java.util.zip` + the built-in StAX parser cover the whole read
  * path: `xl/sharedStrings.xml` for the string table and
  * `xl/worksheets/sheetN.xml` for the cell grid. This closes the S1
  * gap the offline environment left (no spark-excel jar): the
  * reference's first ingestion step is `pd.read_excel`
  * (`utils/parse.py:167-175`), and this reader feeds the same
  * row/column-drop semantics [[Sources.readMinicoreCsv]] preserves.
  *
  * Scale shape: files load through the `binaryFile` source — one task
  * per file, the parse runs WHERE THE BYTES LAND (no driver funnel,
  * no shuffle); only the schema probe reads one file on the driver
  * (the bounded pattern of the TSV header probe). Spreadsheets are a
  * metadata-sized format — per-file parse parallelism is exactly the
  * right amount of distribution.
  *
  * Supported cell forms: shared strings (`t="s"`), inline strings
  * (`t="inlineStr"`), booleans (`t="b"` → TRUE/FALSE), and raw values
  * (numbers as text); DATE-STYLED numeric cells (`s="n"` pointing at a
  * date numFmt in `xl/styles.xml` — how Excel actually stores dates:
  * serial days since 1899-12-30) render as ISO `yyyy-MM-dd` /
  * `yyyy-MM-dd HH:mm:ss` strings, matching what a submitter typed —
  * the first thing a real minicore file breaks on otherwise. Missing
  * cells inside a row read as null (sparse `r="C1"`-style references
  * are respected). Formula caches (`<v>` under a formula cell) read as
  * their cached value — same as pandas. Sheets resolve through
  * `xl/workbook.xml` + its rels (sheet ORDER and NAMES, not part-file
  * naming), so `sheet = 2` is the second tab even when its part is
  * `sheet17.xml`. */
object Xlsx {

  /** Column letters of an `A1`-style reference → 0-based column index
    * (`A`→0, `Z`→25, `AA`→26). */
  private[graft] def colIndex(ref: String): Int = {
    var i = 0
    var acc = 0
    while (i < ref.length && ref.charAt(i).isLetter) {
      acc = acc * 26 + (ref.charAt(i).toUpper - 'A' + 1)
      i += 1
    }
    acc - 1
  }

  private def newFactory(): XMLInputFactory = {
    val f = XMLInputFactory.newInstance()
    // spreadsheet parts never need DTDs or external entities — turning
    // them off is both hygiene and a hard requirement for untrusted
    // input
    f.setProperty(XMLInputFactory.SUPPORT_DTD, java.lang.Boolean.FALSE)
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES,
      java.lang.Boolean.FALSE)
    f
  }

  /** Read every zip entry we care about into memory (entry order inside
    * an .xlsx is arbitrary, so collect first, parse after). */
  private def zipParts(bytes: Array[Byte], wanted: Set[String])
      : Map[String, Array[Byte]] = {
    val zis = new ZipInputStream(new ByteArrayInputStream(bytes))
    val out = scala.collection.mutable.Map.empty[String, Array[Byte]]
    try {
      var e = zis.getNextEntry
      while (e != null) {
        if (wanted(e.getName)) out(e.getName) = zis.readAllBytes()
        e = zis.getNextEntry
      }
    } finally zis.close()
    out.toMap
  }

  /** `xl/sharedStrings.xml` → the string table. Rich-text runs
    * (`<si><r><t>…`) concatenate their `<t>` pieces, matching every
    * mainstream reader. */
  private def parseSharedStrings(bytes: Array[Byte]): IndexedSeq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val r = newFactory().createXMLStreamReader(new ByteArrayInputStream(bytes))
    val sb = new StringBuilder
    var inT = false
    try {
      while (r.hasNext) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT =>
            r.getLocalName match {
              case "si" => sb.clear()
              case "t" => inT = true
              case _ =>
            }
          case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA =>
            if (inT) sb.append(r.getText)
          case XMLStreamConstants.END_ELEMENT =>
            r.getLocalName match {
              case "t" => inT = false
              case "si" => out += sb.toString
              case _ =>
            }
          case _ =>
        }
      }
    } finally r.close()
    out.toIndexedSeq
  }

  /** Built-in numFmtIds that are date/time formats (ECMA-376 §18.8.30):
    * 14–22 dates/datetimes, 27–36 and 50–58 locale dates, 45–47 times. */
  private val builtinDateFmts: Set[Int] =
    ((14 to 22) ++ (27 to 36) ++ (45 to 47) ++ (50 to 58)).toSet

  /** Is a custom format code a date/time format? Strip quoted literals,
    * `[...]` locale/color prefixes, and `\`-escapes; date iff any
    * y/m/d/h/s token survives (number formats are made of 0 # ? . , %). */
  private[graft] def isDateFormatCode(code: String): Boolean = {
    val stripped = code
      .replaceAll("\"[^\"]*\"", "")
      .replaceAll("\\[[^\\]]*\\]", "")
      .replaceAll("\\\\.", "")
    stripped.exists(c => "ymdhsYMDHS".indexOf(c) >= 0)
  }

  /** `xl/styles.xml` → per-cellXf "is a date style" flags, indexed by
    * the cell's `s` attribute. Custom `<numFmt>` codes are classified by
    * [[isDateFormatCode]]; built-ins by id. */
  private[graft] def parseStyles(bytes: Array[Byte]): IndexedSeq[Boolean] = {
    val custom = scala.collection.mutable.Map.empty[Int, Boolean]
    val xfs = scala.collection.mutable.ArrayBuffer.empty[Int]
    val r = newFactory().createXMLStreamReader(new ByteArrayInputStream(bytes))
    var inCellXfs = false
    try {
      while (r.hasNext) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT =>
            r.getLocalName match {
              case "numFmt" =>
                val id = Option(r.getAttributeValue(null, "numFmtId"))
                  .flatMap(_.toIntOption)
                val code = Option(r.getAttributeValue(null, "formatCode"))
                id.foreach(i => custom(i) = code.exists(isDateFormatCode))
              case "cellXfs" => inCellXfs = true
              case "xf" if inCellXfs =>
                xfs += Option(r.getAttributeValue(null, "numFmtId"))
                  .flatMap(_.toIntOption).getOrElse(0)
              case _ =>
            }
          case XMLStreamConstants.END_ELEMENT =>
            if (r.getLocalName == "cellXfs") inCellXfs = false
          case _ =>
        }
      }
    } finally r.close()
    xfs.map(id => custom.getOrElse(id, builtinDateFmts(id))).toIndexedSeq
  }

  /** Excel serial → ISO string. Serial day 0 = 1899-12-30 in the
    * default 1900 system (the standard origin every reader uses; the
    * phantom 1900-02-29 only matters for serials < 61, i.e. Jan/Feb
    * 1900 — out of scope for real data) and 1904-01-01 when the
    * workbook's `<workbookPr date1904="1"/>` is set (the legacy Mac
    * system — without the shift every date renders 1462 days early).
    * Pure times (serial < 1) render as `HH:mm:ss`, whole days as
    * `yyyy-MM-dd`, datetimes as both; the time rounds to the nearest
    * second, carrying into the date when it rounds up to midnight. */
  private[graft] def serialToIso(v: Double, date1904: Boolean = false): String = {
    val epoch =
      if (date1904) java.time.LocalDate.of(1904, 1, 1)
      else java.time.LocalDate.of(1899, 12, 30)
    var days = math.floor(v).toLong
    var secs = math.round((v - math.floor(v)) * 86400.0)
    if (secs >= 86400L) { days += 1; secs -= 86400L }
    val date = epoch.plusDays(days)
    val time = java.time.LocalTime.ofSecondOfDay(secs)
    val hms = "%02d:%02d:%02d".format(
      time.getHour, time.getMinute, time.getSecond)
    if (v < 1.0 && v >= 0.0) hms
    else if (secs == 0L) date.toString
    else s"$date $hms"
  }

  /** One worksheet part → rows of cell strings, in sheet order. Missing
    * cells become "" (null after schema application); each row is as
    * wide as its right-most populated cell. */
  private def parseSheet(bytes: Array[Byte], sst: IndexedSeq[String],
      dateStyle: IndexedSeq[Boolean] = IndexedSeq.empty,
      date1904: Boolean = false)
      : Seq[Seq[String]] = {
    val rows = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    val r = newFactory().createXMLStreamReader(new ByteArrayInputStream(bytes))
    val cur = scala.collection.mutable.Map.empty[Int, String]
    val sb = new StringBuilder
    var cellCol = -1
    var cellType = ""
    var cellStyle = -1
    var collecting = false
    try {
      while (r.hasNext) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT =>
            r.getLocalName match {
              case "row" => cur.clear()
              case "c" =>
                val ref = Option(r.getAttributeValue(null, "r")).getOrElse("")
                cellCol = if (ref.nonEmpty) colIndex(ref)
                  else cur.keys.foldLeft(-1)(math.max) + 1
                cellType = Option(r.getAttributeValue(null, "t")).getOrElse("")
                cellStyle = Option(r.getAttributeValue(null, "s"))
                  .flatMap(_.toIntOption).getOrElse(-1)
                sb.clear()
              case "v" => collecting = true
              case "t" if cellType == "inlineStr" => collecting = true
              case _ =>
            }
          case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA =>
            if (collecting) sb.append(r.getText)
          case XMLStreamConstants.END_ELEMENT =>
            r.getLocalName match {
              case "v" => collecting = false
              case "t" => collecting = false
              case "c" =>
                if (cellCol >= 0) {
                  val raw = sb.toString
                  val value = cellType match {
                    case "s" =>
                      val i = raw.trim.toInt
                      if (i >= 0 && i < sst.length) sst(i) else ""
                    case "b" =>
                      if (raw.trim == "1") "TRUE"
                      else if (raw.trim == "0") "FALSE" else raw
                    case "" | "n"
                        if cellStyle >= 0 && cellStyle < dateStyle.length &&
                          dateStyle(cellStyle) =>
                      // a date-styled numeric cell: the serial is what's
                      // stored; the DATE is what the submitter typed
                      raw.trim.toDoubleOption
                        .map(serialToIso(_, date1904)).getOrElse(raw)
                    case _ => raw
                  }
                  if (value.nonEmpty) cur(cellCol) = value
                }
                cellCol = -1
                cellType = ""
                cellStyle = -1
              case "row" =>
                val width = cur.keys.foldLeft(-1)(math.max) + 1
                rows += (0 until width).map(i => cur.getOrElse(i, ""))
              case _ =>
            }
          case _ =>
        }
      }
    } finally r.close()
    rows.toSeq
  }

  /** `xl/workbook.xml` + its rels → the workbook's sheets in TAB ORDER
    * as (name, zip part path). Sheet order and names live in
    * workbook.xml (`<sheet name=".." r:id="..">`); the part file each
    * r:id points at lives in `xl/_rels/workbook.xml.rels` — part names
    * like `sheet17.xml` carry no ordering, so resolving through the
    * rels is the only correct multi-sheet addressing. */
  private[graft] def sheetTable(bytes: Array[Byte])
      : Seq[(String, String)] = {
    val parts = zipParts(bytes,
      Set("xl/workbook.xml", "xl/_rels/workbook.xml.rels"))
    val rels = scala.collection.mutable.Map.empty[String, String]
    parts.get("xl/_rels/workbook.xml.rels").foreach { b =>
      val r = newFactory().createXMLStreamReader(new ByteArrayInputStream(b))
      try while (r.hasNext) {
        if (r.next() == XMLStreamConstants.START_ELEMENT &&
            r.getLocalName == "Relationship") {
          val id = Option(r.getAttributeValue(null, "Id")).getOrElse("")
          val tgt = Option(r.getAttributeValue(null, "Target")).getOrElse("")
          val norm = if (tgt.startsWith("/")) tgt.drop(1)
            else if (tgt.startsWith("xl/")) tgt else s"xl/$tgt"
          rels(id) = norm
        }
      } finally r.close()
    }
    val sheets = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    parts.get("xl/workbook.xml").foreach { b =>
      val r = newFactory().createXMLStreamReader(new ByteArrayInputStream(b))
      try while (r.hasNext) {
        if (r.next() == XMLStreamConstants.START_ELEMENT &&
            r.getLocalName == "sheet") {
          val name = Option(r.getAttributeValue(null, "name")).getOrElse("")
          val rid = (0 until r.getAttributeCount)
            .find(i => r.getAttributeLocalName(i) == "id")
            .map(r.getAttributeValue).getOrElse("")
          rels.get(rid).foreach(p => sheets += name -> p)
        }
      } finally r.close()
    }
    sheets.toSeq
  }

  /** Workbook sheet names in tab order — the multi-sheet discovery
    * surface (`pd.ExcelFile(...).sheet_names`). */
  def sheetNames(bytes: Array[Byte]): Seq[String] = sheetTable(bytes).map(_._1)

  /** `<workbookPr date1904="1"/>` in xl/workbook.xml — the legacy Mac
    * serial-date system; shifts the serial origin to 1904-01-01. */
  private[graft] def isDate1904(workbookXml: Array[Byte]): Boolean = {
    val r = newFactory().createXMLStreamReader(
      new ByteArrayInputStream(workbookXml))
    var found = false
    try while (r.hasNext && !found) {
      if (r.next() == XMLStreamConstants.START_ELEMENT &&
          r.getLocalName == "workbookPr") {
        val v = Option(r.getAttributeValue(null, "date1904")).getOrElse("")
        found = v == "1" || v.equalsIgnoreCase("true")
      }
    } finally r.close()
    found
  }

  private def parseResolved(bytes: Array[Byte], sheetPart: String)
      : Seq[Seq[String]] = {
    val parts = zipParts(bytes,
      Set("xl/sharedStrings.xml", "xl/styles.xml", "xl/workbook.xml", sheetPart))
    val sst = parts.get("xl/sharedStrings.xml")
      .map(parseSharedStrings).getOrElse(IndexedSeq.empty)
    val dateStyle = parts.get("xl/styles.xml")
      .map(parseStyles).getOrElse(IndexedSeq.empty)
    val date1904 = parts.get("xl/workbook.xml").exists(isDate1904)
    parts.get(sheetPart).map(parseSheet(_, sst, dateStyle, date1904))
      .getOrElse(Seq.empty)
  }

  /** Parse one .xlsx byte blob: the 1-based `sheet`'s (IN TAB ORDER)
    * rows as cell strings ("" = empty cell). Falls back to the literal
    * `sheetN.xml` part name for minimal workbooks without a rels part. */
  private[graft] def parseWorkbook(bytes: Array[Byte], sheet: Int)
      : Seq[Seq[String]] = {
    val table = sheetTable(bytes)
    val part = table.lift(sheet - 1).map(_._2)
      .getOrElse(s"xl/worksheets/sheet$sheet.xml")
    parseResolved(bytes, part)
  }

  /** Minimal .xlsx WRITER (inline strings only) — the sheet-export sink
    * (S13's dashboard-export shape, `utils/sheets.py`'s role):
    * spreadsheet TARGETS are metadata-sized by definition, so a
    * driver-side single file is the right amount of distribution; null
    * cells are omitted (sparse refs) and read back as null. */
  def writeXlsx(file: java.io.File, rows: Seq[Seq[String]]): Unit =
    writeXlsxSheets(file, Seq("Sheet1" -> rows))

  /** Multi-sheet variant: one tab per `(name, rows)` pair, tab order =
    * argument order, correct workbook + rels wiring (round-trips through
    * [[sheetNames]]). */
  def writeXlsxSheets(file: java.io.File,
      sheets: Seq[(String, Seq[Seq[String]])]): Unit = {
    require(sheets.nonEmpty, "writeXlsxSheets needs at least one sheet")
    // quotes must escape too: sheet names interpolate into ATTRIBUTE
    // values (name="..") — a legal-in-Excel '"' would otherwise emit
    // malformed workbook.xml and an unreadable file
    def esc(s: String) = s.replace("&", "&amp;")
      .replace("<", "&lt;").replace(">", "&gt;")
      .replace("\"", "&quot;").replace("'", "&apos;")
    def colRef(i: Int): String = {
      var n = i + 1
      val sb = new StringBuilder
      while (n > 0) { sb.insert(0, ('A' + (n - 1) % 26).toChar); n = (n - 1) / 26 }
      sb.toString
    }
    def sheetXml(rows: Seq[Seq[String]]): String = {
      val sheetRows = rows.zipWithIndex.map { case (cells, ri) =>
        val cs = cells.zipWithIndex.collect {
          case (v, ci) if v != null =>
            s"""<c r="${colRef(ci)}${ri + 1}" t="inlineStr"><is><t xml:space="preserve">${esc(v)}</t></is></c>"""
        }.mkString
        s"""<row r="${ri + 1}">$cs</row>"""
      }.mkString
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
         |<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>$sheetRows</sheetData></worksheet>""".stripMargin
    }
    val n = sheets.size
    val overrides = (1 to n).map(i =>
      s"""<Override PartName="/xl/worksheets/sheet$i.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>""").mkString
    val sheetDecls = sheets.zipWithIndex.map { case ((name, _), i) =>
      s"""<sheet name="${esc(name)}" sheetId="${i + 1}" r:id="rId${i + 1}"/>"""
    }.mkString
    val relDecls = (1 to n).map(i =>
      s"""<Relationship Id="rId$i" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet$i.xml"/>""").mkString
    val parts = Seq(
      "[Content_Types].xml" ->
        s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
           |<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"><Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/><Default Extension="xml" ContentType="application/xml"/><Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>$overrides</Types>""".stripMargin,
      "_rels/.rels" ->
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
          |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/></Relationships>""".stripMargin,
      "xl/workbook.xml" ->
        s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
           |<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets>$sheetDecls</sheets></workbook>""".stripMargin,
      "xl/_rels/workbook.xml.rels" ->
        s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
           |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">$relDecls</Relationships>""".stripMargin) ++
      sheets.zipWithIndex.map { case ((_, rows), i) =>
        s"xl/worksheets/sheet${i + 1}.xml" -> sheetXml(rows)
      }
    val z = new java.util.zip.ZipOutputStream(
      new java.io.FileOutputStream(file))
    try parts.foreach { case (name, content) =>
      z.putNextEntry(new java.util.zip.ZipEntry(name))
      z.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      z.closeEntry()
    } finally z.close()
  }

  /** S1 — native .xlsx scan: header = each file's first row (schema
    * probed from the lexicographically first file on the driver, the
    * bounded header-probe pattern); all columns string; "" → null.
    * Multiple files union by position, each dropping its own header
    * row. */
  def readXlsx(spark: SparkSession, path: String, sheet: Int = 1)
      : DataFrame = {
    val bin = spark.read.format("binaryFile").load(path)
      .select("path", "content")
    val first = bin.orderBy("path").select("content").head
      .getAs[Array[Byte]](0)
    val header = parseWorkbook(first, sheet).headOption
      .getOrElse(Seq.empty).map(_.trim)
    require(header.nonEmpty, s"no header row in first .xlsx under $path")
    val n = header.length
    val schema = StructType(
      header.map(StructField(_, StringType, nullable = true)))
    val rows = bin.select("content").rdd.flatMap { r =>
      parseWorkbook(r.getAs[Array[Byte]](0), sheet).drop(1).map { cells =>
        Row.fromSeq(cells.padTo(n, "").take(n)
          .map(c => if (c == null || c.isEmpty) null else c))
      }
    }
    spark.createDataFrame(rows, schema)
  }

}
