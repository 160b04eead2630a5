package graft

import java.io.{ByteArrayOutputStream, FileOutputStream}
import java.util.zip.{ZipEntry, ZipOutputStream}

import graft.io.Xlsx

/** Native .xlsx reader against files BUILT BY THE SPEC (a minimal but
  * well-formed ECMA-376 writer over ZipOutputStream) — no binary
  * fixtures checked in, and the writer exercises exactly the variation
  * the reader claims: shared vs inline strings, sparse cell refs,
  * XML-escaped characters, rich-text runs, multiple files. */
class XlsxSpec extends SparkSpec {

  private def esc(s: String) =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  /** rows = cell seqs; None cells are OMITTED (sparse refs). Strings in
    * `shared` go through the shared-string table; others write inline. */
  private def xlsxBytes(rows: Seq[Seq[Option[String]]],
      shared: Set[String] = Set.empty): Array[Byte] = {
    val sst = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    def colRef(i: Int): String = {
      var n = i + 1
      val sb = new StringBuilder
      while (n > 0) { sb.insert(0, ('A' + (n - 1) % 26).toChar); n = (n - 1) / 26 }
      sb.toString
    }
    val sheetRows = rows.zipWithIndex.map { case (cells, ri) =>
      val cs = cells.zipWithIndex.collect { case (Some(v), ci) =>
        val ref = s"${colRef(ci)}${ri + 1}"
        if (shared(v)) {
          val idx = sst.getOrElseUpdate(v, sst.size)
          s"""<c r="$ref" t="s"><v>$idx</v></c>"""
        } else if (v.forall(c => c.isDigit || c == '.' || c == '-'))
          s"""<c r="$ref"><v>${esc(v)}</v></c>"""
        else
          s"""<c r="$ref" t="inlineStr"><is><t>${esc(v)}</t></is></c>"""
      }.mkString
      s"""<row r="${ri + 1}">$cs</row>"""
    }.mkString
    val sheet =
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
         |<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>$sheetRows</sheetData></worksheet>""".stripMargin
    // one entry uses a rich-text RUN split to prove run concatenation
    val sstXml = {
      val items = sst.keys.map { s =>
        if (s.length > 3 && s == sst.keys.head)
          s"""<si><r><t>${esc(s.take(2))}</t></r><r><t>${esc(s.drop(2))}</t></r></si>"""
        else s"""<si><t xml:space="preserve">${esc(s)}</t></si>"""
      }.mkString
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
         |<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="${sst.size}" uniqueCount="${sst.size}">$items</sst>""".stripMargin
    }
    val workbook =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>""".stripMargin
    val wbRels =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/><Relationship Id="rId2" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/sharedStrings" Target="sharedStrings.xml"/></Relationships>""".stripMargin
    val rels =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/></Relationships>""".stripMargin
    val types =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"><Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/><Default Extension="xml" ContentType="application/xml"/><Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/><Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/><Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/></Types>""".stripMargin
    val bos = new ByteArrayOutputStream()
    val z = new ZipOutputStream(bos)
    def put(name: String, content: String): Unit = {
      z.putNextEntry(new ZipEntry(name))
      z.write(content.getBytes("UTF-8"))
      z.closeEntry()
    }
    put("[Content_Types].xml", types)
    put("_rels/.rels", rels)
    put("xl/workbook.xml", workbook)
    put("xl/_rels/workbook.xml.rels", wbRels)
    put("xl/sharedStrings.xml", sstXml)
    put("xl/worksheets/sheet1.xml", sheet)
    z.close()
    bos.toByteArray
  }

  private def writeFile(dir: java.io.File, name: String,
      bytes: Array[Byte]): Unit = {
    val f = new java.io.File(dir, name)
    val out = new FileOutputStream(f)
    try out.write(bytes) finally out.close()
  }

  test("colIndex: A=0, Z=25, AA=26, BC12=54") {
    assert(Xlsx.colIndex("A1") === 0)
    assert(Xlsx.colIndex("Z9") === 25)
    assert(Xlsx.colIndex("AA3") === 26)
    assert(Xlsx.colIndex("BC12") === 54)
  }

  test("readXlsx: shared+inline+numeric cells, sparse refs become nulls, escaping and rich-text runs decode") {
    val dir = java.nio.file.Files.createTempDirectory("xlsx").toFile
    val rows = Seq(
      Seq(Some("name"), Some("qty"), Some("note")),
      Seq(Some("alpha & <beta>"), Some("42"), None), // sparse: note missing
      Seq(Some("gamma"), None, Some("r&d")),
      Seq(None, Some("7"), Some("last")))
    writeFile(dir, "a.xlsx",
      xlsxBytes(rows, shared = Set("alpha & <beta>", "gamma")))
    val df = Xlsx.readXlsx(spark, dir.getAbsolutePath)
    assert(df.columns.toSeq === Seq("name", "qty", "note"))
    val got = df.collect().map(r =>
      (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(got === Set(
      ("alpha & <beta>", "42", null),
      ("gamma", null, "r&d"),
      (null, "7", "last")))
  }

  test("readXlsx: multiple files union by position, each drops its own header") {
    val dir = java.nio.file.Files.createTempDirectory("xlsx").toFile
    val mk = (v: String) => xlsxBytes(Seq(
      Seq(Some("k"), Some("v")), Seq(Some(v), Some("1"))))
    writeFile(dir, "a.xlsx", mk("fromA"))
    writeFile(dir, "b.xlsx", mk("fromB"))
    val df = Xlsx.readXlsx(spark, dir.getAbsolutePath)
    assert(df.count() === 2)
    assert(df.collect().map(_.getString(0)).toSet === Set("fromA", "fromB"))
  }

  private def zipOf(parts: Seq[(String, String)]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val z = new ZipOutputStream(bos)
    parts.foreach { case (name, content) =>
      z.putNextEntry(new ZipEntry(name))
      z.write(content.getBytes("UTF-8"))
      z.closeEntry()
    }
    z.close()
    bos.toByteArray
  }

  test("serialToIso: date, datetime, pure time, midnight carry") {
    assert(Xlsx.serialToIso(45352.0) === "2024-03-01")       // whole day
    assert(Xlsx.serialToIso(45352.5) === "2024-03-01 12:00:00")
    assert(Xlsx.serialToIso(0.75) === "18:00:00")            // time-only
    // 23:59:59.7 rounds up across midnight
    assert(Xlsx.serialToIso(45352.0 + 86399.7 / 86400.0) === "2024-03-02")
  }

  test("isDateFormatCode: ymdhs detection survives quoting/brackets/escapes") {
    assert(Xlsx.isDateFormatCode("yyyy-mm-dd"))
    assert(Xlsx.isDateFormatCode("[$-409]h:mm AM/PM"))
    assert(Xlsx.isDateFormatCode("dd\\.mm\\.yyyy"))
    assert(!Xlsx.isDateFormatCode("0.00"))
    assert(!Xlsx.isDateFormatCode("#,##0;[Red](#,##0)"))
    assert(!Xlsx.isDateFormatCode("\"days\" 0")) // 'd','y','s' only in quotes
  }

  test("typed cells: date styles render ISO, plain numbers stay raw, booleans decode") {
    val dir = java.nio.file.Files.createTempDirectory("xlsx_t").toFile
    val styles =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
        |<numFmts count="1"><numFmt numFmtId="164" formatCode="yyyy\-mm\-dd"/></numFmts>
        |<cellXfs count="4"><xf numFmtId="0"/><xf numFmtId="14"/><xf numFmtId="164"/><xf numFmtId="2"/></cellXfs>
        |</styleSheet>""".stripMargin
    val sheet =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>
        |<row r="1"><c r="A1" t="inlineStr"><is><t>d_builtin</t></is></c><c r="B1" t="inlineStr"><is><t>dt</t></is></c><c r="C1" t="inlineStr"><is><t>d_custom</t></is></c><c r="D1" t="inlineStr"><is><t>num</t></is></c><c r="E1" t="inlineStr"><is><t>flag</t></is></c><c r="F1" t="inlineStr"><is><t>tm</t></is></c></row>
        |<row r="2"><c r="A2" s="1"><v>45352</v></c><c r="B2" s="1"><v>45352.5</v></c><c r="C2" s="2"><v>45000</v></c><c r="D2" s="3"><v>3.14</v></c><c r="E2" t="b"><v>1</v></c><c r="F2" s="1"><v>0.75</v></c></row>
        |</sheetData></worksheet>""".stripMargin
    val workbook =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>""".stripMargin
    val wbRels =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/></Relationships>""".stripMargin
    writeFile(dir, "typed.xlsx", zipOf(Seq(
      "xl/workbook.xml" -> workbook,
      "xl/_rels/workbook.xml.rels" -> wbRels,
      "xl/styles.xml" -> styles,
      "xl/worksheets/sheet1.xml" -> sheet)))
    val row = Xlsx.readXlsx(spark, dir.getAbsolutePath).collect().head
    assert(row.getString(0) === "2024-03-01")          // builtin fmt 14
    assert(row.getString(1) === "2024-03-01 12:00:00") // datetime
    assert(row.getString(2) === "2023-03-15")          // custom yyyy-mm-dd
    assert(row.getString(3) === "3.14")                // fmt 2 is NOT a date
    assert(row.getString(4) === "TRUE")                // t="b"
    assert(row.getString(5) === "18:00:00")            // time-only serial
  }

  test("date1904 workbooks shift the serial origin to 1904-01-01") {
    // 45352 is 2024-03-01 in the 1900 system; the 1904 system puts the
    // same serial 1462 days later — silently wrong without the shift
    assert(Xlsx.serialToIso(45352.0, date1904 = true) === "2028-03-02")
    assert(Xlsx.serialToIso(0.75, date1904 = true) === "18:00:00")
    val dir = java.nio.file.Files.createTempDirectory("xlsx_1904").toFile
    val styles =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
        |<cellXfs count="2"><xf numFmtId="0"/><xf numFmtId="14"/></cellXfs>
        |</styleSheet>""".stripMargin
    val sheet =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>
        |<row r="1"><c r="A1" t="inlineStr"><is><t>d</t></is></c></row>
        |<row r="2"><c r="A2" s="1"><v>43890</v></c></row>
        |</sheetData></worksheet>""".stripMargin
    val workbook =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><workbookPr date1904="1"/><sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>""".stripMargin
    val wbRels =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/></Relationships>""".stripMargin
    writeFile(dir, "mac.xlsx", zipOf(Seq(
      "xl/workbook.xml" -> workbook,
      "xl/_rels/workbook.xml.rels" -> wbRels,
      "xl/styles.xml" -> styles,
      "xl/worksheets/sheet1.xml" -> sheet)))
    // 43890 in the 1904 system = 2024-03-01 (1900 system would say 2020-02-29)
    val row = Xlsx.readXlsx(spark, dir.getAbsolutePath).collect().head
    assert(row.getString(0) === "2024-03-01")
  }

  test("sheet names with quotes/apostrophes survive the writer (attribute escaping)") {
    val dir = java.nio.file.Files.createTempDirectory("xlsx_q").toFile
    val f = new java.io.File(dir, "quoted.xlsx")
    val name = """Bob's "final" tab"""
    Xlsx.writeXlsxSheets(f, Seq(name -> Seq(Seq("k"), Seq("v1"))))
    val bytes = java.nio.file.Files.readAllBytes(f.toPath)
    assert(Xlsx.sheetNames(bytes) === Seq(name))
    assert(Xlsx.parseWorkbook(bytes, 1).last.head === "v1")
  }

  test("multi-sheet: writeXlsxSheets round-trips names, index addressing reads the named tab") {
    val dir = java.nio.file.Files.createTempDirectory("xlsx_m").toFile
    val f = new java.io.File(dir, "multi.xlsx")
    Xlsx.writeXlsxSheets(f, Seq(
      "summary" -> Seq(Seq("k", "v"), Seq("s1", "1")),
      "detail" -> Seq(Seq("k", "v"), Seq("d1", "2"), Seq("d2", "3"))))
    val bytes = java.nio.file.Files.readAllBytes(f.toPath)
    assert(Xlsx.sheetNames(bytes) === Seq("summary", "detail"))
    val byIdx = Xlsx.readXlsx(spark, f.getAbsolutePath, sheet = 2)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(byIdx === Set(("d1", "2"), ("d2", "3")))
  }

  test("multi-sheet: tab ORDER comes from workbook.xml, not part-file numbering") {
    // tab 1 points at sheet2.xml, tab 2 at sheet1.xml — position must
    // follow the workbook's <sheets> order through the rels
    val dir = java.nio.file.Files.createTempDirectory("xlsx_o").toFile
    def sheetXml(v: String) =
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
         |<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData><row r="1"><c r="A1" t="inlineStr"><is><t>h</t></is></c></row><row r="2"><c r="A2" t="inlineStr"><is><t>$v</t></is></c></row></sheetData></worksheet>""".stripMargin
    val workbook =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets><sheet name="tabA" sheetId="1" r:id="rId2"/><sheet name="tabB" sheetId="2" r:id="rId1"/></sheets></workbook>""".stripMargin
    val wbRels =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/><Relationship Id="rId2" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet2.xml"/></Relationships>""".stripMargin
    val bytes = zipOf(Seq(
      "xl/workbook.xml" -> workbook,
      "xl/_rels/workbook.xml.rels" -> wbRels,
      "xl/worksheets/sheet1.xml" -> sheetXml("inPart1"),
      "xl/worksheets/sheet2.xml" -> sheetXml("inPart2")))
    assert(Xlsx.sheetNames(bytes) === Seq("tabA", "tabB"))
    assert(Xlsx.parseWorkbook(bytes, 1).last.head === "inPart2")
    assert(Xlsx.parseWorkbook(bytes, 2).last.head === "inPart1")
  }

  test("DSv2 source: format(\"graft-xlsx\") matches readXlsx, incl. multi-file") {
    val dir = java.nio.file.Files.createTempDirectory("xlsx").toFile
    val mk = (v: String, q: String) => xlsxBytes(Seq(
      Seq(Some("k"), Some("v"), Some("w")),
      Seq(Some(v), Some(q), None),
      Seq(Some(v + "2"), None, Some("x"))))
    writeFile(dir, "a.xlsx", mk("fromA", "1"))
    writeFile(dir, "b.xlsx", mk("fromB", "2"))
    val v2 = spark.read.format("graft-xlsx").load(dir.getAbsolutePath)
    assert(v2.columns.toSeq === Seq("k", "v", "w"))
    val want = Xlsx.readXlsx(spark, dir.getAbsolutePath)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    val got = v2.collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(got === want && got.size === 4)
    // one input partition per file
    assert(v2.rdd.getNumPartitions === 2)
  }

  test("DSv2 source: column pruning reaches the reader, limit is pushed") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val dir = java.nio.file.Files.createTempDirectory("xlsx").toFile
    writeFile(dir, "a.xlsx", xlsxBytes(Seq(
      Seq(Some("k"), Some("v"), Some("w")),
      Seq(Some("r1"), Some("1"), Some("x")),
      Seq(Some("r2"), Some("2"), Some("y")),
      Seq(Some("r3"), Some("3"), Some("z")))))
    val pruned = spark.read.format("graft-xlsx").load(dir.getAbsolutePath)
      .select("v")
    val scan = pruned.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan
    }.head
    assert(scan.readSchema().fieldNames.toSeq === Seq("v"),
      s"reader schema not pruned: ${scan.readSchema()}")
    assert(pruned.collect().map(_.getString(0)).toSet === Set("1", "2", "3"))
    val limited = spark.read.format("graft-xlsx").load(dir.getAbsolutePath)
      .limit(2)
    val lscan = limited.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan
    }.head
    assert(lscan.description().contains("PushedLimit: 2"),
      s"limit not pushed: ${lscan.description()}")
    assert(limited.count() === 2)
  }

  test("DSv2 source: string equality and IsNotNull push to the reader; others stay post-scan") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val dir = java.nio.file.Files.createTempDirectory("xlsx_f").toFile
    writeFile(dir, "a.xlsx", xlsxBytes(Seq(
      Seq(Some("k"), Some("v")),
      Seq(Some("keep"), Some("1")),
      Seq(Some("drop"), None),
      Seq(Some("keep"), Some("2")),
      Seq(None, Some("3")))))
    import org.apache.spark.sql.functions.col
    val df = spark.read.format("graft-xlsx").load(dir.getAbsolutePath)
      .where(col("k") === "keep" && col("v").isNotNull)
    val scan = df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan
    }.head
    assert(scan.description().contains("PushedFilters"), scan.description())
    assert(scan.description().contains("EqualTo(k,keep)"), scan.description())
    assert(df.collect().map(r => (r.getString(0), r.getString(1))).toSet
      === Set(("keep", "1"), ("keep", "2")))
    // a non-pushable predicate still answers correctly post-scan
    val like = spark.read.format("graft-xlsx").load(dir.getAbsolutePath)
      .where(col("k").startsWith("ke"))
    assert(like.count() === 2)
  }

  test("DSv2 write: part files round-trip through the reader; overwrite truncates") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("xlsx_w").toFile
    val df = Seq(("a", "1"), ("b", null: String), ("c", "3"))
      .toDF("k", "v").repartition(2)
    df.write.format("graft-xlsx").mode("append").save(dir.getAbsolutePath)
    val back = spark.read.format("graft-xlsx").load(dir.getAbsolutePath)
    assert(back.columns.toSeq === Seq("k", "v"))
    assert(back.collect().map(r => (r.getString(0), r.getString(1))).toSet
      === Set(("a", "1"), ("b", null), ("c", "3")))
    // append adds; overwrite replaces
    Seq(("d", "4")).toDF("k", "v").write.format("graft-xlsx")
      .mode("append").save(dir.getAbsolutePath)
    assert(spark.read.format("graft-xlsx").load(dir.getAbsolutePath).count() === 4)
    Seq(("z", "9")).toDF("k", "v").write.format("graft-xlsx")
      .mode("overwrite").save(dir.getAbsolutePath)
    val after = spark.read.format("graft-xlsx").load(dir.getAbsolutePath)
    assert(after.collect().map(r => (r.getString(0), r.getString(1))).toSeq
      === Seq(("z", "9")))
  }

  test("DSv2 source: sheet option and SQL USING path work") {
    val dir = java.nio.file.Files.createTempDirectory("xlsx").toFile
    writeFile(dir, "a.xlsx", xlsxBytes(Seq(
      Seq(Some("c1")), Seq(Some("valA")))))
    spark.sql(
      s"""CREATE OR REPLACE TEMPORARY VIEW xlsx_v2_test
         |USING `graft-xlsx` OPTIONS (path '${dir.getAbsolutePath}', sheet '1')""".stripMargin)
    assert(spark.table("xlsx_v2_test").collect().map(_.getString(0)).toSeq === Seq("valA"))
  }
}
