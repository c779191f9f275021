package graft

import java.io.{File, FileOutputStream}
import java.util.zip.{ZipEntry, ZipOutputStream}

import org.apache.spark.sql.functions._
import graft.sources.{JdbcFeed, PagedReader, ZippedTabular}

class SourcesSpec extends GraftSuite {
  import spark.implicits._

  test("pageOf slices deterministically; union of pages reassembles the prefix") {
    val df = (1 to 25).map(i => (i.toLong, s"row$i")).toDF("k", "v")
    val p2 = PagedReader.pageOf(df, "k", 10, 2).select("k").as[Long].collect().sorted
    assert(p2.toSeq == (11L to 20L))
    val all = PagedReader.readPages((1 to 3).map(PagedReader.pageOf(df, "k", 10, _)))
    assert(all.count() == 25)
  }

  test("pageBoundsDistributed equals the collected bounds, O(numPages) at the driver") {
    val df = (1 to 103).map(i => (i.toLong, s"row$i")).toDF("k", "v").repartition(7)
    val collected = PagedReader.pageBounds(df, "k", 10, 5)
    val distributed = PagedReader.pageBoundsDistributed(df, "k", 10, 5)
    assert(distributed == collected)
    // partial last page when the table runs out before numPages
    val tail = PagedReader.pageBoundsDistributed(df, "k", 10, 20)
    assert(tail.length == 11 && tail.last == ((101L, 103L)))
  }

  test("page bounds fail loudly on duplicate keys (both derivations)") {
    val dup = ((1 to 20) :+ 10).map(i => (i.toLong, "x")).toDF("k", "v")
    intercept[IllegalArgumentException] { PagedReader.pageBounds(dup, "k", 5, 5) }
    intercept[IllegalArgumentException] { PagedReader.pageBoundsDistributed(dup, "k", 5, 5) }
  }

  test("zip roundtrip: archives on disk → distributed CSV decode") {
    val dir = new File("target/graft_zip_spec")
    dir.mkdirs()
    (0 until 2).foreach { i =>
      val z = new ZipOutputStream(new FileOutputStream(new File(dir, s"a$i.zip")))
      z.putNextEntry(new ZipEntry("data.csv"))
      z.write(s"id,txt\n${i}0,alpha\n${i}1,beta\n".getBytes("UTF-8"))
      z.closeEntry(); z.close()
    }
    val df = ZippedTabular.readZippedCsv(spark, dir.getAbsolutePath + "/*.zip", Seq("id", "txt"))
    val rows = df.collect().map(r => (r.getString(0), r.getString(1))).sortBy(_._1)
    assert(rows.toSeq == Seq(("00", "alpha"), ("01", "beta"), ("10", "alpha"), ("11", "beta")))
  }

  test("CSV quoting round-trips commas, quotes, and embedded newlines") {
    val vals = Seq("plain", "a,b", "say \"hi\"", "line1\nline2", "")
    val payload = ("v\n" + vals.map(ZippedTabular.csvField).mkString("\n"))
      .getBytes("UTF-8")
    val (hdr, rows) = ZippedTabular.parseCsv(payload)
    assert(hdr.toSeq == Seq("v"))
    assert(rows.map(_.head).toSeq == vals)
  }

  test("xlsx round-trip: shared-string and inline-string workbooks decode identically") {
    val header = Seq("id", "txt")
    val data = Seq(Seq("1", "alpha beta"), Seq("2", "<&> \"quoted\""), Seq("3", "42.5"))
    for (shared <- Seq(true, false)) {
      val bos = new java.io.ByteArrayOutputStream()
      ZippedTabular.writeXlsx(bos, header, data, sharedStrings = shared)
      val (hdr, rows) = ZippedTabular.decodeXlsx(bos.toByteArray)
      assert(hdr.toSeq == header, s"shared=$shared")
      assert(rows.map(_.toSeq).toSeq == data, s"shared=$shared")
    }
  }

  test("workbook-declared sheet order wins over filename order") {
    // two-sheet workbook whose tabs were REORDERED: workbook.xml declares
    // sheet2.xml (rId2) as the first/leftmost tab, but sheet1.xml still
    // exists with the old name — pd.read_excel reads the declared sheet 0,
    // so must we
    def sheetXml(rows: String) =
      s"""<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>$rows</sheetData></worksheet>"""
    val bos = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.ZipOutputStream(bos)
    def entry(name: String, body: String): Unit = {
      z.putNextEntry(new java.util.zip.ZipEntry(name))
      z.write(body.getBytes("UTF-8")); z.closeEntry()
    }
    entry("xl/workbook.xml",
      """<?xml version="1.0"?><workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
        |<sheets><sheet name="Current" sheetId="5" r:id="rId2"/><sheet name="Old" sheetId="1" r:id="rId1"/></sheets></workbook>""".stripMargin)
    entry("xl/_rels/workbook.xml.rels",
      """<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
        |<Relationship Id="rId1" Type="t" Target="worksheets/sheet1.xml"/>
        |<Relationship Id="rId2" Type="t" Target="worksheets/sheet2.xml"/>
        |</Relationships>""".stripMargin)
    entry("xl/worksheets/sheet1.xml", sheetXml(
      """<row r="1"><c r="A1" t="inlineStr"><is><t>id</t></is></c></row><row r="2"><c r="A2"><v>111</v></c></row>"""))
    entry("xl/worksheets/sheet2.xml", sheetXml(
      """<row r="1"><c r="A1" t="inlineStr"><is><t>id</t></is></c></row><row r="2"><c r="A2"><v>222</v></c></row>"""))
    z.close()
    val (hdr, rows) = ZippedTabular.decodeXlsx(bos.toByteArray)
    assert(hdr.toSeq == Seq("id"))
    assert(rows.next().toSeq == Seq("222")) // the DECLARED first sheet
    // a stripped archive without workbook.xml falls back to filename order
    val bos2 = new java.io.ByteArrayOutputStream()
    val z2 = new java.util.zip.ZipOutputStream(bos2)
    def entry2(name: String, body: String): Unit = {
      z2.putNextEntry(new java.util.zip.ZipEntry(name))
      z2.write(body.getBytes("UTF-8")); z2.closeEntry()
    }
    entry2("xl/worksheets/sheet10.xml", sheetXml(
      """<row r="1"><c r="A1" t="inlineStr"><is><t>id</t></is></c></row><row r="2"><c r="A2"><v>10</v></c></row>"""))
    entry2("xl/worksheets/sheet2.xml", sheetXml(
      """<row r="1"><c r="A1" t="inlineStr"><is><t>id</t></is></c></row><row r="2"><c r="A2"><v>2</v></c></row>"""))
    z2.close()
    val (_, rows2) = ZippedTabular.decodeXlsx(bos2.toByteArray)
    assert(rows2.next().toSeq == Seq("2")) // numeric order: sheet2 < sheet10
  }

  test("typed xlsx cells: numeric/bool/date infer and round-trip as Spark types") {
    val header = Seq("id", "score", "flag", "seen", "note")
    val data = Seq(
      Seq[Any](1L, 2.5, true, java.time.LocalDate.of(2024, 6, 1), "alpha"),
      Seq[Any](2L, -0.5, false, java.time.LocalDate.of(2024, 6, 2), "beta"))
    val bos = new java.io.ByteArrayOutputStream()
    ZippedTabular.writeXlsx(bos, header, data)
    // dtype inference: integral → long, fractional → double, t="b" →
    // boolean, t="d" → timestamp, strings stay strings
    val schema = ZippedTabular.inferXlsxSchema(bos.toByteArray)
    assert(schema.fields.map(f => (f.name, f.dataType.typeName)).toSeq == Seq(
      ("id", "long"), ("score", "double"), ("flag", "boolean"),
      ("seen", "timestamp"), ("note", "string")))
    // distributed typed read: values land AS the declared types
    val dir = new File("target/graft_xlsx_typed_spec")
    dir.mkdirs()
    val z = new ZipOutputStream(new FileOutputStream(new File(dir, "t.zip")))
    z.putNextEntry(new ZipEntry("results.xlsx"))
    z.write(bos.toByteArray); z.closeEntry(); z.close()
    val got = ZippedTabular.readZippedXlsxTyped(spark, dir.getAbsolutePath + "/*.zip", schema)
      .orderBy("id").collect()
    assert(got(0).getLong(0) == 1L && got(0).getDouble(1) == 2.5 && got(0).getBoolean(2))
    assert(got(0).getTimestamp(3) == java.sql.Timestamp.valueOf("2024-06-01 00:00:00"))
    assert(got(1).getString(4) == "beta")
    // the typed CSV reader applies the same schema to text payloads
    val csv = "id,n\n7,1.5\n8,2.5\n".getBytes("UTF-8")
    val cdir = new File("target/graft_csv_typed_spec")
    cdir.mkdirs()
    val cz = new ZipOutputStream(new FileOutputStream(new File(cdir, "c.zip")))
    cz.putNextEntry(new ZipEntry("data.csv")); cz.write(csv); cz.closeEntry(); cz.close()
    val cSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n", org.apache.spark.sql.types.DoubleType)))
    val crows = ZippedTabular.readZippedCsvTyped(spark, cdir.getAbsolutePath + "/*.zip", cSchema)
      .orderBy("id").collect()
    assert(crows.map(r => (r.getLong(0), r.getDouble(1))).toSeq == Seq((7L, 1.5), (8L, 2.5)))
    // a missing/empty field is null for non-string types, not a crash —
    // spark.read.schema's behavior
    import org.apache.spark.sql.types.{DoubleType => DT, StringType => ST}
    assert(ZippedTabular.convertCell("", DT) == null)
    assert(ZippedTabular.convertCell(" ", org.apache.spark.sql.types.TimestampType) == null)
    assert(ZippedTabular.convertCell("", ST) == "")
  }

  test("styled-date xlsx cells (numeric + numFmt, the real-exporter form) " +
    "decode identically to t=\"d\" cells") {
    val header = Seq("id", "seen", "at")
    val data = Seq(
      Seq[Any](1L, java.time.LocalDate.of(2024, 6, 1),
        java.time.LocalDateTime.of(2024, 6, 1, 12, 30, 15)),
      Seq[Any](2L, java.time.LocalDate.of(1999, 12, 31),
        java.time.LocalDateTime.of(2024, 6, 2, 0, 0, 30)),
      // MIDNIGHT datetime: serial day-fraction 0 under a datetime style
      // — must still decode as a timestamp ('T00:00'), not a bare date
      // (the style's format code, not the serial, decides)
      Seq[Any](3L, java.time.LocalDate.of(2024, 6, 3),
        java.time.LocalDateTime.of(2024, 6, 3, 0, 0, 0)))
    val styled = new java.io.ByteArrayOutputStream()
    ZippedTabular.writeXlsx(styled, header, data, styledDates = true)
    val inSpec = new java.io.ByteArrayOutputStream()
    ZippedTabular.writeXlsx(inSpec, header, data)
    // the styled workbook stores dates as bare 1900-system serials under
    // a date style (built-in numFmtId 14 for `seen`, a CUSTOM datetime
    // numFmt for `at`) — and decodes to the SAME typed cells as t="d"
    val (_, styledCells) = ZippedTabular.decodeXlsxCells(styled.toByteArray)
    val (_, specCells) = ZippedTabular.decodeXlsxCells(inSpec.toByteArray)
    assert(styledCells.map(_.toSeq) == specCells.map(_.toSeq))
    assert(styledCells(0)(1) == ZippedTabular.XlsxCell("2024-06-01", 'd'))
    assert(styledCells(0)(2) == ZippedTabular.XlsxCell("2024-06-01T12:30:15", 'd'))
    assert(styledCells(1)(2) == ZippedTabular.XlsxCell("2024-06-02T00:00:30", 'd'))
    assert(styledCells(2)(1) == ZippedTabular.XlsxCell("2024-06-03", 'd'))
    assert(styledCells(2)(2) == ZippedTabular.XlsxCell("2024-06-03T00:00", 'd'))
    // dtype inference parity: the styled date columns land TIMESTAMP
    assert(ZippedTabular.inferXlsxSchema(styled.toByteArray).fields
      .map(_.dataType.typeName).toSeq == Seq("long", "timestamp", "timestamp"))
    // serial corners: the 1900 leap-bug split, and binary day-fraction
    // noise just under a day boundary rounds up to the next midnight
    assert(ZippedTabular.excelSerialToIso("1") == "1900-01-01")
    assert(ZippedTabular.excelSerialToIso("59") == "1900-02-28")
    assert(ZippedTabular.excelSerialToIso("61") == "1900-03-01")
    assert(ZippedTabular.excelSerialToIso("45444") == "2024-06-01")
    assert(ZippedTabular.excelSerialToIso("45444.999999999988") == "2024-06-02")
    assert(ZippedTabular.excelSerialToIso("45444.25") == "2024-06-01T06:00")
    // format-code classification: quoted/escaped letters don't count
    assert(ZippedTabular.isDateFormatCode("yyyy-mm-dd;@"))
    assert(!ZippedTabular.isDateFormatCode("#,##0.00"))
    assert(!ZippedTabular.isDateFormatCode("\"days: \"0.0"))
    // time-component classification drives the midnight date-vs-datetime
    // split; quoted 'h'/'s' runs don't count
    assert(ZippedTabular.hasTimeTokens("yyyy\\-mm\\-dd\\ hh:mm:ss"))
    assert(!ZippedTabular.hasTimeTokens("yyyy-mm-dd;@"))
    assert(!ZippedTabular.hasTimeTokens("\"hrs \"yyyy-mm-dd"))
    assert(ZippedTabular.excelSerialToIso("45444", hasTime = true) == "2024-06-01T00:00")
  }

  test("xlsx decode gap-fills sparse cells from cell references") {
    // row 2 skips column B: <c r="A2"> then <c r="C2">
    val sheet =
      """<?xml version="1.0"?>
        |<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>
        |<row r="1"><c r="A1" t="inlineStr"><is><t>a</t></is></c><c r="B1" t="inlineStr"><is><t>b</t></is></c><c r="C1" t="inlineStr"><is><t>c</t></is></c></row>
        |<row r="2"><c r="A2"><v>1</v></c><c r="C2"><v>3</v></c></row>
        |</sheetData></worksheet>""".stripMargin
    val bos = new java.io.ByteArrayOutputStream()
    val z = new ZipOutputStream(bos)
    z.putNextEntry(new ZipEntry("xl/worksheets/sheet1.xml"))
    z.write(sheet.getBytes("UTF-8")); z.closeEntry(); z.close()
    val (hdr, rows) = ZippedTabular.decodeXlsx(bos.toByteArray)
    assert(hdr.toSeq == Seq("a", "b", "c"))
    assert(rows.next().toSeq == Seq("1", null, "3"))
  }

  test("readZippedXlsx: archives on disk → distributed workbook decode") {
    val dir = new File("target/graft_xlsx_spec")
    dir.mkdirs()
    (0 until 2).foreach { i =>
      val bos = new java.io.ByteArrayOutputStream()
      ZippedTabular.writeXlsx(bos, Seq("id", "txt"),
        Seq(Seq(s"${i}0", "alpha"), Seq(s"${i}1", "beta")), sharedStrings = i == 0)
      val z = new ZipOutputStream(new FileOutputStream(new File(dir, s"x$i.zip")))
      z.putNextEntry(new ZipEntry("results.xlsx"))
      z.write(bos.toByteArray); z.closeEntry(); z.close()
    }
    val df = ZippedTabular.readZippedXlsx(spark, dir.getAbsolutePath + "/*.zip", Seq("id", "txt"))
    val rows = df.collect().map(r => (r.getString(0), r.getString(1))).sortBy(_._1)
    assert(rows.toSeq == Seq(("00", "alpha"), ("01", "beta"), ("10", "alpha"), ("11", "beta")))
  }

  test("firstEntry rejects an empty archive") {
    val bos = new java.io.ByteArrayOutputStream()
    new ZipOutputStream(bos).close()
    intercept[IllegalArgumentException] { ZippedTabular.firstEntry(bos.toByteArray) }
  }

  test("FeedConfig parses the reference's config.json shape into connection artifacts") {
    val cfg = graft.sources.FeedConfig.fromJson(
      """{"api_token": "tok123", "project_name": "CATI_W07",
        | "db_host": "db.example", "db_name": "cati", "db_user": "loader",
        | "db_password": "p\"w"}""".stripMargin)
    assert(cfg.apiHeaders("SS-Token") == "tok123")
    assert(cfg.jdbcUrl == "jdbc:postgresql://db.example/cati")
    assert(cfg.jdbcOptions("password") == "p\"w")
    assert(cfg.waveNumber == "07")
    intercept[IllegalArgumentException] {
      graft.sources.FeedConfig.fromJson("""{"api_token": "x"}""")
    }
  }

  test("pushdownTable ships the wave predicate into the database") {
    assert(JdbcFeed.pushdownTable("recruits_log", "phone", "wave", 7) ==
      "(select phone from recruits_log where wave = 7) as feeder_keys")
  }

  test("prepareAppend partitions the batch for concurrent writers") {
    val df = (1 to 100).toDF("x")
    assert(JdbcFeed.prepareAppend(df, numWriters = 8).rdd.getNumPartitions == 8)
    val opts = JdbcFeed.appendOptions("jdbc:postgresql://db/x", "recruits_log", 500)
    assert(opts("batchsize") == "500" && opts("dbtable") == "recruits_log")
  }
}
