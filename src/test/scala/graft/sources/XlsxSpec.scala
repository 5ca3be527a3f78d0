package graft.sources

import java.io.FileOutputStream
import java.util.zip.{ZipEntry, ZipOutputStream}

import org.apache.spark.sql.types._

import graft.SparkSpec

/** Native xlsx reader against a workbook assembled from the raw
  * SpreadsheetML parts — shared strings (plain and rich-text runs),
  * inline strings, numeric/boolean cells, missing-cell gaps, and the
  * leading-zero PSGC codes that motivated the schema-first string
  * discipline (SURVEY §7.4, the `astype(str)` trap).
  */
class XlsxSpec extends SparkSpec {

  private def entry(z: ZipOutputStream, name: String, body: String): Unit = {
    z.putNextEntry(new ZipEntry(name))
    z.write(body.getBytes("UTF-8"))
    z.closeEntry()
  }

  /** Minimal but structurally complete workbook. */
  private def writeWorkbook(path: String): Unit = {
    val z = new ZipOutputStream(new FileOutputStream(path))
    entry(z, "[Content_Types].xml",
      """<?xml version="1.0" encoding="UTF-8"?>
        |<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
        |<Default Extension="xml" ContentType="application/xml"/>
        |<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
        |</Types>""".stripMargin)
    entry(z, "_rels/.rels",
      """<?xml version="1.0" encoding="UTF-8"?>
        |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
        |<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>
        |</Relationships>""".stripMargin)
    entry(z, "xl/workbook.xml",
      """<?xml version="1.0" encoding="UTF-8"?>
        |<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
        |<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"/></sheets>
        |</workbook>""".stripMargin)
    // si 0-3: header names; si 4: a leading-zero code; si 5: rich-text runs
    entry(z, "xl/sharedStrings.xml",
      """<?xml version="1.0" encoding="UTF-8"?>
        |<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="6" uniqueCount="6">
        |<si><t>code_city</t></si><si><t>name</t></si><si><t>isCapital</t></si><si><t>lat</t></si>
        |<si><t>012805000</t></si>
        |<si><r><t>City of </t></r><r><t>Laoag</t></r></si>
        |</sst>""".stripMargin)
    // row 1: header (shared strings); row 2: shared + rich text + bool + num;
    // row 3: inline string, MISSING name cell (gap), bool 0, missing lat
    entry(z, "xl/worksheets/sheet1.xml",
      """<?xml version="1.0" encoding="UTF-8"?>
        |<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>
        |<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c><c r="C1" t="s"><v>2</v></c><c r="D1" t="s"><v>3</v></c></row>
        |<row r="2"><c r="A2" t="s"><v>4</v></c><c r="B2" t="s"><v>5</v></c><c r="C2" t="b"><v>1</v></c><c r="D2"><v>18.1978</v></c></row>
        |<row r="3"><c r="A3" t="inlineStr"><is><t>098765000</t></is></c><c r="C3" t="b"><v>0</v></c></row>
        |</sheetData></worksheet>""".stripMargin)
    z.close()
  }

  private val schema = StructType(Seq(
    StructField("code_city", StringType), StructField("name", StringType),
    StructField("isCapital", BooleanType), StructField("lat", DoubleType)))

  test("readSheet: shared/rich-text/inline strings, gaps, leading zeros") {
    val p = java.nio.file.Files.createTempFile("loc", ".xlsx").toString
    writeWorkbook(p)
    val (header, rows) = Xlsx.readSheet(p)
    assert(header === Seq("code_city", "name", "isCapital", "lat"))
    assert(rows === Seq(
      Seq(Some("012805000"), Some("City of Laoag"), Some("1"), Some("18.1978")),
      Seq(Some("098765000"), None, Some("0"), None)))
  }

  test("importSnapshotXlsx: schema-cast snapshot with dense ids, zeros intact") {
    val p = java.nio.file.Files.createTempFile("loc2", ".xlsx").toString
    writeWorkbook(p)
    val out = java.nio.file.Files.createTempDirectory("xlsx_snap").toString + "/locations"
    TableStore.importSnapshotXlsx(spark, p, out, schema, "location_id", Seq("code_city"))
    val got = TableStore.readSnapshot(spark, out, schema.add("location_id", LongType)).collect()
      .map(r => (r.getAs[Long]("location_id"), r.getAs[String]("code_city"),
        r.getAs[String]("name"), Option(r.getAs[java.lang.Boolean]("isCapital")),
        Option(r.getAs[java.lang.Double]("lat")))).sortBy(_._1)
    assert(got.toSeq === Seq(
      (1L, "012805000", "City of Laoag", Some(true: java.lang.Boolean), Some(18.1978: java.lang.Double)),
      (2L, "098765000", null, Some(false: java.lang.Boolean), None)))
  }

  test("writeSheet -> readSheet round-trip: strings identical, zeros/whitespace/entities intact") {
    val p = java.nio.file.Files.createTempFile("rt", ".xlsx").toString
    val header = Seq("code_city", "name", "note")
    val rows = Seq(
      Seq(Some("012805000"), Some("City of Laoag"), Some("a & b <c> \"d\"")),
      Seq(Some("098765000"), None, Some("  leading and trailing  ")),
      Seq(Some("007"), Some(""), None))
    Xlsx.writeSheet(p, header, rows)
    val (gotHeader, gotRows) = Xlsx.readSheet(p)
    assert(gotHeader === header)
    assert(gotRows === rows)
  }

  test("exportSnapshotXlsx -> importSnapshotXlsx restores the snapshot exactly") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val snap = Seq(
      (1L, "012805000", "City of Laoag", true, 18.1978),
      (2L, "098765000", "Zamboanga", false, 6.9214))
      .toDF("location_id", "code_city", "name", "isCapital", "lat")
    val x = java.nio.file.Files.createTempFile("exp", ".xlsx").toString
    TableStore.exportSnapshotXlsx(snap, x, orderCols = Seq("location_id"))
    val out = java.nio.file.Files.createTempDirectory("xlsx_rt").toString + "/locations"
    val full = StructType(StructField("location_id", LongType) +: schema.fields)
    TableStore.importSnapshotXlsx(spark, x, out, full, "location_id", Seq("code_city"))
    val got = TableStore.readSnapshot(spark, out, full)
      .select("location_id", "code_city", "name", "isCapital", "lat")
      .orderBy(col("location_id")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getBoolean(3), r.getDouble(4)))
    assert(got.toSeq === Seq(
      (1L, "012805000", "City of Laoag", true, 18.1978),
      (2L, "098765000", "Zamboanga", false, 6.9214)))
  }

  test("the REAL reference workbook parses to SURVEY §1.3's ground truth") {
    // /root/reference/all_locations.xlsx is the one genuine
    // Excel-writer artifact available (openpyxl output: inlineStr
    // cells, t="b" boolean cells, self-closing empty cells, dimension
    // hints, style attributes — quirks the synthetic fixtures above
    // only imitate). Read as DATA only. Header is the reference's
    // pandas-merge naming (`code_city` from suffixes=('_city', ...),
    // weather_data_fetcher.py:356). Cancelled (not failed) on
    // checkouts without the reference tree (ADVICE r11).
    assume(new java.io.File("/root/reference/all_locations.xlsx").exists,
      "reference workbook /root/reference/all_locations.xlsx not present")
    import org.apache.spark.sql.functions._
    val schema = StructType(Seq(
      StructField("code_city", StringType),
      StructField("name", StringType),
      StructField("oldName", StringType),
      StructField("isCapital", BooleanType),
      StructField("provinceCode", StringType),
      StructField("islandGroupCode", StringType),
      StructField("psgc10DigitCode", StringType),
      StructField("province_name", StringType),
      StructField("latitude", DoubleType),
      StructField("longitude", DoubleType)))
    val df = Xlsx.read(spark, "/root/reference/all_locations.xlsx", schema)
    val rows = df.collect()
    assert(rows.length === 146, "reference snapshot is 146 locations")
    assert(rows.count(_.isNullAt(2)) === 143, "143/146 null oldName")
    // leading zeros survive: string codes, never numeric re-parse
    assert(rows.count(r => r.getString(0).startsWith("0")) === 98)
    assert(rows.exists(_.getString(0) == "012805000"))
    assert(rows.exists(_.getString(6) == "0102805000"), "10-digit code keeps its zero")
    assert(df.select("islandGroupCode").distinct().collect().map(_.getString(0)).sorted
      === Array("luzon", "mindanao", "visayas"))
    // t="b" boolean cells surface as "0"/"1" and cast cleanly
    assert(rows.count(_.getBoolean(3)) === 45, "45 capital cities")
    // the geocode pass resolved every row in the shipped artifact
    assert(rows.forall(r => !r.isNullAt(8) && !r.isNullAt(9)))
    val batac = rows.find(_.getString(1) == "City of Batac").get
    assert(batac.getString(7) === "Ilocos Norte")
    assert(batac.getDouble(8) === 18.0555035 && batac.getDouble(9) === 120.5645243)
  }

  test("a sheet without sharedStrings still reads (inline-only workbook)") {
    val p = java.nio.file.Files.createTempFile("inline", ".xlsx").toString
    val z = new ZipOutputStream(new FileOutputStream(p))
    entry(z, "xl/worksheets/sheet1.xml",
      """<worksheet><sheetData>
        |<row><c t="inlineStr"><is><t>a</t></is></c><c t="inlineStr"><is><t>b</t></is></c></row>
        |<row><c><v>1</v></c><c><v>2</v></c></row>
        |</sheetData></worksheet>""".stripMargin)
    z.close()
    val (header, rows) = Xlsx.readSheet(p)
    assert(header === Seq("a", "b"))
    assert(rows === Seq(Seq(Some("1"), Some("2"))))
  }
}
