package graft.sources

import graft.SparkSpec
import java.io.{File, FileOutputStream}
import java.util.zip.{ZipEntry, ZipOutputStream}

class XlsxSourceSpec extends SparkSpec {

  /** Build a minimal OOXML workbook by hand (xlsx = zip of XML parts). */
  private def makeXlsx(): String = {
    val f = File.createTempFile("graft-test", ".xlsx")
    val zip = new ZipOutputStream(new FileOutputStream(f))
    def put(name: String, content: String): Unit = {
      zip.putNextEntry(new ZipEntry(name))
      zip.write(content.getBytes("UTF-8"))
      zip.closeEntry()
    }
    put("xl/sharedStrings.xml",
      """<?xml version="1.0"?><sst><si><t>Name</t></si><si><t>Id</t></si>""" +
        """<si><t>Atezolizumab</t></si><si><t>Malignant (TNF-alpha) Neoplasm</t></si></sst>""")
    put("xl/worksheets/sheet1.xml",
      """<?xml version="1.0"?><worksheet><sheetData>""" +
        """<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c></row>""" +
        """<row r="2"><c r="A2" t="s"><v>2</v></c><c r="B2"><v>42.0</v></c>""" +
        """<c r="D2" t="inlineStr"><is><t>inline!</t></is></c></row>""" +
        """<row r="3"><c r="A3" t="s"><v>3</v></c><c r="C3"><v>2.5</v></c></row>""" +
        """</sheetData></worksheet>""")
    put("xl/worksheets/sheet2.xml",
      """<?xml version="1.0"?><worksheet><sheetData>""" +
        """<row r="1"><c r="A1"><v>7</v></c></row></sheetData></worksheet>""")
    zip.close()
    f.getAbsolutePath
  }

  test("reads shared strings, numbers, inline strings; absent cells null; row order kept") {
    val df = XlsxSource.readSheet(spark, makeXlsx(), 0, 4)
    val rows = df.orderBy("row_idx").collect()
    assert(rows.length == 3)
    assert(rows(0).getString(0) == "Name" && rows(0).getString(1) == "Id")
    assert(rows(1).getString(0) == "Atezolizumab")
    assert(rows(1).getString(1) == "42") // integral float renders as int (openpyxl parity)
    assert(rows(1).getString(3) == "inline!")
    assert(rows(2).getString(0) == "Malignant (TNF-alpha) Neoplasm")
    assert(rows(2).getString(1) == null && rows(2).getString(2) == "2.5")
  }

  test("sheet indexing and count") {
    val p = makeXlsx()
    assert(XlsxSource.sheetCount(p) == 2)
    assert(XlsxSource.readSheet(spark, p, 1, 1).count() == 1)
    intercept[IllegalArgumentException](XlsxSource.readSheet(spark, p, 9, 1))
  }

  test("omitted interior empty rows surface as all-null rows at the right index") {
    // Excel commonly drops an empty row from the XML entirely; openpyxl's
    // iter_rows still yields it as all-None, and the sheet compiler's
    // stop-at-first-empty-row cutoff must see it. Row 2 is absent here.
    val f = File.createTempFile("graft-gap", ".xlsx")
    val zip = new ZipOutputStream(new FileOutputStream(f))
    def put(name: String, content: String): Unit = {
      zip.putNextEntry(new ZipEntry(name)); zip.write(content.getBytes("UTF-8")); zip.closeEntry()
    }
    put("xl/worksheets/sheet1.xml",
      """<?xml version="1.0"?><worksheet><sheetData>""" +
        """<row r="1"><c r="A1"><v>1</v></c></row>""" +
        """<row r="3"><c r="A3"><v>3</v></c></row>""" +
        """</sheetData></worksheet>""")
    zip.close()
    val rows = XlsxSource.readSheet(spark, f.getAbsolutePath, 0, 2).orderBy("row_idx").collect()
    assert(rows.length == 3)
    assert(rows(0).getString(0) == "1")
    assert(rows(1).getString(0) == null && rows(1).getString(1) == null) // the gap row
    assert(rows(2).getString(0) == "3")
  }

  // —— readSheets: one parse, one local relation, rows tagged by sheet ——

  private def twoSheets() = graft.XlsxFixture.write(Map(
    0 -> Seq(Seq("a0", "x"), Seq(null, null), Seq("a2", null)), // row 2 absent from the XML
    3 -> Seq(Seq("b0", "y"), Seq("b1", "z"), Seq(null, null), Seq(null, null), Seq("b4", "w"))))

  test("readSheets: rows tagged with their sheet, row_idx restarts per sheet, gaps kept per sheet") {
    val df = XlsxSource.readSheets(spark, twoSheets(), Seq(3, 0), 2)
    assert(df.columns.toSeq == Seq("sheet", "c0", "c1", "row_idx"))
    val rows = df.collect().map(r => (r.getInt(0), r.getLong(3), Option(r.getString(1)))).toSeq.sortBy(r => (r._1, r._2))
    assert(rows == Seq(
      (0, 0L, Some("a0")), (0, 1L, None), (0, 2L, Some("a2")),
      (3, 0L, Some("b0")), (3, 1L, Some("b1")), (3, 2L, None), (3, 3L, None), (3, 4L, Some("b4"))))
  }

  test("readSheets: a missing sheet index throws") {
    intercept[IllegalArgumentException](XlsxSource.readSheets(spark, twoSheets(), Seq(0, 1), 2))
  }

  test("readSheets: the plan's leaf is a LocalRelation") {
    val leaves = XlsxSource.readSheets(spark, twoSheets(), Seq(0, 3), 2).queryExecution.analyzed.collectLeaves()
    assert(leaves.size == 1 && leaves.head.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
  }

  test("column reference decoding") {
    assert(XlsxSource.colIndex("A1") == 0)
    assert(XlsxSource.colIndex("Z9") == 25)
    assert(XlsxSource.colIndex("AA3") == 26)
    assert(XlsxSource.colIndex("BC12") == 54)
  }
}
