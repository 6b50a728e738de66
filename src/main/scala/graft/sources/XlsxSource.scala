package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
import java.util.zip.ZipFile
import javax.xml.stream.{XMLInputFactory, XMLStreamConstants}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Minimal driver-side .xlsx reader (no external deps — xlsx is a zip of
  * OOXML parts, parsed here with JDK StAX). Replaces the reference's
  * openpyxl whole-workbook load (/root/reference/main.py:278-283).
  *
  * Driver-side by design: relationship sheets are ≤ thousands of rows
  * (SURVEY.md §4.2.1); the 100 TB scale path applies to JSONL/Parquet
  * sources, not workbook config data. One call parses the workbook once:
  * the zip is opened and `sharedStrings.xml` read a single time however
  * many sheets are asked for, and the rows come back as one local relation
  * (a `LocalRelation`, no RDD and no job to scan it). Columns: the `sheet`
  * index, positional string columns c0..c{n-1}, and the per-sheet
  * `row_idx` ordering column the sheet compiler needs (header = row_idx 0).
  *
  * Supported cell types: shared strings (t="s"), inline/formula strings
  * (t="str", t="inlineStr"), booleans and numbers; absent cells are null.
  */
object XlsxSource {

  /** Sheets `sheetIndices` (0-based, workbook order) as one DataFrame with a
    * `sheet` column; throws IllegalArgumentException for a missing sheet. */
  def readSheets(spark: SparkSession, path: String, sheetIndices: Seq[Int], nCols: Int): DataFrame = {
    val schema = StructType(
      StructField("sheet", IntegerType, nullable = false) +:
        (0 until nCols).map(i => StructField(s"c$i", StringType, nullable = true)) :+
        StructField("row_idx", LongType, nullable = false))
    val data = parseSheets(path, sheetIndices).flatMap { case (sheet, rows) =>
      rows.zipWithIndex.map { case (cells, i) =>
        Row.fromSeq(sheet +: (0 until nCols).map(c => cells.lift(c).flatten.orNull) :+ i.toLong)
      }
    }
    spark.createDataFrame(data.asJava, schema)
  }

  def readSheet(spark: SparkSession, path: String, sheetIndex: Int, nCols: Int): DataFrame =
    readSheets(spark, path, Seq(sheetIndex), nCols).drop("sheet")

  /** All sheet part names, in workbook order (sheet1.xml, sheet2.xml, …). */
  def sheetCount(path: String): Int = {
    val zip = new ZipFile(path)
    try zip.stream().filter(e => e.getName.matches("xl/worksheets/sheet\\d+\\.xml")).count().toInt
    finally zip.close()
  }

  // —— OOXML parsing ——

  private type Rows = ArrayBuffer[ArrayBuffer[Option[String]]]

  private def parseSheets(path: String, sheetIndices: Seq[Int]): Seq[(Int, Rows)] = {
    val zip = new ZipFile(path)
    try {
      val shared = readSharedStrings(zip)
      sheetIndices.map { i =>
        val entry = Option(zip.getEntry(s"xl/worksheets/sheet${i + 1}.xml"))
          .getOrElse(throw new IllegalArgumentException(s"no sheet $i in $path"))
        i -> parseSheet(zip, entry, shared)
      }
    } finally zip.close()
  }

  private def parseSheet(zip: ZipFile, entry: java.util.zip.ZipEntry, shared: IndexedSeq[String]): Rows = {
    val reader = XMLInputFactory.newInstance().createXMLStreamReader(zip.getInputStream(entry))
    val rows: Rows = ArrayBuffer()
    var cur: ArrayBuffer[Option[String]] = null
    var curRowNum = -1
    var cellCol = -1
    var cellType = ""
    var inV = false
    var inIs = false
    val text = new StringBuilder
    while (reader.hasNext) {
      reader.next() match {
        case XMLStreamConstants.START_ELEMENT =>
          reader.getLocalName match {
            case "row" =>
              cur = ArrayBuffer[Option[String]]()
              // place by the row's r attribute, not element order: Excel
              // omits interior empty rows from the XML, but openpyxl's
              // iter_rows still yields them as all-None — and the sheet
              // compiler's stop-at-first-empty-row cutoff depends on
              // seeing that gap at the right index.
              curRowNum = Option(attr(reader, "r")).map(_.toInt - 1).getOrElse(-1)
            case "c" =>
              cellCol = colIndex(attr(reader, "r"))
              cellType = Option(attr(reader, "t")).getOrElse("")
            case "v" | "t" => inV = true; text.clear()
            case "is" => inIs = true
            case _ =>
          }
        case XMLStreamConstants.CHARACTERS if inV => text.append(reader.getText)
        case XMLStreamConstants.END_ELEMENT =>
          reader.getLocalName match {
            case "row" =>
              val target = if (curRowNum >= 0) curRowNum else rows.size
              while (rows.size < target) rows += ArrayBuffer[Option[String]]() // gap = all-None row
              if (target < rows.size) rows(target) = cur else rows += cur
              cur = null; curRowNum = -1
            case "v" | "t" =>
              if (inV && cur != null && cellCol >= 0 && (reader.getLocalName == "v" || inIs || cellType == "inlineStr")) {
                val raw = text.toString
                val value = cellType match {
                  case "s" => shared.lift(raw.toInt).getOrElse(raw)
                  case "b" => if (raw == "1") "True" else "False"
                  case _   => normalizeNumber(raw)
                }
                while (cur.size <= cellCol) cur += None
                cur(cellCol) = Some(value)
              }
              inV = false
            case "is" => inIs = false
            case _ =>
          }
        case _ =>
      }
    }
    reader.close()
    rows
  }

  private def readSharedStrings(zip: ZipFile): IndexedSeq[String] = {
    Option(zip.getEntry("xl/sharedStrings.xml")) match {
      case None => IndexedSeq.empty
      case Some(entry) =>
        val reader = XMLInputFactory.newInstance().createXMLStreamReader(zip.getInputStream(entry))
        val out = ArrayBuffer[String]()
        val cur = new StringBuilder
        var inT = false
        var depth = 0
        while (reader.hasNext) {
          reader.next() match {
            case XMLStreamConstants.START_ELEMENT =>
              reader.getLocalName match {
                case "si" => cur.clear(); depth += 1
                case "t"  => inT = true
                case _ =>
              }
            case XMLStreamConstants.CHARACTERS if inT => cur.append(reader.getText)
            case XMLStreamConstants.END_ELEMENT =>
              reader.getLocalName match {
                case "si" => out += cur.toString; depth -= 1
                case "t"  => inT = false
                case _ =>
              }
            case _ =>
          }
        }
        reader.close()
        out.toIndexedSeq
    }
  }

  /** "BC12" → 54 (0-based column index). */
  private[sources] def colIndex(ref: String): Int = {
    if (ref == null) return -1
    val letters = ref.takeWhile(_.isLetter)
    letters.foldLeft(0)((acc, ch) => acc * 26 + (ch - 'A' + 1)) - 1
  }

  /** openpyxl renders integral floats as ints; match that so ids like 42
    * don't become "42.0" (the reference templates raw cell values). */
  private def normalizeNumber(raw: String): String =
    if (raw.matches("-?\\d+\\.0+")) raw.substring(0, raw.indexOf('.')) else raw

  private def attr(reader: javax.xml.stream.XMLStreamReader, name: String): String = {
    var i = 0
    while (i < reader.getAttributeCount) {
      if (reader.getAttributeLocalName(i) == name) return reader.getAttributeValue(i)
      i += 1
    }
    null
  }
}
