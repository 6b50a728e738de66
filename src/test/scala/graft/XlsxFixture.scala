package graft

import graft.ops.{NodeSpec, SheetMapping}
import java.io.{File, FileOutputStream}
import java.util.zip.{ZipEntry, ZipOutputStream}

/** Hand-built .xlsx workbooks for specs (xlsx = zip of OOXML parts). Cells
  * are shared strings, as Excel writes them; a null cell is left out, and a
  * row of nulls is left out of the XML entirely, as Excel does with empty
  * rows. */
object XlsxFixture {

  /** Writes `sheets` (0-based sheet index → rows of cells) to a temp file. */
  def write(sheets: Map[Int, Seq[Seq[String]]]): String = {
    val strings = sheets.values.flatten.flatten.filter(_ != null).toSeq.distinct
    val sst = strings.zipWithIndex.toMap
    def esc(s: String) = s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    def colName(c: Int): String = if (c < 26) ('A' + c).toChar.toString else colName(c / 26 - 1) + colName(c % 26)
    val f = File.createTempFile("graft-fixture", ".xlsx")
    val zip = new ZipOutputStream(new FileOutputStream(f))
    def put(name: String, content: String): Unit = {
      zip.putNextEntry(new ZipEntry(name)); zip.write(content.getBytes("UTF-8")); zip.closeEntry()
    }
    try {
      put("xl/sharedStrings.xml",
        strings.map(s => s"""<si><t xml:space="preserve">${esc(s)}</t></si>""").mkString("<sst>", "", "</sst>"))
      sheets.foreach { case (i, rows) =>
        val xml = rows.zipWithIndex.collect { case (cells, r) if cells.exists(_ != null) =>
          cells.zipWithIndex.collect { case (v, c) if v != null =>
            s"""<c r="${colName(c)}${r + 1}" t="s"><v>${sst(v)}</v></c>"""
          }.mkString(s"""<row r="${r + 1}">""", "", "</row>")
        }
        put(s"xl/worksheets/sheet${i + 1}.xml", xml.mkString("<worksheet><sheetData>", "", "</sheetData></worksheet>"))
      }
    } finally zip.close()
    f.getAbsolutePath
  }

  private val treats = SheetMapping.referenceConfig(5) // MedicationAPI -TREATS-> NeoplasmType

  /** Three sheets covering the cross-sheet R5 cases:
    *  - sheet 0: sheet 2's (8,6) column layout, with node1 relabelled to the
    *    trailing-space "SurgicalExtent " label; a null node1 id;
    *  - sheets 1 and 2: sheet 5's mapping, so MedicationAPI 'API1' and the
    *    edge API1 -TREATS-> NT1 appear on both;
    *  - sheet 1 only: a null node2 id and a first-empty-cell cutoff row
    *    followed by a row that must not appear; sheet 2: a null node1 id.
    * Per-sheet MERGE semantics give 4 + 3 + 3 = 10 nodes and 2 + 2 + 2 = 6
    * edges, of which 5 are distinct across sheets. */
  val multiSheetMappings: Map[Int, SheetMapping] = Map(
    0 -> SheetMapping.referenceConfig(2).copy(node1 = NodeSpec("SurgicalExtent ", "Surgical Extent", 0, 1)),
    1 -> treats,
    2 -> treats)

  val multiSheet: Map[Int, Seq[Seq[String]]] = Map(
    0 -> Seq(
      Seq.fill(9)("h"),
      Seq("Lobectomy", "SE1", null, null, null, null, "OT1", null, "Survival"),
      Seq("Lobectomy", "SE1", null, null, null, null, "OT1", null, "Survival"),
      Seq("Wedge", null, null, null, null, null, "OT2", null, "Recurrence")),
    1 -> Seq(
      Seq("h", "h", "h", "h"),
      Seq("Atezolizumab", "API1", "Bladder", "NT1"),
      Seq("Atezolizumab", "API1", "Lung", "NT2"),
      Seq("Dropped", "API2", "Prostate", null),
      Seq(null, "API9", "Skin", "NT9"), // cutoff
      Seq("After", "API3", "Liver", "NT3")),
    2 -> Seq(
      Seq("h", "h", "h", "h"),
      Seq("Atezolizumab", "API1", "Bladder", "NT1"),
      Seq("Nivolumab", null, "Bladder", "NT1")))

  /** Every sheet of [[SheetMapping.referenceConfig]] (16), a header and three
    * rows each, at the reference's column positions. */
  def referenceSheets: Map[Int, Seq[Seq[String]]] = {
    val nCols = SheetMapping.referenceConfig.values
      .flatMap(m => Seq(m.node1.valueCol, m.node1.idCol, m.node2.valueCol, m.node2.idCol)).max + 1
    SheetMapping.referenceConfig.map { case (i, m) =>
      val rows = (1 to 3).map { r =>
        val cells = Array.fill[String](nCols)(s"x$r")
        cells(m.node1.valueCol) = s"n1-$i-$r"; cells(m.node1.idCol) = s"A$r"
        cells(m.node2.valueCol) = s"n2-$i-$r"; cells(m.node2.idCol) = s"B${r % 2}"
        cells.toSeq
      }
      i -> (Seq.fill(nCols)("h") +: rows)
    }
  }
}
