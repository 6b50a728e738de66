package graft.ops

import graft.{SparkSpec, XlsxFixture}
import graft.sources.XlsxSource
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class CypherCompilerSpec extends SparkSpec {
  import spark.implicits._

  // —— R3: concept statements ——

  private def concepts(rows: (Long, String, String, String, String, String)*): DataFrame =
    rows.toDF("id", "name", "semantic_type", "cui", "search_type", "property_concept")

  test("concept statement: full row renders every optional prop (main.py:52-78)") {
    val got = CypherCompiler
      .conceptStatements(concepts((191083L, "Malignant (Lung) Neoplasm", "Neoplasm", "C0242379", "exact", "pc-1")))
      .as[String].collect().head
    assert(got ==
      "MERGE (m191083:Concept {name:'Malignant Lung Neoplasm'}) ON CREATE SET m191083.id=191083" +
        ", m191083.semantic_type='Neoplasm', m191083.cui='C0242379'" +
        ", m191083.search_type='exact', m191083.property_concept='pc1'")
  }

  test("concept statement: null/empty optionals are omitted (truthiness guard, main.py:64-77)") {
    val got = CypherCompiler
      .conceptStatements(concepts((7L, "N", null, "", null, null)))
      .as[String].collect().head
    assert(got == "MERGE (m7:Concept {name:'N'}) ON CREATE SET m7.id=7")
  }

  test("concept statement: semantic_type raw, cui sanitized (reference asymmetry)") {
    val got = CypherCompiler
      .conceptStatements(concepts((1L, "N", "Has-Hyphen", "C-1", null, null)))
      .as[String].collect().head
    assert(got.contains(".semantic_type='Has-Hyphen'") && got.contains(".cui='C1'"))
  }

  test("conceptNodes: keyed by sanitized name, first writer wins") {
    val df = concepts(
      (1L, "Same. Name", "a", null, null, null),
      (2L, "Same Name", "b", null, null, null)) // sanitizes to identical key
    val withIdx = GraphTable.withRowIndex(df)
    val out = CypherCompiler.conceptNodes(withIdx, "row_idx")
      .as[(String, String, Map[String, String])].collect().toSeq
    assert(out == Seq(("Concept", "Same Name", Map("id" -> "1", "semantic_type" -> "a"))))
  }

  // —— R4: hierarchy statements ——

  test("hierarchy statement shape (main.py:81-93), duplicates preserved") {
    val h = Seq((181724L, 191083L), (181724L, 191083L)).toDF("child_id", "parent_id")
    val got = CypherCompiler.hierarchyStatements(h).as[String].collect().toSeq
    assert(got.size == 2 && got.head ==
      "MATCH (m191083 {id: 191083}) MATCH (m181724 {id: 181724}) CREATE (m191083)-[:PARENT_OF]->(m181724)")
  }

  // —— R5: sheet pipeline ——

  private val treats = SheetMapping.referenceConfig(5) // MedicationAPI -TREATS-> NeoplasmType

  /** Sheet fixture: header + rows, positional columns c0..c3 + row_idx,
    * as sheet 0 of a workbook. */
  private def sheet(rows: (String, String, String, String)*): DataFrame =
    GraphTable.withRowIndex(rows.toDF("c0", "c1", "c2", "c3")).withColumn("sheet", lit(0))

  private def only(m: SheetMapping) = Map(0 -> m)

  test("sheet: header skipped, basic triple-MERGE emitted (main.py:287-300)") {
    val s = sheet(
      ("Medication: API", "id", "Neoplasm Type", "id"),
      ("Atezolizumab", "API4821", "Malignant Bladder Neoplasm", "NT54"))
    val got = CypherCompiler.sheetStatements(s, only(treats)).as[String].collect().toSeq
    assert(got == Seq(
      "MERGE (a:MedicationAPI {id: 'API4821'}) ON CREATE SET a.name = 'Atezolizumab', a.type = 'MedicationAPI'  " +
        "MERGE (b:NeoplasmType {id: 'NT54'}) ON CREATE SET b.name = 'Malignant Bladder Neoplasm', b.type = 'NeoplasmType' " +
        "MERGE (a)-[:TREATS]->(b)"))
  }

  test("sheet: scan stops at first empty key cell (main.py:285-286)") {
    val s = sheet(
      ("h", "h", "h", "h"),
      ("A", "1", "X", "2"),
      (null, "9", "Y", "3"), // terminator
      ("B", "4", "Z", "5"))  // after terminator — must not appear
    assert(CypherCompiler.sheetRows(s, only(treats)).count() == 1)
  }

  test("sheet: null node2 id rows dropped; null node1 id becomes literal 'None' (main.py:294; sheet4:1432)") {
    val s = sheet(
      ("h", "h", "h", "h"),
      ("KeepNoneId", null, "X", "NT1"),
      ("Dropped", "API1", "Y", null))
    val rows = CypherCompiler.sheetRows(s, only(treats)).collect()
    assert(rows.length == 1 && rows.head.getAs[String]("id1") == "None")
  }

  test("sheet: trailing-space label is preserved verbatim (main.py:243-263)") {
    val memberOf = SheetMapping.referenceConfig(18) // MedicationClass with trailing space
    val s = sheet(("h", "h", "h", "h"), ("Dornase alfa", "API2", "Expectorants", "TU3"))
    val got = CypherCompiler.sheetStatements(s, only(memberOf)).as[String].collect().head
    assert(got.contains("MERGE (b:MedicationClass  {id: 'TU3'})") &&
      got.contains("b.type = 'MedicationClass '"))
  }

  test("sheetGraph: nodes deduped by (label,id), edges by (src,dst,rel) — MERGE collapse") {
    val s = sheet(
      ("h", "h", "h", "h"),
      ("Atezolizumab", "API4821", "Bladder", "NT54"),
      ("Atezolizumab", "API4821", "Bladder", "NT54"), // exact dup statement (1,793 in sheet4)
      ("Atezolizumab", "API4821", "Prostate", "NT49"))
    val (nodes, edges) = CypherCompiler.sheetGraph(s, only(treats))
    assert(nodes.count() == 3) // API4821, NT54, NT49
    assert(edges.count() == 2)
  }

  test("sheet2-style asymmetric column mapping reads node2 from (8,6)") {
    val m = SheetMapping.referenceConfig(2)
    val wide = GraphTable.withRowIndex(
      Seq(
        ("h", "h", "h", "h", "h", "h", "h", "h", "h"),
        ("Lobectomy", "SE1", "x", "x", "x", "x", "OT9", "x", "Survival"))
        .toDF("c0", "c1", "c2", "c3", "c4", "c5", "c6", "c7", "c8")).withColumn("sheet", lit(2))
    val r = CypherCompiler.sheetRows(wide, Map(2 -> m)).collect().head
    assert(r.getAs[String]("id1") == "SE1" && r.getAs[String]("value1") == "Lobectomy")
    assert(r.getAs[String]("id2") == "OT9" && r.getAs[String]("value2") == "Survival")
  }

  // —— R5 across sheets: one plan, rules still per sheet ——

  private def nodeRows(df: DataFrame) =
    df.as[(String, String, Map[String, String])].collect().toSeq.sortBy(_.toString)
  private def edgeRows(df: DataFrame) =
    df.as[(String, String, String, String, String)].collect().toSeq.sortBy(_.toString)

  test("multi-sheet sheetGraph equals the union of one-sheet calls") {
    val path = XlsxFixture.write(XlsxFixture.multiSheet)
    val mappings = XlsxFixture.multiSheetMappings
    val (nodes, edges) = CypherCompiler.sheetGraph(
      XlsxSource.readSheets(spark, path, Seq(0, 1, 2), 9), mappings)
    val single = mappings.toSeq.map { case (i, m) =>
      CypherCompiler.sheetGraph(XlsxSource.readSheets(spark, path, Seq(i), 9), Map(i -> m))
    }
    assert(nodeRows(nodes) == nodeRows(single.map(_._1).reduce(_ unionByName _)))
    assert(edgeRows(edges) == edgeRows(single.map(_._2).reduce(_ unionByName _)))

    // and those per-sheet semantics, spelled out
    val n = nodeRows(nodes)
    assert(n.size == 10)
    assert(n.count(r => r._1 == "MedicationAPI" && r._2 == "API1") == 2) // one per sheet
    assert(n.contains(("SurgicalExtent ", "SE1", Map("name" -> "Lobectomy", "type" -> "SurgicalExtent "))))
    assert(n.contains(("OutcomeType", "OT1", Map("name" -> "Survival", "type" -> "OutcomeType"))))
    assert(n.contains(("SurgicalExtent ", "None", Map("name" -> "Wedge", "type" -> "SurgicalExtent "))))
    assert(n.contains(("MedicationAPI", "None", Map("name" -> "Nivolumab", "type" -> "MedicationAPI"))))
    assert(!n.exists(r => Set("API2", "API9", "NT9", "API3", "NT3")(r._2))) // null node2 id, cutoff, after cutoff
    val e = edgeRows(edges)
    assert(e.size == 6 && e.distinct.size == 5)
    assert(e.count(_ == (("MedicationAPI", "API1", "NeoplasmType", "NT1", "TREATS"))) == 2)
    assert(e.contains(("SurgicalExtent ", "SE1", "OutcomeType", "OT1", "ASSOCIATED_WITH")))
  }

  test("multi-sheet statements come out in (sheet, row) order") {
    val path = XlsxFixture.write(XlsxFixture.multiSheet)
    val got = CypherCompiler
      .sheetStatements(XlsxSource.readSheets(spark, path, Seq(0, 1, 2), 9),
        XlsxFixture.multiSheetMappings)
      .as[String].collect().toSeq
    val ids = got.map(_.split("\\{id: '")(1).takeWhile(_ != '\''))
    assert(ids == Seq("SE1", "SE1", "None", "API1", "API1", "API1", "None"))
    assert(got.head.startsWith("MERGE (a:SurgicalExtent  {id: 'SE1'})") &&
      got.head.endsWith("b.type = 'OutcomeType' MERGE (a)-[:ASSOCIATED_WITH]->(b)"))
  }

  test("sheetRows rejects a mapping that reads past the sheet's columns") {
    intercept[IllegalArgumentException](
      CypherCompiler.sheetRows(sheet(("h", "h", "h", "h")), only(SheetMapping.referenceConfig(2))))
  }
}
