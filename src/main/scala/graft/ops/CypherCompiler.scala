package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Sanitize.sanitize

/** Compilers from record DataFrames to Cypher upsert scripts — the three
  * statement shapes the reference emits (SURVEY.md §2.2). All are pure
  * column-expression pipelines (concat templates), so compilation is
  * distributed and codegen'd; `df.write.text` materializes the script.
  *
  * Variable naming: the reference uses `m<id>` (concepts) and random 16-char
  * names (sheets, /root/reference/main.py:290-291). Random names make output
  * nondeterministic, so the sheet compiler emits canonical `a`/`b` variables;
  * golden comparisons are on canonicalized tuples either way (SURVEY.md §5.2).
  */
object CypherCompiler {

  private def q(c: Column): Column = concat(lit("'"), c, lit("'"))

  /** R3 (main.py:52-78): concept JSONL → `MERGE (m<id>:Concept {name:'<sanitized>'})
    * ON CREATE SET m<id>.id=<id>[, optional props…]`. Optional fields are
    * emitted only when truthy after their reference-matching transform
    * (semantic_type raw; cui/search_type/property_concept sanitized). */
  def conceptStatements(concepts: DataFrame): DataFrame = {
    val v = concat(lit("m"), col("id").cast("string"))
    def opt(field: String, value: Column): Column = {
      val s = value
      when(s.isNotNull && s =!= "", concat(lit(", "), v, lit(s".$field='"), s, lit("'")))
        .otherwise(lit(""))
    }
    concepts.select(
      concat(
        lit("MERGE ("), v, lit(":Concept {name:'"), sanitize(col("name")), lit("'}) ON CREATE SET "),
        v, lit(".id="), col("id").cast("string"),
        opt("semantic_type", col("semantic_type")),
        opt("cui", sanitize(col("cui"))),
        opt("search_type", sanitize(col("search_type"))),
        opt("property_concept", sanitize(col("property_concept")))
      ).as("value"))
  }

  /** R3 structured form: concept records → graph nodes keyed by sanitized
    * name with first-writer-wins dedup (MERGE keyed on name, main.py:62). */
  def conceptNodes(concepts: DataFrame, orderCol: String): DataFrame = {
    val projected = concepts.select(
      lit("Concept").as("label"),
      sanitize(col("name")).as("key"),
      map_filter(
        map(
          lit("id"), col("id").cast("string"),
          lit("semantic_type"), col("semantic_type"),
          lit("cui"), sanitize(col("cui")),
          lit("search_type"), sanitize(col("search_type")),
          lit("property_concept"), sanitize(col("property_concept"))),
        (_, v) => v.isNotNull && v =!= "").as("props"),
      col(orderCol))
    GraphTable.firstWriterWins(projected, Seq("label", "key"), orderCol).drop(orderCol)
  }

  /** R4 (main.py:81-93): hierarchy JSONL → `MATCH (m<p> {id: <p>}) MATCH
    * (m<c> {id: <c>}) CREATE (m<p>)-[:PARENT_OF]->(m<c>)`. CREATE semantics:
    * duplicates preserved, no label on the match. */
  def hierarchyStatements(hierarchy: DataFrame): DataFrame = {
    val p = col("parent_id").cast("string")
    val c = col("child_id").cast("string")
    hierarchy.select(
      concat(
        lit("MATCH (m"), p, lit(" {id: "), p, lit("}) MATCH (m"), c, lit(" {id: "), c,
        lit("}) CREATE (m"), p, lit(")-[:PARENT_OF]->(m"), c, lit(")")).as("value"))
  }

  /** R5 row pipeline (main.py:278-301) over a whole workbook at once: the
    * sheets DataFrame carries a `sheet` index, positional string columns
    * `c0, c1, …` and the per-sheet `row_idx` order column
    * ([[graft.sources.XlsxSource.readSheets]]); `mappings` is keyed by that
    * index and sheets without a mapping are ignored. Per sheet:
    *  1. terminate at the first row whose first cell is null (scan-stop
    *     semantic, main.py:285-286 — implemented as a computed cutoff, the
    *     parallel-safe equivalent);
    *  2. skip the header row (row_idx 0);
    *  3. drop rows with a null node2 id (main.py:294-295);
    *  4. node1 null id becomes the literal 'None' (faithful to main.py:294's
    *     one-sided guard; see relationships_sheet4.cypher:1432).
    * Each sheet's columns, labels and relation are picked in one projection
    * by map-literal lookups on `sheet`, so the plan has the same shape for
    * one sheet or sixteen. Output: (sheet, row_idx, label1, id1, value1,
    * label2, id2, value2, rel).
    */
  def sheetRows(sheets: DataFrame, mappings: Map[Int, SheetMapping]): DataFrame = {
    val nCols = sheets.columns.count(_.matches("c\\d+"))
    for ((i, m) <- mappings; c <- Seq(m.node1.valueCol, m.node1.idCol, m.node2.valueCol, m.node2.idCol))
      require(c < nCols, s"sheet $i maps column $c, but the sheets have $nCols columns")
    val sheet = col("sheet")
    val cells = array((0 until nCols).map(i => col(s"c$i").cast("string")): _*)
    def cell(f: SheetMapping => Int): Column =
      element_at(cells, element_at(typedLit(mappings.map { case (i, m) => i -> (f(m) + 1) }), sheet))
    def conf(f: SheetMapping => String): Column =
      element_at(typedLit(mappings.map { case (i, m) => i -> f(m) }), sheet)
    val cut = min(when(col("c0").isNull, col("row_idx"))).over(Window.partitionBy(sheet))
    sheets
      .filter(sheet.isin(mappings.keys.toSeq: _*))
      .withColumn("cut", cut)
      .filter((col("cut").isNull || col("row_idx") < col("cut")) && col("row_idx") > 0)
      .select(
        sheet,
        col("row_idx"),
        conf(_.node1.label).as("label1"),
        coalesce(cell(_.node1.idCol), lit("None")).as("id1"),
        cell(_.node1.valueCol).as("value1"),
        conf(_.node2.label).as("label2"),
        cell(_.node2.idCol).as("id2"),
        cell(_.node2.valueCol).as("value2"),
        conf(_.relType).as("rel"))
      .filter(col("id2").isNotNull)
  }

  /** R5 statement emission: triple-MERGE with canonical variable names, in
    * (sheet, row) order — the order the reference's scripts run in, which
    * decides which `ON CREATE SET` wins. */
  def sheetStatements(sheets: DataFrame, mappings: Map[Int, SheetMapping]): DataFrame =
    sheetRows(sheets, mappings).orderBy("sheet", "row_idx").select(
      concat(
        lit("MERGE (a:"), col("label1"), lit(" {id: "), q(col("id1")),
        lit("}) ON CREATE SET a.name = "), q(col("value1")),
        lit(", a.type = '"), col("label1"), lit("'  MERGE (b:"), col("label2"), lit(" {id: "), q(col("id2")),
        lit("}) ON CREATE SET b.name = "), q(col("value2")),
        lit(", b.type = '"), col("label2"), lit("' MERGE (a)-[:"), col("rel"), lit("]->(b)")).as("value"))

  /** R5 structured form: (nodes, edges) with MERGE dedup keys — nodes by
    * (label, id), edges by (src, dst, rel) (SURVEY.md §2.1 R5) — applied per
    * sheet, as the reference runs one script per sheet. Within a row node1
    * is merged before node2, so it wins a (label, id) tie. */
  def sheetGraph(sheets: DataFrame, mappings: Map[Int, SheetMapping]): (DataFrame, DataFrame) = {
    val rows = sheetRows(sheets, mappings)
    def node(label: String, id: String, value: String): Column =
      struct(col(label).as("label"), col(id).as("key"),
        map(lit("name"), col(value), lit("type"), col(label)).as("props"))
    val nodes = rows
      .select(col("sheet"), col("row_idx"),
        posexplode(array(node("label1", "id1", "value1"), node("label2", "id2", "value2"))))
      .select(col("sheet"), (col("row_idx") * 2 + col("pos")).as("ord"), col("col.*"))
    val edges = rows
      .select(
        col("sheet"),
        col("label1").as("src_label"), col("id1").as("src"),
        col("label2").as("dst_label"), col("id2").as("dst"),
        col("rel"))
      .dropDuplicates("sheet", "src_label", "src", "dst_label", "dst", "rel")
      .drop("sheet")
    (GraphTable.firstWriterWins(nodes, Seq("sheet", "label", "key"), "ord").drop("sheet", "ord"), edges)
  }
}
