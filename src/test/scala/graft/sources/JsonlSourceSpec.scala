package graft.sources

import graft.SparkSpec
import java.nio.file.Files

class JsonlSourceSpec extends SparkSpec {

  private def tmp(content: String, suffix: String = ".json"): String = {
    val f = Files.createTempFile("graft-jsonl", suffix)
    Files.writeString(f, content)
    f.toString
  }

  test("concepts: schema-pinned JSONL with optional fields (FIXTURES.md A1)") {
    val p = tmp(
      """{"id": 191083, "name": "Malignant Lung Neoplasm", "semantic_type": "Neoplasm", "cui": "C0242379", "search_type": "exact", "description": null, "property_concept": null}
        |{"id": 181724, "name": "Benign Thing"}""".stripMargin)
    val df = JsonlSource.concepts(spark, p)
    assert(df.count() == 2)
    val r = df.orderBy("id").collect()
    assert(r(0).getAs[String]("name") == "Benign Thing" && r(0).getAs[String]("cui") == null)
    assert(r(1).getAs[String]("cui") == "C0242379")
  }

  test("hierarchy rows (FIXTURES.md A2)") {
    val p = tmp("""{"child_id": 181724, "parent_id": 191083}""")
    val r = JsonlSource.hierarchy(spark, p).collect()(0)
    assert(r.getLong(0) == 181724L && r.getLong(1) == 191083L)
  }

  test("idMapping: whole-file JSON object becomes a joinable two-column table (main.py:335-336)") {
    val p = tmp("""{"191083": 900001, "181724": 900002}""")
    val out = JsonlSource.idMapping(spark, p).orderBy("concept_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out == Seq((181724L, 900002L), (191083L, 900001L)))
  }

  private def pairs(p: String) =
    JsonlSource.idMapping(spark, p).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  test("idMapping: a pretty-printed multi-line object and numbers or strings as values") {
    val p = tmp(
      """{
        |  "191083": 900001,
        |  "181724": "900002"
        |}
        |""".stripMargin)
    assert(pairs(p) == Seq((181724L, 900002L), (191083L, 900001L)))
  }

  test("idMapping: an empty object gives no rows") {
    assert(pairs(tmp("{}")).isEmpty)
  }

  test("idMapping: a 25,000-entry mapping is read without one field per entry") {
    val p = tmp((1 to 25000).map(i => s""""$i": ${1000000 + i}""").mkString("{", ", ", "}"))
    val df = JsonlSource.idMapping(spark, p)
    assert(df.queryExecution.analyzed.collectLeaves().map(_.output.size).max == 1)
    val agg = df.agg(org.apache.spark.sql.functions.count("*"), org.apache.spark.sql.functions.sum("entity_id")).head()
    assert(agg.getLong(0) == 25000L && agg.getLong(1) == (1 to 25000).map(1000000L + _).sum)
  }
}
