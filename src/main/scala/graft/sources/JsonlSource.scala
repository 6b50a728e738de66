package graft.sources

import graft.model.Schemas
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, explode, from_json}
import org.apache.spark.sql.types.{MapType, StringType}

/** Schema-pinned JSONL readers for the reference-shaped inputs (FIXTURES.md
  * §A). `spark.read.json` with an explicit StructType subsumes the
  * reference's line-loop + json.loads (R1/R3 ingest, /root/reference/
  * main.py:33-42,54-59): schema is enforced instead of inferred, corrupt
  * lines land in `_corrupt_record` instead of throwing mid-loop, and the
  * scan parallelizes by line ranges.
  */
object JsonlSource {

  def concepts(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(Schemas.concept).json(path)

  def hierarchy(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(Schemas.conceptHierarchy).json(path)

  def propertyTypes(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(Schemas.propertyTypes).json(path)

  /** The reference's concept_id_mapping is one whole-file JSON object used
    * as a dict (main.py:335-336). Relationally: explode the object into a
    * two-column table — joinable and broadcastable instead of driver-bound.
    * The file is read as one text value and parsed straight into a
    * map<string,string>: no schema inference (which would make one struct
    * field per entry), and numbers come through as their JSON text. */
  def idMapping(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("wholetext", true)
      .text(path)
      .select(explode(from_json(col("value"), MapType(StringType, StringType))))
      .select(
        col("key").cast("long").as("concept_id"),
        col("value").cast("long").as("entity_id"))
}
