package graft.engine

import graft.{SparkSpec, XlsxFixture}
import graft.ops.{Enrichment, SheetMapping}
import org.apache.spark.sql.functions._
import java.io.{File, FileOutputStream}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.commons.io.FileUtils
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import java.nio.file.Files
import java.util.zip.{ZipEntry, ZipOutputStream}
import scala.jdk.CollectionConverters._

object ReferencePipelineSpec {
  object Client extends Enrichment.PropertyTypeClient {
    def fetch(id: Long): Seq[String] =
      if (id % 2 == 0) Seq("Disease:x", "Disease:y", "Demo:z") else Seq.empty
  }
  val sent = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int)]()
}

class ReferencePipelineSpec extends SparkSpec {

  private def writeFixtures(dir: String): ReferencePipeline.Inputs = {
    Files.writeString(java.nio.file.Paths.get(s"$dir/concepts.json"),
      """{"id": 1, "name": "Lung (Neoplasm)", "semantic_type": "Neoplasm", "cui": "C1"}
        |{"id": 2, "name": "Thing"}
        |{"id": 3, "name": "Lung Neoplasm"}""".stripMargin) // sanitizes to same key as id 1
    Files.writeString(java.nio.file.Paths.get(s"$dir/hierarchy.json"),
      """{"child_id": 2, "parent_id": 1}
        |{"child_id": 2, "parent_id": 1}""".stripMargin) // duplicate CREATE edges kept
    Files.writeString(java.nio.file.Paths.get(s"$dir/id_mapping.json"), """{"1": 900, "99": 901}""")
    val xlsx = new File(dir, "rel.xlsx")
    val zip = new ZipOutputStream(new FileOutputStream(xlsx))
    def put(n: String, c: String) = { zip.putNextEntry(new ZipEntry(n)); zip.write(c.getBytes); zip.closeEntry() }
    put("xl/sharedStrings.xml",
      "<sst><si><t>h</t></si><si><t>Atezolizumab</t></si><si><t>Bladder</t></si><si><t>Lung</t></si></sst>")
    put("xl/worksheets/sheet1.xml",
      """<worksheet><sheetData>""" +
        """<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>0</v></c><c r="C1" t="s"><v>0</v></c><c r="D1" t="s"><v>0</v></c></row>""" +
        """<row r="2"><c r="A2" t="s"><v>1</v></c><c r="B2"><v>10</v></c><c r="C2" t="s"><v>2</v></c><c r="D2"><v>20</v></c></row>""" +
        """<row r="3"><c r="A3" t="s"><v>1</v></c><c r="B3"><v>10</v></c><c r="C3" t="s"><v>3</v></c><c r="D3"><v>21</v></c></row>""" +
        """</sheetData></worksheet>""")
    zip.close()
    ReferencePipeline.Inputs(
      conceptsPath = s"$dir/concepts.json",
      hierarchyPath = s"$dir/hierarchy.json",
      workbookPath = xlsx.getAbsolutePath,
      sheets = Map(0 -> SheetMapping.referenceConfig(5)), // MedicationAPI -TREATS-> NeoplasmType
      idMappingPath = s"$dir/id_mapping.json",
      enrichmentClient = () => ReferencePipelineSpec.Client)
  }

  test("the full reference DAG runs end-to-end and resumes for free") {
    val dir = Files.createTempDirectory("graft-refpipe").toString
    val in = writeFixtures(dir)
    val outs = ReferencePipeline.build(spark, in, s"$dir/ckpt").run()

    // concepts: 3 rows, name-dedup collapses id 1 and 3 (first wins)
    assert(outs("concept_nodes").count() == 2)
    // graph nodes: 2 concepts + 1 MedicationAPI + 2 NeoplasmType
    assert(outs("graph_nodes").count() == 5)
    // edges: 2 duplicate PARENT_OF (CREATE keeps) + 2 distinct TREATS
    assert(outs("graph_edges").count() == 4)
    assert(outs("graph_edges").filter(col("rel") === "PARENT_OF").count() == 2)
    // entity id landed on the concept whose props.id = 1
    val withEntity = outs("entity_ids")
      .filter(element_at(col("props"), "entity_id") === "900")
    assert(withEntity.count() == 1)
    assert(withEntity.select("props").first.getMap[String, String](0).get("id").contains("1"))
    // enrichment: ids 1,2,3 → even id gets prefixes, odd ids empty
    val enr = outs("enriched").collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(enr(2L) == Seq("Disease", "Demo") && enr(1L).isEmpty)

    // resume: a second run rebuilds nothing (all stages checkpointed)
    val again = ReferencePipeline.build(spark, in, s"$dir/ckpt").run()
    assert(again("graph_nodes").count() == 5)

    // terminal load: batched, ledgered, resumable — second load is a no-op
    val g = graft.ops.GraphTable(outs("graph_nodes"), outs("graph_edges"))
    ReferencePipelineSpec.sent.clear()
    val (nb, eb) = ReferencePipeline.load(g, batchSize = 2,
      (id, batch) => ReferencePipelineSpec.sent.add(id.toString -> batch.size), s"$dir/ledger")
    assert(nb + eb > 0)
    val delivered = ReferencePipelineSpec.sent.asScala.map(_._2).sum
    assert(delivered == 5 + 4) // every node and edge delivered exactly once
    ReferencePipelineSpec.sent.clear()
    val (nb2, eb2) = ReferencePipeline.load(g, batchSize = 2,
      (id, batch) => ReferencePipelineSpec.sent.add(id.toString -> batch.size), s"$dir/ledger")
    assert(nb2 == 0 && eb2 == 0 && ReferencePipelineSpec.sent.isEmpty)
  }

  test("sheet stages keep per-sheet MERGE semantics across a multi-sheet workbook") {
    val dir = Files.createTempDirectory("graft-refpipe-sheets").toString
    val in = writeFixtures(dir).copy(
      workbookPath = XlsxFixture.write(XlsxFixture.multiSheet),
      sheets = XlsxFixture.multiSheetMappings)
    val outs = ReferencePipeline.build(spark, in, s"$dir/ckpt").run()
    // 4 + 3 + 3 per-sheet nodes: 'API1' and 'NT1' stay once per sheet
    assert(outs("sheet_nodes").count() == 10)
    assert(outs("sheet_edges").count() == 6)
    // 2 concepts + 10 sheet nodes (the cross-sheet duplicates are kept)
    assert(outs("graph_nodes").count() == 12)
    // 2 PARENT_OF (CREATE) + 5 distinct sheet edges (MERGE across sheets)
    assert(outs("graph_edges").count() == 7)
  }

  /** Jobs started on this thread while `body` runs. A marker job submitted
    * afterwards flushes the listener bus, which delivers events in order. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID}"
    val jobs = new AtomicInteger
    val flushed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).foreach { g =>
          if (g == group) jobs.incrementAndGet()
          if (g == s"$group-end") flushed.countDown()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-end", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(flushed.await(60, TimeUnit.SECONDS))
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  test("the 16 reference sheets compile in a bounded number of jobs, not one plan per sheet") {
    val dir = Files.createTempDirectory("graft-refpipe-jobs").toString
    val in = writeFixtures(dir).copy(
      workbookPath = XlsxFixture.write(XlsxFixture.referenceSheets),
      sheets = SheetMapping.referenceConfig)
    val ckpt = s"$dir/ckpt"
    val outs = ReferencePipeline.build(spark, in, ckpt).run()
    assert(outs("sheet_edges").count() == 16 * 3)
    // a resume that rebuilds only the two sheet stages, against one that
    // rebuilds nothing: the difference is those stages' own jobs
    val idle = jobsDuring(ReferencePipeline.build(spark, in, ckpt).run())
    Seq("sheet_nodes", "sheet_edges").foreach(s => FileUtils.deleteDirectory(new File(s"$ckpt/$s")))
    val sheetJobs = jobsDuring(ReferencePipeline.build(spark, in, ckpt).run()) - idle
    info(s"sheet_nodes + sheet_edges: $sheetJobs jobs")
    assert(sheetJobs > 0 && sheetJobs <= 6)
  }
}
