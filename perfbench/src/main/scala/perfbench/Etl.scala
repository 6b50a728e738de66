package perfbench

import graft.engine.ReferencePipeline
import graft.ops.{BatchLedger, GraphTable, HttpPropertyTypeClient, SheetMapping}
import graft.sources.{JsonlSource, XlsxSource}
import java.io.File
import java.nio.file.{Files, Paths}
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

/** The ETL workload: `ReferencePipeline.build(...).run()` then
  * `ReferencePipeline.load(...)` on generated reference-shaped inputs, with
  * enrichment through the production `HttpPropertyTypeClient` against the
  * loopback stub and the load going to the counting sink.
  *
  * Set-up makes one clean run in its own directories. It warms the JIT and
  * fixes the expected outputs: every later clean run must deliver the same
  * rows, and every resumed run must reproduce its stage outputs (row counts
  * and content digests) and deliver every row at least once. run.py checks
  * the set-up run against the generator's manifest.
  */
object Etl {
  val Stages = Seq("concept_nodes", "hierarchy_edges", "sheet_nodes", "sheet_edges",
    "graph_nodes", "graph_edges", "entity_ids", "enriched")
  /** The reference's batch_size. */
  val BatchSize = 1000

  final class Env(r: Main.Run) {
    val stub = new StubService(r.cpus)
    val in: ReferencePipeline.Inputs = {
      val url = stub.url
      ReferencePipeline.Inputs(
        s"${r.inputs}/concept.jsonl", s"${r.inputs}/concept_hierarchy.jsonl",
        s"${r.inputs}/relationships.xlsx", SheetMapping.referenceConfig,
        s"${r.inputs}/concept_id_mapping.json", () => new HttpPropertyTypeClient(url))
    }
  }

  private def dirs(r: Main.Run, name: String) = (s"${r.work}/$name/ckpt", s"${r.work}/$name/ledger")

  private def build(r: Main.Run, env: Env, ckpt: String): Map[String, DataFrame] =
    ReferencePipeline.build(r.spark, env.in, ckpt).run()

  private def load(outs: Map[String, DataFrame], ledger: String): Unit =
    ReferencePipeline.load(GraphTable(outs("entity_ids"), outs("graph_edges")), BatchSize,
      CountingSink.send, ledger)

  private def secondsOf(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** One timed build + load. Stage times come from the checkpoint markers
    * each stage writes when it completes; stages already complete count 0. */
  private def timedRun(r: Main.Run, env: Env, ckpt: String, ledger: String): Map[String, Double] = {
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val outs = r.span("phase", "build")(build(r, env, ckpt))
    val t1 = System.nanoTime()
    r.span("phase", "load")(load(outs, ledger))
    val t2 = System.nanoTime()
    var prev = startMs.toDouble
    val stageTimes = Stages.map { s =>
      val done = Files.getLastModifiedTime(Paths.get(ckpt, s, "_SUCCESS")).toMillis.toDouble
      val seconds = if (done < startMs) 0.0 else {
        r.trace.foreach(_.recordStage(s, prev, done))
        val d = (done - prev) / 1000.0
        prev = done
        d
      }
      s"engine.stage.${s}_s" -> seconds
    }
    Map("build_s" -> (t1 - t0) / 1e9, "load_s" -> (t2 - t1) / 1e9, "pass_s" -> (t2 - t0) / 1e9) ++ stageTimes
  }

  private def opsCounters(env: Env): Map[String, Double] = Map(
    "ops.enrich_requests" -> env.stub.requests.get.toDouble,
    "ops.enrich_peak_inflight" -> env.stub.peakInflight.get.toDouble,
    "ops.enrich_server_busy_s" -> env.stub.busyNanos.get / 1e9,
    "ops.sink_batches" -> CountingSink.batches.get.toDouble,
    "ops.sink_rows" -> CountingSink.rows.get.toDouble,
    "ops.sink_send_s" -> CountingSink.sendNanos.get / 1e9)

  /** Row count and order-independent content digest of every stage output,
    * plus the entity-id and enrichment facts the manifest predicts. */
  private def outputFacts(r: Main.Run, ckpt: String): Map[String, Any] = {
    val spark = r.spark
    val stages = Stages.map { s =>
      val df = spark.read.parquet(s"$ckpt/$s")
      val cols = df.schema.fields.toSeq.map { f =>
        f.dataType match {
          case _: MapType => to_json(array_sort(map_entries(col(f.name))))
          case _ => col(f.name)
        }
      }
      val row = df.agg(count(lit(1)), sum(xxhash64(cols: _*).cast("decimal(38,0)"))).head()
      s -> Map("rows" -> row.getLong(0), "digest" -> String.valueOf(row.get(1)))
    }.toMap
    val hits = spark.read.parquet(s"$ckpt/entity_ids")
      .filter(element_at(col("props"), "entity_id").isNotNull).count()
    val enriched = spark.read.parquet(s"$ckpt/enriched")
      .agg(count(when(size(col("property_types")) > 0, 1)), sum(size(col("property_types")))).head()
    Map("stages" -> stages, "entity_id_hits" -> hits,
      "enriched_nonempty" -> enriched.getLong(0), "enriched_type_entries" -> enriched.getLong(1))
  }

  /** Delivered rows that were needed / all delivered rows. */
  private def usefulRatio(got: Map[Long, Int], needed: Map[Long, Int]): Double =
    got.map { case (h, n) => math.min(n, needed.getOrElse(h, 0)) }.sum.toDouble / got.values.sum.max(1)

  /** When a job fails, Spark does not interrupt its other running tasks:
    * they finish their partitions, delivering batches and writing ledger
    * markers after the driver has seen the failure. Wait for them before
    * taking the crash snapshot. */
  private def awaitIdle(r: Main.Run): Unit = {
    val status = r.spark.sparkContext.statusTracker
    val deadline = System.nanoTime() + 60000000000L
    def busy = status.getActiveStageIds.nonEmpty || status.getExecutorInfos.exists(_.numRunningTasks > 0)
    while (busy && System.nanoTime() < deadline) Thread.sleep(20)
  }

  private def isComplete(ckpt: String, stage: String) = new File(s"$ckpt/$stage/_SUCCESS").exists()

  /** The clean set-up run: returns its output facts and delivered rows. */
  private def setupRun(r: Main.Run, env: Env): (Map[String, Any], Map[Long, Int], Long, Long) = {
    val (ckpt, ledger) = dirs(r, "setup")
    CountingSink.reset()
    r.attempt("set-up build+load")(timedRun(r, env, ckpt, ledger))
    val facts = outputFacts(r, ckpt)
    r.facts ++= facts
    r.facts("enrich_requests") = env.stub.requests.get
    r.facts("sink_rows") = CountingSink.rows.get
    (facts, CountingSink.snapshot(), env.stub.requests.get, CountingSink.batches.get)
  }

  /** Layer readings taken once, after the timed passes, on the last pass's
    * clean checkpoint and resumed ledger: each calls one public entry point
    * of a layer alone. */
  private def layerExtras(r: Main.Run, env: Env, ckpt: String, ledger: String): Unit = {
    val spark = r.spark
    val idMapping = JsonlSource.idMapping(spark, env.in.idMappingPath)
    r.layers("sources.id_mapping_s") = secondsOf(idMapping.count())
    r.layers("sources.id_mapping_fields") =
      idMapping.queryExecution.analyzed.collectLeaves().map(_.output.size).max.toDouble
    r.layers("sources.jsonl_scan_s") = secondsOf {
      JsonlSource.concepts(spark, env.in.conceptsPath).write.format("noop").mode("overwrite").save()
      JsonlSource.hierarchy(spark, env.in.hierarchyPath).write.format("noop").mode("overwrite").save()
    }
    // as many columns as ReferencePipeline.build reads from each sheet
    val cols = env.in.sheets.values
      .flatMap(m => Seq(m.node1.valueCol, m.node1.idCol, m.node2.valueCol, m.node2.idCol)).max + 1
    r.layers("sources.xlsx_read_s") = secondsOf(
      env.in.sheets.keys.foreach(i => XlsxSource.readSheet(spark, env.in.workbookPath, i, cols)))
    r.layers("engine.ckpt_bytes") = FileUtils.sizeOfDirectory(new File(ckpt)).toDouble
    r.layers("engine.resume_probe_s") = secondsOf(build(r, env, ckpt))
    r.layers("ops.ledger_files") =
      Seq("nodes", "edges").map(d => Option(new File(s"$ledger/$d").list()).map(_.length).getOrElse(0)).sum.toDouble
    r.layers("ops.ledger_load_s") = secondsOf(
      Seq("nodes", "edges").foreach(d => BatchLedger.load(spark, s"$ledger/$d")))
  }

  /** Set-up: a clean run, then a build crashed by an HTTP 400 at the k-th
    * enrichment request and a load crashed at the m-th sink batch (k and m
    * drawn from the seed); the crashed checkpoint and ledger directories
    * are kept as the snapshot. Each timed pass makes a clean build + load in fresh
    * directories, then restores the snapshot (untimed) and resumes: build +
    * load again. */
  def run(r: Main.Run): Seq[Map[String, Double]] = {
    val env = new Env(r)
    try {
      val (expected, expectedRows, requests, batches) = setupRun(r, env)
      r.log("clean set-up run done")
      val rng = new scala.util.Random(r.seed)
      val (crashCkpt, crashLedger) = dirs(r, "crash")
      // the first seven stages are deterministic: start the crashing build
      // from the set-up run's checkpoints so only `enriched` runs (and fails)
      FileUtils.copyDirectory(new File(dirs(r, "setup")._1), new File(crashCkpt))
      FileUtils.deleteDirectory(new File(s"$crashCkpt/enriched"))
      CountingSink.reset()
      env.stub.armFailureAt(requests / 4 + rng.nextInt((requests / 2).toInt.max(1)))
      val buildFailed = try { build(r, env, crashCkpt); false } catch { case _: Exception => true }
      r.check(buildFailed, "the armed HTTP 400 did not stop the build")
      r.check(Stages.init.forall(isComplete(crashCkpt, _)) && !isComplete(crashCkpt, "enriched"),
        "the crashed build did not stop at the enriched stage")
      CountingSink.armFailureAt(batches / 4 + rng.nextInt((batches / 2).toInt.max(1)))
      val crashOuts = Seq("entity_ids", "graph_edges").map(s => s -> r.spark.read.parquet(s"$crashCkpt/$s")).toMap
      val loadFailed = try { load(crashOuts, crashLedger); false } catch { case _: Exception => true }
      r.check(loadFailed, "the armed sink failure did not stop the load")
      awaitIdle(r)
      val crashRows = CountingSink.snapshot()
      r.facts("crash_delivered_rows") = crashRows.values.sum
      r.log("crash snapshot done")

      val passes = r.timedPasses { i =>
        FileUtils.deleteQuietly(new File(s"${r.work}/clean${i - 1}"))
        FileUtils.deleteQuietly(new File(s"${r.work}/resume${i - 1}"))
        val (ckpt, ledger) = dirs(r, s"clean$i")
        CountingSink.reset()
        env.stub.resetCounters()
        val clean = r.attempt(s"pass $i clean build+load")(timedRun(r, env, ckpt, ledger)).getOrElse(Map.empty)
        val cleanOps = opsCounters(env)
        val cleanRows = CountingSink.snapshot()
        r.check(cleanRows == expectedRows, s"pass $i: clean load delivered other rows than set-up")
        FileUtils.copyDirectory(new File(s"${r.work}/crash"), new File(s"${r.work}/resume$i"))
        val (rCkpt, rLedger) = dirs(r, s"resume$i")
        CountingSink.restore(crashRows)
        val resumed = r.span("phase", "resume") {
          r.attempt(s"pass $i resumed build+load")(timedRun(r, env, rCkpt, rLedger)).getOrElse(Map.empty)
        }
        def sum(k: String) = clean.getOrElse(k, 0.0) + resumed.getOrElse(k, 0.0)
        clean ++ cleanOps ++ Map(
          "build_s" -> sum("build_s"), "ops.load_s" -> sum("load_s"), "pass_s" -> sum("pass_s"),
          "engine.resume_build_s" -> resumed.getOrElse("build_s", 0.0),
          "ops.resume_load_s" -> resumed.getOrElse("load_s", 0.0))
      } { i =>
        // the clean run's graph is covered by its delivered rows (checked in
        // the pass); the resumed run must reproduce every stage output
        r.check(outputFacts(r, dirs(r, s"resume$i")._1) == expected,
          s"pass $i: resumed outputs differ from a clean run")
        val got = CountingSink.snapshot()
        r.check(expectedRows.forall { case (h, n) => got.getOrElse(h, 0) >= n },
          s"pass $i: crash + resume did not deliver every row at least once")
        Map("ops.sink_useful_ratio" -> usefulRatio(got, expectedRows))
      }
      if (r.trace.isDefined) {
        val last = passes.size - 1
        layerExtras(r, env, dirs(r, s"clean$last")._1, dirs(r, s"resume$last")._2)
      }
      passes
    } finally env.stub.stop()
  }
}
