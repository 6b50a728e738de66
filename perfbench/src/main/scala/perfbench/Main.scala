package perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Benchmark process for one run of one workload (started by run.py).
  *
  * Usage: perfbench.Main --workload W --inputs DIR --work DIR --seconds S
  *          --trace 0|1 --cpus N --seed N --result FILE
  *
  * Set-up (session, warm and correctness pass, crash snapshot) happens
  * first; then timed passes repeat until `--seconds` have elapsed (at least
  * one pass). Each pass is bracketed by host readings. The result file holds
  * the raw per-pass values, the check outcomes and, in a traced run, the
  * per-layer readings; run.py turns it into the benchmark's result line.
  */
object Main {

  final class Run(val spark: SparkSession, val opts: Map[String, String]) {
    val work: String = opts("work")
    val inputs: String = opts("inputs")
    val seconds: Double = opts("seconds").toDouble
    val seed: Long = opts("seed").toLong
    val cpus: Int = opts("cpus").toInt
    val trace: Option[Trace] =
      if (opts("trace") == "1") Some(new Trace(spark, s"${opts("workload")}-$seed-${System.nanoTime()}"))
      else None
    private var attempted = 0L
    val failures = mutable.ArrayBuffer.empty[String]
    val facts = mutable.LinkedHashMap.empty[String, Any]
    val layers = mutable.LinkedHashMap.empty[String, Double]

    /** Counts one checked operation; a false `ok` records a failure. */
    def check(ok: Boolean, what: => String): Unit = {
      attempted += 1
      if (!ok) failures += what
    }

    /** Runs `body` as one checked operation; an exception is a failure. */
    def attempt[T](what: String)(body: => T): Option[T] = {
      attempted += 1
      try Some(body)
      catch {
        case e: Throwable =>
          failures += s"$what: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
          None
      }
    }

    private val started = System.nanoTime()

    /** Progress line on stderr (run.py forwards it), stamped with the
      * seconds since the session started. */
    def log(msg: String): Unit =
      System.err.println(f"[perfbench] ${(System.nanoTime() - started) / 1e9}%7.2f s  $msg")

    def span[T](kind: String, name: String)(body: => T): T =
      trace match {
        case Some(t) => t.span(kind, name)(body)
        case None => body
      }

    /** Timed passes: runs `pass(i)` until `seconds` have elapsed, at least
      * once. Each pass returns its values; host readings are added here.
      * `between(i)` runs untimed after pass i (output checks, clean-up) and
      * may add values to the pass. */
    def timedPasses(pass: Int => Map[String, Double])(
        between: Int => Map[String, Double]): Seq[Map[String, Double]] = {
      val baseline = Host.calibrate()
      log("set-up done")
      setupDoneMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val out = mutable.ArrayBuffer.empty[Map[String, Double]]
      while (out.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds) {
        val i = out.size
        val before = Host.probeSeconds()
        val steal0 = Host.stealSeconds()
        val c0 = trace.map { t => t.drain(); t.counters }
        val w0 = trace.map(_.nowMs)
        val values = span("pass", s"pass $i")(pass(i))
        val layerValues = trace.map { t =>
          t.drain()
          val c1 = t.counters
          c1.map { case (k, v) => k -> (v - c0.get(k)) } +
            ("spark.driver_gap_s" -> t.driverGapSeconds(w0.get, t.nowMs))
        }.getOrElse(Map.empty)
        val steal = Host.stealSeconds() - steal0
        val after = Host.probeSeconds()
        out += values ++ layerValues ++ Map(
          "host.noise_index" -> math.max(before, after) / baseline,
          "host.steal_s" -> steal) ++ between(i)
        log(s"pass $i done")
      }
      out.toSeq
    }

    var setupDoneMs = 0L

    def result(passes: Seq[Map[String, Double]]): Map[String, Any] = Map(
      "workload" -> opts("workload"),
      "setup_done_ms" -> setupDoneMs,
      "passes" -> passes,
      "attempted" -> attempted,
      "failed" -> failures.size,
      "failures" -> failures.take(50),
      "facts" -> facts,
      "layers" -> layers,
      "rss_peak_mb" -> Host.rssPeakMb())
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val cpus = opts("cpus")
    val work = opts("work")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.locality.wait", "0ms")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val run = new Run(spark, opts)
    val passes = run.span("workload", opts("workload")) {
      opts("workload") match {
        case "etl" => Etl.run(run)
        case "catalog" => Catalog.run(run)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
    }
    run.trace.foreach(_.dump(s"$work/trace_spans.json"))
    Json.write(opts("result"), run.result(passes))
    spark.stop()
  }
}
