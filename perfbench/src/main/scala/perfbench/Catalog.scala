package perfbench

import graft.SparkEntry
import graft.ops.{CheckpointBlocks, DerivedStore}
import graft.queries.{QueryDef, SharedCache}

/** The catalog workload: a fixed list of catalog queries run serially on
  * generated tables, each built with `QueryDef.build` and forced through
  * the noop sink.
  *
  * The list has two groups. `core` is 10 core queries with small outputs,
  * spread over q01..q76 (scans, joins, rollups, top-k, windows, islands) and
  * leaving out the iterative graph queries: fixed per-query cost (planning,
  * eager build actions, task scheduling) dominates them. `heavy` is
  * executor-, shuffle-, GraphX- and streaming-bound: x18 publishes a
  * SharedCache frame that x25 reads, and x143 is a streaming gate. A
  * planning change should move the core group more than the heavy one.
  *
  * Set-up runs every query once and writes its output as parquet (run.py
  * compares those outputs with the DuckDB oracle SQL after the process
  * exits). That pass also builds every DerivedStore and warms the JIT.
  * A timed pass runs the list `Rounds` times and takes each query's median
  * round. Each round starts from an empty SharedCache and swept blocks, and
  * sweeps every block not held by the SharedCache after each query, the way
  * graft.Bench does.
  */
object Catalog {
  /** Rounds over the query list in one timed pass. */
  private val Rounds = 3

  val core: Seq[QueryDef] = named("q01_scan_project", "q05_left_join_orphans", "q09_rollup",
    "q13_topk_per_group", "q21_cosine_topk", "q29_sliding_window", "q41_range_frame_window",
    "q53_activity_islands", "q61_salted_join", "q73_ignore_nulls_window")

  val heavy: Seq[QueryDef] = named("x18_dedup_components", "x25_graphx_components",
    "x143_stream_window")

  /** The named catalog queries, in catalog order. */
  private def named(names: String*): Seq[QueryDef] = {
    val qs = SparkEntry.catalog.filter(q => names.contains(q.name))
    require(qs.size == names.size, s"missing catalog queries: ${names.diff(qs.map(_.name))}")
    qs
  }

  def run(r: Main.Run): Seq[Map[String, Double]] = {
    val spark = r.spark
    val queries = core ++ heavy
    val coreNames = core.map(_.name).toSet
    val data = r.inputs
    queries.foreach { q =>
      r.span("setup_query", q.name) {
        r.attempt(s"${q.name} (correctness pass)") {
          q.build(spark, data).write.mode("overwrite").parquet(s"${r.work}/outputs/${q.name}")
        }
      }
      CheckpointBlocks.sweep(spark, SharedCache.liveRddIds)
    }
    r.log("correctness pass done")
    r.facts("outputs") = s"${r.work}/outputs"
    r.facts("queries") = queries.map(_.name)
    r.facts("oracle") = queries.flatMap(q => q.oracle.map(q.name -> _)).toMap

    val stores0 = DerivedStore.buildSeconds
    val hits0 = SharedCache.hits
    val passes = r.timedPasses { _ =>
      val hits = SharedCache.hits
      val rounds = (1 to Rounds).map { round =>
        SharedCache.clear()
        CheckpointBlocks.sweep(spark)
        queries.flatMap { q =>
          val t = r.span("query", s"${q.name} round $round") {
            r.attempt(q.name) {
              val t0 = System.nanoTime()
              val df = q.build(spark, data)
              val t1 = System.nanoTime()
              df.write.format("noop").mode("overwrite").save()
              q.name -> ((t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9)
            }
          }
          CheckpointBlocks.sweep(spark, SharedCache.liveRddIds)
          t
        }.toMap
      }
      // per query: the median round, so a burst of host noise during one
      // round does not move the pass
      val times = queries.map(_.name).filter(n => rounds.forall(_.contains(n))).map { n =>
        val build = Stats.median(rounds.map(_(n)._1))
        val wall = Stats.median(rounds.map { rd => rd(n)._1 + rd(n)._2 })
        (n, build, wall)
      }
      val walls = times.map(_._3)
      def groupSum(inCore: Boolean) =
        times.collect { case (n, _, w) if coreNames.contains(n) == inCore => w }.sum
      Map(
        "build_s" -> times.map(_._2).sum,
        "pass_s" -> walls.sum,
        "queries.build_s" -> times.map(_._2).sum,
        "queries.write_s" -> (walls.sum - times.map(_._2).sum),
        "queries.core_s" -> groupSum(inCore = true),
        "queries.heavy_s" -> groupSum(inCore = false),
        "queries.query_p50_s" -> Stats.median(walls),
        "queries.shared_cache_hits" -> (SharedCache.hits - hits).toDouble / Rounds)
    }(_ => Map.empty)
    // a rebuild re-records its store's build time; a read records nothing
    val storeBuilds = DerivedStore.buildSeconds.count { case (k, v) => !stores0.get(k).contains(v) }
    r.check(storeBuilds == 0, s"$storeBuilds DerivedStore builds inside timed passes")
    r.layers("ops.derived_store_builds") = storeBuilds.toDouble
    r.facts("shared_cache_hits") = SharedCache.hits - hits0
    SharedCache.clear()
    CheckpointBlocks.sweep(spark)
    passes
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
