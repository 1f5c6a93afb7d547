package perfbench

import graft.SparkEntry
import graft.queries.SharedPipelines
import scala.collection.mutable

/** The `analytic` workload: one client runs every query once per pass,
  * in an order the seed shuffles, and starts the next query only when the
  * previous one has returned. */
object QueryWorkload {

  /** q01-q13 are the paper's `analytic.sql` suite; q14-q16 are the
    * transform's timestamp, speed and upsert shapes. q65 (edit-distance
    * verification of the calibrated near-duplicate candidates) reads a
    * shared pipeline build, so the engine's shared builds stay measured. */
  val Queries: Seq[String] = Seq(
    "q01_count_on_date", "q02_count_all", "q03_events_per_dow", "q04_distinct_users_in_range",
    "q05_join_dow_filter", "q06_max_value", "q07_users_per_type", "q08_longest_span_top1",
    "q09_union3_dates", "q10_rush_hour_vs_offpeak", "q11_top5_users_by_avg",
    "q12_quadrant_case", "q13_dim_extract_first_event", "q14_speed_derivation",
    "q15_timestamp_synthesis", "q16_upsert_anti_join", "q65_edit_distance_pairs")

  /** Shared pipeline builds the queries read, in dependency order, each
    * built once in set-up. */
  val SharedBuilds: Seq[(String, (org.apache.spark.sql.SparkSession, String) => Unit)] = Seq(
    "calib_candidates" -> ((s, d) => { SharedPipelines.calibratedCandidates(s, d); () }))

  /** The timed loop runs a fixed number of passes for a given `--seconds`
    * (one per [[NominalPassS]], at least two), so every run, on any
    * program, times the same queries the same number of times. */
  val NominalPassS = 5.0
  def timedPasses(seconds: Double): Int = math.max(2, math.ceil(seconds / NominalPassS).toInt)

  def run(h: Harness, seed: Long, seconds: Double, tierDir: String,
      resultsDir: String, t0: Long): WorkloadResult = {
    val queries = SparkEntry.queries
    val spark = h.spark
    val setupLayers = mutable.LinkedHashMap.empty[String, Double]
    var setupAttempted = 0
    var setupFailed = 0

    // Set-up: engine initialisation, shared builds, then one warm-up pass
    // that also writes every query's full result for the oracle check.
    h.setTraced(h.traceMode)
    h.beginOp("setup")
    h.phase("engine_init")(graft.engine.Engine.ensureInitialized(spark))
    setupLayers("engine_init_ms") = h.spanMs("engine_init")
    SharedBuilds.foreach { case (b, build) =>
      setupAttempted += 1
      try {
        val t = System.nanoTime()
        h.phase(s"shared:$b")(build(spark, tierDir))
        setupLayers(s"shared_build_ms.$b") = (System.nanoTime() - t) / 1e6
      } catch { case e: Throwable => setupFailed += 1; h.recordError(s"shared build $b", e) }
    }
    val warmed = mutable.LinkedHashMap.empty[String, Boolean]
    Queries.sorted.foreach { q =>
      setupAttempted += 1
      h.beginOp(s"warmup:$q")
      try {
        h.phase("warmup")(queries(q)(spark, tierDir).write.mode("overwrite")
          .parquet(s"$resultsDir/$q"))
        warmed(q) = true
      } catch { case e: Throwable => setupFailed += 1; warmed(q) = false; h.recordError(s"warm-up $q", e) }
      h.sweep(gc = false)
    }
    h.setTraced(false)
    val setupS = (System.nanoTime() - t0) / 1e9
    val rows: Map[String, Long] = Queries.map { q =>
      q -> (if (warmed(q)) spark.read.parquet(s"$resultsDir/$q").count() else 0L)
    }.toMap

    // Timed closed loop: a fixed number of whole passes. Traced runs
    // alternate untraced and traced passes so the tracing overhead is
    // measured on the same seed.
    val rng = new scala.util.Random(seed)
    val ops = mutable.ArrayBuffer.empty[OpResult]
    val passes = timedPasses(seconds)
    val loopStart = System.nanoTime()
    (0 until passes).foreach { pass =>
      val traced = h.traceMode && pass % 2 == 1
      h.setTraced(traced)
      rng.shuffle(Queries).foreach { q =>
        h.beginOp(q)
        val r = Loop.attempt(q, traced, rows(q), h.onError)(
          h.runQuery(queries(q)(spark, tierDir)))
        val sweepMs = h.sweep(gc = false)
        ops += r.copy(layers = if (traced) r.layers + ("sweep_ms" -> sweepMs) else r.layers)
      }
      h.sweep(gc = true)
    }
    h.setTraced(false)
    val loopS = (System.nanoTime() - loopStart) / 1e9
    val heapMb = h.retainedHeapMb()
    WorkloadResult(setupS, loopS, ops.toSeq, setupLayers.toMap, setupAttempted, setupFailed,
      checks = Nil, extra = Json.obj("passes" -> passes, "retained_heap_mb" -> heapMb, "queries" -> Queries,
        "rows_per_query" -> rows))
  }
}
