package perfbench

import java.nio.file.{Files, Paths}

/** JVM side of the benchmark. `run.py` builds this package and calls:
  *
  *   gentier <dir>          write the query workloads' input tier
  *   run --workload W --seed N --seconds S --trace 0|1 --tier DIR --out DIR
  *
  * `run` writes `result.json` into the out directory (and, traced,
  * `spans.jsonl` and `layers.json`); `run.py` adds the oracle check and
  * prints the final record.
  */
object Main {

  val Workloads: Seq[String] = Seq("analytic", "ingest")

  /** Per-layer metrics of a traced run, every workload, in BENCHMARK.json
    * order. A layer the workload never calls reports 0. */
  val PerLayer: Seq[String] = Seq(
    "construct_ms", "construct_jobs", "plan_ms",
    "exec_ms", "exec_jobs", "exec_stages", "exec_tasks", "sched_gap_ms",
    "executor_run_ms", "executor_cpu_ms", "executor_busy_ratio",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "input_bytes",
    "engine_init_ms", "sweep_ms") ++
    QueryWorkload.SharedBuilds.map(b => s"shared_build_ms.${b._1}") ++ Seq(
    "fetch_ms", "fetch_records", "stream_batches", "stream_batch_ms", "stream_add_batch_ms",
    "stream_wal_commit_ms", "stream_latest_offset_ms", "stream_query_planning_ms",
    "etl_fact_ms", "etl_dim_ms", "upsert_new_ratio", "output_bytes", "verify_read_ms",
    "stored_bytes_per_row", "trace_overhead_ms")

  /** Times and ratios aggregate as the median over traced operations;
    * counts and bytes as the mean, which over whole passes is the
    * per-pass total divided by the pass length. */
  def aggregate(ops: Seq[OpResult]): Map[String, Double] = {
    val keys = ops.flatMap(_.layers.keys).distinct
    keys.map { k =>
      val xs = ops.flatMap(_.layers.get(k))
      k -> (if (k.endsWith("_ms") || k.endsWith("_ratio")) Stats.median(xs) else Stats.mean(xs))
    }.toMap
  }

  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(name)
    require(i >= 0 && i + 1 < args.length, s"missing $name")
    args(i + 1)
  }

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    args.headOption match {
      case Some("gentier") =>
        val h = new Harness(args(2), traceMode = false)
        TierGen.generate(h.spark, args(1))
        // documents and embeddings: the repo's own generator at sf0.1. It
        // reuses the session above and stops it.
        graft.tools.GenData.main(Array("0.1", args(1)))
        h.spark.stop()
      case Some("run") =>
        val workload = arg(args, "--workload")
        require(Workloads.contains(workload), s"unknown workload $workload")
        val out = arg(args, "--out")
        val code = run(workload, arg(args, "--seed").toLong, arg(args, "--seconds").toDouble,
          arg(args, "--trace") == "1", arg(args, "--tier"), out, t0)
        sys.exit(code)
      case _ =>
        System.err.println("usage: Main gentier <dir> <workdir> | Main run --workload W ...")
        sys.exit(2)
    }
  }

  def run(workload: String, seed: Long, seconds: Double, traced: Boolean, tier: String,
      out: String, t0: Long): Int = {
    val loadBefore = Box.load
    val h = new Harness(s"$out/work", traced)
    val r =
      if (workload == "ingest") IngestWorkload.run(h, seed, seconds, s"$out/ingest", t0)
      else QueryWorkload.run(h, seed, seconds, tier, s"$out/results", t0)
    val loadAfter = Box.load

    val untraced = r.ops.filterNot(_.traced)
    val done = untraced.filter(_.latencyMs.isDefined)
    val sample = Loop.sample(untraced, r.loopS)
    val (attempted, failed) = Loop.tally(r.ops, r.setupAttempted, r.setupFailed, r.checks)
    val heapMb = r.extra.get("retained_heap_mb").map(_.asInstanceOf[Double]).getOrElse(0.0)
    val rowsMs = done.flatMap(_.layers.get("rows_ms")).sum
    val e2e = Json.obj(
      "setup_s" -> r.setupS,
      "latency_p50_ms" -> sample.p50,
      "ops_per_s" -> done.size / r.loopS,
      "rows_per_s" -> (if (rowsMs > 0) done.map(_.rows).sum / (rowsMs / 1000.0) else 0.0),
      "retained_heap_mb" -> heapMb)

    val tracedOps = r.ops.filter(o => o.traced && o.latencyMs.isDefined)
    val perLayer: Map[String, Double] =
      if (!traced) Map.empty
      else {
        val agg = aggregate(tracedOps) ++ r.setupLayers ++
          r.extra.get("stored_bytes_per_row").map(v => "stored_bytes_per_row" -> v.asInstanceOf[Double])
        val overhead =
          if (tracedOps.nonEmpty && done.nonEmpty)
            Stats.median(tracedOps.flatMap(_.latencyMs)) - Stats.median(done.flatMap(_.latencyMs))
          else 0.0
        PerLayer.map(k => k -> agg.getOrElse(k, 0.0)).toMap + ("trace_overhead_ms" -> overhead)
      }

    if (traced) writeTrace(h, r, out)
    val record = Json.obj(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "box" -> (Box.stamp(h.spark) ++ Json.obj("load_before" -> loadBefore, "load_after" -> loadAfter)),
      "session" -> Json.obj("master" -> h.spark.sparkContext.master,
        "shuffle_partitions" -> h.spark.conf.get("spark.sql.shuffle.partitions"),
        "client_threads" -> 1),
      "warmup" -> (if (workload == "ingest")
        s"${IngestWorkload.WarmupCycles} full cycles in set-up, then ${IngestWorkload.timedCycles(seconds)} timed"
        else "one pass over every query in set-up, writing each full result for the oracle check, " +
          s"then ${QueryWorkload.timedPasses(seconds)} timed passes"),
      "end_to_end" -> e2e,
      "latency" -> Json.obj("n" -> sample.n, "failures" -> sample.failures,
        "p50_ms" -> sample.p50,
        "tail" -> sample.tail.map { case (p, v) =>
          Json.obj("percentile" -> p, "value_ms" -> v, "beyond" -> Stats.beyond(sample.n, p)) },
        "loop_s" -> r.loopS),
      "per_layer" -> perLayer,
      "ops" -> r.ops.map(o => Json.obj("name" -> o.name, "traced" -> o.traced, "latency_ms" -> o.latencyMs,
        "rows" -> o.rows, "rows_ms" -> o.layers.get("rows_ms"))),
      "attempted" -> attempted, "failed" -> failed,
      "checks" -> r.checks.map(c => Json.obj("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)),
      "oracle" -> (if (workload == "ingest") Map.empty[String, String]
        else graft.SparkEntry.oracleSql.filter(kv => r.extra("queries").asInstanceOf[Seq[String]].contains(kv._1))),
      "extra" -> r.extra,
      "errors" -> h.errors.toSeq)
    Files.writeString(Paths.get(out, "result.json"), Json.render(record) + "\n")
    h.spark.stop()
    0
  }

  /** Spans (with self time), the layer table (per layer over the timed
    * loop, and per operation) and each traced operation's counts. */
  private def writeTrace(h: Harness, r: WorkloadResult, out: String): Unit = {
    val spans = h.tracer.all
    val self = h.tracer.selfTimes
    val base = spans.headOption.map(_.startNs).getOrElse(0L)
    val lines = spans.map { s =>
      Json.render(Json.obj("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "op" -> h.labels.getOrElse(s.op, s.op), "start_ms" -> (s.startNs - base) / 1e6,
        "dur_ms" -> s.durNs / 1e6, "self_ms" -> self(s.id) / 1e6))
    }
    Files.writeString(Paths.get(out, "spans.jsonl"), lines.mkString("", "\n", "\n"))
    def stats(xs: Seq[Span]) = Json.obj("n" -> xs.size,
      "median_ms" -> Stats.median(xs.map(_.durNs / 1e6)),
      "median_self_ms" -> Stats.median(xs.map(x => self(x.id) / 1e6)))
    def byName(ss: Seq[Span]) = Json.obj(ss.groupBy(_.name).toSeq.sortBy(_._1)
      .map { case (name, xs) => name -> stats(xs) }: _*)
    val label = (s: Span) => h.labels.getOrElse(s.op, s.op)
    val timed = spans.filterNot(s => label(s) == "setup" || label(s).startsWith("warmup:"))
    val table = Json.obj(
      "by_layer" -> byName(timed),
      "by_op" -> Json.obj(spans.groupBy(label).toSeq.sortBy(_._1)
        .map { case (l, ss) => l -> byName(ss) }: _*),
      "counts" -> r.ops.filter(_.traced).map(o => Json.obj("op" -> o.name, "latency_ms" -> o.latencyMs) ++ o.layers))
    Files.writeString(Paths.get(out, "layers.json"), Json.render(table) + "\n")
  }
}
