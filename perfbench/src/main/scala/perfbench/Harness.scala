package perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** One operation of a closed loop, as the loop records it. `layers`
  * holds `rows_ms`, the part of the latency that delivered `rows`, and,
  * traced, the per-layer counts. */
final case class OpResult(name: String, traced: Boolean, latencyMs: Option[Double],
    rows: Long, layers: Map[String, Double])

/** Closed-loop bookkeeping shared by the workloads. */
object Loop {

  /** Run one operation and time it. A throw marks it failed: no latency,
    * no rows, and `onError` hears about it. */
  def attempt(name: String, traced: Boolean, rows: Long, onError: (String, Throwable) => Unit)(
      body: => Map[String, Double]): OpResult = {
    val t = System.nanoTime()
    try {
      val layers = body
      OpResult(name, traced, Some((System.nanoTime() - t) / 1e6), rows, layers)
    } catch { case e: Throwable =>
      onError(name, e)
      OpResult(name, traced, None, 0L, Map.empty)
    }
  }

  /** (attempted, failed) over set-up steps, timed operations and checks. */
  def tally(ops: Seq[OpResult], setupAttempted: Int, setupFailed: Int,
      checks: Seq[Check]): (Int, Int) =
    (setupAttempted + ops.size + checks.size,
      setupFailed + ops.count(_.latencyMs.isEmpty) + checks.count(!_.ok))

  /** Latency sample of `ops`; each failure is charged the loop's wall
    * time (or the slowest completion, if that is longer). */
  def sample(ops: Seq[OpResult], loopS: Double): Stats.Sample = {
    val done = ops.flatMap(_.latencyMs)
    Stats.Sample(done, ops.size - done.size, math.max(loopS * 1000.0, (0.0 +: done).max))
  }
}

/** The box a run measured, read from the OS and the JVM. */
object Box {
  def cores: Int = Runtime.getRuntime.availableProcessors()

  def memTotalKb: Option[Long] = readFile("/proc/meminfo").flatMap(_.linesIterator
    .find(_.startsWith("MemTotal:")).map(_.replaceAll("[^0-9]", "").toLong))

  def load: Option[Seq[Double]] = readFile("/proc/loadavg")
    .map(_.trim.split("\\s+").take(3).toSeq.map(_.toDouble))

  private def readFile(p: String): Option[String] =
    try Some(new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)), "UTF-8"))
    catch { case _: Exception => None }

  def stamp(spark: SparkSession): Map[String, Any] = Json.obj(
    "nproc" -> cores,
    "mem_total_kb" -> memTotalKb,
    "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
    "spark_version" -> spark.version,
    "java_version" -> System.getProperty("java.version"))
}

/** Session, tracing and bookkeeping shared by the workloads.
  *
  * The session is sized to the box: `local[nproc]`, shuffle partitions =
  * nproc, one client thread. The heap comes from the JVM flags the
  * launcher sets (MemTotal / 2, clamped to 2-8 GiB). Scratch space stays
  * under `workDir`.
  */
final class Harness(val workDir: String, val traceMode: Boolean) {
  val cores: Int = Box.cores
  val spark: SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .appName("perfbench")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    // The two static settings the repo's own session builders pin: 1m
    // task-memory pages (which also arms the engine's AQE partition
    // floor) and a codegen cache large enough for a many-query session.
    .config("spark.buffer.pageSize", "1m")
    .config("spark.sql.codegen.cache.maxEntries", "5000")
    .config("spark.local.dir", s"$workDir/spark-local")
    .config("spark.sql.warehouse.dir", s"$workDir/spark-warehouse")
    .getOrCreate()
  spark.sparkContext.setLogLevel("ERROR")

  val tracer = new Tracer(false)
  val layerListener = new LayerListener
  val streamListener = new StreamListener
  private var opSeq = 0
  private var current = ""

  /** Offset from System.nanoTime() to wall-clock epoch nanoseconds, to
    * line spans up with the listener's task timestamps. */
  private val epochOffsetNs: Long = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def epochMs(ns: Long): Long = (ns + epochOffsetNs) / 1000000L

  /** Turn tracing (spans and listeners) on or off for what follows. */
  def setTraced(on: Boolean): Unit = if (on != tracer.enabled) {
    tracer.enabled = on
    if (on) {
      spark.sparkContext.addSparkListener(layerListener)
      spark.streams.addListener(streamListener)
    } else {
      org.apache.spark.PerfbenchAccess.drainListeners(spark.sparkContext)
      spark.sparkContext.removeSparkListener(layerListener)
      spark.streams.removeListener(streamListener)
    }
  }

  /** Start a new traced operation; phases inside it are keyed by its id. */
  def beginOp(label: String): String = {
    opSeq += 1
    current = s"op$opSeq"
    labels(current) = label
    current
  }

  /** Operation id -> what it ran (a query name, a service day, set-up). */
  val labels = mutable.Map.empty[String, String]

  def phaseKey(name: String): String = s"$current/$name"

  /** Run `body` as the layer call `name`: a span, and (traced) a local
    * property that attributes the Spark jobs it submits. */
  def phase[T](name: String)(body: => T): T =
    if (!tracer.enabled) body
    else {
      val sc = spark.sparkContext
      val prior = sc.getLocalProperty(LayerListener.Key)
      sc.setLocalProperty(LayerListener.Key, phaseKey(name))
      streamListener.currentPhase = phaseKey(name)
      try tracer.span(name, current)(body)
      finally sc.setLocalProperty(LayerListener.Key, prior)
    }

  /** Deliver pending listener events so the op's counts are complete. */
  def drain(): Unit = if (tracer.enabled) org.apache.spark.PerfbenchAccess.drainListeners(spark.sparkContext)

  /** The span of `name` in the current op (the latest one). */
  def lastSpan(name: String): Option[Span] =
    tracer.all.reverseIterator.find(s => s.op == current && s.name == name)

  def spanMs(name: String): Double = lastSpan(name).map(_.durNs / 1e6).getOrElse(0.0)

  /** Execution-side counts of one phase of the current op. */
  def execLayers(name: String): Map[String, Double] = {
    val c = layerListener.phase(phaseKey(name))
    val span = lastSpan(name)
    val wallMs = span.map(_.durNs / 1e6).getOrElse(0.0)
    val covered = span.map(s => Trace.coveredNs(
      c.taskIntervals.toSeq.map { case (a, b) => (a * 1000000L, b * 1000000L) },
      epochMs(s.startNs) * 1000000L, epochMs(s.endNs) * 1000000L) / 1e6).getOrElse(0.0)
    Map(
      "exec_ms" -> wallMs,
      "exec_jobs" -> c.jobs.toDouble,
      "exec_stages" -> c.stages.toDouble,
      "exec_tasks" -> c.tasks.toDouble,
      "sched_gap_ms" -> math.max(0.0, wallMs - covered),
      "executor_run_ms" -> c.runMs.toDouble,
      "executor_cpu_ms" -> c.cpuNs / 1e6,
      "executor_busy_ratio" -> (if (wallMs > 0) c.runMs / (wallMs * cores) else 0.0),
      "shuffle_write_bytes" -> c.shuffleWriteBytes.toDouble,
      "shuffle_read_bytes" -> c.shuffleReadBytes.toDouble,
      "spill_bytes" -> c.spillBytes.toDouble,
      "input_bytes" -> c.inputBytes.toDouble)
  }

  /** Construct, plan and execute one query with a full-result action: a
    * `noop` write produces every row and column the query returns. The
    * separate planning call is made only when traced; untraced, the write
    * plans the query itself, as a user's write would. `rows_ms` is the
    * time of the write, the part of the latency that produces the rows. */
  def runQuery(build: => org.apache.spark.sql.DataFrame): Map[String, Double] = {
    val df = phase("construct")(build)
    if (tracer.enabled) phase("plan")(df.queryExecution.executedPlan)
    val t = System.nanoTime()
    phase("exec")(df.write.format("noop").mode("overwrite").save())
    val write = Map("rows_ms" -> (System.nanoTime() - t) / 1e6)
    if (!tracer.enabled) write
    else {
      drain()
      write ++ Map(
        "construct_ms" -> spanMs("construct"),
        "construct_jobs" -> layerListener.phase(phaseKey("construct")).jobs.toDouble,
        "plan_ms" -> spanMs("plan")) ++ execLayers("exec")
    }
  }

  /** Between-operation state reset, as a long-lived session needs. */
  def sweep(gc: Boolean): Double = {
    val t0 = System.nanoTime()
    phase("sweep")(graft.engine.Hygiene.sweep(spark, gc))
    (System.nanoTime() - t0) / 1e6
  }

  /** Used heap after a full collection, in MiB. */
  def retainedHeapMb(): Double = {
    graft.engine.Hygiene.sweep(spark, gc = true)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  val errors = mutable.ArrayBuffer.empty[String]
  val onError: (String, Throwable) => Unit = recordError
  def recordError(what: String, e: Throwable): Unit = {
    val msg = s"$what: ${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").take(400)}"
    errors += msg
    System.err.println(s"FAIL $msg")
  }
}
