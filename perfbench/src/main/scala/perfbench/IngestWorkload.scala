package perfbench

import graft.engine.Tables
import graft.operators.{BreadcrumbPipeline, EtlOps}
import graft.sources.IngestOps
import graft.streaming.StreamingOps
import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

final case class Check(name: String, ok: Boolean, detail: String)

/** What a workload run hands back: timings, the operations of the timed
  * loop, set-up steps attempted and failed, and the correctness checks. */
final case class WorkloadResult(setupS: Double, loopS: Double, ops: Seq[OpResult],
    setupLayers: Map[String, Double], setupAttempted: Int, setupFailed: Int,
    checks: Seq[Check], extra: Map[String, Any])

/** The `ingest` workload: the paper's pipeline, one service day per
  * cycle, one client.
  *
  * A cycle reads the work list, fetches every vehicle through the seeded
  * endpoint, lands the records (plus corrupt lines) as JSONL, lets the
  * streaming subscriber route them into date-partitioned files, reloads
  * BreadCrumb for every service day the cycle touched, upserts Trip, and
  * ends with the post-load join query. The cycle's latency runs from the
  * start of the fetch until that query has returned.
  */
final class IngestWorkload(h: Harness, gen: IngestGen, root: String) {
  private val spark = h.spark
  import spark.implicits._

  val idsPath = s"$root/ids.txt"
  val stage = s"$root/stage"
  val landing = s"$root/landing"
  val routed = s"$root/routed"
  val checkpoint = s"$root/checkpoint"
  val bcPath = s"$root/warehouse/breadcrumb"
  val tripPath = s"$root/warehouse/trip"

  /** The last service day fetched, and the lines landed per day. */
  private var lastDay = -1
  val landedLines = mutable.ArrayBuffer.empty[Int]

  def writeWorkList(): Unit = {
    Files.createDirectories(Paths.get(landing))
    // The collector's ids file: one id per line; blank and padded lines
    // exercise the reader's trimming.
    val lines = gen.vehicleIds.zipWithIndex.map { case (id, i) => if (i % 50 == 7) s"  $id " else id.toString }
    Files.writeString(Paths.get(idsPath), (lines :+ "" :+ "   ").mkString("\n") + "\n")
  }

  private def daysOf(day: Int): Seq[Int] = if (day > 0) Seq(day - 1, day) else Seq(day)

  private def routedDay(d: Int): DataFrame =
    spark.read.parquet(routed)
      .filter(col("date") === lit(gen.serviceDate(d).toString).cast("date"))
      .filter(col("_corrupt_record").isNull)
      .drop("_corrupt_record", "date")

  private def existingTrips(): DataFrame =
    if (Files.exists(Paths.get(tripPath)))
      spark.read.parquet(tripPath)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], Tables.tripSchema)

  /** The transform for the service days `day` touched: reload BreadCrumb
    * for each of them, then append the Trip rows that are new. */
  def transform(day: Int): Unit = {
    h.phase("etl_fact") {
      daysOf(day).foreach { d =>
        EtlOps.overwriteDatePartitions(BreadcrumbPipeline.breadcrumbs(routedDay(d)),
          lit(gen.serviceDate(d).toString), bcPath)
      }
    }
    h.phase("etl_dim") {
      val raw = daysOf(day).map(routedDay).reduce(_ union _)
      BreadcrumbPipeline.loadTrips(raw, existingTrips())
        .write.mode("append").parquet(tripPath)
    }
  }

  /** The post-load query in the shape of the paper's Q7: rows and mean
    * speed per vehicle over BreadCrumb joined with Trip. */
  def verifyQuery(): DataFrame = {
    val bc = spark.read.parquet(bcPath)
    val tr = spark.read.parquet(tripPath)
    bc.join(tr, "trip_id")
      .groupBy("vehicle_id")
      .agg(count(lit(1)).as("n"), round(avg("speed"), 2).as("avg_speed"))
      .orderBy("vehicle_id")
  }

  /** One service day through the whole pipeline. Returns the traced
    * layer counts and `rows_ms`, the time spent loading: from the start
    * of the fetch until Trip is committed, before the Q7 query. */
  def cycle(day: Int): Map[String, Double] = {
    val loadStart = System.nanoTime()
    h.phase("fetch") {
      val ids = IngestOps.readWorkList(spark, idsPath)
      val fetched = IngestOps.fetchBreadcrumbs(ids, gen.transport(day), Tables.breadcrumbRawSchema)
      fetched.toJSON.union(gen.corruptLines(day).toDS())
        .write.mode("overwrite").text(s"$stage/$day")
      // Files appear in the landing directory whole, as the stream source
      // requires: write aside, then move.
      scala.util.Using.resource(Files.list(Paths.get(s"$stage/$day")))(_.iterator().asScala.toList)
        .filter(p => p.getFileName.toString.startsWith("part-"))
        .foreach(p => Files.move(p, Paths.get(landing, s"day$day-${p.getFileName}"),
          StandardCopyOption.ATOMIC_MOVE))
    }
    h.phase("stream") {
      val records = StreamingOps.withEventDate(
        StreamingOps.jsonlStream(spark, landing, Tables.breadcrumbRawSchema), "timestamp")
      StreamingOps.runAvailableNow(StreamingOps.datePartitionedSink(records, routed, checkpoint))
    }
    transform(day)
    val load = Map("rows_ms" -> (System.nanoTime() - loadStart) / 1e6)
    val query = h.phase("verify")(h.runQuery(verifyQuery()))
    lastDay = day
    landedLines += gen.landingLines(day).size
    if (!h.tracer.enabled) load
    else {
      h.drain()
      val batches = h.streamListener.batches(h.phaseKey("stream"))
      def med(key: String): Double =
        if (batches.isEmpty) 0.0 else Stats.median(batches.map(_.getOrElse(key, 0L).toDouble))
      val incoming = daysOf(day).flatMap(d => gen.vehicleIds.indices.flatMap(v =>
        gen.pings(d, v).filter(x => d < day || !x.late).map(_.tripId))).distinct.size
      val fact = h.layerListener.phase(h.phaseKey("etl_fact"))
      val dim = h.layerListener.phase(h.phaseKey("etl_dim"))
      query ++ Map(
        "fetch_ms" -> h.spanMs("fetch"),
        "fetch_records" -> gen.deliveredOn(day).size.toDouble,
        "stream_batches" -> batches.size.toDouble,
        "stream_batch_ms" -> med("triggerExecution"),
        "stream_add_batch_ms" -> med("addBatch"),
        "stream_wal_commit_ms" -> med("walCommit"),
        "stream_latest_offset_ms" -> med("latestOffset"),
        "stream_query_planning_ms" -> med("queryPlanning"),
        "etl_fact_ms" -> h.spanMs("etl_fact"),
        "etl_dim_ms" -> h.spanMs("etl_dim"),
        "upsert_new_ratio" -> (if (incoming > 0) dim.outputRecords.toDouble / incoming else 0.0),
        "output_bytes" -> (fact.outputBytes + dim.outputBytes).toDouble,
        "verify_read_ms" -> h.spanMs("verify")) ++ load
    }
  }

  /** BreadCrumb rows committed in the service days `day` reloaded, read
    * from the parquet footers the write left behind. */
  def committedRows(day: Int): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    daysOf(day).map(d => Paths.get(bcPath, s"date=${gen.serviceDate(d)}")).filter(Files.isDirectory(_))
      .flatMap(dir => scala.util.Using.resource(Files.list(dir))(_.iterator().asScala.toList))
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.toUri), conf)
        scala.util.Using.resource(org.apache.parquet.hadoop.ParquetFileReader.open(in))(_.getRecordCount)
      }.sum
  }

  /** Digest of a table's rows, independent of file layout and row order. */
  def digest(path: String): String = {
    val rows = spark.read.parquet(path).collect().map(_.toSeq.mkString("\u0001")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  def parquetBytes(path: String): Long =
    if (!Files.exists(Paths.get(path))) 0L
    else scala.util.Using.resource(Files.walk(Paths.get(path)))(_.iterator().asScala.toList)
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
      .map(p => Files.size(p)).sum

  /** The correctness checks, run once after the timed loop. */
  def checks(): Seq[Check] = {
    val days = 0 to lastDay
    val delivered: Seq[Ping] = days.flatMap(d => gen.deliveredOn(d))
    val corrupt = days.map(d => gen.corruptLines(d).size).sum
    def check(name: String)(body: => (Boolean, String)): Check =
      try { val (ok, detail) = body; Check(name, ok, detail) }
      catch { case e: Throwable => h.recordError(s"check $name", e); Check(name, ok = false, e.toString) }

    Seq(
      check("record_conservation") {
        val loaded = spark.read.parquet(bcPath).count()
        val bad = spark.read.parquet(routed).filter(col("_corrupt_record").isNotNull).count()
        val generated = landedLines.sum.toLong
        (generated == loaded + bad && loaded == delivered.size && bad == corrupt,
          s"generated=$generated loaded=$loaded corrupt=$bad")
      },
      check("trip_rows_equal_distinct_trips") {
        val trips = spark.read.parquet(tripPath)
        val n = trips.count()
        val distinct = trips.select("trip_id").distinct().count()
        val expected = delivered.map(_.tripId).distinct.size.toLong
        (n == expected && distinct == n, s"trip_rows=$n distinct=$distinct expected=$expected")
      },
      check("reload_is_idempotent") {
        val before = (digest(bcPath), digest(tripPath))
        transform(lastDay)
        val after = (digest(bcPath), digest(tripPath))
        (before == after, s"breadcrumb ${before._1.take(12)}->${after._1.take(12)} " +
          s"trip ${before._2.take(12)}->${after._2.take(12)}")
      },
      check("speed_checksum") {
        val expected = IngestGen.speedChecksum(IngestGen.expectedSpeeds(delivered).values)
        val got = IngestGen.speedChecksum(spark.read.parquet(bcPath).select("speed").collect()
          .map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0))))
        (got == expected, s"spark=$got scala=$expected")
      })
  }
}

object IngestWorkload {
  /** Warm-up cycles in set-up. Cycle latency falls over the first cycles
    * of a fresh JVM (JIT, codegen); six take most of that fall out of the
    * timed loop within the run time the benchmark can afford. */
  val WarmupCycles = 6

  /** The timed loop runs a fixed number of cycles for a given `--seconds`
    * (one per [[NominalCycleS]], at least three), not "until time is up":
    * the Q7 query and the Trip upsert read every day loaded so far, so a
    * run that fitted more cycles would time different work. */
  val NominalCycleS = 2.5
  def timedCycles(seconds: Double): Int = math.max(3, math.ceil(seconds / NominalCycleS).toInt)

  def run(h: Harness, seed: Long, seconds: Double, root: String, t0: Long): WorkloadResult = {
    val gen = new IngestGen(seed)
    val w = new IngestWorkload(h, gen, root)
    var setupAttempted = 0
    var setupFailed = 0
    val setupLayers = mutable.LinkedHashMap.empty[String, Double]

    // Set-up: engine initialisation, the work list, and the warm-up
    // cycles, whose records stay in the warehouse.
    h.setTraced(h.traceMode)
    h.beginOp("setup")
    h.phase("engine_init")(graft.engine.Engine.ensureInitialized(h.spark))
    setupLayers("engine_init_ms") = h.spanMs("engine_init")
    w.writeWorkList()
    (0 until WarmupCycles).foreach { d =>
      setupAttempted += 1
      try { h.beginOp(s"warmup:day$d"); w.cycle(d) }
      catch { case e: Throwable => setupFailed += 1; h.recordError(s"warm-up cycle day $d", e) }
      h.sweep(gc = false)
    }
    h.setTraced(false)
    val setupS = (System.nanoTime() - t0) / 1e9

    // Timed closed loop; traced runs alternate untraced and traced cycles.
    val ops = mutable.ArrayBuffer.empty[OpResult]
    val cycles = timedCycles(seconds)
    val loopStart = System.nanoTime()
    (WarmupCycles until WarmupCycles + cycles).foreach { d =>
      val traced = h.traceMode && d % 2 == 0
      h.setTraced(traced)
      h.beginOp("cycle")
      val r = Loop.attempt(s"day$d", traced, 0L, h.onError)(w.cycle(d))
      val rows = if (r.latencyMs.isDefined) w.committedRows(d) else 0L
      val sweepMs = h.sweep(gc = false)
      ops += r.copy(rows = rows, layers = if (traced) r.layers + ("sweep_ms" -> sweepMs) else r.layers)
    }
    h.setTraced(false)
    val loopS = (System.nanoTime() - loopStart) / 1e9
    val heapMb = h.retainedHeapMb()
    val checks = w.checks()
    val loadedRows = math.max(1L, h.spark.read.parquet(w.bcPath).count())
    val storedBytes = w.parquetBytes(w.bcPath) + w.parquetBytes(w.tripPath)
    import IngestGen._
    WorkloadResult(setupS, loopS, ops.toSeq, setupLayers.toMap, setupAttempted, setupFailed, checks,
      Json.obj("cycles" -> cycles, "retained_heap_mb" -> heapMb,
        "stored_bytes" -> storedBytes, "stored_bytes_per_row" -> storedBytes.toDouble / loadedRows,
        "generator" -> Json.obj("seed" -> seed, "vehicles" -> Vehicles,
          "trips_per_vehicle" -> TripsPerVehicle, "pings_per_trip" -> PingsPerTrip,
          "corrupt_share" -> CorruptShare, "late_share" -> LateShare,
          "rollover_share" -> RolloverShare)))
  }
}
