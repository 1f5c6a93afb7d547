package graft

import graft.engine.Tables
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.types.{LongType, TimestampType}

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** `Tables.table` resolves a path's parquet schema once per session: later
  * reads construct without a Spark job, plan and answer exactly like an
  * inferred read, re-infer when the files at the path change, and never
  * share entries across sessions. */
class TablesSchemaSpec extends SparkSpec {

  private val probe = "graft.test.probe"

  /** Jobs submitted by `body` on this thread. Spark copies the thread's
    * local properties onto each job it submits; a fence job submitted after
    * `body` reaches the listener after every earlier event, so the count is
    * complete once the fence is seen. */
  private def jobsDuring[T](session: SparkSession)(body: => T): (T, Int) = {
    val sc = session.sparkContext
    val tag = java.util.UUID.randomUUID.toString
    val jobs = new AtomicInteger
    val fenced = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(probe))).foreach { t =>
          if (t == tag) jobs.incrementAndGet()
          else if (t == s"$tag:fence") fenced.countDown()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(probe, tag)
      val out = body
      sc.setLocalProperty(probe, s"$tag:fence")
      sc.parallelize(Seq(1), 1).count()
      assert(fenced.await(60, TimeUnit.SECONDS), "listener never saw the fence job")
      (out, jobs.get)
    } finally {
      sc.setLocalProperty(probe, null)
      sc.removeSparkListener(listener)
    }
  }

  private def tempDir(prefix: String): String =
    Files.createTempDirectory(prefix).toFile.getAbsolutePath

  /** The scan properties that decide what is read: everything in the
    * FileScan's metadata except the expression ids of DataFilters. */
  private def scans(df: DataFrame): Seq[Map[String, String]] =
    df.queryExecution.sparkPlan.collect { case s: FileSourceScanExec =>
      s.metadata.filter { case (k, _) =>
        Set("Format", "Batched", "PartitionFilters", "PushedFilters", "ReadSchema")(k)
      }
    }

  test("a second read of the same path constructs with no Spark job") {
    val dir = tempDir("tables-jobs")
    SargableTimestampSpec.writeMicros(spark, s"$dir/events.parquet")
    val (_, first) = jobsDuring(spark)(Tables.table(spark, dir, "events"))
    assert(first >= 1, "the first read infers the schema with a job")
    val (df, second) = jobsDuring(spark)(Tables.table(spark, dir, "events"))
    assert(second === 0)
    assert(df.count() === 72)
    val (_, adapted) = jobsDuring(spark)(Tables.events(spark, dir))
    assert(adapted === 0)
  }

  /** The columns q01 and q05 read, with the fixture tier's names and types,
    * over dates around the days they filter on. */
  private lazy val tier: String = {
    val dir = tempDir("tables-tier")
    val t0 = java.time.LocalDateTime.of(2024, 1, 1, 0, 0)
    spark.createDataFrame((0 until 500).map(i =>
        (i.toLong, t0.plusMinutes(37L * i), (i % 50).toLong, s"t${i % 5}", i * 0.5, "{}")))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    spark.createDataFrame((0 until 200).map(k => (k.toLong, t0.plusDays(k % 14L), k * 10.0)))
      .toDF("o_orderkey", "o_orderdate", "o_totalprice").write.parquet(s"$dir/orders.parquet")
    spark.createDataFrame(for (k <- 0 until 200; n <- 1 to 3) yield (k.toLong, n, (k * n % 40).toDouble))
      .toDF("l_orderkey", "l_linenumber", "l_quantity").write.parquet(s"$dir/lineitem.parquet")
    dir
  }

  for (q <- Seq("q01_count_on_date", "q05_join_dow_filter"))
    test(s"$q: rows and FileScan identical to an inferred read") {
      val dir = tier // written before any job is counted
      // A fresh session has no entries: its first construction infers.
      val fresh = spark.newSession()
      val (inferred, inferJobs) = jobsDuring(fresh)(SparkEntry.queries(q)(fresh, dir))
      val (cached, cachedJobs) = jobsDuring(fresh)(SparkEntry.queries(q)(fresh, dir))
      assert(inferJobs >= 1)
      assert(cachedJobs === 0)
      assert(scans(cached).nonEmpty)
      assert(scans(cached) === scans(inferred))
      assert(cached.schema === inferred.schema)
      val rows = cached.collect().toSeq
      assert(rows.nonEmpty && rows.head.getLong(0) > 0, "the tier must select rows")
      assert(rows === inferred.collect().toSeq)
    }

  test("events regenerated at the same path re-infers and switches the adapter branch") {
    val dir = tempDir("tables-regen")
    val path = s"$dir/events.parquet"
    def hours(df: DataFrame): Seq[Row] =
      df.filter("id < 72").select("id", "ts", "ts_ns").orderBy("id").collect().toSeq

    SargableTimestampSpec.writeNanos(spark, path, "ts")
    assert(Tables.table(spark, dir, "events").schema("ts").dataType === LongType)
    val fromNanos = hours(Tables.events(spark, dir))

    SargableTimestampSpec.writeMicros(spark, path)
    val (micros, jobs) = jobsDuring(spark)(Tables.events(spark, dir))
    assert(jobs >= 1, "the overwrite changed the stamp, so the read infers again")
    assert(Tables.table(spark, dir, "events").schema("ts").dataType !== LongType)
    assert(micros.schema("ts").dataType === TimestampType)
    assert(micros.schema("ts_ns").dataType === LongType)
    assert(hours(micros) === fromNanos)
    assert(fromNanos.size === 72)

    SargableTimestampSpec.writeNanos(spark, path, "ts")
    assert(hours(Tables.events(spark, dir)) === fromNanos)
    assert(Tables.events(spark, dir).count() === 73)
  }

  test("a second session never sees the first session's entries") {
    val dir = tempDir("tables-sessions")
    SargableTimestampSpec.writeMicros(spark, s"$dir/events.parquet")
    Tables.table(spark, dir, "events")
    assert(jobsDuring(spark)(Tables.table(spark, dir, "events"))._2 === 0)
    val other = spark.newSession()
    assert(jobsDuring(other)(Tables.table(other, dir, "events"))._2 >= 1)
    assert(jobsDuring(other)(Tables.table(other, dir, "events"))._2 === 0)
  }

  test("a missing table fails with Spark's PATH_NOT_FOUND") {
    val dir = tempDir("tables-missing")
    val e = intercept[AnalysisException](Tables.table(spark, dir, "events"))
    assert(e.getCondition === "PATH_NOT_FOUND")
  }
}
