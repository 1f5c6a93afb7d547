package graft

import graft.engine.Semantics
import graft.plans.SargableTimestampRules
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** SargableTimestampRules must (a) preserve results exactly and (b) turn the
  * derived-ts day filter into raw ts_ns bounds that reach the parquet scan. */
class SargableTimestampSpec extends SparkSpec {
  import spark.implicits._

  private def withNanoParquet(test: String => Unit): Unit = {
    val dir = Files.createTempDirectory("sarg").toFile.getAbsolutePath
    SargableTimestampSpec.writeNanos(spark, dir, "ts_ns")
    test(dir)
  }

  private def derived(dir: String) =
    spark.read.parquet(dir).withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))

  test("rule preserves the day-filter result set exactly") {
    withNanoParquet { dir =>
      if (!spark.experimental.extraOptimizations.contains(SargableTimestampRules))
        spark.experimental.extraOptimizations ++= Seq(SargableTimestampRules)
      // day 19701 since epoch
      val d = java.time.LocalDate.ofEpochDay(19701).toString
      val got = derived(dir).filter(Semantics.onDate(col("ts"), d))
        .select("id").as[Long].collect().toSet
      assert(got === (24L until 48L).toSet)
      // unfiltered scan keeps every row incl. the negative-nanos edge
      assert(derived(dir).count() === 73)
    }
  }

  test("day filter pushes raw ts_ns bounds into the parquet scan") {
    withNanoParquet { dir =>
      if (!spark.experimental.extraOptimizations.contains(SargableTimestampRules))
        spark.experimental.extraOptimizations ++= Seq(SargableTimestampRules)
      val d = java.time.LocalDate.ofEpochDay(19701).toString
      val q = derived(dir).filter(Semantics.onDate(col("ts"), d)).select("id")
      val physical = q.queryExecution.executedPlan.toString
      assert(physical.contains("GreaterThanOrEqual(ts_ns"),
        s"expected pushed ts_ns lower bound in:\n$physical")
      assert(physical.contains("LessThan(ts_ns"),
        s"expected pushed ts_ns upper bound in:\n$physical")
    }
  }

  // TIMESTAMP(MICROS) generator stamp (isAdjustedToUTC=false → read as
  // TIMESTAMP_NTZ): Tables.events' second branch exposes ts as the
  // session-TZ cast, and layer 3 must strip that cast so the day filter
  // reaches the native NTZ parquet column.
  private def withMicroParquet(test: String => Unit): Unit = {
    val dir = Files.createTempDirectory("sargus").toFile.getAbsolutePath
    SargableTimestampSpec.writeMicros(spark, dir)
    test(dir)
  }

  test("NTZ day filter: result preserved and pushed onto the native ts column") {
    withMicroParquet { dir =>
      if (!spark.experimental.extraOptimizations.contains(SargableTimestampRules))
        spark.experimental.extraOptimizations ++= Seq(SargableTimestampRules)
      val scanned = spark.read.parquet(dir)
      assert(scanned.schema("ts").dataType ===
        org.apache.spark.sql.types.TimestampNTZType)
      val df = scanned.withColumn("ts", col("ts").cast("timestamp"))
      val d = java.time.LocalDate.ofEpochDay(19701).toString
      val q = df.filter(Semantics.onDate(col("ts"), d)).select("id")
      assert(q.as[Long].collect().toSet === (24L until 48L).toSet)
      val physical = q.queryExecution.executedPlan.toString
      assert(physical.contains("GreaterThanOrEqual(ts"),
        s"expected pushed ts lower bound in:\n$physical")
      assert(physical.contains("LessThan(ts"),
        s"expected pushed ts upper bound in:\n$physical")
    }
  }
}

/** The two physical stamps of the `events.ts` column, shared with
  * [[TablesSchemaSpec]]. Both hold the same 72 hourly instants across days
  * 19700-19702 since the epoch, ids 0-71. */
object SargableTimestampSpec {
  /** Raw int64 nanos in `column` — what `nanosAsLong` reads a
    * TIMESTAMP(NANOS) column as — plus a pre-epoch edge row (id 999). */
  def writeNanos(spark: SparkSession, dir: String, column: String): Unit = {
    val day = 86400L * 1000000000L
    val rows = (0 until 72).map(h => (h.toLong, 19700L * day + h * 3600L * 1000000000L)) :+
      (999L, -1234567890L)
    spark.createDataFrame(rows).toDF("id", column).write.mode("overwrite").parquet(dir)
  }

  /** TIMESTAMP(MICROS) with isAdjustedToUTC=false in `ts`, read back as
    * TIMESTAMP_NTZ. */
  def writeMicros(spark: SparkSession, dir: String): Unit = {
    val rows = (0 until 72).map { h =>
      (h.toLong, java.time.LocalDateTime.ofEpochSecond(
        19700L * 86400L + h * 3600L, 0, java.time.ZoneOffset.UTC))
    }
    spark.createDataFrame(rows).toDF("id", "ts").write.mode("overwrite").parquet(dir)
  }
}
