package graft.engine

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Readers + explicit schemas for the driver-generated testdata star schema
  * (TESTDATA.md / FIXTURES.md). The reference's implicit, key-access-discovered
  * JSON schema (/root/reference/transform.py:114-126) becomes explicit
  * `StructType`s here for the tables the pipeline itself writes
  * ([[breadcrumbRawSchema]], [[tripSchema]], [[breadcrumbSchema]]).
  *
  * The fixture tables' schemas are the parquet footers' own, resolved once
  * per session — the reference pays the same cost once, at `CREATE TABLE`
  * time. Without a schema, `spark.read.parquet` runs a footer-inference job
  * on EVERY read, i.e. every query construction; [[table]] infers a path's
  * schema on its first read in a session, keeps it, and hands it to every
  * later read as `spark.read.schema(s)`, which launches no job. Each entry
  * carries a stamp taken on the driver: one Hadoop `listStatus` of the path
  * (names, lengths, mtimes). A table regenerated or overwritten at the same
  * path changes the stamp and is inferred again, so [[events]] still picks
  * the adapter branch that matches the files on disk.
  *
  * The cache is keyed by session in a weak map, like `Engine`'s init guard:
  * inference depends on session conf (`nanosAsLong`, set by
  * `Engine.ensureInitialized` before the first read, turns TIMESTAMP(NANOS)
  * into int64), a dead session is never pinned, and a second session never
  * sees the first one's entries. [[Hygiene.sweep]] does not clear it: the
  * entries are a `StructType` and a stamp per table, a few per session, and
  * hold no blocks, plans or RDDs. Readers still never pre-materialize data:
  * at 100 TB each is a straight columnar scan whose partitioning is
  * inherited from the file layout.
  */
object Tables {

  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** (name, length, mtime) of each entry a path lists. */
  private type Stamp = Seq[(String, Long, Long)]
  private final case class Resolved(stamp: Stamp, schema: StructType)

  private val resolved = new java.util.WeakHashMap[SparkSession,
    java.util.concurrent.ConcurrentHashMap[String, Resolved]]()

  private def resolvedIn(spark: SparkSession) = resolved.synchronized {
    resolved.computeIfAbsent(spark, _ => new java.util.concurrent.ConcurrentHashMap())
  }

  /** What a cached schema is valid for: the path's listing, one level
    * deep. None when the path does not exist. */
  private def stamp(spark: SparkSession, path: String): Option[Stamp] = {
    val p = new Path(path)
    try Some(p.getFileSystem(spark.sessionState.newHadoopConf()).listStatus(p).toSeq
      .map(s => (s.getPath.getName, s.getLen, s.getModificationTime)).sorted)
    catch { case _: java.io.FileNotFoundException => None }
  }

  /** Parquet scan with the session's resolved schema. Filter/projection
    * pushdown is Catalyst's job — callers declare plans, never
    * pre-materialize. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    Engine.ensureInitialized(spark) // once per session, guarded
    val path = s"$sfDir/$name.parquet"
    stamp(spark, path) match {
      // Missing table: let Spark raise its own PATH_NOT_FOUND.
      case None => spark.read.parquet(path)
      case Some(now) =>
        val known = resolvedIn(spark)
        Option(known.get(path)).filter(_.stamp == now) match {
          case Some(r) => spark.read.schema(r.schema).parquet(path)
          case None =>
            val df = spark.read.parquet(path)
            known.put(path, Resolved(now, df.schema))
            df
        }
    }
  }

  def lineitem(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "region")
  /** `events` with `ts` exposed BOTH ways: `ts` = µs TimestampType (what
    * queries filter/group on) and `ts_ns` = int64 nanos (kept for
    * precision-exact arithmetic like sessionization gaps). The reader
    * ADAPTS to how the generator stamped the column — the physical parquet
    * type has changed across driver rounds, and a library must read both:
    *
    *  - TIMESTAMP(NANOS): Spark's TimestampType (µs) cannot represent it,
    *    so `nanosAsLong` (Engine.ensureInitialized) reads raw nanos and the
    *    µs `ts` is derived by integer `div` (not `/`, which promotes to
    *    double and rounds above 2^53 ns) — matching DuckDB's
    *    CAST(ts AS TIMESTAMP) truncation exactly for positive epochs, and
    *    giving [[graft.plans.SargableTimestampRules]] a monotone integer
    *    chain it inverts to push date filters onto the raw ts_ns scan.
    *  - TIMESTAMP(MICROS) (isAdjustedToUTC=false → TIMESTAMP_NTZ): `ts` is
    *    the session-TZ cast of the native column (value-preserving — every
    *    entrypoint pins the session TZ to UTC) and ts_ns = µs·1000. The
    *    sargable rule's NTZ case strips the cast from literal comparisons
    *    so day filters still reach the parquet scan natively. */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val raw = table(spark, sfDir, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumnRenamed("ts", "ts_ns")
          .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
      case _ =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
          .withColumn("ts_ns", unix_micros(col("ts")) * lit(1000L))
    }
  }
  def documents(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "embeddings")

  /** Schema of the reference's raw breadcrumb JSON — the only schema contract
    * that exists in the reference (fields touched at
    * /root/reference/transform.py:133-249, data_subscriber.py:74-77).
    * Used by the corrupt-tolerant JSONL scan (SURVEY S7). */
  val breadcrumbRawSchema: StructType = StructType(Seq(
    StructField("EVENT_NO_TRIP", LongType),
    StructField("OPD_DATE", StringType),
    StructField("ACT_TIME", LongType),
    StructField("METERS", DoubleType),
    StructField("GPS_LATITUDE", DoubleType),
    StructField("GPS_LONGITUDE", DoubleType),
    StructField("VEHICLE_ID", LongType),
    StructField("timestamp", StringType),
    StructField("_corrupt_record", StringType)))

  /** Trip dimension schema (reference: transform.py:175-181, INSERT :190-194). */
  val tripSchema: StructType = StructType(Seq(
    StructField("trip_id", LongType, nullable = false),
    StructField("route_id", IntegerType, nullable = true),
    StructField("vehicle_id", LongType, nullable = true),
    StructField("service_key", StringType, nullable = true),
    StructField("direction", StringType, nullable = true)))

  /** BreadCrumb fact schema (reference: transform.py:235-249, INSERT :265-269). */
  val breadcrumbSchema: StructType = StructType(Seq(
    StructField("tstamp", TimestampType, nullable = false),
    StructField("latitude", DoubleType, nullable = true),
    StructField("longitude", DoubleType, nullable = true),
    StructField("speed", DoubleType, nullable = true),
    StructField("trip_id", LongType, nullable = false)))
}
