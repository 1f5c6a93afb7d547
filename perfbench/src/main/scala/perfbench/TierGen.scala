package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The query workloads' input tier: the star schema and `events` at the
  * row counts, schemas and value ranges of the repo's sf0.1 fixture,
  * generated offline so a run reads no data from outside its checkout.
  * `documents` and `embeddings` come from the repo's own generator,
  * `graft.tools.GenData`, at sf0.1. The README compares per-query row
  * counts and latencies of this tier with the fixture's.
  *
  * The tier is fixed (one seed, [[TierSeed]]): the query workloads vary
  * only the order in which queries run, so two runs with different seeds
  * still measure the same queries over the same rows. Every row derives
  * its own random stream from (table, row id), so the output does not
  * depend on partitioning or task order.
  */
object TierGen {

  val TierSeed = 42L

  val Regions = Array("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Statuses = Array("F", "O", "P")
  val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val PartTypes = Array("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  val Adjectives = Array("blue", "cold", "hot", "large", "old", "red", "small", "steel")
  val Nouns = Array("bolt", "gear", "nut", "pipe", "plate", "ring", "rod", "valve")
  val ReturnFlags = Array("A", "N", "R")
  val LineStatuses = Array("F", "O")
  val EventTypes = Array("click", "error", "purchase", "signup", "view")

  /** Row counts at sf0.1. */
  val Customers = 15000L
  val Suppliers = 1000L
  val Parts = 20000L
  val Orders = 150000L
  val Events = 100000L

  /** A random stream for (salt, id): splitmix64 of the tier seed, the
    * table salt and the row id. */
  def rng(salt: Long, id: Long): scala.util.Random = {
    var z = TierSeed ^ (salt * 0xD1B54A32D192ED03L) ^ (id * 0x9E3779B97F4A7C15L)
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    new scala.util.Random(z ^ (z >>> 31))
  }

  private def cents(x: Double): Double = math.rint(x * 100) / 100

  private val Day0Us = java.time.LocalDate.of(1995, 1, 1).toEpochDay * 86400L * 1000000L
  private val Jan2024Us = java.time.LocalDate.of(2024, 1, 1).toEpochDay * 86400L * 1000000L
  private val DayUs = 86400L * 1000000L

  def generate(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    val parts = spark.sparkContext.defaultParallelism
    def ids(n: Long) = spark.range(0L, n, 1L, parts).as[Long]
    def write(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    /** Epoch micros to TIMESTAMP_NTZ, the fixture's timestamp type (the
      * session time zone is UTC, so the wall clock is the UTC one). */
    def ntz(c: String) = timestamp_micros(col(c)).cast(TimestampNTZType)

    write("region", ids(Regions.length).map(i => (i.toInt, Regions(i.toInt)))
      .toDF("r_regionkey", "r_name"))
    write("nation", ids(25).map(i => (i.toInt, s"NATION_$i", (i % 5).toInt))
      .toDF("n_nationkey", "n_name", "n_regionkey"))
    write("customer", ids(Customers).map { i =>
      val r = rng(1, i)
      (i, f"Customer#$i%09d", r.nextInt(25), cents(-999.99 + r.nextDouble() * 10999.98),
        Segments(r.nextInt(Segments.length)))
    }.toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"))
    write("supplier", ids(Suppliers).map { i =>
      val r = rng(2, i)
      (i, f"Supplier#$i%09d", r.nextInt(25), cents(-999.99 + r.nextDouble() * 10999.98))
    }.toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal"))
    write("part", ids(Parts).map { i =>
      val r = rng(3, i)
      (i, s"${Adjectives(r.nextInt(8))} ${Nouns(r.nextInt(8))}", s"Brand#${1 + r.nextInt(25)}",
        PartTypes(r.nextInt(PartTypes.length)), 1 + r.nextInt(50), 900.0 + (i % 1000) / 10.0)
    }.toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"))
    write("orders", ids(Orders).map { i =>
      val r = rng(4, i)
      (i, r.nextInt(Customers.toInt).toLong, Statuses(r.nextInt(3)),
        cents(1000.0 + r.nextDouble() * 499000.0), Day0Us + r.nextInt(2404) * DayUs,
        Priorities(r.nextInt(Priorities.length)))
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate_us",
      "o_orderpriority")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"), col("o_totalprice"),
        ntz("o_orderdate_us").as("o_orderdate"), col("o_orderpriority")))
    write("lineitem", ids(Orders).flatMap { o =>
      val ro = rng(4, o)
      ro.nextInt(Customers.toInt); ro.nextInt(3); ro.nextDouble()
      val orderDay = ro.nextInt(2404)
      val r = rng(5, o)
      (1 to 1 + r.nextInt(7)).map { ln =>
        val qty = (1 + r.nextInt(50)).toDouble
        (o, r.nextInt(Parts.toInt).toLong, r.nextInt(Suppliers.toInt).toLong, ln, qty,
          cents(qty * (900.0 + r.nextDouble() * 1200.0)), r.nextInt(11) / 100.0,
          r.nextInt(9) / 100.0, ReturnFlags(r.nextInt(3)), LineStatuses(r.nextInt(2)),
          Day0Us + (orderDay + 1 + r.nextInt(90)) * DayUs)
      }
    }.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
      "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate_us")
      .withColumn("l_shipdate", ntz("l_shipdate_us"))
      .drop("l_shipdate_us"))
    write("events", ids(Events).map { i =>
      val r = rng(6, i)
      (i, Jan2024Us + i * 25920000L + r.nextInt(20000000), r.nextInt(1500).toLong,
        EventTypes(r.nextInt(EventTypes.length)), cents(math.abs(r.nextGaussian()) * 120.0),
        s"""{"k": ${r.nextInt(100)}}""")
    }.toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
      .select(col("event_id"), ntz("ts_us").as("ts"), col("user_id"), col("event_type"),
        col("value"), col("props")))
  }
}
