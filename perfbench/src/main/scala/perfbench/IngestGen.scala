package perfbench

import graft.sources.IngestOps

/** One breadcrumb as the TriMet endpoint reports it. */
final case class Ping(day: Int, tripId: Long, vehicleId: Long, actTime: Long, meters: Double,
    lat: Double, lon: Double, late: Boolean)

/** The seeded service-day generator behind the `ingest` workload.
  *
  * Every value is a pure function of (seed, day, vehicle), so the same
  * seed gives the same records on any machine and in any task order.
  * A day's records reach the pipeline the way the paper's collector sees
  * them:
  *  - most pings arrive on their own service day;
  *  - a [[IngestGen.LateShare]] of pings is held back and arrives with the next day's
  *    fetch, so a day must be reloaded after it was first loaded;
  *  - a [[IngestGen.RolloverShare]] of vehicles runs its last trip past midnight, so
  *    ACT_TIME exceeds 86400 and the synthesized timestamp lands on the
  *    next calendar day;
  *  - a [[IngestGen.CorruptShare]] of landed lines is truncated JSON.
  */
final class IngestGen(val seed: Long) extends Serializable {
  import IngestGen._

  private def rng(salt: Long, a: Long, b: Long = 0L): scala.util.Random = {
    var z = seed ^ (salt * 0xD1B54A32D192ED03L) ^ (a * 0x9E3779B97F4A7C15L) ^ (b * 0xC2B2AE3D27D4EB4FL)
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    new scala.util.Random(z ^ (z >>> 31))
  }

  /** The work list: [[IngestGen.Vehicles]] distinct 4-digit vehicle ids, in the order
    * of the collector's ids file. */
  val vehicleIds: IndexedSeq[Long] = {
    val r = rng(1, 0)
    r.shuffle((2200L until 4600L).toIndexedSeq).take(Vehicles)
  }

  val firstDay: java.time.LocalDate = java.time.LocalDate.of(2022, 12, 1)
  def serviceDate(day: Int): java.time.LocalDate = firstDay.plusDays(day.toLong)

  /** The reference's OPD_DATE format, e.g. 01DEC2022:00:00:00. */
  def opdDate(day: Int): String =
    serviceDate(day).format(java.time.format.DateTimeFormatter.ofPattern("ddMMMyyyy",
      java.util.Locale.ROOT)).toUpperCase(java.util.Locale.ROOT) + ":00:00:00"

  def tripId(day: Int, vIdx: Int, trip: Int): Long = 100000000L + day * 10000L + vIdx * 10L + trip

  /** Every ping vehicle `vIdx` records on service day `day`, trip by trip,
    * ACT_TIME strictly increasing within a trip. */
  def pings(day: Int, vIdx: Int): Seq[Ping] = {
    val r = rng(2, day, vIdx)
    val vid = vehicleIds(vIdx)
    val rollover = r.nextDouble() < RolloverShare
    (0 until TripsPerVehicle).flatMap { t =>
      val last = t == TripsPerVehicle - 1
      var act = if (rollover && last) 84600L + r.nextInt(900) else 21600L + t * 10800L + r.nextInt(1800)
      var meters = 0.0
      val lat0 = 45.45 + r.nextDouble() * 0.1
      val lon0 = -122.7 + r.nextDouble() * 0.1
      (0 until PingsPerTrip).map { i =>
        if (i > 0) {
          act += 5 + r.nextInt(55)
          meters += math.rint(r.nextDouble() * 6000.0) / 10.0
        }
        Ping(day, tripId(day, vIdx, t), vid, act, meters,
          math.rint((lat0 + i * 1e-4) * 1e6) / 1e6, math.rint((lon0 - i * 1e-4) * 1e6) / 1e6,
          late = r.nextDouble() < LateShare)
      }
    }
  }

  /** The pings the endpoint returns for vehicle `vIdx` when fetched on
    * `day`: the day's on-time pings plus the previous day's late ones. */
  def delivered(day: Int, vIdx: Int): Seq[Ping] =
    (if (day > 0) pings(day - 1, vIdx).filter(_.late) else Nil) ++ pings(day, vIdx).filterNot(_.late)

  def deliveredOn(day: Int): Seq[Ping] = vehicleIds.indices.flatMap(delivered(day, _))

  def json(x: Ping): String =
    s"""{"EVENT_NO_TRIP": ${x.tripId}, "OPD_DATE": "${opdDate(x.day)}", "ACT_TIME": ${x.actTime}, """ +
      s""""METERS": ${x.meters}, "GPS_LATITUDE": ${x.lat}, "GPS_LONGITUDE": ${x.lon}, """ +
      s""""VEHICLE_ID": ${x.vehicleId}, "timestamp": "${serviceDate(x.day)}"}"""

  /** The corrupt lines landed with `day`'s records: truncated copies of
    * delivered records, a [[IngestGen.CorruptShare]] of the delivered count. */
  def corruptLines(day: Int): Seq[String] = {
    val recs = deliveredOn(day)
    val r = rng(3, day)
    val n = math.round(recs.size * CorruptShare).toInt
    Seq.fill(n) {
      val line = json(recs(r.nextInt(recs.size)))
      line.substring(0, 10 + r.nextInt(line.length / 2))
    }
  }

  /** Every line that lands for `day`, in landing order. */
  def landingLines(day: Int): Seq[String] = deliveredOn(day).map(json) ++ corruptLines(day)

  /** The endpoint as a [[IngestOps.FetchTransport]] for fetch day `day`. */
  def transport(day: Int): IngestOps.FetchTransport = new IngestGen.DayTransport(this, day)
}

object IngestGen {

  /** Generator volume and shares, recorded in every ingest run record and
    * in BENCHMARK.json. The 200 vehicles are the size of the reference
    * collector's `ids.txt` work list. The rest are chosen, not measured
    * from the paper's feed: two trips of 40 pings keep a cycle to about
    * three seconds on four cores, and the three shares are small enough that
    * most records take the common path and large enough that every day
    * has corrupt lines, late pings and past-midnight trips. */
  val Vehicles = 200
  val TripsPerVehicle = 2
  val PingsPerTrip = 40
  val CorruptShare = 0.01
  val LateShare = 0.02
  val RolloverShare = 0.05

  final class DayTransport(gen: IngestGen, day: Int) extends IngestOps.FetchTransport {
    override def fetch(vehicleId: String): Seq[String] = {
      val vIdx = gen.vehicleIds.indexOf(vehicleId.toLong)
      require(vIdx >= 0, s"vehicle $vehicleId is not on the work list")
      gen.delivered(day, vIdx).map(gen.json)
    }
  }

  /** The speed the ETL should derive for each delivered ping, computed
    * in plain Scala from the reference's rule: per trip in ACT_TIME order,
    * delta meters over delta seconds, no speed when the time delta is not
    * positive, and a trip's first ping takes its second ping's speed.
    * Returns (trip id, ACT_TIME) -> speed. */
  def expectedSpeeds(pings: Seq[Ping]): Map[(Long, Long), Option[Double]] =
    pings.groupBy(_.tripId).toSeq.flatMap { case (trip, ps) =>
      val s = ps.sortBy(_.actTime).toIndexedSeq
      val raw = s.indices.map { i =>
        if (i == 0) None
        else {
          val dt = (s(i).actTime - s(i - 1).actTime).toDouble
          if (dt > 0) Some((s(i).meters - s(i - 1).meters) / dt) else None
        }
      }
      s.indices.map { i =>
        (trip, s(i).actTime) -> (if (i == 0) raw.lift(1).flatten else raw(i))
      }
    }.toMap

  /** Order-free checksum of a speed column: count of speeds, count of
    * missing speeds, and the sum of speeds rounded to micro-units. */
  def speedChecksum(speeds: Iterable[Option[Double]]): (Long, Long, Long) =
    speeds.foldLeft((0L, 0L, 0L)) {
      case ((n, nulls, sum), Some(v)) => (n + 1, nulls, sum + math.round(v * 1e6))
      case ((n, nulls, sum), None) => (n + 1, nulls + 1, sum)
    }
}
