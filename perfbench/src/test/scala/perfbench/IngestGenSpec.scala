package perfbench

import org.scalatest.funsuite.AnyFunSuite

class IngestGenSpec extends AnyFunSuite {

  private def landing(seed: Long, days: Int): Array[Byte] = {
    val g = new IngestGen(seed)
    (0 until days).flatMap(g.landingLines).mkString("\n").getBytes("UTF-8")
  }

  test("the same seed gives byte-identical landing files") {
    assert(java.util.Arrays.equals(landing(7, 3), landing(7, 3)))
  }

  test("a different seed gives different landing files") {
    assert(!java.util.Arrays.equals(landing(7, 3), landing(8, 3)))
    assert(new IngestGen(7).vehicleIds != new IngestGen(8).vehicleIds)
  }

  test("the generated day has the shape the generator constants ask for") {
    import IngestGen._
    val g = new IngestGen(3)
    assert(g.vehicleIds.distinct.size == Vehicles)
    val day1 = g.vehicleIds.indices.flatMap(g.pings(1, _))
    assert(day1.size == Vehicles * TripsPerVehicle * PingsPerTrip)
    assert(day1.exists(_.late) && day1.exists(_.actTime > 86400))
    assert(day1.groupBy(_.tripId).values.forall(ps =>
      ps.map(_.actTime).sliding(2).forall(w => w.size < 2 || w(1) > w(0))))
    // Late pings of day 1 arrive with day 2's fetch, and only then.
    val lateIds = day1.filter(_.late).map(x => (x.tripId, x.actTime)).toSet
    assert(g.deliveredOn(1).forall(x => !lateIds((x.tripId, x.actTime))))
    assert(lateIds.subsetOf(g.deliveredOn(2).map(x => (x.tripId, x.actTime)).toSet))
    val corrupt = g.corruptLines(1)
    assert(corrupt.nonEmpty && corrupt.size == math.round(g.deliveredOn(1).size * CorruptShare))
    assert(g.opdDate(0) == "01DEC2022:00:00:00")
  }

  test("expected speeds follow the reference rule, first ping backfilled") {
    val ps = Seq(
      Ping(0, 1L, 9L, 100L, 0.0, 0, 0, late = false),
      Ping(0, 1L, 9L, 110L, 50.0, 0, 0, late = false),
      Ping(0, 1L, 9L, 130L, 150.0, 0, 0, late = false),
      Ping(0, 2L, 9L, 100L, 0.0, 0, 0, late = false))
    val s = IngestGen.expectedSpeeds(ps)
    assert(s((1L, 100L)).contains(5.0) && s((1L, 110L)).contains(5.0) && s((1L, 130L)).contains(5.0))
    assert(s((2L, 100L)).isEmpty)
    assert(IngestGen.speedChecksum(s.values) == (4L, 1L, 15000000L))
  }
}
