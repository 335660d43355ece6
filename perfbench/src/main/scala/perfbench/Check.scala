package perfbench

import org.apache.spark.sql.Row
import graft.model.GtfsTables

/** One itinerary leg as the routing API returns it: from the stoptime of
  * `trip` at `fromStop` (leaving at `departure`) to the stoptime of
  * `nextTrip` at `nextStop` (reached at `arrival`). */
final case class Leg(trip: String, fromStop: String, departure: String,
    nextTrip: String, nextStop: String, arrival: String)

object Leg {
  def fromRows(rows: Seq[Row]): Seq[Leg] =
    rows.sortBy(_.getAs[Int]("hop")).map { r =>
      Leg(r.getAs[String]("trip"), r.getAs[String]("starting_stop_id"),
        r.getAs[String]("departure"), r.getAs[String]("next_trip"),
        r.getAs[String]("next_stop_id"), r.getAs[String]("arrival"))
    }
}

/** Stoptime of the feed: position along its trip and its clocks. */
final case class StopTime(seq: Int, arr: Long, dep: Long)

/** Driver copy of a generated feed, the reference the itinerary check
  * validates answers against. Built from the raw feed tables, never from
  * the engine's projection. */
final class FeedIndex(val stopTimes: Map[(String, String), StopTime],
    val stops: Map[String, (Double, Double)]) {
  def cellStop(row: Int, col: Int): String = s"S-$row-$col"
  def coords(row: Int, col: Int): (Double, Double) = stops(cellStop(row, col))
}

object FeedIndex {
  def apply(g: GtfsTables): FeedIndex = {
    def num(r: Row, f: String): Long = r.getAs[Any](f).asInstanceOf[Number].longValue
    val st = g.stopTimes.select("trip_id", "stop_id", "stop_sequence", "arr_secs", "dep_secs")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        StopTime(num(r, "stop_sequence").toInt, num(r, "arr_secs"), num(r, "dep_secs"))).toMap
    val stops = g.stops.select("stop_id", "stop_lat", "stop_lon").collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    new FeedIndex(st, stops)
  }
}

/** The answer recorded for one request of the default seed. */
final case class Answer(arrival: String, totalSeconds: Double) {
  def matches(o: Answer): Boolean =
    arrival == o.arrival && math.abs(totalSeconds - o.totalSeconds) <= 1e-6
}

object Check {

  def haversineMeters(la1: Double, lo1: Double, la2: Double, lo2: Double): Double = {
    val dLat = math.toRadians(la2 - la1)
    val dLon = math.toRadians(lo2 - lo1)
    val a = math.pow(math.sin(dLat / 2), 2) + math.cos(math.toRadians(la1)) *
      math.cos(math.toRadians(la2)) * math.pow(math.sin(dLon / 2), 2)
    2.0 * 6371008.8 * math.asin(math.sqrt(a))
  }

  def parseHms(s: String): Long = {
    val Array(h, m, sec) = s.split(":").map(_.toLong)
    h * 3600 + m * 60 + sec
  }

  /** Tolerance on walking distances: the engine and this check use
    * independent haversine implementations. */
  private val SlackMeters = 0.5

  /** Validate an itinerary for `req` against the feed. Returns the reason
    * it is invalid, or None. Rules: every leg joins two stoptimes of the
    * feed with the clocks the feed gives them; legs chain; a leg on one
    * trip goes to the trip's next stoptime; a leg between trips is a
    * walk of at most `radius` metres that reaches the next departure in
    * time at the request's speed; clocks never go backward; the first
    * departure is after the request time; both ends are within `radius`
    * of the request's points; the last departure is inside the horizon. */
  def itinerary(req: OdRequest, legs: Seq[Leg], feed: FeedIndex, radius: Double,
      horizonHours: Int): Option[String] = {
    def st(trip: String, stop: String): Either[String, StopTime] =
      feed.stopTimes.get((trip, stop)).toRight(s"no stoptime ($trip, $stop) in the feed")
    def dist(a: String, b: String): Double = {
      val (la, lo) = feed.stops(a); val (lb, lob) = feed.stops(b)
      haversineMeters(la, lo, lb, lob)
    }
    if (legs.isEmpty) return Some("no itinerary")
    val errs = legs.indices.iterator.flatMap { i =>
      val l = legs(i)
      val e: Either[String, Unit] = for {
        a <- st(l.trip, l.fromStop)
        b <- st(l.nextTrip, l.nextStop)
        _ <- Either.cond(parseHms(l.departure) == a.dep, (),
          s"leg $i departs ${l.departure}, feed says ${a.dep}")
        _ <- Either.cond(parseHms(l.arrival) == b.arr, (),
          s"leg $i arrives ${l.arrival}, feed says ${b.arr}")
        _ <- Either.cond(a.dep >= a.arr && b.dep >= b.arr, (), s"leg $i: dwell runs backward")
        _ <- if (l.trip == l.nextTrip)
          Either.cond(b.seq == a.seq + 1 && b.arr >= a.dep, (),
            s"leg $i rides ${l.trip} from seq ${a.seq} to ${b.seq}")
        else {
          val d = dist(l.fromStop, l.nextStop)
          Either.cond(d <= radius + SlackMeters &&
            b.dep >= a.arr + math.floor(d / req.speed), (),
            s"leg $i changes ${l.fromStop}→${l.nextStop} ($d m) too late")
        }
        _ <- Either.cond(i + 1 >= legs.size ||
          (legs(i + 1).trip == l.nextTrip && legs(i + 1).fromStop == l.nextStop), (),
          s"leg $i does not chain into leg ${i + 1}")
      } yield ()
      e.left.toOption
    }
    if (errs.hasNext) return Some(errs.next())
    val first = feed.stopTimes((legs.head.trip, legs.head.fromStop))
    val last = feed.stopTimes((legs.last.nextTrip, legs.last.nextStop))
    val (oLa, oLo) = feed.coords(req.fromRow, req.fromCol)
    val (dLa, dLo) = feed.coords(req.toRow, req.toCol)
    val (fLa, fLo) = feed.stops(legs.head.fromStop)
    val (lLa, lLo) = feed.stops(legs.last.nextStop)
    if (first.dep <= req.departSecs) Some(s"first departure ${first.dep} not after ${req.departSecs}")
    else if (haversineMeters(oLa, oLo, fLa, fLo) > radius + SlackMeters) Some("first stop out of reach")
    else if (haversineMeters(dLa, dLo, lLa, lLo) > radius + SlackMeters) Some("last stop out of reach")
    else if (last.dep >= req.departSecs + horizonHours * 3600L) Some("arrival beyond the horizon")
    else None
  }

  /** Arrival clock and total seconds (request time to the destination
    * point, including the final walk at the request's speed). */
  def answer(req: OdRequest, legs: Seq[Leg], feed: FeedIndex): Answer = {
    val (dLa, dLo) = feed.coords(req.toRow, req.toCol)
    val (lLa, lLo) = feed.stops(legs.last.nextStop)
    val walk = haversineMeters(dLa, dLo, lLa, lLo) / req.speed
    Answer(legs.last.arrival, parseHms(legs.last.arrival) + walk - req.departSecs)
  }

  /** Canonical, order-sensitive hash of a query result. Floating values
    * are compared at 9 significant digits so that summation order inside
    * an aggregate cannot change the hash. */
  def resultHash(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def canon(v: Any): String = v match {
      case null => "\\N"
      case d: Double => if (d.isNaN || d.isInfinite) d.toString else f"$d%.8e"
      case f: Float => canon(f.toDouble)
      case b: Array[Byte] => b.map("%02x".format(_)).mkString
      case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
      case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
      case other => other.toString
    }
    rows.foreach { r =>
      md.update(r.toSeq.map(canon).mkString("\u0001").getBytes("UTF-8"))
      md.update(10.toByte)
    }
    md.digest().take(8).map("%02x".format(_)).mkString
  }
}
