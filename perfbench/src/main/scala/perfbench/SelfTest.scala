package perfbench

import org.apache.spark.sql.Row

/** The harness's own checks at tiny size; no Spark session. Run with
  * `python3 perfbench/run.py --self-test`. Exits non-zero on any failure. */
object SelfTest {

  private var failures = List.empty[String]
  private var passed = 0

  private def expect(what: String)(ok: => Boolean): Unit =
    if (try ok catch { case e: Exception => false }) passed += 1 else failures ::= what

  def main(args: Array[String]): Unit = {
    val benchDir = args.sliding(2).collectFirst { case Array("--bench-dir", d) => d }
      .getOrElse("perfbench")
    generator(); tail(); names(benchDir); itinerary(); hashes(); modules()
    if (failures.nonEmpty) {
      failures.reverse.foreach(f => System.err.println(s"self-test FAILED: $f"))
      sys.exit(1)
    }
    println(s"self-test: $passed checks passed")
  }

  def generator(): Unit = {
    val a = Inputs.routing(7, 20, 20, 50)
    expect("same seed, same requests")(a == Inputs.routing(7, 20, 20, 50))
    expect("another seed, other requests")(a != Inputs.routing(8, 20, 20, 50))
    expect("warm-up inputs differ from timed inputs")(
      a != Inputs.routing(Inputs.warmupSeed(7), 20, 20, 50))
    expect("origin and destination cells differ and lie on the grid")(a.forall(r =>
      (r.fromRow, r.fromCol) != (r.toRow, r.toCol) &&
        Seq(r.fromRow, r.fromCol, r.toRow, r.toCol).forall(x => x >= 0 && x < 20)))
    expect("departures fall in 06:00-16:00")(a.forall(r =>
      r.departSecs >= Inputs.FirstDepartureSecs && r.departSecs < Inputs.LastDepartureSecs))
    val names = (1 to 20).map(i => s"q$i")
    val o = Inputs.order(7, names)
    expect("same seed, same query order")(o == Inputs.order(7, names))
    expect("query order is a permutation")(o.sorted == names.sorted)
    expect("another seed, another query order")(o != Inputs.order(8, names))
  }

  def tail(): Unit = {
    def xs(n: Int) = (1 to n).map(_.toDouble)
    expect("no tail with fewer than 10 samples beyond the median")(Stats.tail(xs(19)).isEmpty)
    expect("20 samples: the median, with 10 beyond")(Stats.tail(xs(20)) == Some((50.0, 10.0)))
    expect("100 samples: p90, not p95")(Stats.tail(xs(100)).map(_._1) == Some(90.0))
    expect("1000 samples: p99")(Stats.tail(xs(1000)) == Some((99.0, 990.0)))
    expect("every reported tail has at least 10 samples beyond")((1 to 2000).forall { n =>
      Stats.tail(xs(n)).forall { case (_, v) => xs(n).count(_ > v) >= Stats.TailMinBeyond }
    })
  }

  def names(benchDir: String): Unit = {
    val all = (Metrics.EndToEnd ++ Metrics.PerLayer).map(_.name)
    expect("metric names use letters, digits, _, . and -")(
      all.forall(_.matches(Metrics.NamePattern)))
    expect("metric names are unique")(all.distinct.size == all.size)
    expect("workload names use letters, digits, _, . and -")(
      Main.Workloads.forall(_.matches(Metrics.NamePattern)))
    val spec = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(benchDir).resolveSibling("BENCHMARK.json")), "UTF-8")
    def section(key: String): Seq[String] = {
      val start = spec.indexOf(s""""$key"""")
      val body = spec.substring(start, spec.indexOf("]", start))
      """"name":\s*"([^"]+)"""".r.findAllMatchIn(body).map(_.group(1)).toSeq
    }
    expect("BENCHMARK.json lists the end-to-end metrics")(
      section("end_to_end") == Metrics.EndToEnd.map(_.name))
    expect("BENCHMARK.json lists the per-layer metrics")(
      section("per_layer") == Metrics.PerLayer.map(_.name))
    expect("BENCHMARK.json lists the workloads")(section("workloads") == Main.Workloads)
  }

  def itinerary(): Unit = {
    // Stops along row 0 (~790 m apart) and one stop 100 m north of S-0-1.
    val stops = Map("S-0-0" -> (44.5, 10.80), "S-0-1" -> (44.5, 10.81),
      "S-0-2" -> (44.5, 10.82), "S-1-1" -> (44.5009, 10.81), "S-1-0" -> (44.5009, 10.80))
    val st = Map(
      ("TA", "S-0-0") -> StopTime(1, 30000, 30030), ("TA", "S-0-1") -> StopTime(2, 30120, 30150),
      ("TA", "S-0-2") -> StopTime(3, 30240, 30270),
      ("TB", "S-1-1") -> StopTime(1, 30300, 30330), ("TB", "S-1-0") -> StopTime(2, 30420, 30450))
    val feed = new FeedIndex(st, stops)
    val req = OdRequest(0, 0, 1, 0, 29000)
    val ok = Seq(
      Leg("TA", "S-0-0", "08:20:30", "TA", "S-0-1", "08:22:00"),
      Leg("TA", "S-0-1", "08:22:30", "TB", "S-1-1", "08:25:00"),
      Leg("TB", "S-1-1", "08:25:30", "TB", "S-1-0", "08:27:00"))
    def check(legs: Seq[Leg], r: OdRequest = req) = Check.itinerary(r, legs, feed, 300.0, 4)
    expect("a valid itinerary passes")(check(ok).isEmpty)
    expect("its answer is the arrival clock and total seconds")(
      Check.answer(req, ok, feed) == Answer("08:27:00", 30420.0 - 29000))
    expect("an empty itinerary is rejected")(check(Nil).isDefined)
    expect("a wrong departure clock is rejected")(
      check(ok.updated(0, ok(0).copy(departure = "08:20:00"))).isDefined)
    expect("a wrong arrival clock is rejected")(
      check(ok.updated(2, ok(2).copy(arrival = "08:26:59"))).isDefined)
    expect("a ride that skips a stoptime is rejected")(check(
      Seq(Leg("TA", "S-0-0", "08:20:30", "TA", "S-0-2", "08:24:00")),
      OdRequest(0, 0, 0, 2, 29000)).isDefined)
    expect("legs that do not chain are rejected")(check(Seq(ok(0), ok(2))).isDefined)
    expect("a stoptime missing from the feed is rejected")(
      check(ok.updated(1, ok(1).copy(nextTrip = "TZ"))).isDefined)
    expect("a departure before the request time is rejected")(
      check(ok, req.copy(departSecs = 30030)).isDefined)
    expect("a change beyond the walking radius is rejected")(check(Seq(
      Leg("TA", "S-0-0", "08:20:30", "TA", "S-0-1", "08:22:00"),
      Leg("TA", "S-0-1", "08:22:30", "TB", "S-1-0", "08:27:00")),
      OdRequest(0, 0, 1, 0, 29000)).isDefined)
    expect("an arrival at the wrong destination is rejected")(
      check(ok, req.copy(toRow = 0, toCol = 2)).isDefined)
    expect("a recorded answer must match exactly")(
      !Answer("08:27:00", 1420.0).matches(Answer("08:27:00", 1421.0)))
  }

  def modules(): Unit = {
    val site = Seq("org.apache.spark.sql.classic.Dataset.collect(Dataset.scala:1504)",
      "graft.graph.TransitSssp.run(TransitSssp.scala:10)",
      "graft.api.RoutingEngine.route(RoutingEngine.scala:20)").mkString("\n")
    expect("a job belongs to the innermost graft module of its call site")(
      Modules.ofCallSite(site) == Some("graph"))
    expect("frames outside the graft modules attribute nothing")(
      Modules.ofCallSite("perfbench.Main.main(Main.scala:1)\ngraft.Runtime.releaseAll(R.scala:2)")
        .isEmpty)
  }

  def hashes(): Unit = {
    val rows = Array(Row(1L, "a", 0.1 + 0.2, Seq(1, 2)), Row(2L, null, 3.0, Seq.empty[Int]))
    val same = Array(Row(1L, "a", 0.3, Seq(1, 2)), Row(2L, null, 3.0, Seq.empty[Int]))
    expect("result hash ignores floating summation order")(
      Check.resultHash(rows) == Check.resultHash(same))
    expect("result hash is order-sensitive")(
      Check.resultHash(rows) != Check.resultHash(rows.reverse))
    expect("result hash sees a changed value")(
      Check.resultHash(rows) != Check.resultHash(rows.updated(0, Row(1L, "b", 0.3, Seq(1, 2)))))
  }
}
