package perfbench

/** One routing request: origin and destination grid cells, departure clock
  * (seconds after midnight) and walking speed (m/s). */
final case class OdRequest(fromRow: Int, fromCol: Int, toRow: Int, toCol: Int,
    departSecs: Int, speed: Double = 1.0) {
  def departure: String = Inputs.hms(departSecs)
}

/** The seeded input generator. Every request list is produced in full
  * before a timed loop starts, from the workload seed alone; the program
  * under test only ever sees the generated values. */
object Inputs {

  /** The seed the recorded answers under `expected/` belong to. */
  val DefaultSeed: Long = 1L

  /** Warm-up inputs come from a seed no run measures with. */
  def warmupSeed(seed: Long): Long = seed ^ 0x5DEECE66DL

  val FirstDepartureSecs: Int = 6 * 3600
  val LastDepartureSecs: Int = 16 * 3600

  def hms(secs: Int): String =
    f"${secs / 3600}%02d:${secs / 60 % 60}%02d:${secs % 60}%02d"

  /** `n` requests over a `rows` × `cols` grid: origin and destination cells
    * uniform and distinct, departure uniform over 06:00–16:00. */
  def routing(seed: Long, rows: Int, cols: Int, n: Int): Vector[OdRequest] = {
    val rnd = new java.util.SplittableRandom(seed)
    Vector.fill(n) {
      val from = rnd.nextInt(rows * cols)
      var to = rnd.nextInt(rows * cols - 1)
      if (to >= from) to += 1
      val t = FirstDepartureSecs + rnd.nextInt(LastDepartureSecs - FirstDepartureSecs)
      OdRequest(from / cols, from % cols, to / cols, to % cols, t)
    }
  }

  /** A seeded permutation of `names` (Fisher–Yates). */
  def order(seed: Long, names: Seq[String]): Vector[String] = {
    val rnd = new java.util.SplittableRandom(seed)
    val a = names.toArray
    for (i <- a.indices.reverse if i > 0) {
      val j = rnd.nextInt(i + 1)
      val x = a(i); a(i) = a(j); a(j) = x
    }
    a.toVector
  }
}
