package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Twin-verified itinerary digests of the two timing harnesses
    * (PerfHarness.itineraryDigest v2, r13+): both fixtures are synthetic
    * and the routing deterministic, so the digest is a constant of the
    * code — the cross-regime twin (forced-TransitSssp) reproduced every
    * value (perf: GtfsEngineSpec's twin on every test run; modena:
    * `tools.TwinDiff`). Pinning them here makes all 94 correctness rows
    * self-checking: the driver's hash oracle covers 92, these constants
    * cover the harness rows' content. */
  private[graft] val pinnedHarnessDigests: Map[String, Map[String, Long]] = Map(
    "gtfs_perf_harness" -> Map(
      "alpha-epsilon" -> 3351291332598868349L,
      "gamma-delta" -> 7440812635754212650L),
    "gtfs_modena_harness" -> Map(
      "p1-samecol-short" -> 947082359055798613L,
      "p2-near-diag" -> -1597480208567981535L,
      "p3-samecol-mid" -> -784305704320164480L,
      "p4-samerow-long" -> -8431549542283343246L,
      "p5-diag-mid" -> -5349132037449334201L,
      "p6-cross-far" -> 390062701551497208L,
      "p7-offdiag" -> -8786856629275867830L,
      "p8-backwards" -> 6050069794413743321L,
      "p9-corner-corner" -> 1538126745331558157L))

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // correctness runs exercise the exact conf the bench times under
    val spark = Bench.session(4)
    new java.io.File(outDir).mkdirs()
    // Optional subset for local iteration (SPARK_GRAFT_VERIFY_ONLY=q1,q2);
    // driver runs leave it unset and dump the full catalog.
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY").map(_.split(",").toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        // r15: the two TIMING harnesses carry no SQL oracle (their timing
        // columns are non-deterministic), but their itinerary CONTENT is
        // fixture-deterministic — compare the per-pair digests against the
        // twin-verified pinned values, so a content drift fails the row
        // into the correctness file as an error instead of hiding behind a
        // rows-only check. Both rows route eagerly inside `fn` and return
        // their measurements as local rows, so reading them twice routes
        // nothing again.
        Verify.pinnedHarnessDigests.get(name).foreach { expected =>
          val got = df.select("name", "itineraryDigest").collect()
            .map(r => r.getString(0) -> r.getLong(1)).toMap
          require(got == expected,
            s"harness itinerary digest drift: got $got expected $expected")
        }
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // builder-retained caches (the contamination rows' bench-gram cache
      // feeds the returned plan's broadcast side, so the builder cannot
      // unpersist it) are dead once the row's parquet is written —
      // release them here instead of retaining for the session (r15
      // ADVICE; r17: through the one lifecycle surface embedders get).
      // Bench's per-run clearCache() already covers its side.
      graft.Runtime.releaseAll()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
