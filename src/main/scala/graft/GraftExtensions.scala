package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graftbridge.ColumnBridge
import graft.functions.expressions._

/** SQL surface for the engine's native Catalyst expressions.
  *
  * Two entry points, same function set:
  *  - `spark.sql.extensions=graft.GraftExtensions` (or
  *    `builder.withExtensions(new GraftExtensions)`) injects at session
  *    construction — the standard extension-library wiring;
  *  - `GraftExtensions.register(spark)` installs into an already-running
  *    session's function registry (notebooks, tests).
  *
  * Everything registered here is a real codegen'd Expression (or a pure
  * Column composition converted through the bridge) — `SELECT
  * md5_shingles(...)` runs the same kernel the DataFrame API uses, inside
  * whole-stage codegen, not a UDF. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.all.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
}

object GraftExtensions {

  /** Install the function set into an existing session. Idempotent. */
  def register(spark: SparkSession): Unit =
    all.foreach { case (name, info, builder) =>
      spark.sessionState.functionRegistry
        .registerFunction(FunctionIdentifier(name), info, builder)
    }

  private def intLit(fn: String, arg: String, e: Expression): Int = {
    // Accept any foldable integral expression (1+1, a BIGINT/SMALLINT
    // literal, …), not just a bare Int Literal — fold, then range-check.
    val folded = if (e.foldable) e.eval() else null
    folded match {
      case v: Int => v
      case v: Byte => v.toInt
      case v: Short => v.toInt
      case v: Long if v.isValidInt => v.toInt
      case _ => throw new IllegalArgumentException(
        s"$fn: $arg must be a foldable integer expression in Int range, got $e")
    }
  }

  private def info(name: String, usage: String, clazz: Class[_]): ExpressionInfo =
    new ExpressionInfo(clazz.getCanonicalName, null, name, usage,
      "", "", "", "misc_funcs", "4.0.0", "", "built-in")

  private def f(name: String, usage: String, clazz: Class[_])(
      builder: Seq[Expression] => Expression) =
    (name, info(name, usage, clazz), builder)

  /** (name, info, builder) triples — shared by both entry points. */
  lazy val all: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(

    f("md5_shingles", "md5_shingles(tokens, n) — sorted distinct md5-hex of word n-grams",
      classOf[Md5ShinglesExpr]) {
      case Seq(tokens, n) => Md5ShinglesExpr(tokens, intLit("md5_shingles", "n", n))
    },
    f("minhash_md5", "minhash_md5(shingles, k) — k-seed portable MinHash signature",
      classOf[MinHashMd5Expr]) {
      case Seq(sh, k) => MinHashMd5Expr(sh, intLit("minhash_md5", "k", k))
    },
    f("lsh_band_keys_md5", "lsh_band_keys_md5(sig, bands, rows) — LSH band keys",
      classOf[LshBandKeysMd5Expr]) {
      case Seq(sig, b, r) => LshBandKeysMd5Expr(sig,
        intLit("lsh_band_keys_md5", "bands", b), intLit("lsh_band_keys_md5", "rows", r))
    },
    f("simhash_md5", "simhash_md5(tokens) — portable 64-bit SimHash",
      classOf[SimHashMd5Expr]) { case Seq(t) => SimHashMd5Expr(t) },
    f("simhash64_tokens", "simhash64_tokens(tokens) — xxhash64 SimHash (production kernel)",
      classOf[SimHash64Expr]) { case Seq(t) => SimHash64Expr(t) },
    f("minhash_signature", "minhash_signature(shingles, k) — xxhash64 MinHash (production kernel)",
      classOf[MinHashSignatureExpr]) {
      case Seq(sh, k) => MinHashSignatureExpr(sh, intLit("minhash_signature", "k", k))
    },
    f("jaccard_sorted", "jaccard_sorted(a, b) — exact Jaccard of sorted distinct long arrays",
      classOf[JaccardSortedExpr]) { case Seq(a, b) => JaccardSortedExpr(a, b) },
    f("jaccard_sorted_str", "jaccard_sorted_str(a, b) — exact Jaccard of sorted distinct string arrays",
      classOf[JaccardSortedStrExpr]) { case Seq(a, b) => JaccardSortedStrExpr(a, b) },
    f("dot_product", "dot_product(a, b) — float/double array dot product",
      classOf[DotProductExpr]) { case Seq(a, b) => DotProductExpr(a, b) },
    f("quantize_int8", "quantize_int8(v) — struct(scale, int8 bytes) at 1/8 the footprint",
      classOf[QuantizeInt8Expr]) { case Seq(v) => QuantizeInt8Expr(v) },
    f("quantized_dot", "quantized_dot(a, b) — integer-MAC dot of quantize_int8 structs",
      classOf[QuantizedDotExpr]) { case Seq(a, b) => QuantizedDotExpr(a, b) },
    f("earliest_after", "earliest_after(schedule, threshold) — earliest entry (plus ties) of a " +
      "sorted array<struct<t_dep,t_id>> with t_dep strictly after threshold",
      classOf[EarliestAfterExpr]) { case Seq(s, t) => EarliestAfterExpr(s, t) },
    f("repetition_stats", "repetition_stats(tokens) — per-document gram stats " +
      "struct(n_distinct, big_top, big_total, tri_dup, tri_total)",
      classOf[RepetitionStatsExpr]) { case Seq(t) => RepetitionStatsExpr(t) },
    f("lang_id", "lang_id(tokens) — stopword-vote language code ('und' when no stopword hits)",
      classOf[LangScoreExpr]) {
      case Seq(t) => LangScoreExpr(t, graft.functions.TextFunctions.stopwords.toSeq.sortBy(_._1))
    },
    f("image_dims", "image_dims(bytes) — struct(width, height) from a PNG/GIF/BMP/JPEG " +
      "header, NULL for non-image bytes",
      classOf[ImageDimsExpr]) { case Seq(b) => ImageDimsExpr(b) },

    // Column compositions, converted to real catalyst trees by the bridge.
    f("haversine_meters", "haversine_meters(lat1, lon1, lat2, lon2) — great-circle meters",
      graft.functions.SpatialFunctions.getClass) {
      case Seq(lat1, lon1, lat2, lon2) =>
        ColumnBridge.expression(graft.functions.SpatialFunctions.haversineMeters(
          ColumnBridge.column(lat1), ColumnBridge.column(lon1),
          ColumnBridge.column(lat2), ColumnBridge.column(lon2)))
    },
    f("seconds_since_midnight", "seconds_since_midnight('HH:MM:SS') — GTFS time to int (hours may exceed 23)",
      graft.functions.TimeFunctions.getClass) {
      case Seq(s) => ColumnBridge.expression(
        graft.functions.TimeFunctions.secondsSinceMidnight(ColumnBridge.column(s)))
    },
    f("hms_string", "hms_string(secs) — seconds-since-midnight back to 'HH:MM:SS'",
      graft.functions.TimeFunctions.getClass) {
      case Seq(s) => ColumnBridge.expression(
        graft.functions.TimeFunctions.hmsString(ColumnBridge.column(s)))
    },
  )
}
