package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deterministic generator of the catalog's input tables: the TPC-H-like
  * star schema plus `events`, `documents` and `embeddings`, with the column
  * names, types and value domains the catalog queries read. Every value is
  * a hash of (table, row id, column), so the tables are identical on every
  * run and at any partitioning. Sized like the smallest catalog scale
  * (6,000 line items). */
object CatalogData {

  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private val Regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Adjectives = Seq("blue", "cold", "hot", "large", "new", "old", "red", "small")
  private val Nouns = Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
  private val PartTypes = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")
  private val Langs = Seq("en", "en", "de", "es", "fr", "zh")
  private val Words = Seq("a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
    "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the", "value",
    "vector", "window")

  /** Uniform integer in [0, n) for column `salt` of row `id`. */
  private def u(id: Column, salt: String, n: Long): Column =
    pmod(xxhash64(lit(salt), id), lit(n))

  private def pick(xs: Seq[String], i: Column): Column =
    element_at(array(xs.map(lit): _*), (i + 1).cast("int"))

  private def money(id: Column, salt: String, lo: Double, hi: Double): Column =
    round(lit(lo) + u(id, salt, math.round((hi - lo) * 100)) / 100.0, 2)

  private def day(id: Column, salt: String, from: String, days: Int): Column =
    to_timestamp(date_add(lit(from).cast("date"), u(id, salt, days).cast("int")))

  def frames(spark: SparkSession): Seq[(String, DataFrame)] = {
    def rows(n: Long) = spark.range(0L, n, 1L, 1)
    val id = col("id")
    val region = rows(5).select(id.cast("int").as("r_regionkey"),
      pick(Regions, id).as("r_name"))
    val nation = rows(25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id).as("n_name"), (id % 5).cast("int").as("n_regionkey"))
    val customer = rows(150).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      u(id, "c_nation", 25).cast("int").as("c_nationkey"),
      money(id, "c_acctbal", -999.99, 9999.99).as("c_acctbal"),
      pick(Segments, u(id, "c_seg", 5)).as("c_mktsegment"))
    val supplier = rows(10).select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      u(id, "s_nation", 25).cast("int").as("s_nationkey"),
      money(id, "s_acctbal", -999.99, 9999.99).as("s_acctbal"))
    val part = rows(200).select(id.as("p_partkey"),
      concat_ws(" ", pick(Adjectives, u(id, "p_adj", 8)), pick(Nouns, u(id, "p_noun", 8)))
        .as("p_name"),
      concat(lit("Brand#"), u(id, "p_brand", 25) + 1).as("p_brand"),
      pick(PartTypes, u(id, "p_type", 6)).as("p_type"),
      (u(id, "p_size", 50) + 1).cast("int").as("p_size"),
      (lit(900.0) + (id % 1000) / 10.0).as("p_retailprice"))
    val orders = rows(1500).select(id.as("o_orderkey"),
      u(id, "o_cust", 150).as("o_custkey"),
      pick(Seq("F", "O", "P"), u(id, "o_status", 3)).as("o_orderstatus"),
      money(id, "o_price", 1000.0, 500000.0).as("o_totalprice"),
      day(id, "o_date", "1995-01-01", 2404).as("o_orderdate"),
      pick(Priorities, u(id, "o_prio", 5)).as("o_orderpriority"))
    val lineitem = rows(6000).select(u(id, "l_order", 1500).as("l_orderkey"),
      u(id, "l_part", 200).as("l_partkey"), u(id, "l_supp", 10).as("l_suppkey"),
      (id % 7 + 1).cast("int").as("l_linenumber"),
      (u(id, "l_qty", 50) + 1).cast("double").as("l_quantity"),
      money(id, "l_price", 900.0, 105000.0).as("l_extendedprice"),
      (u(id, "l_disc", 11) / 100.0).as("l_discount"),
      (u(id, "l_tax", 9) / 100.0).as("l_tax"),
      pick(Seq("A", "N", "R"), u(id, "l_flag", 3)).as("l_returnflag"),
      pick(Seq("F", "O"), u(id, "l_status", 2)).as("l_linestatus"),
      day(id, "l_ship", "1995-01-02", 2498).as("l_shipdate"))
    val events = rows(1000).select(id.as("event_id"),
      timestamp_micros(lit(1704067200000000L) + id * 2592000000L +
        u(id, "ev_jitter", 2000000000L)).as("ts"),
      u(id, "ev_user", 150).as("user_id"),
      pick(EventTypes, u(id, "ev_type", 5)).as("event_type"),
      money(id, "ev_value", 0.01, 490.0).as("value"),
      format_string("{\"k\": %d}", u(id, "ev_k", 100)).as("props"))
    // Every 25th document repeats its predecessor's words plus " dup", so
    // the dedup and contamination queries find near-duplicates.
    val base = when(id % 25 === 7, id - 1).otherwise(id)
    val words = transform(sequence(lit(1), (u(base, "d_len", 90) + 10).cast("int")),
      i => pick(Words, pmod(xxhash64(lit("d_word"), base, i), lit(Words.size.toLong))))
    val documents = rows(500)
      .select(id.as("doc_id"),
        concat(array_join(words, " "), when(id % 25 === 7, lit(" dup")).otherwise(lit("")))
          .as("text"),
        pick(Langs, u(id, "d_lang", Langs.size)).as("lang"),
        concat(lit("src"), id % 20).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    // 64-d unit vectors scattered around one of ten label centroids.
    val label = u(id, "e_label", 10)
    val raw = transform(sequence(lit(0), lit(63)), j =>
      (pmod(xxhash64(lit("e_centroid"), label, j), lit(2001L)) - 1000) / 1000.0 +
        (pmod(xxhash64(lit("e_noise"), id, j), lit(2001L)) - 1000) / 4000.0)
    val embeddings = rows(500)
      .select(id.as("vec_id"), raw.as("raw"), label.cast("int").as("label"))
      .select(col("vec_id"),
        transform(col("raw"), x => (x / sqrt(aggregate(col("raw"), lit(0.0),
          (acc, y) => acc + y * y))).cast(FloatType)).as("embedding"),
        col("label"))
    Seq("region" -> region, "nation" -> nation, "customer" -> customer,
      "supplier" -> supplier, "part" -> part, "orders" -> orders,
      "lineitem" -> lineitem, "events" -> events, "documents" -> documents,
      "embeddings" -> embeddings)
  }

  /** Write every table as `<dir>/<name>.parquet`, replacing what is there. */
  def write(spark: SparkSession, dir: String): Unit =
    frames(spark).foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
}
