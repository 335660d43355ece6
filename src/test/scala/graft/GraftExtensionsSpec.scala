package graft

import graft.functions.TextFunctions._

/** The SQL function surface: GraftExtensions.register wires the same
  * (name, info, builder) triples the SparkSessionExtensions path injects,
  * so `spark.sql("SELECT md5_shingles(...)")` runs the native kernels. */
class GraftExtensionsSpec extends SparkSpec {
  import spark.implicits._

  GraftExtensions.register(spark)

  test("SQL calls hit the same native kernels as the Column API") {
    Seq(("the quick brown fox", 1L)).toDF("text", "id").createOrReplaceTempView("docs_ext")
    val viaSql = spark.sql(
      """SELECT md5_shingles(filter(split(text, '\\s+'), x -> length(x) > 0), 2) AS sh,
        |       simhash_md5(filter(split(text, '\\s+'), x -> length(x) > 0)) AS sim,
        |       haversine_meters(44.6, 10.9, 44.64, 10.92) AS dist,
        |       seconds_since_midnight('25:10:09') AS secs,
        |       hms_string(87000) AS hms
        |FROM docs_ext""".stripMargin).head
    val viaCols = Seq("the quick brown fox").toDF("text")
      .select(md5Shingles($"text", 2).as("sh"), simhashMd5($"text").as("sim"))
      .head
    assert(viaSql.getSeq[String](0) == viaCols.getSeq[String](0))
    assert(viaSql.getLong(1) == viaCols.getLong(1))
    assert(math.abs(viaSql.getDouble(2) -
      graft.functions.SpatialFunctions.haversineMetersScalar(44.6, 10.9, 44.64, 10.92)) < 1e-6)
    assert(viaSql.getInt(3) == 25 * 3600 + 609)
    assert(viaSql.getString(4) == "24:10:00")
  }

  test("SQL-only minhash LSH pipeline matches the Column pipeline") {
    val docs = Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (3L, "completely different words here")).toDF("doc_id", "text")
    docs.createOrReplaceTempView("docs_sql")
    val sql = spark.sql(
      """WITH sh AS (
        |  SELECT doc_id,
        |         md5_shingles(filter(split(text, '\\s+'), x -> length(x) > 0), 2) AS s
        |  FROM docs_sql),
        |keyed AS (
        |  SELECT doc_id, b.band, b.key
        |  FROM sh LATERAL VIEW explode(lsh_band_keys_md5(minhash_md5(s, 8), 4, 2)) AS b)
        |SELECT a.doc_id AS a_id, c.doc_id AS b_id,
        |       max(jaccard_sorted_str(sa.s, sc.s)) AS j
        |FROM keyed a JOIN keyed c ON a.band = c.band AND a.key = c.key
        |JOIN sh sa ON a.doc_id = sa.doc_id JOIN sh sc ON c.doc_id = sc.doc_id
        |WHERE a.doc_id < c.doc_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
      .as[(Long, Long, Double)].collect().toSeq
    assert(sql == Seq((1L, 2L, 1.0))) // only the identical pair collides
    // int8 quantized dot from SQL
    val qd = spark.sql(
      "SELECT quantized_dot(quantize_int8(array(0.6D, 0.8D)), quantize_int8(array(0.6D, 0.8D)))")
      .head.getDouble(0)
    assert(math.abs(qd - 1.0) < 0.02)
  }

  test("earliest_after probes a sorted schedule from SQL") {
    val e = spark.sql(
      """SELECT earliest_after(
        |  array(struct(10L, 1L), struct(20L, 2L), struct(20L, 3L), struct(30L, 4L)),
        |  10L) AS e""".stripMargin)
      .head.getSeq[org.apache.spark.sql.Row](0)
    // strictly after 10 → earliest dep is 20, both ties kept, 30 dropped
    assert(e.map(x => (x.getLong(0), x.getLong(1))) == Seq((20L, 2L), (20L, 3L)))
    val none = spark.sql(
      "SELECT earliest_after(array(struct(10L, 1L)), 10L)").head.getSeq[Any](0)
    assert(none.isEmpty) // threshold at the last departure → no edge
  }

  test("image_dims parses a binary literal from SQL") {
    val r = spark.sql(
      s"SELECT image_dims(unhex('${graft.multimodal.Media.tinyBmp(4, 2)
        .map("%02x".format(_)).mkString}')) AS d")
      .select("d.width", "d.height").head
    assert((r.getInt(0), r.getInt(1)) == (4, 2))
    assert(spark.sql("SELECT image_dims(encode('junk', 'UTF-8'))").head.isNullAt(0))
  }

  test("one SQL surface: literal-only arguments are checked, lang_id is registered") {
    // k must fold to an Int at analysis time; a column k is rejected by the
    // same check every literal-argument kernel uses
    val err = intercept[Exception] {
      spark.sql("SELECT minhash_signature(s, k) FROM VALUES (array('x'), 4) AS t(s, k)")
        .collect()
    }
    val msgs = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .map(e => String.valueOf(e.getMessage)).toSeq
    assert(msgs.exists(_.contains(
      "minhash_signature: k must be a foldable integer expression")), msgs.mkString(" | "))
    assert(spark.sql("SELECT lang_id(array('the','cat','and','dog'))").head.getString(0) == "en")
  }

  test("extension class wires the same triples as register()") {
    // the SparkSessionExtensions path can't attach to a running session;
    // prove the class applies cleanly and carries the full set
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext) // must not throw
    assert(GraftExtensions.all.map(_._1).distinct.size == GraftExtensions.all.size)
    assert(GraftExtensions.all.size >= 14)
  }
}
