package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.operators.SkewJoin

class SqlSurfaceSpec extends SparkSpec {
  import spark.implicits._

  test("registered SQL functions match the Column API") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT haversine_meters(48.8530, 2.3499, 51.5007, -0.1246) AS d,
        |       seconds_since_midnight('25:10:09') AS s,
        |       simhash64_tokens(array('a','b','c')) AS sh,
        |       dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS dp,
        |       jaccard_sorted(array(1L,2L,3L), array(2L,3L,4L)) AS j,
        |       lang_id(array('the','cat','and','dog')) AS lang
        |""".stripMargin).head
    assert(math.abs(r.getAs[Double]("d") - 343069.15) < 10)
    assert(r.getAs[Int]("s") == 25 * 3600 + 609)
    assert(r.getAs[Double]("dp") == 11.0)
    assert(r.getAs[Double]("j") == 0.5)
    assert(r.getAs[String]("lang") == "en")
    // SQL simhash equals the Column-API simhash on the same tokens
    val viaCol = Seq("a b c").toDF("t")
      .select(graft.functions.TextFunctions.simhash64($"t")).as[Long].head()
    assert(r.getAs[Long]("sh") == viaCol)
    // minhash with a literal k
    val sig = spark.sql("SELECT minhash_signature(array('x','y'), 4) AS sig")
      .head.getSeq[Long](0)
    assert(sig.length == 4)
  }

  test("salted aggregation equals the direct aggregation") {
    val df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val direct = df.groupBy("l_returnflag")
      .agg(sum($"l_quantity").as("sum_l_quantity"), count(lit(1)).as("count"))
      .orderBy("l_returnflag").collect().toSeq
    // a sum partial and a count partial, each finished by a sum
    def saltedBy(partial: Column, out: String) =
      SkewJoin.saltedAgg(df, "l_returnflag", "l_orderkey", 8, partial, sum(_), out)
    val salted = saltedBy(sum($"l_quantity"), "sum_l_quantity")
      .join(saltedBy(count(lit(1)), "count"), "l_returnflag")
      .orderBy("l_returnflag").collect().toSeq
    assert(salted.map(r => (r.getString(0), r.getDouble(1), r.getLong(2))) ==
      direct.map(r => (r.getString(0), r.getDouble(1), r.getLong(2))))
  }
}
