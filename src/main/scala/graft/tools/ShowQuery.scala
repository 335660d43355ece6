package graft.tools

/** Print one catalog query's result (and schema) by name — the manual probe
  * used to pin literal-VALUES golden oracles before they enter the catalog:
  * `sbt "runMain graft.tools.ShowQuery <name> [sfDir]"`. */
object ShowQuery {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val spark = graft.Bench.session(8)
    val q = graft.queries.Catalog.all.find(_.name == name)
      .getOrElse(sys.error(s"no catalog query named $name"))
    val df = q.run(spark, sfDir)
    df.printSchema()
    df.show(100, truncate = false)
    spark.stop()
  }
}
