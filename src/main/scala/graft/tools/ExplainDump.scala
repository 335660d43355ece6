package graft.tools

/** Dumps `.explain("formatted")` of named catalog queries to files — the
  * optimization rounds' before/after plan evidence
  * (`plans/r20/<query>_<tag>.txt`).
  *
  * `sbt "runMain graft.tools.ExplainDump <tag> <name>[,<name>...] [outDir] [sfDir]"`
  *
  * Demo-engine queries that execute eagerly at construction still produce a
  * plan here: the dump captures the plan of the RETURNED DataFrame (the
  * final declared result), which is the comparable artifact across rounds.
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val tag = args(0)
    val names = args(1).split(",").toSeq
    val outDir = if (args.length > 2) args(2) else "plans/r20"
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.1"
    val spark = graft.Bench.session(8)
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val catalog = graft.queries.Catalog.all.map(q => q.name -> q.run).toMap
    names.foreach { name =>
      val fn = catalog.getOrElse(name, sys.error(s"no catalog query named $name"))
      val df = fn(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$outDir/${name}_$tag.txt"),
        plan.getBytes("UTF-8"))
      println(s"wrote $outDir/${name}_$tag.txt (${plan.length} chars)")
      spark.catalog.clearCache()
      graft.Runtime.releaseAll()
    }
    spark.stop()
  }
}
