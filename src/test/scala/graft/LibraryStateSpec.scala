package graft

import org.scalatest.funsuite.AnyFunSuite

/** Library code keeps no process-global state: the routing, projection,
  * operator, API and query-catalog layers take every setting through their
  * own arguments and report regime evidence through per-instance values
  * (`RoutingEngine.evidence`, `Bpe.TrainTelemetry`). This spec fails when
  * an environment or system-property read, a `println` trace, or an
  * object-level counter creeps back into those packages, and when a main
  * anywhere under `graft` builds its own Spark session instead of taking
  * Bench's. No Spark session needed — pure file bookkeeping, like
  * [[PlansFreshnessSpec]]. */
class LibraryStateSpec extends AnyFunSuite {
  import scala.jdk.CollectionConverters._

  private val mainDir = java.nio.file.Paths.get("src", "main", "scala", "graft")
  private val libraryDirs = Seq("graph", "operators", "projection", "api", "queries")
    .map(d => mainDir.resolve(d))

  /** (path, source text) of every Scala file under `dirs`. */
  private def scalaSources(dirs: Seq[java.nio.file.Path]): Seq[(java.nio.file.Path, String)] =
    dirs.flatMap { dir =>
      assert(java.nio.file.Files.isDirectory(dir), s"$dir missing")
      val walk = java.nio.file.Files.walk(dir)
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }.sorted.map(p => p -> new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))

  private lazy val sources = scalaSources(libraryDirs)

  test("library packages read no environment variables and print nothing") {
    assert(sources.nonEmpty)
    val banned = "sys\\.env|System\\.getenv|sys\\.props|System\\.getProperty|println".r
    val hits = for {
      (path, text) <- sources
      (line, i) <- text.split("\n", -1).zipWithIndex
      if banned.findFirstIn(line).isDefined
    } yield s"$path:${i + 1}: ${line.trim}"
    if (hits.nonEmpty) fail(hits.mkString("library code reads env/prints:\n", "\n", ""))
  }

  test("library objects hold no counters except private name sequencers") {
    // An object-level atomic or concurrent collection is process-global
    // state. The only ones allowed are private `*Seq` counters that make
    // checkpoint and observation names unique; regime evidence lives in
    // per-instance classes. Members of a top-level definition sit at a
    // two-space indent; a declaration may carry its initializer on the
    // next line.
    val stateful = "java\\.util\\.concurrent\\.(atomic\\.|CopyOnWrite)".r
    val member = "^  (private(\\[\\w+\\])? |@volatile )*va[lr] (\\w+).*".r
    val topLevel = "^(final |private |sealed |case )*(object|class|trait) .*".r
    val hits = for {
      (path, text) <- sources
      lines = text.split("\n", -1)
      (line, i) <- lines.zipWithIndex
      if stateful.findFirstIn(line).isDefined
      decl <- Seq(line, if (i > 0) lines(i - 1) else "").collectFirst {
        case d @ member(_, _, _) => d
      }
      owner <- lines.take(i + 1).reverseIterator.collectFirst {
        case topLevel(_, kind) => kind
      }
      if owner == "object" && !decl.matches("^  private val \\w+Seq = .*")
    } yield s"$path:${i + 1}: ${decl.trim}"
    if (hits.nonEmpty) fail(hits.mkString("object-level counters:\n", "\n", ""))
  }

  test("every main builds its Spark session through Bench.session") {
    // One factory holds the session conf and the core-count override, so a
    // tool measures the same program Bench times. `Bench.session` runs from
    // its `def` line to the closing brace at member indent.
    val banned = "SparkSession\\.builder|SPARK_GRAFT_CPUS".r
    val hits = for {
      (path, text) <- scalaSources(Seq(mainDir))
      lines = text.split("\n", -1)
      factory = if (path.getFileName.toString != "Bench.scala") None else {
        val from = lines.indexWhere(_.matches("  (private\\[graft\\] )?def session\\(.*"))
        if (from < 0) None else Some(from to lines.indexWhere(_ == "  }", from))
      }
      (line, i) <- lines.zipWithIndex
      if banned.findFirstIn(line).isDefined && !factory.exists(_.contains(i))
    } yield s"$path:${i + 1}: ${line.trim}"
    if (hits.nonEmpty) fail(hits.mkString("session built outside Bench.session:\n", "\n", ""))
  }
}
