package graft

import org.scalatest.funsuite.AnyFunSuite

/** Library code keeps no process-global state: the routing, projection,
  * operator and API layers take every setting through their own arguments
  * and report regime evidence through per-instance values
  * (`RoutingEngine.evidence`, `Bpe.TrainTelemetry`). This spec fails when
  * an environment read, a `println` trace, or an object-level counter
  * creeps back into those packages. No Spark session needed — pure file
  * bookkeeping, like [[PlansFreshnessSpec]]. */
class LibraryStateSpec extends AnyFunSuite {
  import scala.jdk.CollectionConverters._

  private val libraryDirs = Seq("graph", "operators", "projection", "api")
    .map(d => java.nio.file.Paths.get("src", "main", "scala", "graft", d))

  /** (path, source text) of every Scala file under the library dirs. */
  private lazy val sources: Seq[(java.nio.file.Path, String)] =
    libraryDirs.flatMap { dir =>
      assert(java.nio.file.Files.isDirectory(dir), s"$dir missing")
      val walk = java.nio.file.Files.walk(dir)
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }.sorted.map(p => p -> new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))

  test("library packages read no environment variables and print nothing") {
    assert(sources.nonEmpty)
    val banned = "sys\\.env|System\\.getenv|println".r
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
}
