package graft

import org.scalatest.funsuite.AnyFunSuite

/** COVERAGE.md cites operators as `Object.member`; a rename or deletion in
  * main code must take the row's citation with it.
  */
class CoverageSpec extends AnyFunSuite {

  test("every `Object.member` COVERAGE.md cites is defined in src/main/scala") {
    val definition = """\b(?:def|val|var|object|class|trait|type)\s+(\w+)""".r
    def namesIn(src: String, r: scala.util.matching.Regex): Set[String] =
      r.findAllMatchIn(src).map(_.group(1)).toSet
    // object name -> every name defined in a file that defines the object
    val membersOf: Map[String, Set[String]] = MainSources.files
      .flatMap { case (_, src) =>
        namesIn(src, """\bobject\s+(\w+)""".r).map(_ -> namesIn(src, definition))
      }
      .groupMapReduce(_._1)(_._2)(_ ++ _)
    val coverage = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("COVERAGE.md")),
      java.nio.charset.StandardCharsets.UTF_8)
    val cited = for {
      span <- "`([^`]+)`".r.findAllMatchIn(coverage).map(_.group(1)).toSeq
      m <- """\b([A-Z]\w*)\.(\w+)""".r.findAllMatchIn(span)
      // `Blocklist.scala` names a file, not a member
      if membersOf.contains(m.group(1)) && m.group(2) != "scala"
    } yield (m.group(1), m.group(2))
    assert(cited.nonEmpty)
    val missing = cited.distinct.filterNot { case (o, member) =>
      membersOf(o)(member)
    }.map { case (o, member) => s"$o.$member" }
    assert(missing.isEmpty, s"COVERAGE.md cites undefined members: $missing")
  }
}
