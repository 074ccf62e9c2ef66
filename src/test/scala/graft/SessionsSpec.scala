package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every session the repo builds goes through [[Sessions]], and so carries
  * its confs whether or not the JVM was launched with the `-Dspark.*`
  * options of `build.sbt`.
  */
class SessionsSpec extends AnyFunSuite {
  private val cachedPlanConf =
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"

  test("src/main/scala builds a SparkSession in exactly one place") {
    val root = new java.io.File("src/main/scala")
    def scalaFiles(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles.toSeq.flatMap(scalaFiles)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val builderCall = """SparkSession\s*\.\s*builder\b""".r
    val sites = for {
      f <- scalaFiles(root)
      src = new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8)
      _ <- builderCall.findAllIn(src)
    } yield f.getPath.stripPrefix("src/main/scala/")
    assert(sites == Seq("graft/Sessions.scala"),
      s"SparkSession.builder() outside graft.Sessions: $sites")
  }

  test("Sessions applies the cached-plan conf itself, not via -D") {
    val applied = Sessions.confs(8).toMap
    assert(applied.get(cachedPlanConf).contains("true"))
    assert(applied.get("spark.sql.session.timeZone").contains("UTC"))
    assert(applied.get("spark.sql.shuffle.partitions").contains("8"))
    assert(applied.get("spark.ui.enabled").contains("false"))
  }

  test("the suite's session carries the Sessions confs") {
    val conf = SparkTestSession.spark.conf
    assert(conf.get(cachedPlanConf) == "true")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.shuffle.partitions") == "8")
  }
}
