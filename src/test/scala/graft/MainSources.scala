package graft

/** The main source tree as text, for specs that pin where a call may
  * appear or what a document may name.
  */
object MainSources {
  /** (path under src/main/scala, contents) of every main source file. */
  lazy val files: Seq[(String, String)] = {
    val root = new java.io.File("src/main/scala")
    def scalaFiles(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles.toSeq.sortBy(_.getName).flatMap(scalaFiles)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    scalaFiles(root).map(f => f.getPath.stripPrefix("src/main/scala/") ->
      new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8))
  }

  /** The file of every match of `call`, once per match. */
  def sitesOf(call: scala.util.matching.Regex): Seq[String] =
    for ((path, src) <- files; _ <- call.findAllIn(src)) yield path
}
