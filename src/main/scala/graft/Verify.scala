package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional extra args: run only these queries (local iteration aid; the
    // driver always passes exactly two args and gets the full dump)
    val only = args.drop(2).toSet
    // run-scoped media-feature fixture (ADVICE r15 + VERDICT r16 #1): a
    // SIBLING of outDir, not inside it — the driver enumerates parquet
    // dirs under outDir as query outputs, and the array-valued fixture
    // read as a phantom 134th query crashed its pandas sort. The sibling
    // stays unique per run (no concurrent-run clobbering) and the emitted
    // oracle SQL resolves the same absolute path at call time.
    graft.extra.Multimodal.setFeaturesFixtureDir(s"$outDir.fixtures/media_features")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.builder("graft-verify", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only.contains(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      finally Caching.release() // free this query's ephemeral pins
    }
    // the media family's DuckDB twins read the decoded feature table from a
    // fixture dump (SQL cannot decode PNG/WAV/AVI; everything after decode —
    // projection, banding, cosine, components — is reproduced independently
    // in SQL). Written whenever the media queries are in scope, from the
    // same memoized artifact those queries served from.
    val mediaQ = Set("dedup_media", "dedup_media_clusters")
    if (only.isEmpty || only.exists(mediaQ))
      try graft.extra.Multimodal.dumpFeaturesFixture(
        Tables.load(spark, sfDir, "documents"), s"$sfDir#media:documents")
      catch { case e: Throwable =>
        System.err.println(s"[verify] features fixture dump failed: ${e.getMessage}")
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // outDir-hygiene tripwire (VERDICT r16 #2): the driver scans every
    // directory under outDir as a query output, so a stray non-query dump
    // here reads as a phantom failing query. Fail loudly at dump time
    // instead of at the driver's compare.
    val stray = Option(new java.io.File(outDir).listFiles()).toSeq.flatten
      .filter(_.isDirectory).map(_.getName)
      .filterNot(SparkEntry.queries.keySet)
    require(stray.isEmpty,
      s"non-query directories in Verify outDir (driver reads them as " +
        s"query outputs): ${stray.mkString(", ")}")
    spark.stop()
  }
}
