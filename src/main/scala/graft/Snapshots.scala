package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Crash-safe multi-part parquet snapshots for the artifact save/load
  * family (admission index, pair tables, gram counts + ledger, TF tables,
  * media features).
  *
  * A bare `mode("overwrite")` per part is NOT a safe snapshot protocol:
  * the overwrite deletes the previous data before the new write commits,
  * so a crash mid-save destroys the only snapshot — and a multi-part
  * artifact (pairs + unit arrays + probe table) written part-by-part can
  * be left with MIXED versions, which a later load would serve as a
  * silently inconsistent artifact (verdicts from one corpus state, probe
  * buckets from another).
  *
  * Protocol: every save writes ALL its parts into a fresh version
  * directory `v<N>` under the snapshot root, stamps the version with a
  * `_DONE` flag once every part is down, and then commits by replacing
  * the root's `_LATEST` marker (tmp-file + rename — atomic on local/HDFS,
  * single-object PUT on object stores). Loads resolve the marker and read
  * every part from THAT version. Crash anywhere mid-save ⇒ the previous
  * committed version is untouched and fully consistent; the partial
  * version directory is garbage that the next successful save prunes.
  * The brief marker-replacement window is covered by the fallback:
  * resolution without a usable marker picks the highest `_DONE` version,
  * which at that instant is exactly the version being committed.
  *
  * Legacy layout (parts directly under the root, pre-versioning saves) is
  * still readable: resolution falls through to the root itself when no
  * versioned snapshot exists.
  *
  * Concurrency contract (unchanged from the bare layout): save and load
  * of the SAME root are serialized by the per-key lock of the owning
  * [[Artifacts.Store]];
  * this helper adds crash-safety, not multi-writer coordination — two
  * UNCOORDINATED writers to one root could still interleave prunes with
  * reads. At lake scale the same protocol is what table formats implement
  * properly (Delta/Iceberg transaction logs); swap the root for a table
  * URI there.
  */
object Snapshots {
  private val Marker = "_LATEST"
  private val Done = "_DONE"

  private def fsOf(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def versionsOf(fs: org.apache.hadoop.fs.FileSystem,
                         root: Path): Seq[(Int, Path)] =
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq.flatMap { st =>
      val n = st.getPath.getName
      if (st.isDirectory && n.length > 1 && n.startsWith("v") &&
        n.drop(1).forall(_.isDigit))
        Some((n.drop(1).toInt, st.getPath))
      else None
    }

  /** Write `parts` as one committed snapshot version under `root`. Only
    * returns after the version is committed; prior committed versions and
    * any crashed partial versions are pruned afterwards (best-effort).
    * Each part is written as [[filesFor]] files, so a small part is one
    * file however many segments or shuffle partitions it unions.
    */
  def write(spark: SparkSession, root: String,
            parts: Seq[(String, DataFrame)]): Unit = {
    val rootP = new Path(root)
    val fs = fsOf(spark, rootP)
    val existing = versionsOf(fs, rootP)
    val next = (existing.map(_._1) :+ 0).max + 1
    val vdir = new Path(rootP, s"v$next")
    parts.foreach { case (name, df) =>
      df.coalesce(filesFor(df)).write.mode("overwrite")
        .parquet(new Path(vdir, name).toString)
    }
    fs.create(new Path(vdir, Done), true).close()
    val tmp = new Path(rootP, s"$Marker.v$next.tmp")
    val out = fs.create(tmp, true)
    try out.write(s"v$next".getBytes("UTF-8")) finally out.close()
    val marker = new Path(rootP, Marker)
    if (fs.exists(marker)) fs.delete(marker, false)
    // a failed rename is not a failed save — resolution falls back to the
    // highest _DONE version, which is exactly v<next> — but it must not be
    // SILENT: every later load pays the fallback listing, and a reader
    // seeing no marker can't tell a commit-window race from a broken fs
    if (!fs.rename(tmp, marker))
      System.err.println(
        s"[snapshots] marker rename failed at $root (v$next still " +
          "resolvable via its _DONE flag); leaving tmp for inspection")
    existing.foreach { case (_, p) =>
      try fs.delete(p, true) catch { case _: Exception => () }
    }
    // prune stale tmp marker files from earlier saves whose rename failed
    // or crashed mid-commit (this save's marker is already in place)
    if (fs.exists(rootP)) fs.listStatus(rootP).foreach { st =>
      val n = st.getPath.getName
      if (!st.isDirectory && n.startsWith(s"$Marker.") && n.endsWith(".tmp")
        && n != s"$Marker.v$next.tmp")
        try fs.delete(st.getPath, false) catch { case _: Exception => () }
    }
  }

  /** Files to write a part as: its bytes over the session's
    * `spark.sql.files.maxPartitionBytes` — the split size a reload scans
    * with — and at least one. Coalescing to it never shuffles, and a count
    * above the part's own partitioning leaves the write as it was.
    */
  private[graft] def filesFor(df: DataFrame): Int = {
    val target = df.sparkSession.sessionState.conf.filesMaxPartitionBytes
    ((bytesOf(df) + target - 1) / target).max(1).min(Int.MaxValue).toInt
  }

  /** An upper bound on a part's bytes, summed over its plan's leaves: a
    * pinned artifact (a checkpoint scan) counts the block bytes it holds,
    * any other leaf its statistics. A part is a union or an aggregate of
    * its leaves, so their sum bounds it; the pinned leaves' statistics
    * would not do, since they are the estimates of the plans that built
    * them (a join's estimate multiplies its inputs').
    */
  private def bytesOf(df: DataFrame): BigInt = {
    lazy val held = df.sparkSession.sparkContext.getRDDStorageInfo
      .map(i => i.id -> BigInt(i.memSize + i.diskSize)).toMap
    df.queryExecution.optimizedPlan.collectLeaves().map {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        held.getOrElse(l.rdd.id, l.stats.sizeInBytes)
      case leaf => leaf.stats.sizeInBytes
    }.sum
  }

  /** Resolve the directory holding the committed snapshot's parts:
    * the `_LATEST` version if usable, else the highest `_DONE` version,
    * else `root` itself for a LEGACY un-versioned layout (no `v<N>`
    * directories at all). A root whose only version directories are
    * UNCOMMITTED (a first save that crashed mid-write) is neither — that
    * root holds no readable snapshot, and falling back to it would turn
    * the documented skip-and-rebuild path into an AnalysisException on a
    * part path that never existed; it throws instead, and existence-gated
    * callers ([[committed]]) never get here.
    */
  def resolveDir(spark: SparkSession, root: String): String =
    resolveDirOpt(spark, root).getOrElse(throw new IllegalStateException(
      s"snapshot root '$root' has version directories but no committed " +
        "version — the only save into it crashed before commit"))

  /** [[resolveDir]] that signals "nothing committed here" as None instead
    * of throwing. None ⇔ the root has version directories but none with a
    * `_DONE` flag; a root with no version directories resolves to itself
    * (legacy layout — the caller's existence check vouches for it).
    */
  def resolveDirOpt(spark: SparkSession, root: String): Option[String] = {
    val rootP = new Path(root)
    val fs = fsOf(spark, rootP)
    def complete(p: Path) = fs.exists(new Path(p, Done))
    val marker = new Path(rootP, Marker)
    val fromMarker =
      if (!fs.exists(marker)) None
      else {
        val in = fs.open(marker)
        val name =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
          finally in.close()
        val p = new Path(rootP, name)
        if (name.nonEmpty && name.forall(c => c.isLetterOrDigit) &&
          fs.exists(p) && complete(p)) Some(p.toString)
        else None
      }
    fromMarker.orElse {
      val versions = versionsOf(fs, rootP)
      val done = versions.filter(v => complete(v._2))
      if (done.nonEmpty) Some(done.maxBy(_._1)._2.toString)
      else if (versions.nonEmpty) None // versioned root, nothing committed
      else Some(root) // legacy layout: parts directly under root
    }
  }

  /** True iff `root` holds a loadable snapshot: a committed version, or a
    * legacy layout (root exists with no version directories). The
    * existence gate for skip-if-never-snapshotted restart paths.
    */
  def committed(spark: SparkSession, root: String): Boolean = {
    val rootP = new Path(root)
    if (!fsOf(spark, rootP).exists(rootP)) false
    else resolveDirOpt(spark, root).isDefined
  }
}
