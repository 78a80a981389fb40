package graft.sources

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Tiny best-effort LONG pointer files (ONE shared implementation —
  * r17 review: the tip pointer and the stream pacing floor had grown
  * four hand-kept copies of the same read/write logic, so a fix in one
  * would not reach the others).
  *
  * Contract: the pointer is an OPTIMIZATION, never truth — readers must
  * tolerate a missing, stale, or torn pointer (both call sites fall
  * back: [[graft.etl.SnapshotMerge.tipEpoch]] to the manifest listing,
  * the pacing floor to a one-batch widening). Writes are tmp +
  * rename-overwrite, never truncate-in-place (a crash between an
  * in-place create and its write would leave an EMPTY pointer, the one
  * state a fallback cannot distinguish from "never written"), and every
  * failure path self-cleans its tmp so a persistently failing rename
  * (raw S3A, permissions) cannot accumulate one orphan per write in a
  * directory other code must list. */
object PointerFile {

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  /** The pointer's value, or None when missing/unreadable/unparseable
    * (a torn or checksum-stale pointer reads as absent, by design). */
  def read(spark: SparkSession, p: Path): Option[Long] =
    try {
      val fs = fsOf(spark, p)
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        val text = try new String(
          org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8").trim
        finally in.close()
        scala.util.Try(text.toLong).toOption
      }
    } catch {
      case e: InterruptedException =>
        Thread.currentThread().interrupt(); None
      case NonFatal(_) => None
    }

  /** Best-effort write — swallows every failure (the value is
    * reconstructible), cleaning its tmp on the way out. */
  def write(spark: SparkSession, p: Path, v: Long): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val fs = p.getFileSystem(conf)
    val tmp = new Path(p.getParent,
      s".${p.getName}.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    try {
      val out = fs.create(tmp, true)
      try out.write(v.toString.getBytes("UTF-8")) finally out.close()
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(fs.getUri, conf)
      fc.rename(fs.makeQualified(tmp), fs.makeQualified(p),
        org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    } catch {
      // best-effort means NonFatal failures are swallowed after the tmp
      // cleanup — but this runs on the COMMIT hot path (writeManifest),
      // so a cancelled thread's InterruptedException must re-set the
      // interrupt status rather than vanish, and fatal VM errors must
      // propagate (r17 ADVICE)
      case e: InterruptedException =>
        deleteQuietly(fs, tmp, recursive = false)
        Thread.currentThread().interrupt()
      case NonFatal(_) =>
        deleteQuietly(fs, tmp, recursive = false)
    }
  }

  /** Best-effort delete for cleanup paths (this file's tmp pointers and
    * every staging/abort cleanup of [[graft.etl.SnapshotMerge]]): an
    * ordinary failure — an `IOException`, a `false` return — is
    * swallowed, because the caller's own result or error is what must
    * surface and the leftover is inert. Fatal errors (VM errors,
    * linkage errors, interruption) propagate. */
  private[graft] def deleteQuietly(fs: FileSystem, p: Path, recursive: Boolean): Unit =
    try { fs.delete(p, recursive); () } catch { case NonFatal(_) => () }
}
