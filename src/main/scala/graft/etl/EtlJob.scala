package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The phased incremental ETL job runner (reference:
  * etl_framework.py:412-488 ETLJobBase.run — extract → validate →
  * dedup → transform → load, with per-phase metrics).
  *
  * Differences from the reference, on purpose: phase counts come from one
  * cached pass instead of recomputing the frame per `df.count()` (the
  * reference recomputes the whole lineage at ETL:422/456), and the load
  * is a [[SnapshotMerge]] upsert (one epoch per run, only the touched
  * partitions rewritten) instead of blind append.
  */
object EtlJob {

  final case class Metrics(
      extracted: Long, valid: Long, quarantined: Long,
      deduped: Long, loaded: Long, qualityScore: Double)

  def run(
      spark: SparkSession,
      source: DataFrame,
      targetDir: String,
      watermarkCol: String,
      keys: Seq[String],
      rules: Seq[Quality.Rule],
      transform: DataFrame => DataFrame,
      partitionCol: String,
      quarantineDir: Option[String] = None): Metrics = {

    // extract (incremental, pushdown-friendly watermark filter). The
    // target exists once its first manifest is committed — a try/catch
    // around the read would misread a transient storage error as "no
    // target" and silently disable incremental filtering for the run.
    val target = SnapshotMerge.latestSnapshot(spark, targetDir)
      .map(s => SnapshotMerge.read(spark, targetDir, Some(s.epoch)))
    val fresh = target.fold(source)(Incremental.newRows(source, _, watermarkCol))
    val freshC = fresh.cache()
    val extracted = freshC.count()

    // validate + quarantine (the quarantine WRITE happens after a
    // successful load — the watermark only advances on success, so
    // writing earlier would duplicate quarantine rows on every retry)
    val validated = Quality.validate(freshC, rules).cache()
    val (clean, quarantined) = Quality.quarantine(validated)
    val validN = clean.count()
    val quarN = quarantined.count()
    val quality = if (extracted == 0) 1.0 else validN.toDouble / extracted

    // dedup — tie-break on every non-key column so equal-watermark
    // duplicates have a deterministic survivor (the keys themselves are
    // constant within a window partition and break no ties)
    val cleanCols = clean.drop("_dq_errors", "_dq_valid", "_dq_score")
    val tieBreak = Seq(col(watermarkCol)) ++
      cleanCols.columns.filterNot(c => keys.contains(c) || c == watermarkCol).sorted.map(col)
    val deduped = Dedup.keepLatest(cleanCols, keys, tieBreak).cache()
    val dedupN = deduped.count()

    // transform + load (partition-pruned upsert; an empty target
    // bootstraps); count from the cached frame so the transform runs
    // once, not once per action
    val out = transform(deduped).cache()
    val loaded = out.count()
    SnapshotMerge.upsert(spark, targetDir, out, keys, partitionCol)
    quarantineDir.foreach(d => quarantined.write.mode(SaveMode.Append).parquet(d))

    freshC.unpersist(); validated.unpersist(); deduped.unpersist(); out.unpersist()
    Metrics(extracted, validN, quarN, dedupN, loaded, quality)
  }
}
