package graftbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Shared plumbing of the three chains. */
abstract class Chain(val spark: SparkSession, val tracer: Tracer, val rec: Record) {

  /** Writes every column of `df` to the `noop` sink. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode(SaveMode.Overwrite).save()

  /** One call into a layer: a span, counted as one operation. Returns the
    * span's wall time, or None when the call threw. */
  def call(span: String)(body: => Unit): Option[Double] = {
    val ms = rec.op(span)(tracer.span(span)(body)._2)
    ms.foreach(t => System.err.println(f"[perfbench] $span%s $t%.0f ms"))
    ms
  }

  def copyInto(src: Path, dst: Path): Unit = {
    Files.createDirectories(dst.getParent)
    Files.copy(src, dst, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Caches and persisted stores a pass left behind are dropped, so the
    * next pass starts cold. */
  def release(): Unit = {
    spark.catalog.clearCache()
    graft.CacheScope.releaseAll()
  }

  /** Runs `body` as one codegen phase; while tracing, its janino compiles
    * and compile time are charged to `name`. */
  def phase[T](name: String)(body: => T): T = {
    val m = Codegen.mark()
    val r = body
    if (tracer.tracing) Codegen.record(rec, name, m)
    r
  }

  def dirStats(dir: String): (Long, Long) = {
    val files = Files.walk(Paths.get(dir)).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet")).toSeq
    (files.size.toLong, files.map(Files.size).sum)
  }
}

/** events → raw → bronze (+ quarantine) → silver → gold, then the BI views
  * and the skew-join family over the bronze table and the star tables. */
final class MedallionChain(spark: SparkSession, tracer: Tracer, rec: Record)
    extends Chain(spark, tracer, rec) {

  private val registry = graft.SparkEntry.queries
  private def named(prefixes: Seq[String]): Seq[(String, String)] = prefixes.map { p =>
    p -> registry.keys.find(_.startsWith(p + "_"))
      .getOrElse(sys.error(s"no registered query named $p"))
  }
  val views: Seq[(String, String)] = named(MedallionChain.Views)
  val joins: Seq[(String, String)] = named(MedallionChain.Joins)
  private val starTables = Seq("customer", "orders", "lineitem", "part", "nation", "region")

  final case class Times(goldReady: Double, dashboard: Double, joins: Double)

  /** One pass. The lakehouse lives under `passDir`; the views read the
    * committed bronze table as `events` beside copies of the star tables. */
  def pass(inDir: String, passDir: String): Option[Times] = {
    val lake = s"$passDir/lake"
    starTables.foreach(t =>
      copyInto(Paths.get(inDir, s"$t.parquet"), Paths.get(lake, s"$t.parquet")))
    val events = s"$passDir/in/events_in.parquet"
    copyInto(Paths.get(inDir, "events_in.parquet"), Paths.get(events))
    val raw = s"$lake/raw"
    val bronze = s"$lake/events.parquet"
    val etl = phase("etl")(Seq(
      call("sources.raw_write") {
        graft.sources.Writers.writePartitioned(
          spark.read.parquet(events), "ts", raw, SaveMode.Overwrite)
      },
      call("etl.bronze") {
        val (b, q) = graft.etl.Medallion.toBronze(
          spark.read.parquet(raw).drop("year", "month", "day"))
        b.write.mode(SaveMode.Overwrite).parquet(bronze)
        q.write.mode(SaveMode.Overwrite).parquet(s"$lake/quarantine")
      },
      call("etl.silver") {
        graft.etl.Medallion.toSilverSessions(spark.read.parquet(bronze))
          .write.mode(SaveMode.Overwrite).parquet(s"$lake/silver_sessions")
      },
      call("etl.gold") {
        graft.etl.Medallion.toGoldDaily(spark.read.parquet(bronze))
          .write.mode(SaveMode.Overwrite).parquet(s"$lake/gold_daily")
      }))
    val dash = phase("dashboard")(views.map { case (short, name) =>
      val t = call(s"analytics.$short")(noop(registry(name)(spark, lake)))
      graft.CacheScope.releaseAll()
      t
    })
    val join = phase("joins")(joins.map { case (short, name) =>
      val t = call(s"operators.$short")(noop(registry(name)(spark, lake)))
      graft.CacheScope.releaseAll()
      t
    })
    if (tracer.tracing) layerCounts(lake)
    val all = etl ++ dash ++ join
    if (all.exists(_.isEmpty)) None
    else Some(Times(etl.flatten.sum / 1e3, dash.flatten.sum / 1e3, join.flatten.sum / 1e3))
  }

  /** Row and file counts of each layer a pass committed. */
  def counts(lake: String): Map[String, Long] = {
    def rows(p: String) = spark.read.parquet(p).count()
    val (files, bytes) = dirStats(s"$lake/raw")
    Map("raw" -> rows(s"$lake/raw"), "raw_files" -> files, "raw_bytes" -> bytes,
      "bronze" -> rows(s"$lake/events.parquet"),
      "quarantined" -> rows(s"$lake/quarantine"),
      "silver" -> rows(s"$lake/silver_sessions"),
      "gold" -> rows(s"$lake/gold_daily"))
  }

  private def layerCounts(lake: String): Unit = {
    val c = counts(lake)
    rec.layerValue("sources.raw_write.bytes", c("raw_bytes").toDouble)
    rec.layerValue("sources.raw_write.files", c("raw_files").toDouble)
    rec.layerValue("sources.raw_write.rows", c("raw").toDouble)
    rec.layerValue("etl.bronze.rows_out", c("bronze").toDouble)
    rec.layerValue("etl.silver.rows_out", c("silver").toDouble)
    rec.layerValue("etl.gold.rows_out", c("gold").toDouble)
    rec.layerValue("etl.bronze.quarantined", c("quarantined").toDouble)
    rec.layerValue("etl.bronze.dedup_dropped",
      (c("raw") - c("bronze") - c("quarantined")).toDouble)
  }

  /** Output checks, outside any timed region: layer counts plus every view
    * and join written to parquet for the DuckDB oracle. */
  def writeChecks(passDir: String, checkDir: String): Map[String, Long] = {
    val lake = s"$passDir/lake"
    // four threads: the queries' own cost is mostly per-query fixed cost
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      (views ++ joins).map { case (_, name) =>
        pool.submit(() => rec.op(s"check $name") {
          registry(name)(spark, lake).write.mode(SaveMode.Overwrite).parquet(s"$checkDir/$name")
        })
      }.foreach(_.get())
    } finally pool.shutdown()
    graft.CacheScope.releaseAll()
    counts(lake)
  }
}

object MedallionChain {
  /** A cold pass over all of v01–v13 and the nine skew joins costs about
    * 40 s on four cores, more than a whole run may take. These three views
    * (an events rollup, a cached rank over a star join, a four-table star
    * join) and two joins (salted range join, auto-salted as-of join) keep
    * the query shapes inside a run's budget. */
  val Views: Seq[String] = Seq("v01", "v04", "v09")
  val Joins: Seq[String] = Seq("q94", "q101")
}

/** documents → signatures → candidate pairs → clusters → leakage-safe split. */
final class LlmChain(spark: SparkSession, tracer: Tracer, rec: Record)
    extends Chain(spark, tracer, rec) {
  import graft.llm.SigStore

  private val l29 = graft.SparkEntry.queries("l29_leakage_safe_split")

  /** One cold pass over a fresh copy of the corpus; returns the chain's
    * seconds. */
  def pass(inDir: String, passDir: String): Option[Double] = {
    val dir = s"$passDir/corpus"
    copyInto(Paths.get(inDir, "documents.parquet"), Paths.get(dir, "documents.parquet"))
    val stages = phase("llm")(Seq(
      call("llm.signatures")(noop(SigStore.portable(spark, dir))),
      call("llm.candidates")(noop(SigStore.portableCands(spark, dir))),
      call("llm.labels")(noop(SigStore.compLabels(spark, dir))),
      call("llm.split")(noop(l29(spark, dir)))))
    if (tracer.tracing) rec.op("llm verified ratio") {
      val c = SigStore.portableCands(spark, dir)
        .agg(count(lit(1)), sum(when(col("est_jaccard") >= 0.5, 1).otherwise(0))).head()
      rec.layerValue("llm.candidates.verified_ratio",
        if (c.getLong(0) == 0) 0.0 else c.getLong(1).toDouble / c.getLong(0))
    }
    if (stages.exists(_.isEmpty)) None else Some(stages.flatten.sum / 1e3)
  }

  /** Share of the injected near-duplicate pairs whose two documents the
    * chain put in one cluster, and the found and total counts of the pairs
    * whose exact Jaccard is at least `LightJaccard`. Reads the pass's
    * (still cached) labels. */
  def recall(inDir: String, passDir: String): Option[(Double, Long, Long)] = rec.op("dup recall") {
    val labels = SigStore.compLabels(spark, s"$passDir/corpus")
    val pairs = spark.read.parquet(s"$inDir/near_dups.parquet")
    val la = labels.select(col("id").as("orig"), col("comp").as("ca"))
    val lb = labels.select(col("id").as("dup"), col("comp").as("cb"))
    val found = when(col("ca") === col("cb"), 1).otherwise(0)
    val light = col("jaccard") >= LlmChain.LightJaccard
    val r = pairs.join(la, Seq("orig"), "left").join(lb, Seq("dup"), "left")
      .agg(count(lit(1)), sum(found), sum(when(light, found).otherwise(0)),
        sum(when(light, 1).otherwise(0))).head()
    (r.getLong(1).toDouble / r.getLong(0), r.getLong(2), r.getLong(3))
  }

  def writeChecks(passDir: String, checkDir: String): Unit =
    rec.op("check l29") {
      l29(spark, s"$passDir/corpus").write.mode(SaveMode.Overwrite).parquet(s"$checkDir/l29_leakage_safe_split")
    }
}

object LlmChain {
  /** The chain's 16-hash, 8×2-band MinHash with its est. Jaccard ≥ 0.5
    * filter misses a pair at least this similar with probability about
    * 2e-4, so nearly all of them must be found. */
  val LightJaccard = 0.85
}

object Codegen {
  import org.apache.spark.metrics.source.CodegenMetrics
  import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

  final case class Mark(compiles: Long, compileNs: Long)

  def mark(): Mark =
    Mark(CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)

  /** Janino compiles and compile time since `m`, charged to `phase`. */
  def record(rec: Record, phase: String, m: Mark): Unit = {
    val now = mark()
    rec.layerValue(s"plans.codegen.$phase.compiles", (now.compiles - m.compiles).toDouble)
    rec.layerValue(s"plans.codegen.$phase.compile_ms", (now.compileNs - m.compileNs) / 1e6)
  }
}
