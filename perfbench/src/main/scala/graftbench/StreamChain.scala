package graftbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Open-loop streaming upsert: pre-written event files land in a watched
  * directory on a fixed schedule, and `fileStreamSource → dedupStream →
  * snapshotMergeSink` MERGEs them into a day-partitioned snapshot store.
  * Each file is timed from when it was due to land until the trigger that
  * read it committed. */
final class StreamChain(spark: SparkSession, tracer: Tracer, rec: Record)
    extends Chain(spark, tracer, rec) {
  import graft.etl.SnapshotMerge
  import graft.streaming.Streams

  /** Event-time slack of the dedup state: wider than the generated days,
    * so a late update to an old day is merged, never dropped. */
  private val Watermark = "30 days"

  final class Progress extends StreamingQueryListener {
    val events = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.streaming.StreamingQueryProgress]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      events.add(e.progress)
  }

  /** A started stream: its query, the file mover, and the schedule. */
  final class Running(val passDir: String, val store: String, val files: Seq[String],
                      val due: Array[Long], val moved: Array[Long],
                      val query: org.apache.spark.sql.streaming.StreamingQuery,
                      val mover: Thread, val listener: Progress, val codegen: Codegen.Mark)

  /** Starts the stream and starts landing the files of `inDir`, `rate` a
    * second, from one thread. The first file is the backfill of the older
    * days; its epoch bootstraps the store. */
  def start(inDir: String, passDir: String, rate: Double): Option[Running] = {
    val store = s"$passDir/store"
    val watch = Paths.get(passDir, "watch")
    val staging = Paths.get(passDir, "staging")
    Files.createDirectories(watch)
    Files.createDirectories(staging)
    val files = Files.list(Paths.get(inDir, "files")).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSeq.sorted
    files.foreach(f => Files.copy(Paths.get(inDir, "files", f), staging.resolve(f)))
    rec.op("stream start") {
      val schema = spark.read.parquet(staging.resolve(files.head).toString).schema
      val listener = new Progress
      spark.streams.addListener(listener)
      val cg = Codegen.mark()
      // the stream thread inherits the span tag set here
      val query = tracer.span("streaming.query") {
        Streams.snapshotMergeSink(
          Streams.dedupStream(Streams.fileStreamSource(spark, watch.toString, schema),
            "event_id", "ts", Watermark),
          store, s"$passDir/checkpoint", Seq("event_id"), "ts", "day").start()
      }._1
      val due = new Array[Long](files.size)
      val moved = new Array[Long](files.size)
      // the backfill bootstraps the store before the schedule starts, so
      // the timed files meet a running stream, not its cold start
      Files.move(staging.resolve(files.head), watch.resolve(files.head),
        StandardCopyOption.ATOMIC_MOVE)
      query.processAllAvailable()
      // the open-loop generator: fixed schedule, never waits for the stream
      val t0 = System.currentTimeMillis() + 200
      files.indices.tail.foreach(i => due(i) = t0 + ((i - 1) * 1000.0 / rate).toLong)
      val mover = new Thread(() => files.indices.tail.foreach { i =>
        val wait = due(i) - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        Files.move(staging.resolve(files(i)), watch.resolve(files(i)),
          StandardCopyOption.ATOMIC_MOVE)
        moved(i) = System.currentTimeMillis()
      }, "perfbench-file-mover")
      mover.start()
      new Running(passDir, store, files, due, moved, query, mover, listener, cg)
    }
  }

  /** Waits for the last file to land and be committed, stops the stream,
    * and returns each file's due-to-commit milliseconds. */
  def finish(r: Running): Option[Seq[Double]] = {
    val ok = rec.op("stream") {
      try {
        r.mover.join()
        r.query.processAllAvailable()
      } finally r.query.stop()
    }
    org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
    spark.streams.removeListener(r.listener)
    if (tracer.tracing) Codegen.record(rec, "stream", r.codegen)
    if (ok.isEmpty) return None
    val progress = r.listener.events.asScala.toSeq.filter(_.numInputRows > 0)
      .groupBy(_.batchId).values.map(_.head).toSeq.sortBy(_.batchId)
    val landed = sourceLog(Paths.get(r.passDir, "checkpoint", "sources", "0"))
    val LogOffset = """.*"logOffset"\s*:\s*(\d+).*""".r
    def logOffset(json: String): Long = json match {
      case LogOffset(n) => n.toLong
      case _ => -1L
    }
    def endMs(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Long =
      java.time.Instant.parse(p.timestamp).toEpochMilli + p.durationMs.get("triggerExecution")
    val committed = mutable.Map.empty[String, Long]
    progress.foreach { p =>
      val src = p.sources.head
      (logOffset(String.valueOf(src.startOffset)) + 1 to logOffset(src.endOffset))
        .flatMap(landed.getOrElse(_, Nil))
        .foreach(f => committed.getOrElseUpdate(f, endMs(p)))
    }
    val files = r.files
    val missing = files.filterNot(committed.contains)
    if (missing.nonEmpty) rec.fail(s"stream: ${missing.size} files never committed")
    val timed = files.indices.tail
    if (tracer.tracing) {
      rec.layerValue("bench.generator_late_ms", timed.map(i => (r.moved(i) - r.due(i)).toDouble).max)
      traceLayers(progress.filter(_.batchId > 0), timed.map(files), timed.map(r.due),
        timed.map(r.moved), committed, r.store)
    }
    Some(timed.filter(i => committed.contains(files(i)))
      .map(i => (committed(files(i)) - r.due(i)).toDouble))
  }

  /** One timed read of the store's newest snapshot with a per-day
    * aggregate; its milliseconds, or None when it threw. */
  def readOnce(passDir: String): Option[Double] =
    call("etl.snapshot.read") {
      noop(graft.etl.SnapshotMerge.read(spark, s"$passDir/store").groupBy("day")
        .agg(count(lit(1)).as("n"), sum("value").as("value")))
    }

  /** File names per source-log offset, from the file source's log (a
    * compacted log file carries every offset up to its own). */
  private def sourceLog(log: java.nio.file.Path): Map[Long, Seq[String]] = {
    val Entry = """.*"path":"([^"]+)".*"batchId":(\d+).*""".r
    Files.list(log).iterator().asScala.toSeq
      .filter(f => f.getFileName.toString.headOption.exists(_.isDigit))
      .flatMap(f => Files.readAllLines(f).asScala.collect {
        case Entry(path, id) => id.toLong -> path.substring(path.lastIndexOf('/') + 1)
      })
      .distinct.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
  }

  private def traceLayers(progress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress],
                          files: Seq[String], due: Seq[Long], moved: Seq[Long],
                          committed: collection.Map[String, Long],
                          store: String): Unit = {
    import Tracer.median
    Seq("addBatch", "getBatch", "latestOffset", "queryPlanning", "walCommit",
        "commitOffsets", "triggerExecution").foreach { k =>
      rec.layerValue(s"streaming.trigger.${k}_ms",
        median(progress.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0))))
    }
    rec.layerValue("streaming.triggers", progress.size.toDouble)
    rec.layerValue("streaming.rows_per_trigger", median(progress.map(_.numInputRows.toDouble)))
    val backlog = progress.map { p =>
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      files.indices.count(i => moved(i) <= start &&
        committed.get(files(i)).forall(_ > start)).toDouble
    }
    rec.layerValue("streaming.backlog_files", backlog.max)
    val ops = progress.last.stateOperators
    rec.layerValue("streaming.state_rows", ops.map(_.numRowsTotal).sum.toDouble)
    rec.layerValue("streaming.state_memory_bytes", ops.map(_.memoryUsedBytes).sum.toDouble)
    rec.layerValue("streaming.watermark_dropped",
      progress.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum.toDouble)
    // files and bytes each epoch published, from the retained manifests
    val snaps = graft.etl.SnapshotMerge.committedEpochs(spark, store)
      .map(e => graft.etl.SnapshotMerge.snapshot(spark, store, e))
    // a partition an epoch rewrote points at a new version directory
    val perEpoch = snaps.sliding(2).collect { case Seq(prev, s) =>
      s.stats.filter { case (part, _) => !prev.parts.get(part).contains(s.parts(part)) }.values
    }.toSeq
    rec.layerValue("etl.snapshot.files_per_epoch", median(perEpoch.map(_.map(_.files).sum.toDouble)))
    rec.layerValue("etl.snapshot.bytes_per_epoch", median(perEpoch.map(_.map(_.bytes).sum.toDouble)))
    val last = graft.etl.SnapshotMerge.latestSnapshot(spark, store).get
    rec.layerValue("etl.snapshot.read.files", last.stats.values.map(_.files).sum.toDouble)
    rec.layerValue("etl.snapshot.read.bytes", last.stats.values.map(_.bytes).sum.toDouble)
  }

  /** The final snapshot, written for the keep-latest check. */
  def writeChecks(passDir: String, checkDir: String): Unit =
    rec.op("check snapshot") {
      graft.etl.SnapshotMerge.read(spark, s"$passDir/store")
        .write.mode(SaveMode.Overwrite).parquet(s"$checkDir/snapshot")
    }
}
