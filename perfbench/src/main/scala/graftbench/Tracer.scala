package graftbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Outside-in tracer. `span` wraps one call into a layer's public function;
  * while tracing is on, the span's id rides on a Spark local property, so
  * the bench's own listener can charge every job, stage and task the call
  * launches (on any thread that inherits the property) to that span.
  * Spans and task sums stay in memory until `summaries` is read at the end
  * of the run. With tracing off a span is only a pair of clock reads. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  private var nextId = 0
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val accs = new java.util.concurrent.ConcurrentHashMap[Int, Acc]()
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val jobSpan = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  @volatile private var on = false

  private val listener = new SparkListener {
    private def spanOf(p: java.util.Properties): Option[Int] =
      Option(p).flatMap(x => Option(x.getProperty(Key))).map(_.toInt)

    override def onJobStart(e: SparkListenerJobStart): Unit =
      spanOf(e.properties).foreach { id =>
        jobSpan.put(e.jobId, id)
        e.stageIds.foreach(s => stageSpan.put(s, id))
        val a = acc(id)
        a.synchronized { a.jobs += 1; a.jobStart(e.jobId) = e.time }
      }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSpan.get(e.jobId)).foreach { id =>
        val a = acc(id)
        a.synchronized {
          a.jobStart.remove(e.jobId).foreach(s => a.jobIntervals += ((s, e.time)))
        }
      }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      spanOf(e.properties).foreach(id => stageSpan.put(e.stageInfo.stageId, id))

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { id =>
        val m = e.taskMetrics
        val a = acc(id)
        a.synchronized {
          a.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty[Long]) +=
            e.taskInfo.duration
          if (m != null) {
            a.cpuNs += m.executorCpuTime
            a.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
            a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
            a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }
  }

  private def acc(id: Int): Acc = accs.computeIfAbsent(id, _ => new Acc)

  /** Starts charging jobs to spans. */
  def enable(): Unit = if (!on) { sc.addSparkListener(listener); on = true }

  /** Stops charging jobs; spans opened from now on carry wall time only. */
  def disable(): Unit = if (on) {
    org.apache.spark.graftbench.Bus.drain(sc)
    sc.removeSparkListener(listener)
    on = false
  }

  def tracing: Boolean = on

  /** Runs `body` as one span named `name`; returns its result and the
    * span's wall time in milliseconds. */
  def span[T](name: String)(body: => T): (T, Double) = {
    val id = synchronized { nextId += 1; nextId }
    val traced = on
    val prior = sc.getLocalProperty(Key)
    if (traced) sc.setLocalProperty(Key, id.toString)
    val t0 = System.nanoTime()
    try {
      val r = body
      val ms = (System.nanoTime() - t0) / 1e6
      synchronized { spans += Span(id, name, traced, System.currentTimeMillis() - ms.toLong, ms) }
      (r, ms)
    } finally sc.setLocalProperty(Key, prior)
  }

  /** Per-name summaries of the traced spans, one per span instance. */
  def summaries: Map[String, Seq[Summary]] = {
    if (on) org.apache.spark.graftbench.Bus.drain(sc)
    synchronized(spans.toList).filter(_.traced).groupBy(_.name).map { case (n, ss) =>
      n -> ss.map { s =>
        val a = acc(s.id)
        a.synchronized {
          // driver time: span wall time covered by no job of the span
          val covered = union(a.jobIntervals.toSeq.map { case (b, e) =>
            (math.max(b, s.startMs), math.min(e, s.startMs + s.wallMs.toLong)) })
          val skew = a.stageTaskMs.values.filter(_.size >= 2).toSeq
            .sortBy(ts => -ts.sum).headOption
            .map(ts => ts.max.toDouble / math.max(1.0, median(ts.toSeq.map(_.toDouble))))
            .getOrElse(1.0)
          Summary(s.wallMs, math.max(0.0, s.wallMs - covered), a.jobs, a.cpuNs / 1e6,
            a.shuffleReadBytes.toDouble, a.shuffleWriteBytes.toDouble, a.spillBytes.toDouble, skew)
        }
      }
    }
  }

  private def union(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var end = Long.MinValue
    iv.filter { case (b, e) => e > b }.sortBy(_._1).foreach { case (b, e) =>
      if (b > end) { total += e - b; end = e }
      else if (e > end) { total += e - end; end = e }
    }
    total.toDouble
  }
}

object Tracer {
  val Key = "graftbench.span"

  final case class Span(id: Int, name: String, traced: Boolean, startMs: Long, wallMs: Double)

  final case class Summary(wallMs: Double, driverMs: Double, jobs: Int, taskCpuMs: Double,
                           shuffleReadBytes: Double, shuffleWriteBytes: Double,
                           spillBytes: Double, taskSkew: Double)

  private final class Acc {
    var jobs = 0
    var cpuNs = 0L
    var shuffleReadBytes = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
    val jobStart = mutable.Map.empty[Int, Long]
    val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
    val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Nearest-rank percentile, `p` in (0, 100]. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)))
    }
}
