package graftbench

import scala.collection.mutable
import Tracer.{Summary, median}

/** Per-layer metrics of a traced run: span summaries (median over the
  * traced passes) under the names `BENCHMARK.json` lists, plus the values
  * the chains recorded directly. */
object Layers {
  def collect(tracer: Tracer, rec: Record): Map[String, Double] = {
    val spans = tracer.summaries
    val out = mutable.LinkedHashMap.empty[String, Double]
    def put(metric: String, span: String)(f: Summary => Double): Unit =
      spans.get(span).foreach(ss => out(metric) = median(ss.map(f)))

    put("sources.raw_write.wall_ms", "sources.raw_write")(_.wallMs)
    Seq("bronze", "silver", "gold").foreach { l =>
      put(s"etl.$l.wall_ms", s"etl.$l")(_.wallMs)
      put(s"etl.$l.task_cpu_ms", s"etl.$l")(_.taskCpuMs)
      put(s"etl.$l.shuffle_write_bytes", s"etl.$l")(_.shuffleWriteBytes)
    }
    val views = spans.keys.filter(_.startsWith("analytics.")).toSeq.sorted
    views.foreach { v =>
      put(s"$v.wall_ms", v)(_.wallMs)
      put(s"$v.driver_ms", v)(_.driverMs)
    }
    // per pass: every view span of the pass summed
    val passes = views.headOption.map(v => spans(v).size).getOrElse(0)
    if (passes > 0) {
      val all = views.flatMap(spans(_))
      out("analytics.jobs") = all.map(_.jobs).sum.toDouble / passes
      out("analytics.task_cpu_ms") = all.map(_.taskCpuMs).sum / passes
    }
    spans.keys.filter(_.startsWith("operators.")).toSeq.sorted.foreach { q =>
      put(s"$q.wall_ms", q)(_.wallMs)
      put(s"$q.shuffle_read_bytes", q)(_.shuffleReadBytes)
      put(s"$q.task_skew", q)(_.taskSkew)
    }
    Seq("signatures", "candidates", "labels", "split").foreach { s =>
      put(s"llm.$s.wall_ms", s"llm.$s")(_.wallMs)
      put(s"llm.$s.shuffle_write_bytes", s"llm.$s")(_.shuffleWriteBytes)
      put(s"llm.$s.spill_bytes", s"llm.$s")(_.spillBytes)
      put(s"llm.$s.jobs", s"llm.$s")(_.jobs.toDouble)
    }
    rec.layer.foreach { case (k, vs) => out(k) = median(vs.toSeq) }
    out.toMap
  }
}
