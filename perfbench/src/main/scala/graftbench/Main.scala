package graftbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** One benchmark process: one cold pass of the whole lakehouse on inputs
  * `run.py` generated — the medallion chain, the LLM dedup chain, then the
  * streaming upsert, whose open-loop schedule lands files for `--seconds`.
  * Each chain runs once, on fresh paths, so no cache of the engine's
  * carries over. Each chain's outputs are written for the checks right
  * after it, outside its spans. With `--trace 1` the bench's listeners
  * charge jobs and tasks to spans and the run reports per-layer metrics;
  * the snapshot reads alternate untraced and traced to measure the tracing
  * overhead. Results go to `--out` as JSON; outputs to check are written
  * under `--work`. */
object Main {
  private val Reads = 6

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(kv => kv(0).stripPrefix("--") -> kv(1)).toMap
    val trace = a("trace") == "1"
    val in = a("in")
    val work = a("work")

    val t00 = System.currentTimeMillis()
    def mark(what: String): Unit =
      System.err.println(s"[perfbench] $what at ${System.currentTimeMillis() - t00} ms")
    val spark = Session.build(work)
    val readyMs = System.currentTimeMillis()
    mark("session")
    val tracer = new Tracer(spark)
    val rec = new Record
    val med = new MedallionChain(spark, tracer, rec)
    val llm = new LlmChain(spark, tracer, rec)
    val stream = new StreamChain(spark, tracer, rec)
    if (trace) tracer.enable()

    val gc = () => java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val gc0 = gc()
    val cpu0 = os.getProcessCpuTime
    val wall0 = System.nanoTime()

    med.pass(s"$in/med", s"$work/med").foreach { t =>
      rec.sample("gold_ready_s", t.goldReady)
      rec.sample("dashboard_s", t.dashboard)
      rec.sample("joins_s", t.joins)
    }
    val check = s"$work/check"
    val counts = med.writeChecks(s"$work/med", s"$check/med")
    mark("medallion done")
    llm.pass(s"$in/llm", s"$work/llm").foreach(rec.sample("dedup_chain_s", _))
    val light = llm.recall(s"$in/llm", s"$work/llm").map { case (r, found, total) =>
      rec.sample("dup_recall", r)
      Map("light_dups_found" -> found, "light_dups" -> total)
    }.getOrElse(Map.empty)
    llm.writeChecks(s"$work/llm", s"$check/llm")
    mark("llm done")
    // retained heap: least heap in use over three forced full GCs, before
    // the chains' caches go (one GC can leave garbage a cleaner thread
    // frees a moment later)
    val rt = Runtime.getRuntime
    rec.sample("retained_heap_mb", (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(100)
      (rt.totalMemory() - rt.freeMemory()) / 1048576.0
    }.min)
    med.release()
    stream.start(s"$in/stream", s"$work/stream", a("rate").toDouble)
      .flatMap(stream.finish).foreach { ms =>
        rec.sample("commit_p50_ms", Tracer.percentile(ms, 50))
        rec.sample("commit_p90_ms", Tracer.percentile(ms, 90))
      }
    mark("stream done")
    val wallNs = System.nanoTime() - wall0
    if (trace) {
      rec.layerValue("spark.gc_ms", (gc() - gc0).toDouble)
      rec.layerValue("spark.cpu_wall_ratio", (os.getProcessCpuTime - cpu0).toDouble / wallNs)
    }

    // snapshot reads; traced runs alternate untraced and traced reads
    val reads = (0 until (if (trace) 2 * Reads else Reads)).map { i =>
      if (trace && i % 2 == 0) tracer.disable() else if (trace) tracer.enable()
      tracer.tracing -> stream.readOnce(s"$work/stream")
    }
    reads.collect { case (false, Some(ms)) => ms }.foreach(rec.sample("snapshot_read_ms", _))
    if (trace) {
      val (t, u) = reads.partition(_._1)
      rec.layerValue("bench.trace_overhead_pct",
        (Tracer.median(t.flatMap(_._2)) / Tracer.median(u.flatMap(_._2)) - 1) * 100)
    }
    val layers = if (trace) Layers.collect(tracer, rec) else Map.empty[String, Double]
    tracer.disable()

    stream.writeChecks(s"$work/stream", s"$check/stream")
    mark("reads and checks done")
    def str(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString
    def obj(m: Iterable[(String, String)]): String =
      m.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
    def oracles(names: Seq[String]): String =
      obj(names.map(n => n -> str(graft.SparkEntry.oracleSql(n))))
    val out = obj(Seq(
      "ready_ms" -> readyMs.toString,
      "end_to_end" -> obj(rec.samples.map { case (k, vs) => k -> num(Tracer.median(vs.toSeq)) }),
      "per_layer" -> obj(layers.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) }),
      "attempted" -> rec.attempted.toString,
      "failures" -> rec.failures.map(str).mkString("[", ",", "]"),
      "oracles" -> obj(Seq(
        "med" -> oracles((med.views ++ med.joins).map(_._2)),
        "llm" -> oracles(Seq("l29_leakage_safe_split")))),
      "counts" -> obj((counts ++ light).map { case (k, v) => k -> v.toString })))
    Files.write(Paths.get(a("out")), out.getBytes("UTF-8"))
    spark.stop()
  }
}
