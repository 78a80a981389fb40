package graftbench

/** One cold pass over every registered query, each result written in full
  * to the `noop` sink, in name order. Prints one JSON object: per-query
  * seconds (-1 for a query that threw) and the total. It joins the old
  * `.count()` trajectory of `graft.Bench` to the full-write metric.
  *
  * Usage: Splice <fixture-dir> <work-dir> */
object Splice {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, workDir) = args
    val spark = Session.build(workDir)
    val out = graft.SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val t0 = System.nanoTime()
      val secs =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); (System.nanoTime() - t0) / 1e9 }
        catch { case e: Exception => System.err.println(s"$name failed: $e"); -1.0 }
      graft.CacheScope.releaseAll()
      name -> secs
    }
    val total = out.map(_._2).filter(_ >= 0).sum
    val fmt = (v: Double) => String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    println(out.map { case (n, s) => s""""$n":${fmt(s)}""" }
      .mkString(s"""{"metric":"noop_total","value":${fmt(total)},"unit":"sec","cores":${Session.Cores},"n_queries":${out.size},"n_failed":${out.count(_._2 < 0)},"queries":{""", ",", "}}"))
    spark.stop()
  }
}
