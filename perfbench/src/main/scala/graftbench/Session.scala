package graftbench

import org.apache.spark.sql.SparkSession

/** The one session every benchmark process runs on: `local[4]` and four
  * shuffle partitions, plus the three harness settings `graft.Bench`
  * applies (generated-class cache, FileSystem-based checkpoint manager,
  * `NioLocalFileSystem`). Scratch directories stay under `workDir`. */
object Session {
  val Cores = 4

  def build(workDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager")
      .config("spark.hadoop.fs.file.impl", "graft.sources.NioLocalFileSystem")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.Tables.configure(spark)
  }
}
