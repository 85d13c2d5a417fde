package graftbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.Caches

/** Runs one workload and prints its report as the last stdout line,
  * prefixed `GRAFTBENCH_RESULT `. Arguments: --workload, --seed,
  * --seconds, --trace (0|1), --work (scratch directory) and, for
  * pipeline_suite, --fixture (the generated parquet tables). */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val nproc = Runtime.getRuntime.availableProcessors
    val work = Paths.get(opts("work")).toAbsolutePath
    Files.createDirectories(work)
    val master = s"local[$nproc]"
    val spark = SparkSession.builder()
      .master(master)
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val env = new Env(spark, work, seed, opts("seconds").toDouble,
      opts.get("trace").contains("1"), nproc)
    env.report.phase("spark")
    val info = env.report.info
    info("workload") = workload
    info("seed") = seed.toString
    info("nproc") = nproc.toString
    info("master") = master
    info("shuffle_partitions") = spark.conf.get("spark.sql.shuffle.partitions")
    info("jvm_heap_mb") = (Runtime.getRuntime.maxMemory >> 20).toString
    workload match {
      case "serve_zipf" =>
        if (!Inputs.selfCheck(seed)) sys.error("input generator is not seed-deterministic")
        ServeZipf.run(env)
      case "pipeline_suite" =>
        PipelineSuite.run(env, opts("fixture"), work.resolve("suite_out"))
      case other => sys.error(s"unknown workload $other")
    }
    val rss = rssPeakMb()
    env.report.e2e("rss_peak_mb") = rss
    env.report.detail("rss_peak_mb") = (rss, "MB")
    Caches.releaseAll()
    spark.stop()
    println("GRAFTBENCH_RESULT " + env.report.json)
  }

  /** The process's peak resident set (VmHWM). */
  def rssPeakMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .fold(0.0)(_.split("\\s+")(1).toDouble / 1024.0)
    finally src.close()
  }
}
