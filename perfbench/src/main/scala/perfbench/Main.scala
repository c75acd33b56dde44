package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Run settings shared by the workloads. `input` holds the workload's
  * generated inputs and `genS` the median time gen.py took to write
  * them; `adclick_live` drains its lines `chunkLines` at a time, the
  * first `warmupOps` chunks as warm-up. */
final case class RunConf(workload: String, seed: Long, seconds: Double, trace: Boolean,
    work: Path, launchMs: Long, input: String, genS: Double, chunkLines: Int,
    warmupOps: Int) {
  /** Repeat the repeatable part of set-up this many times and report
    * the median, so one slow repetition does not decide setup_s. */
  val setupReps = 3
}

/** What a workload hands back: its metric values, operation counts,
  * and the facts and check inputs recorded with the result. */
final case class Outcome(metrics: Map[String, Double], attempted: Long, failed: Long,
    correct: Boolean, facts: Map[String, Any])

/** Benchmark process entry. Runs one workload and writes one result
  * JSON file; run.py turns that into the printed result. */
object Main {
  private def arg(args: Array[String], name: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`name`, v) => v }

  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      // same bounded-set aggregate tuning as the program's own entry points
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", 262144)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.stopTimeout", "30s")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val conf = RunConf(
      workload = arg(args, "--workload").get,
      seed = arg(args, "--seed").get.toLong,
      seconds = arg(args, "--seconds").get.toDouble,
      trace = arg(args, "--trace").contains("1"),
      work = Paths.get(arg(args, "--work").get).toAbsolutePath,
      launchMs = arg(args, "--launch-ms").map(_.toLong).getOrElse(
        java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime),
      input = arg(args, "--input").get,
      genS = arg(args, "--gen-s").get.toDouble,
      chunkLines = arg(args, "--chunk-lines").map(_.toInt).getOrElse(0),
      warmupOps = arg(args, "--warmup-ops").map(_.toInt).getOrElse(0))
    val out = Paths.get(arg(args, "--out").get)
    Files.createDirectories(conf.work)
    val load0 = Env.loadavg()
    val spark = session(conf.work)
    val facts = Env.facts(spark)
    val sparkStartS = (System.currentTimeMillis() - conf.launchMs) / 1000.0
    val outcome =
      try conf.workload match {
        case "session_report" => SessionReport.run(spark, conf, sparkStartS)
        case "adclick_live" => AdClickLive.run(spark, conf, sparkStartS)
        case "corpus_dedup" => CorpusDedup.run(spark, conf, sparkStartS)
        case w => sys.error(s"unknown workload $w")
      } finally spark.stop()
    val metrics = outcome.metrics ++
      (if (conf.trace) Map.empty else Map("peak_rss_mb" -> Env.peakRssMb()))
    Json.write(out, Map(
      "workload" -> conf.workload, "seed" -> conf.seed, "trace" -> conf.trace,
      "correct" -> outcome.correct, "attempted" -> outcome.attempted,
      "failed" -> outcome.failed, "metrics" -> metrics,
      "env" -> (facts ++ Map("loadavg_start" -> load0,
        "loadavg_end" -> Env.loadavg(), "spark_start_s" -> sparkStartS)),
      "facts" -> outcome.facts))
  }
}
