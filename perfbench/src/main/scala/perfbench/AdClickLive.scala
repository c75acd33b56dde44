package perfbench

import java.nio.file.{Files, Paths}
import java.sql.DriverManager

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.sink.{JdbcProvider, JdbcStore, StoreProvider}
import graft.streaming.AdClickStream

/** `adclick_live`: the reference's real-time module on AdClickStream's
  * three queries, closed loop, one client. One operation adds one chunk
  * of gen.py's seeded lines to every query's source and waits until all
  * three queries have published it. See the README for why it is a
  * workload, why it is a closed loop and why each query reads its own
  * source. */
object AdClickLive {
  val Threshold = 100L // AdClickStream's default blacklist threshold
  val Queries: Seq[String] = Seq("stats", "adstat", "trend")

  /** Store tables: key columns k1..kN and value v, as the program's
    * JdbcStore expects. */
  private val StoreTables: Seq[(String, Int)] = Seq("ad_user_click_count" -> 3,
    "ad_blacklist" -> 1, "ad_stat" -> 4, "ad_province_top3" -> 3, "ad_click_trend" -> 2,
    "graft_applied_batch" -> 2)

  def run(spark: SparkSession, conf: RunConf, sparkStartS: Double): Outcome = {
    val chunks = Files.readAllLines(Paths.get(conf.input, "adclick.txt")).asScala.toVector
      .grouped(conf.chunkLines).toVector
    val reps = (0 until conf.setupReps).map { i =>
      val t0 = Env.now()
      provision(s"jdbc:derby:memory:ad$i;create=true")
      (Env.now() - t0, s"ad$i")
    }
    reps.init.foreach(r => Batch.dropDerby(r._2))
    val url = s"jdbc:derby:memory:${reps.last._2}"
    val raw = JdbcProvider(url)
    val provider: StoreProvider = if (conf.trace) CountingProvider(raw) else raw

    val probe = new StreamProbe
    spark.streams.addListener(probe)
    val engine = new EngineListener
    if (conf.trace) spark.sparkContext.addSparkListener(engine)
    val t0 = Env.now()
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val streams = Queries.map(_ => MemoryStream[String])
    val ckpt = conf.work.resolve("checkpoints").toString
    // a closed loop measures how long a chunk takes to publish, not how
    // long it waits for the next trigger
    val trigger = Trigger.ProcessingTime(0L)
    val qs: Seq[StreamingQuery] = Seq(
      AdClickStream.statsQuery(streams(0).toDF(), provider, s"$ckpt/stats", Threshold, trigger),
      AdClickStream.adStatQuery(streams(1).toDF(), provider, s"$ckpt/adstat", trigger = trigger),
      AdClickStream.trendQuery(streams(2).toDF(), provider, s"$ckpt/trend", trigger = trigger))
    val names = qs.map(_.id.toString).zip(Queries).toMap
    val runIds = qs.map(_.runId.toString).toSet

    val off = new Tracer(spark.sparkContext, enabled = false)
    val tr = new Tracer(spark.sparkContext, enabled = true)
    def drain(t: Tracer, k: Int): OpResult[Int] = {
      t.trace = s"chunk-$k"
      Batch.timed(t, k)(t.span("chunk") {
        t.span("sources.add_lines")(streams.foreach(_.addData(chunks(k))))
        t.span("streaming.drain")(qs.foreach(_.processAllAvailable()))
      })
    }
    (0 until conf.warmupOps).foreach(k => drain(off, k))
    val setupS = sparkStartS + conf.genS + Stats.median(reps.map(_._1)) + (Env.now() - t0)

    val left = chunks.size - conf.warmupOps
    def measure(t: Tracer, seconds: Double, from: Int, max: Int) =
      Batch.closed(seconds, 1, max)(i => drain(t, from + i))
    val (results, metrics) =
      if (!conf.trace) {
        val rs = measure(off, conf.seconds, conf.warmupOps, left)
        val ms = rs.filter(_.error.isEmpty).map(_.jobS * 1e3)
        (rs, Batch.endToEnd(setupS, rs) ++ (if (ms.isEmpty) Map.empty else Map(
          "lat_p50_ms" -> Stats.median(ms), "lat_p99_ms" -> Stats.quantile(ms, 0.99),
          "done_eps" -> ms.size * conf.chunkLines * 1e3 / ms.sum)))
      } else {
        // untraced chunks for the first half (the tracing-overhead
        // reference), counted and spanned chunks for the second
        val plain = measure(off, conf.seconds / 2, conf.warmupOps, left / 2)
        Listeners.drain(spark)
        engine.reset()
        SinkCounters.reset(); SinkCounters.counting = true
        val fromMs = System.currentTimeMillis()
        val traced = measure(tr, conf.seconds / 2, conf.warmupOps + plain.size, left - plain.size)
        SinkCounters.counting = false
        Listeners.drain(spark)
        val wallMs = (System.currentTimeMillis() - fromMs).toDouble
        tr.writeSpans(conf.work.resolve("spans.jsonl"))
        (plain ++ traced, layerMetrics(probe, names, engine, runIds, fromMs, wallMs,
          traced.size * conf.chunkLines) ++ Map(
          "trace.spans" -> tr.spans.size().toDouble / traced.size.max(1),
          "trace.overhead_share" ->
            (Stats.median(traced.map(_.jobS)) / Stats.median(plain.map(_.jobS)) - 1.0)))
      }
    qs.foreach(_.stop())
    val errors = results.flatMap(_.error) ++ qs.flatMap(_.exception).map(_.toString.take(300))
    val fed = (conf.warmupOps + results.size) * conf.chunkLines
    val lost = results.count(_.error.nonEmpty) * conf.chunkLines

    val checkPath = conf.work.resolve("check-adclick_live.json")
    Json.write(checkPath, Map("lines_file" -> Paths.get(conf.input, "adclick.txt").toString,
      "lines_fed" -> fed, "threshold" -> Threshold, "store" -> dump(url)))
    Outcome(metrics, fed.toLong, lost.toLong, correct = errors.isEmpty,
      Map("chunk_lines" -> conf.chunkLines, "warmup_chunks" -> conf.warmupOps,
        "provision_reps_s" -> reps.map(_._1), "op_s" -> results.map(_.jobS), "live_mb" -> results.map(_.liveMb),
        "errors" -> errors.distinct.take(5), "check" -> checkPath.toString))
  }

  /** Per-layer metrics of the traced chunks: the micro-batches that
    * started after `fromMs`, the store calls counted meanwhile, and the
    * engine counters of the queries' jobs (tagged with their run ids). */
  private def layerMetrics(probe: StreamProbe, names: Map[String, String],
      engine: EngineListener, runIds: Set[String], fromMs: Long, wallMs: Double,
      events: Long): Map[String, Double] = {
    val batches = probe.batches.asScala.toSeq.filter(_.startMs >= fromMs).sortBy(_.batchId)
      .groupBy(b => names(b.query))
    def of(q: String) = batches.getOrElse(q, Nil)
    val perQuery = Queries.flatMap { q =>
      val bs = of(q)
      def p50(k: String) = Stats.medianOr0(bs.map(_.durations.getOrElse(k, 0L).toDouble))
      Seq(s"streaming.$q.trigger_ms_p50" -> p50("triggerExecution"),
        s"streaming.$q.add_batch_ms_p50" -> p50("addBatch"),
        s"streaming.$q.planning_ms_p50" -> p50("queryPlanning"),
        s"streaming.$q.wal_commit_ms_p50" -> p50("walCommit"),
        // stateful queries also run a no-data batch per chunk for the
        // watermark; rows are counted over the batches with input
        s"streaming.$q.rows_per_batch_p50" ->
          Stats.medianOr0(bs.filter(_.rows > 0).map(_.rows.toDouble)),
        s"streaming.$q.busy_share" ->
          bs.map(_.durations.getOrElse("triggerExecution", 0L)).sum / wallMs)
    }
    val sink = SinkCounters.Ops.flatMap { op =>
      Seq(s"sink.$op.calls" -> SinkCounters.calls(op).sum().toDouble,
        s"sink.$op.ms" -> SinkCounters.nanos(op).sum() / 1e6)
    }
    val calls = SinkCounters.Ops.map(SinkCounters.calls(_).sum()).sum
    val last = (q: String) => of(q).lastOption
    (perQuery ++ sink ++ Seq(
      "streaming.adstat.state_rows" -> last("adstat").map(_.stateRows.toDouble).getOrElse(0.0),
      "streaming.adstat.state_mb" -> last("adstat").map(_.stateBytes / 1048576.0).getOrElse(0.0),
      "streaming.trend.state_rows" -> last("trend").map(_.stateRows.toDouble).getOrElse(0.0),
      "sink.calls_per_event" -> calls.toDouble / events.max(1),
      "sink.opens_per_batch" ->
        SinkCounters.calls("open").sum().toDouble / batches.values.map(_.size).sum.max(1)
    )).toMap ++ engine.totals(runIds.contains).collect {
      case (k, v) if k != "records" => s"streaming.$k" -> v
    }
  }

  private def provision(url: String): Unit = {
    val c = DriverManager.getConnection(url)
    try StoreTables.foreach { case (t, n) =>
      val ks = (1 to n).map(i => s"k$i VARCHAR(64)").mkString(", ")
      val pk = (1 to n).map(i => s"k$i").mkString(", ")
      c.createStatement().executeUpdate(s"CREATE TABLE $t ($ks, v BIGINT, PRIMARY KEY ($pk))")
    } finally c.close()
  }

  /** The published tables, for the output check in checks.py. */
  private def dump(url: String): Map[String, Seq[(List[String], Long)]] = {
    val store = new JdbcStore(DriverManager.getConnection(url))
    try Seq("ad_click_trend", "ad_stat", "ad_province_top3", "ad_user_click_count",
      "ad_blacklist").map(t => t -> store.scan(t)).toMap
    finally store.close()
  }
}
