package perfbench

import java.nio.file.Path
import java.sql.DriverManager

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Oracles, Queries}
import graft.control.TaskParams
import graft.ingest.UserVisitAction
import graft.ops._
import graft.sources.Jdbc
import graft.tables.Tables

/** `session_report`: the reference's offline task, closed loop, one
  * client. See the README for why it is a workload. */
object SessionReport {
  val OutputTables: Seq[String] = Seq("session_aggr_stat", "session_random_extract",
    "session_detail", "top10_category", "top10_session", "page_split_convert_rate",
    "area_top3_product")
  val InputTables: Seq[String] =
    Seq("events", "customer", "orders", "lineitem", "nation", "region", "part")
  val WarmupTasks = 1

  /** One analyst task as gen.py writes it: its id and its task_param. */
  final case class Task(id: Long, param: String)

  def run(spark: SparkSession, conf: RunConf, sparkStartS: Double): Outcome = {
    val dir = conf.input
    val tasks = Json.lines(java.nio.file.Paths.get(dir, "tasks.jsonl")).map(t =>
      Task(t("id").asInstanceOf[Number].longValue, t("task_param").toString))
    // set-up repeated: provision the store (gen.py repeats and times
    // the input generation)
    val reps = (0 until conf.setupReps).map { i =>
      val t0 = Env.now()
      provision(s"jdbc:derby:memory:sr$i;create=true", tasks)
      (Env.now() - t0, s"sr$i")
    }
    reps.init.foreach(r => Batch.dropDerby(r._2))
    val url = s"jdbc:derby:memory:${reps.last._2}"

    val off = new Tracer(spark.sparkContext, enabled = false)
    val t0 = Env.now()
    (0 until WarmupTasks).foreach(i => runTask(spark, off, dir, url, tasks(i)))
    val warmupS = Env.now() - t0
    val setupS = sparkStartS + conf.genS + Stats.median(reps.map(_._1)) + warmupS

    val next = Iterator.from(WarmupTasks).map(tasks)
    def task(tr: Tracer) = {
      val t = next.next()
      Batch.timed(tr, t)(runTask(spark, tr, dir, url, t))
    }
    val (results, metrics) =
      if (!conf.trace) {
        val rs = Batch.closed(conf.seconds, 2)(_ => task(off))
        (rs, Batch.endToEnd(setupS, rs))
      } else {
        val t = Batch.traced(spark, conf, Seq("tables", "ingest", "ops", "sources"))((tr, _) => task(tr))
        val plain = t.plain.count(_.error.isEmpty)
        val inputRows = InputTables.map(t => Tables(spark, dir, t).count()).sum
        (t.plain ++ t.traced, t.metrics ++ Map(
          "tables.scan_amplification" -> t.plainRecordsRead / (plain.max(1) * inputRows.toDouble),
          "sources.rows_appended" -> Stats.medianOr0(t.traced.filter(_.error.isEmpty)
            .map(r => rowsAppended(url, r.item.id)))))
      }

    val failed = results.count(_.error.nonEmpty)
    Outcome(metrics, results.size.toLong, failed.toLong, correct = failed == 0,
      Map("provision_reps_s" -> reps.map(_._1), "warmup_s" -> warmupS,
        "op_s" -> results.map(_.jobS), "live_mb" -> results.map(_.liveMb),
        "errors" -> results.flatMap(_.error).distinct.take(5),
        "check" -> checkFile(conf.work, dir, url, results.filter(_.error.isEmpty).map(_.item))))
  }

  /** One analyst task: its parameters from the control table, the
    * report, and the seven output tables appended to the store. */
  def runTask(spark: SparkSession, tr: Tracer, dir: String, url: String, t: Task): Unit = {
    tr.trace = s"task-${t.id}"
    tr.span("task") {
      val p = tr.span("control.task_params")(TaskParams.fromJdbc(spark, url, t.id))
      val from = lit(p.first("startDate").get).cast("timestamp")
      val until = date_add(lit(p.first("endDate").get).cast("date"), 1).cast("timestamp")
      val (events, customer, orders, lineitem, nation, region, part) = tr.span("tables.load") {
        def load(n: String) = tr.materialize(Tables(spark, dir, n))
        (tr.materialize(Tables(spark, dir, "events")
          .filter(col("ts") >= from && col("ts") < until)),
          load("customer"),
          tr.materialize(Tables(spark, dir, "orders")
            .filter(col("o_orderdate") >= from && col("o_orderdate") < until)),
          load("lineitem"), load("nation"), load("region"), load("part"))
      }
      def op(name: String)(df: => DataFrame): DataFrame =
        tr.span(s"ops.$name")(tr.materialize(df))
      val sessionized = op("sessionize")(Sessionize.assignSessions(events))
      val sessions = op("sessionize")(Sessionize.sessionAggregates(sessionized))
      val filtered = op("session_filter")(SessionFilter(sessions, customer, p.toSessionFilter))
      val filteredEvents = op("session_filter")(sessionized.join(
        broadcast(filtered.select(col("session_id"))), Seq("session_id"), "left_semi"))
      val stats = op("session_stats")(SessionStats(filtered))
      val extracted = op("stratified_extract")(
        StratifiedExtract(filtered, target = Queries.StratifiedTarget))
      val actions = tr.span("ingest.from_events")(
        tr.materialize(UserVisitAction.fromEvents(events)))
      val detail = op("session_detail")(RefShape.sessionDetail(actions, extracted, t.id))
      val topCats = op("top_categories")(TopK.topCategories(filteredEvents))
      val topSess = op("top_sessions")(TopK.topSessionsPerCategory(filteredEvents))
      val funnel = op("page_funnel")(
        RefShape.pageSplitConvertRate(spark, filteredEvents, Queries.funnelFlow, t.id))
      val area = op("area_top3")(
        AreaTopProducts(lineitem, orders, customer, nation, region, part))
      val outputs = Seq(
        RefShape.sessionAggrStat(stats, t.id),
        RefShape.sessionRandomExtract(extracted, t.id),
        detail,
        RefShape.top10Category(topCats, t.id),
        RefShape.top10Session(topSess.drop("rank"), t.id),
        funnel,
        RefShape.areaTop3Product(area, t.id))
      OutputTables.zip(outputs).foreach { case (name, df) =>
        tr.span("sources.jdbc_append")(Jdbc.append(df, url, name))
      }
    }
  }

  /** The `task` control table, as the reference's TaskDAO reads it. */
  private def provision(url: String, tasks: Seq[Task]): Unit = {
    val c = DriverManager.getConnection(url)
    try {
      c.createStatement().executeUpdate(
        "CREATE TABLE task (task_id BIGINT PRIMARY KEY, task_param VARCHAR(2000))")
      val st = c.prepareStatement("INSERT INTO task VALUES (?, ?)")
      tasks.foreach { t => st.setLong(1, t.id); st.setString(2, t.param); st.addBatch() }
      st.executeBatch()
    } finally c.close()
  }

  private def rowsAppended(url: String, taskId: Long): Double = {
    val c = DriverManager.getConnection(url)
    try OutputTables.map { t =>
      val rs = c.createStatement().executeQuery(s"""SELECT COUNT(*) FROM $t WHERE "taskid" = $taskId""")
      rs.next(); rs.getLong(1)
    }.sum.toDouble
    finally c.close()
  }

  /** Everything the DuckDB output check needs: the checked tasks' ids
    * (their criteria are in the input's tasks.jsonl), their rows from
    * the store, and the oracle twins' SQL. */
  private def checkFile(work: Path, dir: String, url: String, ts: Seq[Task]): String = {
    val ids = ts.map(_.id).toSet
    val c = DriverManager.getConnection(url)
    val tables = try OutputTables.map { t =>
      val cols = if (t == "session_detail") "\"taskid\", \"sessionid\"" else "*"
      val rs = c.createStatement().executeQuery(s"SELECT $cols FROM $t")
      val md = rs.getMetaData
      val names = (1 to md.getColumnCount).map(md.getColumnName)
      val rows = mutable.ArrayBuffer.empty[Seq[Any]]
      while (rs.next()) {
        val row = (1 to names.size).map(i => rs.getObject(i) match {
          case c: java.sql.Clob => c.getSubString(1, c.length.toInt)
          case x => x
        })
        if (ids.contains(row(names.indexOf("taskid")).toString.toLong)) rows += row
      }
      t -> Map("columns" -> names, "rows" -> rows.toSeq)
    }.toMap finally c.close()
    val path = work.resolve("check-session_report.json")
    Json.write(path, Map(
      "input_dir" -> dir,
      "task_ids" -> ts.map(_.id),
      "tables" -> tables,
      "oracle_sql" -> Seq("q03_session_stats", "q05_top_categories",
        "q06_top_sessions_per_category", "q07_page_funnel", "q08_area_top3_products",
        "q12_stratified_sample").map(q => q -> Oracles.sql(q)).toMap,
      "session_cte" -> Oracles.sessionCte,
      "funnel_flow" -> Queries.funnelFlow))
    path.toString
  }
}
