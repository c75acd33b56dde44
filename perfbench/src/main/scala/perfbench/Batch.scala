package perfbench

import java.sql.DriverManager

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One closed-loop operation (a task, a pass or a drained chunk): its
  * time from submit to the last commit, the heap still in use after a
  * full collection that follows it, and the error that failed it, if
  * any. */
final case class OpResult[A](item: A, jobS: Double, liveMb: Double, error: Option[String])

/** Closed-loop runner and traced-run scaffolding shared by the
  * workloads. */
object Batch {

  /** Runs `op` back to back, starting a new one only while the
    * operations so far have taken less than `seconds` and fewer than
    * `max` have run, and at least `min` times. The live-heap
    * measurement between operations does not count against `seconds`. */
  def closed[A](seconds: Double, min: Int, max: Int = Int.MaxValue)(
      op: Int => OpResult[A]): Seq[OpResult[A]] = {
    val out = mutable.ArrayBuffer.empty[OpResult[A]]
    while (out.size < max && (out.size < min || out.map(_.jobS).sum < seconds)) out += op(out.size)
    out.toSeq
  }

  /** Times one operation, then (outside the timed part) releases what
    * the tracer persisted and measures the live heap, so every
    * operation starts from a collected heap. */
  def timed[A](tr: Tracer, item: A)(body: => Unit): OpResult[A] = {
    val t0 = Env.now()
    val (jobS, error) =
      try { body; (Env.now() - t0, None) }
      catch { case e: Exception => (Env.now() - t0, Some(e.toString.take(300))) }
      finally tr.releaseAll()
    OpResult(item, jobS, Env.liveHeapMb(), error)
  }

  /** The end-to-end metrics of an untraced run. The live heap is taken
    * after the last operation: after the first one it sometimes still
    * holds about 18 MB that a later operation's collections free. */
  def endToEnd[A](setupS: Double, rs: Seq[OpResult[A]]): Map[String, Double] = {
    val ok = rs.filter(_.error.isEmpty)
    if (ok.isEmpty) Map.empty
    else Map("setup_s" -> setupS, "job_s_p50" -> Stats.median(ok.map(_.jobS)),
      "heap_live_mb" -> ok.last.liveMb)
  }

  final case class Traced[A](plain: Seq[OpResult[A]], traced: Seq[OpResult[A]],
      metrics: Map[String, Double], plainRecordsRead: Double)

  /** Per-layer metric of a span name: seconds of self time, except the
    * control-plane read, which is reported in ms. */
  private def spanMetric(name: String): (String, Double) =
    if (name == "control.task_params") ("control.task_params_ms", 1e3) else (s"${name}_s", 1.0)

  /** A traced run: untraced operations for the first half of `seconds`
    * (the reference for tracing overhead, planning time and input
    * records read), traced ones for the second half. Per-layer metrics
    * are medians over traced operations of each layer span's summed
    * self time and of the engine counters of each layer's jobs. */
  def traced[A](spark: SparkSession, conf: RunConf, layers: Seq[String])(
      op: (Tracer, Int) => OpResult[A]): Traced[A] = {
    val engine = new EngineListener
    val plans = new PlanListener
    spark.sparkContext.addSparkListener(engine)
    Listeners.registerPlan(spark, plans)
    val off = new Tracer(spark.sparkContext, enabled = false)
    val tr = new Tracer(spark.sparkContext, enabled = true)
    val planMs = mutable.ArrayBuffer.empty[Double]
    val plain = closed(conf.seconds / 2, 1) { k =>
      Listeners.drain(spark); plans.planningMs.reset()
      spark.sparkContext.setJobGroup("untraced", "untraced")
      val r = op(off, k)
      spark.sparkContext.clearJobGroup()
      Listeners.drain(spark); planMs += plans.planningMs.sum().toDouble
      r
    }
    val records = engine.totals(_ == "untraced")("records")
    val perOp = mutable.ArrayBuffer.empty[Map[String, Double]]
    val traced = closed(conf.seconds / 2, 1) { i =>
      Listeners.drain(spark); engine.reset()
      val r = op(tr, plain.size + i)
      Listeners.drain(spark)
      val self = tr.selfTimes(tr.trace).filter(_._1.name.contains('.'))
        .groupBy(s => spanMetric(s._1.name)).map { case ((m, scale), xs) =>
          m -> xs.map(_._2).sum / 1e9 * scale
        }
      val counters = layers.flatMap { l =>
        engine.totals(_.startsWith(l + ".")).collect {
          case (k, v) if k != "records" => s"$l.$k" -> v
        }
      }
      perOp += self ++ counters
      r
    }
    tr.writeSpans(conf.work.resolve("spans.jsonl"))
    val okPlain = plain.filter(_.error.isEmpty).map(_.jobS)
    val okTraced = traced.filter(_.error.isEmpty).map(_.jobS)
    val medians = perOp.flatMap(_.keys).distinct
      .map(k => k -> Stats.median(perOp.toSeq.map(_.getOrElse(k, 0.0)))).toMap
    Traced(plain, traced, medians ++ Map(
      "plans.planning_ms" -> Stats.medianOr0(planMs.toSeq),
      "trace.spans" -> tr.spans.size().toDouble / okTraced.size.max(1),
      "trace.overhead_share" ->
        (if (okPlain.isEmpty || okTraced.isEmpty) 0.0
         else Stats.median(okTraced) / Stats.median(okPlain) - 1.0)), records)
  }

  /** Drop the in-memory Derby databases of discarded set-up repetitions. */
  def dropDerby(name: String): Unit =
    try DriverManager.getConnection(s"jdbc:derby:memory:$name;drop=true")
    catch { case _: java.sql.SQLException => () } // a successful drop reports 08006
}
