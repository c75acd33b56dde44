package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel

import graft.sink.{KeyedStore, StoreProvider}

/** One recorded span: a layer call made from benchmark code. */
final case class Span(id: Long, trace: String, parent: Long, name: String,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Span recorder. Disabled, `span` only runs its body. Enabled, it
  * records the span, tags every Spark job started inside it with the
  * span name as job group (so [[EngineListener]] can attribute task
  * metrics to it), and `materialize` persists and counts a frame at
  * the layer's output, so a lazy layer's work lands inside its own
  * span instead of in whichever later action first forces it. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }
  private val persisted = mutable.ArrayBuffer.empty[DataFrame]
  @volatile var trace: String = ""

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get()
      val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
      stack.set(id :: parents)
      sc.setJobGroup(name, name)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, trace, parents.headOption.getOrElse(0L), name, t0, System.nanoTime()))
        stack.set(parents)
        if (prevGroup == null) sc.clearJobGroup() else sc.setJobGroup(prevGroup, prevGroup)
      }
    }

  def materialize(df: DataFrame): DataFrame =
    if (!enabled) df
    else {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      p.count()
      persisted.synchronized(persisted += p)
      p
    }

  def releaseAll(): Unit = persisted.synchronized {
    persisted.foreach(_.unpersist(blocking = true))
    persisted.clear()
  }

  /** Self time per span: its duration minus the union of its
    * children's intervals. */
  def selfTimes(trace: String): Seq[(Span, Long)] = {
    val all = spans.asScala.filter(_.trace == trace).toSeq
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val iv = kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)).sortBy(_._1)
      var covered = 0L
      var curS = Long.MinValue
      var curE = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      if (curE > curS) covered += curE - curS
      (s, s.durNs - covered)
    }
  }

  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = spans.asScala.toSeq.sortBy(_.startNs).map { s =>
      Json(Map("id" -> s.id, "trace" -> s.trace, "parent" -> s.parent, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs))
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Per-job-group task metrics: executor CPU, shuffle bytes, spill,
  * GC, task count and input records. Job groups are span names for
  * batch layers and the streaming query's run id for micro-batches. */
final class EngineListener extends SparkListener {
  final class Acc {
    val cpuNs, shufW, shufR, spill, gcMs, tasks, records = new LongAdder
  }
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  val byGroup = new ConcurrentHashMap[String, Acc]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("none")
    e.stageIds.foreach(s => stageGroup.put(s, g))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val a = byGroup.computeIfAbsent(stageGroup.getOrDefault(e.stageId, "none"), _ => new Acc)
      a.cpuNs.add(m.executorCpuTime)
      a.shufW.add(m.shuffleWriteMetrics.bytesWritten)
      a.shufR.add(m.shuffleReadMetrics.totalBytesRead)
      a.spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      a.gcMs.add(m.jvmGCTime)
      a.tasks.increment()
      a.records.add(m.inputMetrics.recordsRead)
    }
  }

  def reset(): Unit = byGroup.clear()

  /** Totals over the groups whose name satisfies `p`. */
  def totals(p: String => Boolean): Map[String, Double] = {
    val as = byGroup.asScala.filter { case (g, _) => p(g) }.values
    def sum(f: Acc => LongAdder) = as.map(a => f(a).sum().toDouble).sum
    Map("task_cpu_s" -> sum(_.cpuNs) / 1e9, "shuffle_write_mb" -> sum(_.shufW) / 1048576.0,
      "shuffle_read_mb" -> sum(_.shufR) / 1048576.0, "spill_mb" -> sum(_.spill) / 1048576.0,
      "gc_s" -> sum(_.gcMs) / 1e3, "tasks" -> sum(_.tasks), "records" -> sum(_.records))
  }
}

/** Analysis + optimization + planning time of every executed query,
  * from its QueryExecution phase tracker. */
final class PlanListener extends QueryExecutionListener {
  val planningMs = new LongAdder
  def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planningMs.add(qe.tracker.phases.collect {
      case (p, s) if p != "parsing" => s.durationMs
    }.sum)
  def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Listeners {
  def drain(spark: SparkSession): Unit =
    org.apache.spark.GraftSpark.drainListeners(spark.sparkContext)

  def registerPlan(spark: SparkSession, l: PlanListener): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].listenerManager.register(l)
}

/** One completed micro-batch as reported by the query's progress;
  * `query` is the query id. */
final case class BatchRecord(query: String, batchId: Long, startMs: Long, endMs: Long,
    endOffset: Long, rows: Long, durations: Map[String, Long], stateRows: Long,
    stateBytes: Long)

/** Collects the progress of every micro-batch with input. */
final class StreamProbe extends StreamingQueryListener {
  val batches = new java.util.concurrent.ConcurrentLinkedQueue[BatchRecord]()
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.sources.nonEmpty && p.sources.head.endOffset != null && p.numInputRows >= 0) {
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }.toMap
      val end = start + d.getOrElse("triggerExecution", 0L)
      val off = scala.util.Try(p.sources.head.endOffset.trim.toLong).getOrElse(-1L)
      batches.add(BatchRecord(p.id.toString, p.batchId, start, end, off, p.numInputRows, d,
        p.stateOperators.map(_.numRowsTotal).sum, p.stateOperators.map(_.memoryUsedBytes).sum))
    }
  }
}

/** JVM-wide store-call counters (executors run inside this JVM in
  * local mode). */
object SinkCounters {
  val Ops: Seq[String] = Seq("open", "increment", "get", "put", "insert_key",
    "replace_group", "scan", "scan_prefix", "tx_commit")
  val calls: Map[String, LongAdder] = Ops.map(_ -> new LongAdder).toMap
  val nanos: Map[String, LongAdder] = Ops.map(_ -> new LongAdder).toMap
  @volatile var counting = false
  def reset(): Unit = { calls.values.foreach(_.reset()); nanos.values.foreach(_.reset()) }

  def timed[T](op: String)(body: => T): T =
    if (!counting) body
    else {
      val t0 = System.nanoTime()
      try body
      finally { calls(op).increment(); nanos(op).add(System.nanoTime() - t0) }
    }
}

/** Timing and counting decorator around any StoreProvider. */
final case class CountingProvider(inner: StoreProvider) extends StoreProvider {
  def open(): KeyedStore = {
    val s = SinkCounters.timed("open")(inner.open())
    new KeyedStore {
      import SinkCounters.timed
      def increment(t: String, k: Seq[String], d: Long): Unit = timed("increment")(s.increment(t, k, d))
      def get(t: String, k: Seq[String]): Option[Long] = timed("get")(s.get(t, k))
      def put(t: String, k: Seq[String], v: Long): Unit = timed("put")(s.put(t, k, v))
      def insertKey(t: String, k: Seq[String]): Unit = timed("insert_key")(s.insertKey(t, k))
      def replaceGroup(t: String, g: Seq[String], rows: Seq[(Seq[String], Long)]): Unit =
        timed("replace_group")(s.replaceGroup(t, g, rows))
      def scan(t: String): Seq[(List[String], Long)] = timed("scan")(s.scan(t))
      override def scanPrefix(t: String, p: Seq[String]): Seq[(List[String], Long)] =
        timed("scan_prefix")(s.scanPrefix(t, p))
      override def txBegin(): Unit = s.txBegin()
      override def txCommit(): Unit = timed("tx_commit")(s.txCommit())
      def close(): Unit = s.close()
    }
  }
}
