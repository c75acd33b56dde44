package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** JSON for the harness's result, check and span files. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def apply(v: Any): String = mapper.writeValueAsString(v)

  /** One JSON object a line, as maps. */
  def lines(path: Path): Seq[Map[String, Any]] = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(path, StandardCharsets.UTF_8).asScala.toSeq.filter(_.nonEmpty)
      .map(l => mapper.readValue(l, classOf[Map[String, Any]]))
  }

  def write(path: Path, v: Any): Unit = {
    Files.createDirectories(path.getParent)
    Files.write(path, apply(v).getBytes(StandardCharsets.UTF_8))
  }
}

object Stats {
  /** Linear-interpolated quantile of unsorted samples (q in [0, 1]). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def medianOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)
}

/** Process and machine facts recorded with every result. */
object Env {
  def now(): Double = System.nanoTime() / 1e9

  def loadavg(): String =
    try new String(Files.readAllBytes(java.nio.file.Paths.get("/proc/loadavg")),
      StandardCharsets.UTF_8).trim
    catch { case _: Exception => "unavailable" }

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double =
    try {
      val line = scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case _: Exception => 0.0 }

  /** Heap in use after full collections, in MB. Spark frees broadcast
    * and shuffle blocks asynchronously once a collection has found them
    * unreachable, so this collects until the figure stops falling. */
  def liveHeapMb(): Double = {
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean
    def collect(): Double = {
      System.gc()
      Thread.sleep(100)
      heap.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var last = collect()
    var next = collect()
    var rounds = 2
    while (next < last - 1.0 && rounds < 6) { last = next; next = collect(); rounds += 1 }
    math.min(last, next)
  }

  def facts(spark: org.apache.spark.sql.SparkSession): Map[String, Any] = Map(
    "nproc" -> Runtime.getRuntime.availableProcessors(),
    "heap_max_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024),
    "spark_version" -> spark.version,
    "spark_master" -> spark.sparkContext.master,
    "java_version" -> System.getProperty("java.version"))
}
