package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Oracles
import graft.ops.{Clustering, Dedup}
import graft.tables.Tables

/** `corpus_dedup`: the ingestion dedup pass, closed loop, one client.
  * See the README for why it is a workload. */
object CorpusDedup {
  val WarmupPasses = 1

  def run(spark: SparkSession, conf: RunConf, sparkStartS: Double): Outcome = {
    val dir = conf.input
    val docs = Tables(spark, dir, "documents").count()
    val off = new Tracer(spark.sparkContext, enabled = false)
    val t0 = Env.now()
    (0 until WarmupPasses).foreach(i => pass(spark, off, dir, conf.work.resolve(s"warmup-$i").toString))
    val warmupS = Env.now() - t0
    val setupS = sparkStartS + conf.genS + warmupS

    def timedPass(tr: Tracer, k: Int) = {
      val out = conf.work.resolve(s"pass-$k").toString
      Batch.timed(tr, out)(pass(spark, tr, dir, out))
    }
    val (results, metrics) =
      if (!conf.trace) {
        val rs = Batch.closed(conf.seconds, 2)(k => timedPass(off, k))
        (rs, Batch.endToEnd(setupS, rs))
      } else {
        val t = Batch.traced(spark, conf, Seq("tables", "ops", "expressions", "sources"))(timedPass)
        (t.plain ++ t.traced,
          t.metrics + ("ops.lsh_candidates_per_pair" -> candidatesPerPair(spark, dir)))
      }

    val failed = results.count(_.error.nonEmpty)
    val checkPath = conf.work.resolve("check-corpus_dedup.json")
    Json.write(checkPath, Map(
      "input_dir" -> dir,
      "passes" -> results.filter(_.error.isEmpty).map(_.item),
      "oracle_sql" -> Seq("q21_exact_dedup", "q22_minhash_dedup_pairs")
        .map(q => q -> Oracles.sql(q)).toMap))
    Outcome(metrics, results.size.toLong, failed.toLong, correct = failed == 0,
      Map("documents" -> docs, "warmup_s" -> warmupS,
        "op_s" -> results.map(_.jobS), "live_mb" -> results.map(_.liveMb),
        "errors" -> results.flatMap(_.error).distinct.take(5), "check" -> checkPath.toString))
  }

  /** One dedup pass: exact groups, verified near-dup pairs, clusters,
    * and the kept set (one canonical document per cluster, with its
    * SimHash fingerprint), each written as parquet under `out`. */
  def pass(spark: SparkSession, tr: Tracer, dir: String, out: String): Unit = {
    tr.trace = out.substring(out.lastIndexOf('/') + 1)
    tr.span("pass") {
      val docs = tr.span("tables.load")(tr.materialize(Tables(spark, dir, "documents")))
      if (tr.enabled) tr.span("expressions.minhash_signature")(
        tr.materialize(Dedup.minhashSignature(docs)))
      def write(name: String, df: DataFrame): Unit =
        tr.span("sources.kept_write")(df.write.mode("overwrite").parquet(s"$out/$name"))
      val exact = tr.span("ops.exact_dedup")(tr.materialize(Dedup.exactDedup(docs)))
      write("exact", exact)
      val pairs = tr.span("ops.minhash_pairs")(tr.materialize(Dedup.minhashDedupPairs(docs)))
      write("pairs", pairs)
      val clusters = tr.span("ops.neardup_clusters")(
        tr.materialize(Clustering.nearDupClusters(docs)))
      val keptDocs = docs.join(clusters.filter(col("doc_id") === col("canonical_doc_id"))
        .select(col("doc_id")), Seq("doc_id"), "left_semi")
      val kept = tr.span("expressions.simhash")(tr.materialize(Dedup.simhash(keptDocs)))
      write("kept", kept)
    }
  }

  /** LSH candidate pairs per verified near-duplicate pair: the share of
    * blocked self-join work the Jaccard verification throws away. */
  private def candidatesPerPair(spark: SparkSession, dir: String): Double = {
    val docs = Tables(spark, dir, "documents")
    Dedup.lshCandidatePairs(docs).count().toDouble /
      math.max(1L, Dedup.minhashDedupPairs(docs).count())
  }
}
