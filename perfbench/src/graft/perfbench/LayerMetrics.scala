package graft.perfbench

import graft.dedup.DedupConfig
import graft.functions.{NxsTokenizeExpr, SigBundleExpr}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String

/** The per-layer metric set. `Names` are the metrics of the workloads in
  * `BENCHMARK.json`; every traced run reports each of them, and a layer
  * the workload never enters reads 0 (search never enters dedup).
  * `IncrementalNames` come only from `dedup_incremental`, which is run by
  * hand, and only its traced runs report them. */
object LayerMetrics {
  val Phases = Seq("signatures", "candidates", "verify", "cc", "resolve")
  private val PhaseFields =
    Seq("wall_s", "cpu_s", "gc_s", "shuffle_write_mb", "spill_mb", "jobs", "driver_gap_s")

  val Names: Seq[String] =
    (for (p <- Phases; f <- PhaseFields) yield s"dedup.$p.$f") ++ Seq(
      "text.tokenize_us_per_doc", "functions.signature_us_per_doc",
      "dedup.bucket_rows", "dedup.candidate_pairs", "dedup.verified_pairs",
      "dedup.verify_accept_ratio", "dedup.cc_edges", "dedup.multi_clusters",
      "tables.commit_s", "tables.commit_jobs",
      "search.plan_ms", "search.exec_ms", "search.jobs_per_query",
      "search.driver_gap_ms", "index.jobs", "index.commit_s",
      "cliff.cc_driver_side",
      "trace.untraced_wall_s", "trace.traced_wall_s", "trace.overhead_s")

  val IncrementalNames: Seq[String] = Seq(
    "inc.jobs", "inc.driver_gap_s", "inc.cpu_s", "inc.gc_s", "inc.cc_s",
    "inc.delta_edges_s", "inc.bucket_stream_rows_max", "inc.delta_edges_max",
    "inc.cc_nodes_max", "inc.store_read.jobs", "inc.store_read.shuffle_read_mb",
    "cliff.bucket_driver_side")

  def unitOf(name: String): String = name match {
    case n if n.endsWith("_us_per_doc") => "us/doc"
    case n if n.endsWith("_ms") => "ms"
    case n if n.endsWith("_s") => "s"
    case n if n.endsWith("_mb") => "MB"
    case n if n.endsWith("_ratio") => "ratio"
    case n if n.startsWith("cliff.") => "flag"
    case _ => "count"
  }

  /** The workload's names, 0 where it gave no value. */
  def complete(workload: String, m: Map[String, Double]): Map[String, Double] = {
    val names =
      if (workload == "dedup_incremental") Names ++ IncrementalNames else Names
    val unknown = m.keySet -- names
    require(unknown.isEmpty, s"undeclared per-layer metrics: $unknown")
    names.map(n => n -> m.getOrElse(n, 0.0)).toMap
  }

  /** The seven per-phase fields of `dedup.<phase>` from a span aggregate. */
  def phase(p: String, s: SpanStats): Map[String, Double] = Map(
    s"dedup.$p.wall_s" -> s.wallS, s"dedup.$p.cpu_s" -> s.cpuS,
    s"dedup.$p.gc_s" -> s.gcS, s"dedup.$p.shuffle_write_mb" -> s.shuffleWriteMb,
    s"dedup.$p.spill_mb" -> s.spillMb, s"dedup.$p.jobs" -> s.jobs.toDouble,
    s"dedup.$p.driver_gap_s" -> s.gapS)

  /** Single-thread µs/doc of the tokenizer (text layer, reached through
    * its Catalyst kernel entry) and of the fused signature kernel
    * (functions layer) over `texts`: one warm-up pass, then the median of
    * three timed passes. */
  def kernels(texts: Seq[String]): Map[String, Double] = {
    val cfg = DedupConfig()
    val u8 = texts.map(UTF8String.fromString).toArray
    val en = UTF8String.fromString("en")
    def tokenize(t: UTF8String): ArrayData =
      NxsTokenizeExpr.tokenize(t, en, "normalizer,stopwords,stemmer", true)
    val toks = u8.map(tokenize)
    def perDoc(f: => Unit): Double = {
      f
      Stats.median((1 to 3).map(_ => Stats.time(f)._2 * 1e6 / u8.length))
    }
    val tokUs = perDoc(u8.foreach(tokenize))
    val sigUs = perDoc(toks.foreach(t => SigBundleExpr.bundle(t, cfg.shingleW,
      cfg.minhashK, cfg.winnowA, cfg.winnowWindow, true, true, true, cfg.seed)))
    Map("text.tokenize_us_per_doc" -> tokUs,
      "functions.signature_us_per_doc" -> sigUs)
  }
}
