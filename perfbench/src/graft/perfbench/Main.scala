package graft.perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** What one workload run produced.
  *
  * @param attempted output checks made (every operation's output is
  *        checked at least once)
  * @param failed    checks that failed
  * @param e2e       every end-to-end metric: name -> (value, unit)
  * @param report    the workload's own metrics under the names the README
  *                  uses, printed as `metric` lines (name, value, unit, note)
  * @param layers    per-layer metrics (traced runs only) */
final case class Outcome(attempted: Int, failed: Int,
    e2e: Seq[(String, Double, String)],
    report: Seq[(String, Double, String, String)],
    layers: Map[String, Double])

/** Output checks of one run: every check is one attempt; each failure is
  * printed and counted. */
final class Checks {
  private var n = 0
  private var bad = 0
  def apply(name: String, ok: Boolean, detail: => String): Boolean = {
    n += 1
    if (!ok) {
      bad += 1
      println(s"check FAILED: $name: $detail")
    }
    ok
  }
  def attempted: Int = n
  def failures: Int = bad
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear interpolation between closest ranks. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/**
 * Benchmark entry point (run through perfbench/run.py, which builds the
 * classes and sets the JVM flags):
 *
 *   graft.perfbench.Main <workload> <seed> <seconds> <trace 0|1> <scratch>
 *
 * Prints `metric` report lines, then, as the last stdout line, one JSON
 * object {correct, attempted, failed, metrics}: the end-to-end metrics
 * with trace 0, the per-layer metrics with trace 1. A traced run also
 * leaves one JSON line per Spark job in `<scratch>/trace.jsonl`.
 */
object Main {
  val Workloads = Seq("dedup_batch", "dedup_incremental", "search")

  /** Local-mode parallelism: at most 4, so hosts with more cores still
    * measure the same configuration. */
  def cores: Int = math.min(4, Runtime.getRuntime.availableProcessors())

  def session(scratch: Path): SparkSession = {
    val n = cores
    val s = SparkSession.builder()
      .master(s"local[$n]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // The status store keeps records of every job, stage, task and SQL
      // execution up to these counts; nothing here reads them, and at the
      // defaults (1000/1000/100000/1000) their growth over search's query
      // loop lengthens the young-GC pauses that land inside timed queries.
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "10000")
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.sql.files.maxPartitionBytes", (2L << 20).toString)
      .config("spark.sql.files.openCostInBytes", (64L << 10).toString)
      .config("spark.local.dir", scratch.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", scratch.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.functions.registerAll(s)
    s
  }

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    require(args.length == 5,
      "usage: Main <workload> <seed> <seconds> <trace 0|1> <scratch dir>")
    val Array(workload, seedS, secondsS, traceS, scratchS) = args
    require(Workloads.contains(workload),
      s"unknown workload $workload (one of ${Workloads.mkString(", ")})")
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val scratch = Paths.get(scratchS)
    Files.createDirectories(scratch)

    val (spark, sessionS) = Stats.time(session(scratch))
    val host = Seq(
      "nproc" -> Runtime.getRuntime.availableProcessors().toString,
      "master" -> spark.sparkContext.master,
      "heap_max_gb" -> f"${Runtime.getRuntime.maxMemory / 1e9}%.2f",
      "jdk" -> System.getProperty("java.version"),
      "spark" -> spark.version,
      "scala" -> scala.util.Properties.versionNumberString,
      "session_start_s" -> f"$sessionS%.3f")
    println("host " + host.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }
      .mkString("{", ",", "}"))

    val trace: Trace = if (traced) new Listener(spark.sparkContext) else NoTrace
    val outcome =
      try workload match {
        case "dedup_batch" => DedupBatch.run(spark, seed, seconds, trace, scratch)
        case "dedup_incremental" =>
          DedupIncremental.run(spark, seed, seconds, trace, scratch)
        case "search" => SearchWorkload.run(spark, seed, seconds, trace, scratch)
      } finally spark.stop()
    trace match {
      case tr: Listener =>
        Files.write(scratch.resolve("trace.jsonl"), tr.jobLines.asJava)
      case _ =>
    }

    outcome.report.foreach { case (name, v, unit, note) =>
      println(f"metric $workload%-18s $name%-22s ${Json.num(v)}%14s $unit%-8s $note")
    }
    println(f"metric $workload%-18s error_rate             " +
      f"${outcome.failed.toDouble / outcome.attempted}%14s ratio    " +
      s"${outcome.failed} of ${outcome.attempted} output checks failed")
    val metrics =
      if (traced) LayerMetrics.complete(workload, outcome.layers).toSeq.sortBy(_._1)
        .map { case (k, v) => k -> (v, LayerMetrics.unitOf(k)) }
      else outcome.e2e.map { case (k, v, u) => k -> (v, u) }
    val body = metrics.map { case (k, (v, u)) =>
      s"""${Json.str(k)}:{"value":${Json.num(v)},"unit":${Json.str(u)}}"""
    }.mkString("{", ",", "}")
    println(s"""{"correct":${outcome.failed == 0},"attempted":${outcome.attempted},""" +
      s""""failed":${outcome.failed},"metrics":$body}""")
  }
}
