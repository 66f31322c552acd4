package graft.perfbench

import graft.corpus.SyntheticCorpus
import graft.dedup.{ConnectedComponents, DedupConfig, IncrementalDedup, PerfbenchAccess}
import graft.tables.StageStore
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.{Files, Path, StandardCopyOption}
import scala.jdk.CollectionConverters._

/**
 * `dedup_incremental`: set-up builds an `IncrementalDedup` store from a
 * seeded base batch; the run restores that pristine store and ingests a
 * fixed sequence of ~1k-page delta batches with `addBatch`, then reads
 * `clusters()`. This is the dedup code at delta size — on the driver side
 * of both 2^18 cliffs — where stage-store commits and driver gaps dominate.
 */
object DedupIncremental {
  val BaseClusters = 4000
  /** Delta batch shape of `graft.Bench` (~1k pages each). */
  val DeltaClusters: Int = graft.Bench.DeltaClusters
  val MinBatches = 3

  /** Child session as `graft.Bench` runs the incremental store: delta
    * ingest is many small stages, so AQE coalescing is on there. */
  private def incSession(spark: SparkSession): SparkSession = {
    val inc = spark.newSession()
    inc.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    inc.conf.set("spark.sql.shuffle.partitions", "8")
    graft.functions.registerAll(inc)
    inc
  }

  /** Delta batch `k`: the next `DeltaClusters` cluster ids after the base,
    * generated like `graft.Bench.deltaPages` but from the run's seed. */
  private def deltaPages(s: SparkSession, ccfg: SyntheticCorpus.Config,
      k: Int): DataFrame = {
    import s.implicits._
    val off = ccfg.nClusters.toLong + k.toLong * DeltaClusters
    s.range(off, off + DeltaClusters)
      .flatMap(c => (0 until SyntheticCorpus.sizeOf(ccfg, c))
        .map(m => SyntheticCorpus.pageOf(ccfg, c, m)))
      .toDF()
  }

  private def deltaSize(ccfg: SyntheticCorpus.Config, k: Int): Long = {
    val off = ccfg.nClusters.toLong + k.toLong * DeltaClusters
    (off until off + DeltaClusters).map(c => SyntheticCorpus.sizeOf(ccfg, c).toLong).sum
  }

  private def copyTree(from: Path, to: Path): Unit = {
    val paths = Files.walk(from)
    try paths.iterator().asScala.foreach { p =>
      val dst = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.copy(p, dst, StandardCopyOption.COPY_ATTRIBUTES)
    } finally paths.close()
  }

  /** One pass: restore the pristine store into `work`, ingest batches until
    * at least `MinBatches` and `seconds` are done, read the clusters. */
  private final case class Pass(batchS: Seq[Double], pages: Seq[Long],
      readS: Double, store: IncrementalDedup, root: String)

  private def pass(inc: SparkSession, ccfg: SyntheticCorpus.Config,
      pristine: Path, work: Path, basePages: Long, seconds: Double,
      trace: Trace, checks: Checks, tag: String): Pass = {
    copyTree(pristine, work)
    val store = new IncrementalDedup(inc, work.toString, DedupConfig())
    val batchS = scala.collection.mutable.ArrayBuffer.empty[Double]
    val sizes = scala.collection.mutable.ArrayBuffer.empty[Long]
    val t0 = System.nanoTime()
    var readS = 0.0
    var k = 0
    while (k < MinBatches || (System.nanoTime() - t0) / 1e9 < seconds) {
      val delta = deltaPages(inc, ccfg, k)
      val (_, s) = Stats.time(trace.span(s"inc.batch.$k") {
        store.addBatch(s"delta_$k", delta)
      })
      batchS += s
      sizes += deltaSize(ccfg, k)
      // The store read is timed after every batch; its row count is the
      // batch's output check. The last read is the reported one.
      val (rows, r) = Stats.time(trace.span(s"inc.read.$k")(store.clusters().count()))
      readS = r
      val want = basePages + sizes.sum
      checks(s"$tag: label rows after delta_$k = base + deltas", rows == want,
        s"$rows rows, expected $want")
      k += 1
    }
    Pass(batchS.toSeq, sizes.toSeq, readS, store, work.toString)
  }

  def run(spark: SparkSession, seed: Long, seconds: Double, trace: Trace,
      scratch: Path): Outcome = {
    val checks = new Checks
    val inc = incSession(spark)
    val ccfg = SyntheticCorpus.Config(nClusters = BaseClusters, seed = seed)
    val pristine = scratch.resolve("inc-pristine")

    val (basePages, setupS) = Stats.time {
      val base = scratch.resolve("base").toString
      SyntheticCorpus.pages(inc, ccfg).write.parquet(base)
      new IncrementalDedup(inc, pristine.toString, DedupConfig())
        .addBatch("base", inc.read.parquet(base))
      inc.read.parquet(base).count()
    }

    val p = pass(inc, ccfg, pristine, scratch.resolve("inc-work"), basePages,
      seconds, NoTrace, checks, "untraced")
    val layers = trace match {
      case tr: Listener =>
        tracedPass(inc, tr, ccfg, pristine, scratch, basePages, checks, p)
      case _ => Map.empty[String, Double]
    }

    val ingestS = Stats.median(p.batchS)
    Outcome(checks.attempted, checks.failures,
      e2e = Seq(
        ("setup_s", setupS, "s"),
        ("docs_per_s", p.pages.sum / p.batchS.sum, "docs/s"),
        ("op_p50_ms", ingestS * 1e3, "ms"),
        ("op_p80_ms", Stats.quantile(p.batchS, 0.8) * 1e3, "ms")),
      report = Seq(
        ("setup_s", setupS, "s", s"base store build, $basePages pages from $BaseClusters clusters"),
        ("ingest_batch_s", ingestS, "s",
          s"median of ${p.batchS.size} delta batches (${p.pages.mkString("/")} pages)"),
        ("store_read_s", p.readS, "s", s"clusters().count() after the last batch")),
      layers = layers)
  }

  /** The same pass with the listener attached (restored from the pristine
    * store again), then the cliff counts of every batch, recomputed from
    * its committed stages outside any timed span. */
  private def tracedPass(inc: SparkSession, tr: Listener,
      ccfg: SyntheticCorpus.Config, pristine: Path, scratch: Path,
      basePages: Long, checks: Checks, untraced: Pass): Map[String, Double] = {
    tr.attach()
    val p = pass(inc, ccfg, pristine, scratch.resolve("inc-traced"), basePages,
      0.0, tr, checks, "traced")
    tr.drain()
    val n = p.batchS.size
    val batches = (0 until n).map(k => tr.stats(_ == s"inc.batch.$k"))
    def label(k: Int, pred: String => Boolean) =
      tr.stats(_ == s"inc.batch.$k", pred).busyS
    def isDeltaEdges(l: String) = l == "inc:deltaEdges" || l == "inc:newKeys" ||
      l == "inc:touchedPts" || l == "inc:touchedBuckets" ||
      l == "inc:newIdProbe" || l.startsWith("inc:cand") ||
      l.startsWith("inc:endpointSigs")
    def isCommit(l: String) = l.startsWith("stage:") && l.endsWith(":write")
    val read = tr.stats(_ == s"inc.read.${n - 1}")

    val stages = new StageStore(inc, p.root)
    val cliff = (0 until n).map { k =>
      val id = s"delta_$k"
      val prior = "base" +: (0 until k).map(j => s"delta_$j")
      val (stream, edges) =
        PerfbenchAccess.deltaCliffCounts(inc, p.store, p.root, prior, id)
      (stream, edges, stages.committedRows(s"labels_$id").getOrElse(0L))
    }
    val streamMax = cliff.map(_._1).max
    val edgesMax = cliff.map(_._2).max
    val nodesMax = cliff.map(_._3).max
    val bound = ConnectedComponents.SmallEdgeBound
    checks("bucket cliff side: driver (delta bucket stream <= 2^18)",
      streamMax <= (1 << 18), s"max $streamMax rows")
    checks("CC cliff side: driver (delta edges + relabeled nodes <= 2^18)",
      edgesMax + nodesMax <= bound, s"max $edgesMax edges, $nodesMax nodes")

    def med(f: Int => Double) = Stats.median((0 until n).map(f))
    val untracedWallS = untraced.batchS.take(n).sum + untraced.readS
    val tracedWallS = p.batchS.sum + p.readS
    LayerMetrics.kernels(
      deltaPages(inc, ccfg, 0).select("text").collect().map(_.getString(0)).toSeq) ++
    Map(
      "inc.jobs" -> med(k => batches(k).jobs.toDouble),
      "inc.driver_gap_s" -> med(k => batches(k).gapS),
      "inc.cpu_s" -> med(k => batches(k).cpuS),
      "inc.gc_s" -> med(k => batches(k).gcS),
      "inc.cc_s" -> med(k => label(k, _ == "inc:cc")),
      "inc.delta_edges_s" -> med(k => label(k, isDeltaEdges)),
      "inc.bucket_stream_rows_max" -> streamMax.toDouble,
      "inc.delta_edges_max" -> edgesMax.toDouble,
      "inc.cc_nodes_max" -> nodesMax.toDouble,
      "inc.store_read.jobs" -> read.jobs.toDouble,
      "inc.store_read.shuffle_read_mb" -> read.shuffleReadMb,
      "tables.commit_s" -> med(k => label(k, isCommit)),
      "tables.commit_jobs" -> med(k => tr.stats(_ == s"inc.batch.$k", isCommit).jobs.toDouble),
      "cliff.cc_driver_side" -> (if (edgesMax + nodesMax <= bound) 1.0 else 0.0),
      "cliff.bucket_driver_side" -> (if (streamMax <= (1 << 18)) 1.0 else 0.0),
      "trace.untraced_wall_s" -> untracedWallS,
      "trace.traced_wall_s" -> tracedWallS,
      "trace.overhead_s" -> (tracedWallS - untracedWallS))
  }
}
