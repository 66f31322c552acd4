package graft.perfbench

import graft.corpus.SyntheticCorpus
import graft.dedup.{ConnectedComponents, DedupConfig, DedupPipeline, Materialize}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.Path

/**
 * `dedup_batch`: `DedupPipeline.clusters` over a seeded SyntheticCorpus
 * written to parquet — the corpus-scale batch job whose docs/s the paper
 * reports. `WarmupRuns` untimed full runs warm the JIT, then `TimedRuns`
 * full runs are timed and their median wall reported. At the corpus scale
 * the paper reports, JIT warm-up is a small share of a job; at the size a
 * run can afford, a process's first run took about twice as long as its
 * fourth, so timing runs still on that curve made the median swing.
 */
object DedupBatch {
  /** Corpus size: ~12.3k pages at the default kind mix. */
  val Clusters = 7000
  /** Set-ups per run; `setup_s` is their median. */
  val SetupReps = 3
  /** Untimed full `clusters()` runs before the timed ones. Walls fall
    * steeply over a process's first three runs and ease slowly after;
    * the median of the timed runs absorbs the third. */
  val WarmupRuns = 2
  /** Timed `clusters()` runs per process; the metrics use their median. */
  val TimedRuns = 4

  def run(spark: SparkSession, seed: Long, seconds: Double, trace: Trace,
      scratch: Path): Outcome = {
    val checks = new Checks
    val ccfg = SyntheticCorpus.Config(nClusters = Clusters, seed = seed)
    val cfg = DedupConfig()

    // Set-up, SetupReps times over: write the corpus and count its pages.
    val setups = (0 until SetupReps).map { r =>
      val path = scratch.resolve(s"corpus-$r").toString
      Stats.time {
        SyntheticCorpus.pages(spark, ccfg).write.parquet(path)
        path -> spark.read.parquet(path).count()
      }
    }
    val setupS = Stats.median(setups.map(_._2))
    val (corpus, nPages) = setups.head._1
    val pages = spark.read.parquet(corpus)

    // The output is materialized: the job's output write. Each run's
    // output is released before the next; the last one is kept.
    (1 to WarmupRuns).foreach(_ =>
      Materialize.release(Materialize(DedupPipeline.clusters(pages, cfg))))
    val runs = (1 to TimedRuns).map { k =>
      val (o, s) = Stats.time(Materialize(DedupPipeline.clusters(pages, cfg)))
      val rows = o.count()
      checks(s"run $k: output rows = input pages", rows == nPages,
        s"$rows rows for $nPages pages")
      if (k < TimedRuns) Materialize.release(o)
      (o, rows, s)
    }
    val (out, rows, _) = runs.last
    val wallS = Stats.median(runs.map(_._3))

    // Recall outside the clock, with RecallCheck's semantics on every
    // RecallSample-th planted cluster: a planted pair counts when it meets
    // the dup criterion (exact shingle Jaccard >= tau or SimHash Hamming
    // <= d); it is recalled when both pages share a cluster.
    val qualified = qualifiedPairs(spark, pages, ccfg, cfg)
    val nQualified = qualified.count()
    val recall = recallOf(qualified, out)
    checks("dup_pair_recall >= 0.99", recall >= 0.99, s"recall $recall over $nQualified pairs")

    val layers = trace match {
      case tr: Listener =>
        tracedRun(tr, pages, cfg, checks, rows, recall, qualified, out, wallS)
      case _ => Map.empty[String, Double]
    }

    val docsPerS = nPages / wallS
    Outcome(checks.attempted, checks.failures,
      e2e = Seq(
        ("setup_s", setupS, "s"),
        ("docs_per_s", docsPerS, "docs/s"),
        ("op_p50_ms", wallS * 1e3, "ms"),
        ("op_p80_ms", wallS * 1e3, "ms")),
      report = Seq(
        ("setup_s", setupS, "s", s"median of $SetupReps corpus writes, $nPages pages from $Clusters clusters"),
        ("dedup_docs_per_s", docsPerS, "docs/s", f"$nPages pages / $wallS%.3f s, median clusters() wall of $TimedRuns warm runs (" +
          runs.map(r => f"${r._3}%.3f").mkString(", ") + " s)"),
        ("dup_pair_recall", recall, "ratio", f"$nQualified qualified pairs of every ${RecallSample}th cluster, outside the clock")),
      layers = layers)
  }

  /** The traced, phase-decomposed run: the same calls `clustersFromSigs`
    * makes, each inside a span; counts are taken between the spans and are
    * not part of any phase's wall. */
  private def tracedRun(tr: Listener, pages: DataFrame,
      cfg: DedupConfig, checks: Checks, rows: Long, recall: Double,
      qualified: DataFrame, untracedOut: DataFrame, untracedWallS: Double)
      : Map[String, Double] = {
    import graft.dedup.PerfbenchAccess.edgesRaw
    tr.attach()

    val sigs = tr.span("dedup.signatures") {
      val trimmed = DedupPipeline.signatures(pages, cfg)
        .withColumn("band_keys",
          graft.functions.nxs_band_keys(col("sig"), cfg.bands, cfg.rowsPerBand, cfg.seed))
        .drop("sig")
      Materialize(trimmed)
    }
    val bucketRows = DedupPipeline.bucketed(sigs, cfg).count()
    val cands = Materialize(DedupPipeline.minhashCandidates(sigs, cfg))
    val candidatePairs = cands.count()
    val verifiedPairs = DedupPipeline.verifyJaccard(cands, sigs, cfg).count()
    Materialize.release(cands)

    val raw = tr.span("dedup.candidates")(edgesRaw(sigs, cfg))
    val e = tr.span("dedup.verify")(Materialize(raw))
    val ccEdges = e.where(col("src") =!= col("dst")).count()
    val comps = tr.span("dedup.cc") {
      val c = ConnectedComponents.runAuto(e)
      Materialize.release(e)
      c
    }
    val out = tr.span("dedup.resolve") {
      val docs = Materialize(sigs.select("url", "doc_id", "warc_ts"))
      Materialize.release(sigs)
      Materialize(DedupPipeline.resolveClusters(docs, comps))
    }
    tr.drain()

    val tracedRows = out.count()
    val tracedRecall = recallOf(qualified, out)
    val multi = multiClusters(out)
    checks("traced run rows = untraced rows", tracedRows == rows, s"$tracedRows vs $rows")
    checks("traced run clusters = untraced clusters",
      multi == multiClusters(untracedOut), s"$multi vs ${multiClusters(untracedOut)}")
    checks("traced run recall = untraced recall", tracedRecall == recall,
      s"$tracedRecall vs $recall")

    // Only the CC cliff is on this path: batch `edgesRaw` aggregates
    // buckets distributed at any size and never calls pairsFromBucketsAuto.
    val ccDriver = ccEdges <= ConnectedComponents.SmallEdgeBound
    checks("CC cliff side: driver union-find (edges <= 2^18)", ccDriver,
      s"$ccEdges CC input edges")

    val phaseStats = LayerMetrics.Phases.map(p => p -> tr.stats(_ == s"dedup.$p"))
    val tracedWallS = phaseStats.map(_._2.wallS).sum
    val texts = pages.select("text").limit(2000).collect().map(_.getString(0)).toSeq
    phaseStats.flatMap { case (p, s) => LayerMetrics.phase(p, s) }.toMap ++
      LayerMetrics.kernels(texts) ++ Map(
        "dedup.bucket_rows" -> bucketRows.toDouble,
        "dedup.candidate_pairs" -> candidatePairs.toDouble,
        "dedup.verified_pairs" -> verifiedPairs.toDouble,
        "dedup.verify_accept_ratio" ->
          (if (candidatePairs > 0) verifiedPairs.toDouble / candidatePairs else 0.0),
        "dedup.cc_edges" -> ccEdges.toDouble,
        "dedup.multi_clusters" -> multi.toDouble,
        "cliff.cc_driver_side" -> (if (ccDriver) 1.0 else 0.0),
        "trace.untraced_wall_s" -> untracedWallS,
        "trace.traced_wall_s" -> tracedWallS,
        "trace.overhead_s" -> (tracedWallS - untracedWallS))
  }

  /** Clusters with more than one member. */
  private def multiClusters(out: DataFrame): Long =
    out.groupBy("cluster_id").count().where(col("count") > 1).count()

  /** Recall is measured on the planted clusters whose id is a multiple of
    * this, which keeps its cost at a few seconds per run. */
  val RecallSample = 4

  /** Planted pairs of the sampled clusters that meet the dup criterion,
    * as (url_a, url_b). */
  private def qualifiedPairs(spark: SparkSession, pages: DataFrame,
      ccfg: SyntheticCorpus.Config, cfg: DedupConfig): DataFrame = {
    import spark.implicits._
    val sampled = spark.range(0, ccfg.nClusters, RecallSample)
      .flatMap(c => (0 until SyntheticCorpus.sizeOf(ccfg, c))
        .map(m => SyntheticCorpus.urlOf(ccfg, c, m)))
      .toDF("url")
    val sigs = DedupPipeline.signatures(pages.join(sampled, Seq("url"), "left_semi"), cfg)
      .select(col("url"), col("shingles"), col("simhash"))
    def side(s: String) = sigs.select(col("url").as(s"url_$s"),
      col("shingles").as(s"sh_$s"), col("simhash").as(s"h_$s"))
    SyntheticCorpus.truth(spark, ccfg)
      .join(side("a"), "url_a").join(side("b"), "url_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .withColumn("uni", size(col("sh_a")) + size(col("sh_b")) - col("inter"))
      .where((col("uni") > 0 && col("inter") / col("uni") >= cfg.tau) ||
        bit_count(col("h_a").bitwiseXOR(col("h_b"))) <= cfg.simhashMaxHamming)
      .select("url_a", "url_b")
      .localCheckpoint(true)
  }

  /** Share of qualified pairs whose two pages share a cluster. */
  private def recallOf(qualified: DataFrame, clusters: DataFrame): Double = {
    val c = clusters.select("url", "cluster_id")
    val r = qualified
      .join(c.select(col("url").as("url_a"), col("cluster_id").as("ca")), "url_a")
      .join(c.select(col("url").as("url_b"), col("cluster_id").as("cb")), "url_b")
      .agg(count(lit(1)), sum((col("ca") === col("cb")).cast("long")))
      .collect()(0)
    val n = r.getLong(0)
    require(n > 0, "no qualified pairs to measure recall on")
    r.getLong(1).toDouble / n
  }
}
