package graft.perfbench

import graft.corpus.SyntheticCorpus
import graft.search._
import graft.text.TextPipeline
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.Path
import scala.collection.mutable

/**
 * `search`: set-up takes the first 5,000 pages of the seeded
 * SyntheticCorpus — the page generator `dedup_batch` uses — as a document
 * table. The run times one fresh `IndexStore.buildOrOpen` into a new root,
 * then one closed-loop client issues seeded queries (single term, AND, OR,
 * AND NOT, fuzzy) against that committed index through
 * `Searcher.search(...).count()`, each hit count checked against a
 * driver-side brute-force evaluation over `TextPipeline.tokens`. This read
 * path never enters the dedup layer.
 */
object SearchWorkload {
  val Docs = 5000
  /** 40 queries: p80 is the highest percentile with at least eight
    * samples beyond it. p90 would need 100 queries, about 30 s more per
    * run at ~0.5 s a warm query on 4 cores, which the benchmark's run
    * budget cannot carry. */
  val MinQueries = 40
  /** Untimed queries between the index build and the timed ones. Query
    * latency falls by about half over the first ~8 queries of a JVM as
    * the planner's code warms up; a search service answers from a warm
    * JVM, so the timed queries start after these. */
  val WarmupQueries = 10
  /** Documents of the untimed index build that warms the JIT before the
    * timed one. A cold build's wall swung with how far the JIT got. */
  val WarmupDocs = 500
  /** Queries of the traced pass: enough for per-query medians. */
  val TracedQueries = 20
  /** Searcher.search's default result cap. */
  val Limit = 1000

  /** Set-ups per run; `setup_s` is their median. */
  val SetupReps = 3

  /** The documents (doc_id, text): the first `Docs` pages, in cluster
    * order, of the seeded SyntheticCorpus — row for row what
    * `SyntheticCorpus.pages` yields (`pageOf`), 60..400 tokens a page at
    * the default kind mix, duplicate clusters included. Every cluster has
    * at least one page, so `Docs` clusters always suffice. */
  def docs(seed: Long): Seq[(Long, String)] = {
    val cfg = SyntheticCorpus.Config(nClusters = Docs, seed = seed)
    (0L until Docs).iterator
      .flatMap(c => (0 until SyntheticCorpus.sizeOf(cfg, c))
        .map(m => SyntheticCorpus.pageOf(cfg, c, m).text))
      .take(Docs).zipWithIndex.map { case (t, i) => i.toLong -> t }.toSeq
  }

  /** Query semantics evaluated on the driver from the token streams:
    * leaves resolve through the index's filter pipeline, with the fuzzy
    * fallback to the most frequent term within Levenshtein distance 2. */
  final class BruteForce(texts: Seq[(Long, String)]) {
    private val cfg = TextPipeline.default
    /** term -> ids of the documents holding it (ids are 0 until Docs). */
    private val postings = mutable.HashMap.empty[String, mutable.BitSet]
    /** term -> occurrences over all documents. */
    private val totals = mutable.HashMap.empty[String, Long]
    // Tokenized on all cores, as most of set-up's time goes here;
    // TextPipeline.tokens is thread-safe (Spark tasks call it).
    private val tokenized = java.util.Arrays.stream(texts.map(_._2).toArray)
      .parallel().map[Array[String]](TextPipeline.tokens(_, cfg))
      .toArray[Array[String]](new Array[Array[String]](_))
    texts.iterator.map(_._1).zip(tokenized.iterator).foreach { case (id, ts) =>
      ts.foreach { tok =>
        postings.getOrElseUpdate(tok, mutable.BitSet.empty) += id.toInt
        totals(tok) = totals.getOrElse(tok, 0L) + 1
      }
    }

    def terms: IndexedSeq[String] = postings.keys.toIndexedSeq.sorted
    def termsOf(text: String): IndexedSeq[String] =
      TextPipeline.tokens(text, cfg).distinct.toIndexedSeq

    private def cps(s: String) = s.codePoints().toArray

    private def within2(a: Array[Int], b: Array[Int]): Boolean =
      math.abs(a.length - b.length) <= 2 && {
        var prev = Array.tabulate(b.length + 1)(identity)
        for (i <- 1 to a.length) {
          val cur = new Array[Int](b.length + 1)
          cur(0) = i
          for (j <- 1 to b.length)
            cur(j) = math.min(math.min(cur(j - 1), prev(j)) + 1,
              prev(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
          prev = cur
        }
        prev(b.length) <= 2
      }

    private def resolve(leaf: String): Option[String] =
      TextPipeline.filterToken(leaf, cfg).flatMap { tok =>
        if (postings.contains(tok)) Some(tok)
        else {
          val q = cps(tok)
          if (q.length > Searcher.FuzzyMaxLen) None
          else postings.keys
            .filter(t => cps(t).length <= Searcher.FuzzyMaxLen && within2(cps(t), q))
            .toSeq.sortBy(t => (-totals(t), t)).headOption
        }
      }

    /** Hit count of `query` as `Searcher.search(...).count()` defines it. */
    def count(query: String): Long = {
      val root = QueryParser.parse(query).fold(e => sys.error(e), identity)
      val resolved = QueryParser.leaves(root).distinct.flatMap(l => resolve(l).map(l -> _)).toMap
      def eval(e: QExpr): mutable.BitSet = e match {
        case QToken(v) => resolved.get(v).map(postings).getOrElse(mutable.BitSet.empty)
        case QAnd(l, r) => eval(l) & eval(r)
        case QOr(l, r) => eval(l) | eval(r)
        case QAndNot(l, r) => eval(l) &~ eval(r)
      }
      val scored = resolved.values.foldLeft(mutable.BitSet.empty)(_ | postings(_))
      math.min((eval(root) & scored).size, Limit).toLong
    }
  }

  /** Seeded query mix, per ten queries: four single terms, two AND, two
    * OR, one AND NOT and one fuzzy (a term with one letter replaced).
    * There is no query log for this corpus to match. Single terms are the
    * most common form of a search query, and about one web query in ten
    * is misspelled (Cucerzan and Brill, EMNLP 2004); the boolean shares
    * are this benchmark's choice, so that each operator is exercised.
    * Terms come from the documents' term set, so conjunctions hit. */
  def queries(bf: BruteForce, texts: Seq[(Long, String)], seed: Long,
      n: Int): Seq[String] = {
    val rnd = new java.util.Random(seed)
    val all = bf.terms
    def any = all(rnd.nextInt(all.size))
    def fromDoc: IndexedSeq[String] = {
      var ts = IndexedSeq.empty[String]
      while (ts.size < 2) ts = bf.termsOf(texts(rnd.nextInt(texts.size))._2)
      ts
    }
    def two: (String, String) = {
      val ts = fromDoc
      val i = rnd.nextInt(ts.size)
      (ts(i), ts((i + 1 + rnd.nextInt(ts.size - 1)) % ts.size))
    }
    (0 until n).map { i =>
      i % 10 match {
        case 0 | 3 | 5 | 8 => any
        case 1 | 6 => val (a, b) = two; s"$a AND $b"
        case 2 | 7 => s"$any OR $any"
        case 4 => val (a, _) = two; s"$a AND NOT $any"
        case _ =>
          val t = all.filter(_.length >= 4)(rnd.nextInt(all.count(_.length >= 4)))
          val p = rnd.nextInt(t.length)
          t.substring(0, p) + ('a' + rnd.nextInt(26)).toChar + t.substring(p + 1)
      }
    }
  }

  private final case class Pass(buildS: Double, planMs: Seq[Double],
      execMs: Seq[Double]) {
    def queryMs: Seq[Double] = planMs.zip(execMs).map { case (a, b) => a + b }
  }

  private def pass(spark: SparkSession, docsDf: DataFrame, root: String,
      warmup: Seq[String], qs: Seq[String], bf: BruteForce, minQueries: Int,
      seconds: Double, trace: Trace, checks: Checks, tag: String): Pass = {
    val (built, buildS) = Stats.time(trace.span("index.build") {
      IndexStore.buildOrOpen(docsDf, TextPipeline.default, spark, root)
    })
    checks(s"$tag: index doc count", built.docCount == Docs,
      s"${built.docCount} docs indexed of $Docs")
    val idx = IndexStore.buildOrOpen(
      sys.error("committed index must not rebuild"), TextPipeline.default,
      spark, root)
    /** Plan and exec seconds of one checked query. */
    def query(q: String, span: String): (Double, Double) = {
      val (res, p) = Stats.time(trace.span(s"$span.plan")(Searcher.search(idx, q)))
      val (n, e) = Stats.time(trace.span(s"$span.exec")(
        res.fold(err => sys.error(s"query '$q' rejected: $err"), _.count())))
      val want = bf.count(q)
      checks(s"$tag: hits of '$q'", n == want, s"$n hits, brute force $want")
      (p, e)
    }
    warmup.zipWithIndex.foreach { case (q, i) => query(q, s"search.warmup.$i") }
    val plan = mutable.ArrayBuffer.empty[Double]
    val exec = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    var i = 0
    while (i < minQueries || (System.nanoTime() - t0) / 1e9 < seconds) {
      val (p, e) = query(qs(i % qs.size), s"search.q.$i")
      plan += p * 1e3
      exec += e * 1e3
      i += 1
    }
    Pass(buildS, plan.toSeq, exec.toSeq)
  }

  def run(spark: SparkSession, seed: Long, seconds: Double, trace: Trace,
      scratch: Path): Outcome = {
    val checks = new Checks
    import spark.implicits._
    // Set-up, SetupReps times over: generate the documents, write them as
    // the document table, build the brute-force postings and the queries.
    val setups = (0 until SetupReps).map { r =>
      Stats.time {
        val texts = docs(seed)
        val path = scratch.resolve(s"documents-$r").toString
        texts.toDF("doc_id", "text").write.parquet(path)
        val bf = new BruteForce(texts)
        (texts, path, bf, queries(bf, texts, seed, WarmupQueries + MinQueries))
      }
    }
    val setupS = Stats.median(setups.map(_._2))
    val (texts, docsPath, bf, allQs) = setups.head._1
    val (warmup, qs) = allQs.splitAt(WarmupQueries)
    val docsDf = spark.read.parquet(docsPath)

    IndexStore.buildOrOpen(docsDf.limit(WarmupDocs), TextPipeline.default, spark,
      scratch.resolve("index-warmup").toString)
    val p = pass(spark, docsDf, scratch.resolve("index-run").toString,
      warmup, qs, bf, MinQueries, seconds, NoTrace, checks, "untraced")
    val layers = trace match {
      case tr: Listener =>
        tr.attach()
        val t = pass(spark, docsDf, scratch.resolve("index-traced").toString,
          Nil, qs, bf, TracedQueries, 0.0, tr, checks, "traced")
        tr.drain()
        val n = t.planMs.size
        def isCommit(l: String) = l.startsWith("stage:") && l.endsWith(":write")
        val build = tr.stats(_ == "index.build")
        val commit = tr.stats(_ == "index.build", isCommit)
        val perQuery = (0 until n).map(i => tr.stats(_.startsWith(s"search.q.$i.")))
        // Queries only, against the last untraced ones: the builds pay JIT
        // warm-up, and the traced pass runs warmer than the untraced one.
        val untracedWallS = p.queryMs.takeRight(n).sum / 1e3
        val tracedWallS = t.queryMs.sum / 1e3
        LayerMetrics.kernels(texts.map(_._2)) ++ Map(
          "search.plan_ms" -> Stats.median(t.planMs),
          "search.exec_ms" -> Stats.median(t.execMs),
          "search.jobs_per_query" -> perQuery.map(_.jobs).sum.toDouble / n,
          "search.driver_gap_ms" -> Stats.median(perQuery.map(_.gapS * 1e3)),
          "index.jobs" -> build.jobs.toDouble,
          "index.commit_s" -> commit.busyS,
          "tables.commit_s" -> commit.busyS,
          "tables.commit_jobs" -> commit.jobs.toDouble,
          "trace.untraced_wall_s" -> untracedWallS,
          "trace.traced_wall_s" -> tracedWallS,
          "trace.overhead_s" -> (tracedWallS - untracedWallS))
      case _ => Map.empty[String, Double]
    }

    val q = p.queryMs
    Outcome(checks.attempted, checks.failures,
      e2e = Seq(
        ("setup_s", setupS, "s"),
        ("docs_per_s", Docs / p.buildS, "docs/s"),
        ("op_p50_ms", Stats.median(q), "ms"),
        ("op_p80_ms", Stats.quantile(q, 0.8), "ms")),
      report = Seq(
        ("setup_s", setupS, "s", s"median of $SetupReps set-ups: document generation, write and brute-force postings, $Docs docs"),
        ("index_build_s", p.buildS, "s", s"one fresh IndexStore.buildOrOpen over $Docs docs, after an untimed one over $WarmupDocs"),
        ("query_p50_ms", Stats.median(q), "ms", s"${q.size} queries after $WarmupQueries untimed, one closed-loop client"),
        ("query_p80_ms", Stats.quantile(q, 0.8), "ms", s"${q.size} queries after $WarmupQueries untimed, one closed-loop client")),
      layers = layers)
  }
}
