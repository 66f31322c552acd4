package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The benchmark's window onto package-private dedup steps, so its traced
  * runs time and count the same calls the pipeline makes rather than a
  * copy of them. Benchmark code only; the program never calls this. */
object PerfbenchAccess {

  /** Verified edges before CC, as `clustersFromSigs` computes them. */
  def edgesRaw(sigs: DataFrame, cfg: DedupConfig): DataFrame =
    DedupPipeline.edgesRaw(sigs, cfg)

  /** The two sizes that decide which side of the 2^18 cliffs a committed
    * delta batch `id` of the store at `root` took, recomputed from its
    * committed stages: rows of the touched-bucket stream that
    * `pairsFromBucketsLocal` collects, and verified delta edges (the
    * edge part of the `runAuto` input; the rest is one star edge per
    * relabeled node). */
  def deltaCliffCounts(spark: SparkSession, store: IncrementalDedup,
      root: String, prior: Seq[String], id: String): (Long, Long) = {
    val sigsNew = spark.read.parquet(s"$root/sigs_$id/data")
    val bucketsNew = spark.read.parquet(s"$root/buckets_$id/data")
    val keys = bucketsNew.select("pass", "bucket_key", "bpt").distinct()
    val touchedPts = keys.select("bpt").distinct().collect().map(_.getInt(0)).toSeq
    val stream = store.prunedStoredBuckets(prior, touchedPts)
      .join(keys.select("pass", "bucket_key"), Seq("pass", "bucket_key"), "left_semi")
      .unionByName(bucketsNew.select("pass", "bucket_key", "doc_id"))
    val releasables = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val edges = store.deltaEdges(prior, sigsNew, bucketsNew, releasables)
      .select(col("src"), col("dst")).count()
    releasables.foreach(Materialize.release)
    (stream.count(), edges)
  }
}
