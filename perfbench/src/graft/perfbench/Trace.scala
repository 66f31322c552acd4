package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

/** Span recorder for the benchmark. The untraced form only runs the body;
  * the traced form (`Listener`) also attributes every Spark job to the span
  * that was open when it was submitted. */
sealed trait Trace {
  def span[T](name: String)(f: => T): T
}

object NoTrace extends Trace {
  def span[T](name: String)(f: => T): T = f
}

/** One Spark job as the listener saw it. Times are epoch ms (the listener
  * bus clock); task metrics are summed over the job's completed stages. */
final class JobRec(val id: Int, val span: String, val label: String,
    val submitMs: Long) {
  @volatile var endMs: Long = -1L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var tasks = 0
}

/** Aggregate of the jobs of one or more spans. `busyS` is the union of the
  * jobs' submit→end intervals, so `gapS` = wall − busy is the time the
  * driver spent with no job running (planning, collects, file commits). */
final case class SpanStats(wallS: Double, jobs: Int, busyS: Double,
    cpuS: Double, gcS: Double, shuffleWriteMb: Double,
    shuffleReadMb: Double, spillMb: Double) {
  def gapS: Double = math.max(0.0, wallS - busyS)
}

/** The traced form: a SparkListener attached to the benchmark's own
  * session. Spans are named by the benchmark around each call into a
  * layer; jobs carry the open span as a local property, so attribution
  * survives the listener bus's asynchrony. The program's own job labels
  * (`spark.job.description`, set by `graft.tables.JobLabel`) are kept per
  * job for label-level breakdowns. */
final class Listener(sc: SparkContext) extends SparkListener with Trace {
  import Listener._

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val spans = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]

  /** Start listening; jobs submitted before this are not recorded, so the
    * untraced repetition of a traced run runs without the listener. */
  def attach(): Unit = sc.addSparkListener(this)

  def span[T](name: String)(f: => T): T = {
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, name)
    val t0 = System.currentTimeMillis()
    try f
    finally {
      spans.synchronized { spans += ((name, t0, System.currentTimeMillis())) }
      sc.setLocalProperty(SpanKey, prev)
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = e.properties
    def prop(k: String) = Option(p).flatMap(x => Option(x.getProperty(k))).getOrElse("")
    jobs.put(e.jobId, new JobRec(e.jobId, prop(SpanKey), prop(DescKey), e.time))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val m = info.taskMetrics
    Option(stageJob.get(info.stageId)).flatMap(j => Option(jobs.get(j)))
      .foreach { j =>
        if (m != null) j.synchronized {
          j.cpuNs += m.executorCpuTime
          j.gcMs += m.jvmGCTime
          j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          j.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          j.spillBytes += m.diskBytesSpilled
          j.tasks += info.numTasks
        }
      }
  }

  /** Wait until the listener bus has delivered every job end (the bus is
    * asynchronous; stage completions precede their job's end). */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    while (jobs.values.asScala.exists(_.endMs < 0) &&
        System.currentTimeMillis() < deadline) Thread.sleep(20)
    Thread.sleep(100) // stage-completed events trail job ends by one post
  }

  def jobsOf(spanPred: String => Boolean): Seq[JobRec] =
    jobs.values.asScala.filter(j => spanPred(j.span)).toSeq.sortBy(_.id)

  def spansOf(pred: String => Boolean): Seq[(String, Long, Long)] =
    spans.synchronized(spans.filter(s => pred(s._1)).toSeq)

  /** Stats over the spans matching `pred` and the jobs submitted in them,
    * optionally narrowed to jobs whose program label matches `labelPred`. */
  def stats(pred: String => Boolean,
      labelPred: String => Boolean = _ => true): SpanStats = {
    val ss = spansOf(pred)
    val js = jobsOf(pred).filter(j => labelPred(j.label))
    SpanStats(
      wallS = ss.map(s => s._3 - s._2).sum / 1e3,
      jobs = js.size,
      busyS = unionMs(js) / 1e3,
      cpuS = js.map(_.cpuNs).sum / 1e9,
      gcS = js.map(_.gcMs).sum / 1e3,
      shuffleWriteMb = js.map(_.shuffleWriteBytes).sum / MB,
      shuffleReadMb = js.map(_.shuffleReadBytes).sum / MB,
      spillMb = js.map(_.spillBytes).sum / MB)
  }

  /** One JSON object per job, for reading a run after the fact. */
  def jobLines: Seq[String] = jobsOf(_ => true).map { j =>
    s"""{"job":${j.id},"span":${Json.str(j.span)},"label":${Json.str(j.label)},""" +
      s""""submit_ms":${j.submitMs},"end_ms":${j.endMs},"tasks":${j.tasks},""" +
      s""""cpu_s":${j.cpuNs / 1e9},"gc_s":${j.gcMs / 1e3},""" +
      s""""shuffle_write_mb":${j.shuffleWriteBytes / MB},""" +
      s""""shuffle_read_mb":${j.shuffleReadBytes / MB},"spill_mb":${j.spillBytes / MB}}"""
  }
}

object Listener {
  val SpanKey = "perfbench.span"
  val DescKey = "spark.job.description"
  private val MB = 1024.0 * 1024.0

  /** Total length of the union of the jobs' [submit, end] intervals. */
  def unionMs(js: Seq[JobRec]): Long = {
    val iv = js.filter(_.endMs >= 0).map(j => (j.submitMs, j.endMs)).sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
