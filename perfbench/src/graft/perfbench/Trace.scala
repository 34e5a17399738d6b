package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import graft.ingest.Embedder

/** In-memory event buffers of a traced run. Listener callbacks arrive on
  * Spark's listener-bus thread and embedder calls on task threads, so every
  * buffer is a concurrent queue; nothing is written out until the run ends.
  * Times are epoch milliseconds.
  */
object Trace {
  private val baseNanos = System.nanoTime()
  private val baseMillis = System.currentTimeMillis().toDouble

  /** Epoch milliseconds with sub-millisecond resolution. */
  def nowMs(): Double = baseMillis + (System.nanoTime() - baseNanos) / 1e6

  @volatile var enabled = false

  val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  val stages = new ConcurrentLinkedQueue[Map[String, Any]]()
  val sql = new ConcurrentLinkedQueue[Map[String, Any]]()
  val embeds = new ConcurrentLinkedQueue[Map[String, Any]]()

  def dump(): Map[String, Any] = Map(
    "jobs" -> jobs.asScala.toSeq, "stages" -> stages.asScala.toSeq,
    "sql" -> sql.asScala.toSeq, "embeds" -> embeds.asScala.toSeq)

  /** The innermost `graft.*` frame of a Spark call site, skipping the
    * benchmark's own frames; "" when the call site has none.
    */
  def innermostGraftFrame(details: String): String =
    Option(details).getOrElse("").linesIterator.map(_.trim)
      .find(l => l.startsWith("graft.") && !l.startsWith("graft.perfbench."))
      .getOrElse("")
}

/** Job, stage and task events: job intervals and groups, per-stage task
  * metrics and call sites, and per-stage scheduler delay summed over tasks.
  */
final class JobListener extends SparkListener {
  private val schedDelay = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Map[String, Any]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val last = e.stageInfos.sortBy(_.stageId).lastOption
    jobStarts.put(e.jobId, Map("job" -> e.jobId, "group" -> group, "start" -> e.time,
      "stages" -> e.stageIds,
      "frame" -> Trace.innermostGraftFrame(last.map(_.details).getOrElse(""))))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val start = Option(jobStarts.remove(e.jobId)).getOrElse(Map("job" -> e.jobId, "group" -> ""))
    Trace.jobs.add(start ++ Map("end" -> e.time,
      "ok" -> (e.jobResult == JobSucceeded)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null && e.taskInfo != null) {
      val i = e.taskInfo
      val delay = math.max(0L, (i.finishTime - i.launchTime) - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        (if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L))
      schedDelay.merge(e.stageId, delay, (a: java.lang.Long, b: java.lang.Long) => a + b)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    val m = s.taskMetrics
    val metrics: Map[String, Any] = if (m == null) Map.empty else Map(
      "run_ms" -> m.executorRunTime,
      "cpu_ms" -> m.executorCpuTime / 1e6,
      "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead,
      "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
      "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
      "input_bytes" -> m.inputMetrics.bytesRead)
    Trace.stages.add(Map("stage" -> s.stageId, "tasks" -> s.numTasks,
      "submitted" -> s.submissionTime.getOrElse(0L),
      "completed" -> s.completionTime.getOrElse(0L),
      "sched_delay_ms" -> Option(schedDelay.remove(s.stageId)).map(_.longValue).getOrElse(0L),
      "frame" -> Trace.innermostGraftFrame(s.details)) ++ metrics)
  }
}

/** Catalyst phase intervals of every Dataset action. */
final class PhaseListener extends QueryExecutionListener {
  private def record(qe: QueryExecution, ok: Boolean): Unit =
    Trace.sql.add(Map("ok" -> ok,
      "phases" -> qe.tracker.phases.map { case (k, p) =>
        k -> Map("start" -> p.startTimeMs, "end" -> p.endTimeMs) }))
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe, ok = true)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe, ok = false)
}

/** Wraps the model handed to `Api`: counts and (when tracing) times every
  * batch call. Tasks run in this JVM under `local[n]`, so the
  * deserialized task-side copy writes into the same [[Trace]] buffers.
  */
final class CountingEmbedder(inner: Embedder) extends Embedder {
  def dimension: Int = inner.dimension
  def embedBatch(texts: Seq[String]): Seq[Array[Float]] = {
    val t0 = Trace.nowMs()
    val out = inner.embedBatch(texts)
    if (Trace.enabled)
      Trace.embeds.add(Map("start" -> t0, "end" -> Trace.nowMs(), "texts" -> texts.size))
    out
  }
}

/** Bag-of-words embedder: each token maps to a fixed pseudo-random
  * direction and a text to the normalized sum of its tokens' directions,
  * so texts sharing terms are close and IVF clusters follow topics. A
  * model whose geometry carries no meaning would make recall a coin toss.
  */
final class BowEmbedder(val dimension: Int) extends Embedder {
  def embedBatch(texts: Seq[String]): Seq[Array[Float]] = texts.map { t =>
    val acc = new Array[Double](dimension)
    val toks = t.toLowerCase.split("[^\\p{L}\\p{N}]+").filter(_.nonEmpty)
    toks.foreach { tok =>
      val r = new java.util.SplittableRandom(
        scala.util.hashing.MurmurHash3.stringHash(tok).toLong * 0x9E3779B97F4A7C15L)
      var i = 0
      while (i < dimension) { acc(i) += r.nextDouble() * 2.0 - 1.0; i += 1 }
    }
    if (toks.isEmpty) acc(0) = 1.0
    val norm = math.sqrt(acc.map(x => x * x).sum)
    acc.map(x => (x / norm).toFloat)
  }
}
