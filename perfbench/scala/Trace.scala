package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.CountDownLatch
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Raw Spark events of a traced run. The listener only
  * records; attribution to graft modules, interval unions and the per-layer
  * sums are computed from the dump by `perfbench/analyze.py`, so that logic
  * is unit-testable without a JVM.
  *
  * Per job it keeps the SQL execution and root execution ids (from the job
  * properties), the call site of its last stage (for jobs that have no SQL
  * execution), and task metrics summed over the job plus every task's
  * duration (for the skew ratio), for all its tasks and for those that ran
  * the extractor. Per SQL execution it keeps the root id,
  * the call-site stack (`details`) and which graft.functions expressions
  * its physical plan evaluates. */
final class Trace extends SparkListener {
  final class Agg {
    var tasks = 0L
    var taskMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    var ioBytes = 0L
    val durations = mutable.ArrayBuffer.empty[Long]
    def add(m: org.apache.spark.executor.TaskMetrics, duration: Long): Unit = {
      tasks += 1
      taskMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      ioBytes += m.inputMetrics.bytesRead + m.outputMetrics.bytesWritten
      durations += duration
    }
    def fields: Map[String, Any] = Map("tasks" -> tasks, "task_ms" -> taskMs,
      "cpu_ns" -> cpuNs, "gc_ms" -> gcMs, "shuffle_bytes" -> shuffleBytes,
      "spill_bytes" -> spillBytes, "io_bytes" -> ioBytes, "durations" -> durations.toSeq)
  }
  final class Job(val id: Int, val start: Long, val execId: Long, val rootId: Long,
                  val stageSite: String) {
    @volatile var end: Long = -1L
    val all = new Agg
    /** Tasks that ran the extractor (they update its `pagesIn` accumulator):
      * scan, extract, encode and cache build are one fused stage, so the
      * extract layer is measured at task grain, inside the launching job. */
    val extract = new Agg
    val extractSpans = mutable.ArrayBuffer.empty[Seq[Long]]
  }
  final case class Exec(id: Long, rootId: Long, details: String, functions: Seq[String])

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val execs = new ConcurrentHashMap[Long, Exec]()
  @volatile private var drainTag: String = null
  @volatile private var drained: CountDownLatch = null

  private def prop(p: java.util.Properties, k: String): Long =
    Option(p).flatMap(x => Option(x.getProperty(k))).map(_.toLong).getOrElse(-1L)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val execId = prop(e.properties, "spark.sql.execution.id")
    val root = prop(e.properties, "spark.sql.execution.root.id")
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
    jobs.put(e.jobId, new Job(e.jobId, e.time, execId, if (root >= 0) root else execId, site))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    val tag = Option(e.properties).map(_.getProperty("spark.job.description")).orNull
    if (tag != null && tag == drainTag) drained.countDown()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val j = Option(stageJob.get(e.stageId)).flatMap(id => Option(jobs.get(id)))
    val m = e.taskMetrics
    if (j.isDefined && m != null) j.get.synchronized {
      val job = j.get
      val info = e.taskInfo
      job.all.add(m, info.duration)
      if (info.accumulables.exists(_.name.contains(Trace.ExtractAccumulator))) {
        job.extract.add(m, info.duration)
        job.extractSpans += Seq(info.launchTime, info.finishTime)
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      val fns = Trace.FunctionTokens.filter(s.physicalPlanDescription.contains)
      execs.put(s.executionId,
        Exec(s.executionId, s.rootExecutionId.getOrElse(s.executionId), s.details, fns))
    case _ => ()
  }

  /** Blocks until every event posted before this call has been delivered:
    * the listener bus is FIFO, so once a marker job's start arrives, so have
    * the ends of all earlier jobs and tasks. */
  def drain(spark: org.apache.spark.sql.SparkSession): Unit = {
    val tag = s"perfbench-drain-${System.nanoTime()}"
    drained = new CountDownLatch(1)
    drainTag = tag
    val sc = spark.sparkContext
    sc.setJobDescription(tag)
    try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    if (!drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
      throw new IllegalStateException("listener bus did not drain within 60 s")
  }

  def dump(out: JsonLines): Unit = {
    val tag = drainTag
    jobs.values.asScala.toSeq.sortBy(_.id).foreach { j =>
      j.synchronized {
        out.obj("job",
          "id" -> j.id, "start" -> j.start, "end" -> j.end, "exec" -> j.execId,
          "root" -> j.rootId, "site" -> j.stageSite, "all" -> j.all.fields,
          "extract" -> j.extract.fields, "extract_spans" -> j.extractSpans.toSeq)
      }
    }
    execs.values.asScala.toSeq.sortBy(_.id).foreach { x =>
      out.obj("exec", "id" -> x.id, "root" -> x.rootId, "details" -> x.details,
        "functions" -> x.functions)
    }
    if (tag != null) out.obj("drain", "tag" -> tag)
  }
}

object Trace {
  /** Name of the accumulator [[graft.extract.ExtractMetrics]] bumps once
    * per page the extractor reads. */
  val ExtractAccumulator = "pagesIn"

  /** Names under which graft.functions expressions and aggregators print in
    * a physical plan. A job whose plan evaluates one of them is also counted
    * in the `functions` layer (an overlay: its time stays with the module
    * that launched it). */
  val FunctionTokens: Seq[String] =
    Seq("vec_dot", "vec_norm", "vec_cosine", "vec_agree", "dict_decode", "MinK", "TopK")
}
