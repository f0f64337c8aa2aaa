package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.{FileSourceScanExec, RowDataSourceScanExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's collector: a SparkListener (jobs, stages, task
  * metrics), a StreamingQueryListener (epoch progress) and a
  * QueryExecutionListener (planning phases, source-scan row counts).
  *
  * Attribution follows the thread-local job-property idea of the
  * project's profiling tool (a description marker per query), but with a
  * dedicated property, [[Key]]: [[span]] sets it on the calling thread,
  * every job submitted under it (including from threads started inside
  * it, which inherit Spark's local properties) carries it, and the
  * listener files the job's stages under that span. Events are kept in
  * memory; [[report]] drains the listener bus first, so no late event
  * is missed, and derives each span's totals.
  */
final class Collector(spark: SparkSession) {
  import Collector._

  private final class Agg {
    var jobs = 0; var stages = 0; var tasks = 0L
    var taskMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shRead = 0L; var shWrite = 0L; var spill = 0L
    var inRecs = 0L; var inBytes = 0L; var outRecs = 0L; var outBytes = 0L
    val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  private val aggs = new ConcurrentHashMap[String, Agg]()
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, (String, Long)]()
  private val execSpan = new ConcurrentHashMap[Long, String]()
  private val walls = new ConcurrentHashMap[String, List[Long]]()
  /** (execution id, planning ms, scan-row metrics by accumulator id). */
  private val execs = new ConcurrentLinkedQueue[(Long, Double, Map[Long, Long])]()
  /** The last QueryExecutionListener result, waiting for the execution
    * end event that names its execution id. Both listeners sit on the
    * shared listener queue, whose single dispatch thread delivers an
    * execution's end to the session's execution-listener bus (registered
    * first, at session start) before this collector's listener. */
  @volatile private var pendingExec: Option[(Double, Map[Long, Long])] = None
  private val fsRead = new ConcurrentHashMap[String, List[Long]]()
  private val jvmGc = new ConcurrentHashMap[String, List[Long]]()
  val streams = new StreamProgress

  private def agg(span: String): Agg = aggs.computeIfAbsent(span, _ => new Agg)

  private val jobListener = new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      val props = Option(j.properties)
      props.flatMap(p => Option(p.getProperty(Key))).foreach { s =>
        jobStart.put(j.jobId, (s, j.time))
        j.stageIds.foreach(stageSpan.put(_, s))
        props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .foreach(e => execSpan.put(e.toLong, s))
        val a = agg(s); a.synchronized(a.jobs += 1)
      }
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      Option(jobStart.get(j.jobId)).foreach { case (s, t0) =>
        val a = agg(s); a.synchronized(a.jobSpans += ((t0, j.time)))
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd =>
        pendingExec.foreach { case (plan, rows) =>
          execs.add((end.executionId, plan, rows)) }
        pendingExec = None
      case _ => ()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      Option(stageSpan.get(si.stageId)).foreach { s =>
        val tm = si.taskMetrics
        val a = agg(s)
        a.synchronized {
          a.stages += 1; a.tasks += si.numTasks
          if (tm != null) {
            a.taskMs += tm.executorRunTime; a.cpuNs += tm.executorCpuTime
            a.gcMs += tm.jvmGCTime
            a.shRead += tm.shuffleReadMetrics.totalBytesRead
            a.shWrite += tm.shuffleWriteMetrics.bytesWritten
            a.spill += tm.memoryBytesSpilled + tm.diskBytesSpilled
            a.inRecs += tm.inputMetrics.recordsRead
            a.inBytes += tm.inputMetrics.bytesRead
            a.outRecs += tm.outputMetrics.recordsWritten
            a.outBytes += tm.outputMetrics.bytesWritten
          }
        }
      }
    }
  }

  private val execListener = new QueryExecutionListener {
    def onSuccess(f: String, qe: QueryExecution, durationNs: Long): Unit = {
      val plan = qe.tracker.phases.filter(p => p._1 != "parsing")
        .values.map(_.durationMs).sum.toDouble
      pendingExec = Some((plan, scanRows(qe.executedPlan)))
    }
    def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def attach(): this.type = {
    spark.sparkContext.addSparkListener(jobListener)
    spark.streams.addListener(streams)
    spark.listenerManager.register(execListener)
    this
  }

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(jobListener)
    spark.streams.removeListener(streams)
    spark.listenerManager.unregister(execListener)
  }

  def drain(): Unit = BenchBus.drain(spark.sparkContext)

  /** Run `body` as span `name`: its jobs carry the span property, its
    * wall time is recorded (a span may run several times; all walls are
    * kept). */
  def span[A](name: String)(body: => A): A = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, name)
    val b0 = fsBytesRead()
    val g0 = gcMs()
    val t0 = System.nanoTime()
    try body
    finally {
      val dt = System.nanoTime() - t0
      val read = fsBytesRead() - b0
      val gc = gcMs() - g0
      jvmGc.compute(name, (_, l) => gc :: Option(l).getOrElse(Nil))
      walls.compute(name, (_, l) => dt :: Option(l).getOrElse(Nil))
      fsRead.compute(name, (_, l) => read :: Option(l).getOrElse(Nil))
      sc.setLocalProperty(Key, prev)
    }
  }

  def wallsS(name: String): Seq[Double] =
    Option(walls.get(name)).getOrElse(Nil).reverse.map(Stats.s)

  /** Totals of one span (after a bus drain). `cores` turns task time into
    * core utilisation over the span's summed wall. */
  def report(name: String, cores: Int): Map[String, Double] = {
    drain()
    val a = Option(aggs.get(name)).getOrElse(new Agg)
    val wall = wallsS(name).sum
    val union = unionMs(a.jobSpans.toSeq) / 1e3
    val ex = execs.asScala.toSeq.filter(e => execSpan.get(e._1) == name)
    // a scan's row metric is one accumulator however many plans show it
    // (a persisted scan appears in every sink's plan): count each once
    val scanned = ex.flatMap(_._3).toMap.values.sum
    Map(
      "wall_s" -> wall,
      "jobs" -> a.jobs.toDouble, "stages" -> a.stages.toDouble,
      "tasks" -> a.tasks.toDouble, "task_s" -> a.taskMs / 1e3,
      "cpu_s" -> a.cpuNs / 1e9, "task_gc_s" -> a.gcMs / 1e3,
      "gc_s" -> Option(jvmGc.get(name)).getOrElse(Nil).sum / 1e3,
      "shuffle_read_bytes" -> a.shRead.toDouble,
      "shuffle_write_bytes" -> a.shWrite.toDouble,
      "spill_bytes" -> a.spill.toDouble,
      "input_records" -> a.inRecs.toDouble, "input_bytes" -> a.inBytes.toDouble,
      "output_records" -> a.outRecs.toDouble,
      "output_bytes" -> a.outBytes.toDouble,
      "job_union_s" -> union,
      "driver_s" -> math.max(0.0, wall - union),
      "plan_ms" -> ex.map(_._2).sum,
      "actions" -> ex.size.toDouble,
      "scan_rows" -> scanned.toDouble,
      "fs_bytes_read" -> Option(fsRead.get(name)).getOrElse(Nil).sum.toDouble,
      "core_util" -> (if (wall > 0) a.taskMs / 1e3 / (wall * cores) else 0.0))
  }
}

object Collector {
  val Key = "perfbench.span"

  /** Collection time of the JVM so far (driver and, in local mode, the
    * executors), in ms. */
  def gcMs(): Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Bytes read through the local filesystem so far, process-wide (all
    * Spark file reads in local mode go through it). Meaningful per span
    * only while no other span runs. */
  def fsBytesRead(): Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesRead).sum

  /** Total length of the union of [start, end] intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Rows produced by every source scan of a plan, keyed by the scan's
    * row-metric accumulator id. Cached relations are walked into, so a
    * persisted scan counts once however many plans read it. */
  def scanRows(plan: SparkPlan): Map[Long, Long] = {
    val out = mutable.Map.empty[Long, Long]
    def walk(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case m: InMemoryTableScanExec => walk(m.relation.cachedPlan)
        case s @ (_: BatchScanExec | _: FileSourceScanExec |
            _: RowDataSourceScanExec) =>
          s.metrics.get("numOutputRows").foreach(m => out(m.id) = m.value)
        case _ => ()
      }
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
    }
    walk(plan)
    out.toMap
  }
}

/** Epoch progress of streaming queries, kept in memory. */
final class StreamProgress extends StreamingQueryListener {
  private val q = new ConcurrentLinkedQueue[QueryProgressEvent]()
  def onQueryStarted(e: QueryStartedEvent): Unit = ()
  def onQueryProgress(e: QueryProgressEvent): Unit = q.add(e)
  def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()

  /** The epochs of one query run, in order. */
  def epochs(runId: java.util.UUID): Seq[StreamProgress.Epoch] =
    q.asScala.toSeq.map(_.progress).filter(_.runId == runId).map { p =>
      val d = p.durationMs
      def ms(k: String) = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      val trig = ms("triggerExecution")
      StreamProgress.Epoch(p.batchId, p.numInputRows,
        java.time.Instant.parse(p.timestamp).toEpochMilli + trig, trig,
        ms("addBatch"))
    }.sortBy(_.batch)
}

object StreamProgress {
  /** One epoch: input rows, commit time (trigger start + its execution
    * time), trigger execution and addBatch durations. */
  final case class Epoch(batch: Long, rows: Long, endMs: Long,
      triggerMs: Long, addBatchMs: Long)
}
