package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's span recorder, built only from Spark's public listener
  * interfaces; nothing inside the program is instrumented.
  *
  * Each query execution runs under job group and job tag `graftbench-<id>`
  * (set on the client thread by [[begin]]). Spark copies both into every
  * job's properties, SQL execution start events and streaming query start
  * events, which links the spans query -> Spark job -> stage. Planning
  * phases come from each QueryExecution's tracker, linked to the query by
  * the SQL execution id. Spans are held in memory and serialized once by
  * [[json]] at the end of the run.
  */
final class Tracer(spark: SparkSession, sessions: Seq[SparkSession]) {
  import Tracer._
  private val sc = spark.sparkContext

  private val jobs = new ConcurrentLinkedQueue[String]()
  private val jobEnds = new ConcurrentLinkedQueue[String]()
  private val stages = new ConcurrentLinkedQueue[String]()
  private val plans = new ConcurrentLinkedQueue[String]()
  private val batches = new ConcurrentLinkedQueue[String]()
  /** SQL execution id -> benchmark execution id. */
  private val sqlExec = TrieMap.empty[Long, Int]
  /** streaming run id -> benchmark execution id. */
  private val streamExec = TrieMap.empty[String, Int]
  private val taskAgg = TrieMap.empty[(Int, Int), TaskAgg]

  def begin(session: SparkSession, id: Int): Unit = {
    val tag = Tag + id
    session.sparkContext.setJobGroup(tag, tag, interruptOnCancel = false)
    session.sparkContext.addJobTag(tag)
  }

  def end(session: SparkSession): Unit = {
    session.sparkContext.getJobTags().filter(_.startsWith(Tag))
      .foreach(session.sparkContext.removeJobTag)
    session.sparkContext.clearJobGroup()
  }

  private def execOf(tags: Iterable[String]): Option[Int] =
    tags.collectFirst { case t if t.startsWith(Tag) => t.stripPrefix(Tag).toInt }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val tags = props.flatMap(p => Option(p.getProperty("spark.job.tags")))
        .toSeq.flatMap(_.split(','))
      val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      val exec = execOf(tags).orElse(group.flatMap(g => execOf(Seq(g))))
        .orElse(group.flatMap(streamExec.get))
      jobs.add(Json.obj("job" -> Json.num(e.jobId.toDouble),
        "exec" -> exec.map(i => Json.num(i.toDouble)).getOrElse("null"),
        "submit" -> Json.num(e.time.toDouble),
        "stages" -> Json.arr(e.stageIds.map(s => Json.num(s.toDouble)))))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobEnds.add(Json.obj("job" -> Json.num(e.jobId.toDouble),
        "end" -> Json.num(e.time.toDouble)))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val a = taskAgg.getOrElse((i.stageId, i.attemptNumber()), new TaskAgg)
      stages.add(Json.obj("stage" -> Json.num(i.stageId.toDouble),
        "attempt" -> Json.num(i.attemptNumber().toDouble),
        "submit" -> Json.num(i.submissionTime.getOrElse(0L).toDouble),
        "end" -> Json.num(i.completionTime.getOrElse(0L).toDouble),
        "tasks" -> Json.num(a.tasks.toDouble),
        "first_launch" -> Json.num(if (a.firstLaunch == Long.MaxValue) 0.0 else a.firstLaunch.toDouble),
        "run_ms" -> Json.num(a.runMs.toDouble),
        "cpu_ns" -> Json.num(a.cpuNs.toDouble),
        "gc_ms" -> Json.num(a.gcMs.toDouble),
        "shuffle_write_b" -> Json.num(a.shuffleWrite.toDouble),
        "shuffle_read_b" -> Json.num(a.shuffleRead.toDouble),
        "fetch_wait_ms" -> Json.num(a.fetchWaitMs.toDouble),
        "spill_b" -> Json.num(a.spill.toDouble),
        "input_b" -> Json.num(a.inputBytes.toDouble),
        "input_rows" -> Json.num(a.inputRows.toDouble),
        "output_b" -> Json.num(a.outputBytes.toDouble)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val a = taskAgg.getOrElseUpdate((e.stageId, e.stageAttemptId), new TaskAgg)
      a.synchronized {
        a.tasks += 1
        a.firstLaunch = math.min(a.firstLaunch, e.taskInfo.launchTime)
        Option(e.taskMetrics).foreach { m =>
          a.runMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          a.spill += m.diskBytesSpilled
          a.inputBytes += m.inputMetrics.bytesRead
          a.inputRows += m.inputMetrics.recordsRead
          a.outputBytes += m.outputMetrics.bytesWritten
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        execOf(s.jobTags).orElse(s.jobGroupId.flatMap(g => execOf(Seq(g))))
          .foreach(sqlExec.put(s.executionId, _))
      case _ =>
    }
  }

  private val planListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      val ps = Seq("analysis", "optimization", "planning").flatMap(phases.get)
      if (ps.nonEmpty) plans.add(Json.obj(
        "sql" -> Json.num(qe.id.toDouble),
        "session" -> Json.num(System.identityHashCode(qe.sparkSession).toDouble),
        "start" -> Json.num(ps.map(_.startTimeMs).min.toDouble),
        "plan_ms" -> Json.num(ps.map(_.durationMs).sum.toDouble)))
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      execOf(e.jobTags).foreach(streamExec.put(e.runId.toString, _))
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      batches.add(Json.obj(
        "exec" -> streamExec.get(p.runId.toString).map(i => Json.num(i.toDouble)).getOrElse("null"),
        "start" -> Json.num(java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble),
        "batch_ms" -> Json.num(p.batchDuration.toDouble)))
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  sc.addSparkListener(listener)
  (spark +: sessions).foreach { s =>
    s.listenerManager.register(planListener)
    s.streams.addListener(streamListener)
  }

  /** Block until every posted listener event has been delivered. */
  def drain(): Unit = org.apache.spark.graftbench.Bus.drain(sc)

  def json(): String = Json.obj(
    "jobs" -> Json.arr(jobs.asScala.toSeq),
    "job_ends" -> Json.arr(jobEnds.asScala.toSeq),
    "stages" -> Json.arr(stages.asScala.toSeq),
    "plans" -> Json.arr(plans.asScala.toSeq),
    "sql_exec" -> Json.obj(sqlExec.toSeq.map { case (k, v) => k.toString -> Json.num(v.toDouble) }: _*),
    "batches" -> Json.arr(batches.asScala.toSeq))
}

object Tracer {
  val Tag = "graftbench-"

  final class TaskAgg {
    var tasks = 0L
    var firstLaunch = Long.MaxValue
    var runMs, cpuNs, gcMs = 0L
    var shuffleWrite, shuffleRead, fetchWaitMs, spill = 0L
    var inputBytes, inputRows, outputBytes = 0L
  }
}
