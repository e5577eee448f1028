package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Epoch milliseconds with nanoTime resolution: the axis Spark's listener
  * timestamps use, so op windows and job/stage/task times line up. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def now(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Everything the traced run records, from outside the engine: Spark
  * scheduler events, Catalyst phase times of every finished query
  * execution, and streaming progress. Records stay in memory and are
  * dumped once at the end of the run; the runner turns them into spans. */
final class Probe(spark: SparkSession) {
  private val jobs = new ConcurrentLinkedQueue[Map[String, Any]]
  private val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, Long]
  private val stages = new ConcurrentLinkedQueue[Map[String, Any]]
  private val tasks = new ConcurrentLinkedQueue[Seq[Any]]
  private val phases = new ConcurrentLinkedQueue[Seq[Seq[Any]]]
  private val progress = new ConcurrentLinkedQueue[String]

  private val scheduler = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.add(Map("id" -> e.jobId, "start" -> e.time, "stages" -> e.stageIds))
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEnds.put(e.jobId, e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      stages.add(Map("id" -> i.stageId, "attempt" -> i.attemptNumber(),
        "start" -> i.submissionTime.getOrElse(-1L),
        "end" -> i.completionTime.getOrElse(-1L), "tasks" -> i.numTasks))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) tasks.add(Seq(
        e.taskInfo.launchTime, e.taskInfo.finishTime, m.executorRunTime,
        m.executorCpuTime / 1000000L, m.jvmGCTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.recordsRead))
    }
  }

  private val executions = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit =
      phases.add(qe.tracker.phases.toSeq.map { case (name, p) =>
        Seq(name, p.startTimeMs, p.endTimeMs)
      })
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  private val streams = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress.json)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(scheduler)
    spark.listenerManager.register(executions)
    spark.streams.addListener(streams)
    graft.CodegenGuard.install()
  }

  /** Wait until every event posted so far has reached the listeners. */
  def drain(): Unit = org.apache.spark.BusDrain(spark.sparkContext)

  def dump(): Map[String, Any] = {
    drain()
    Map(
      "jobs" -> jobs.asScala.toSeq.map(j =>
        j + ("end" -> Option(jobEnds.get(j("id").asInstanceOf[Int])).getOrElse(-1L))),
      "stages" -> stages.asScala.toSeq,
      "tasks" -> tasks.asScala.toSeq,
      "phases" -> phases.asScala.toSeq,
      "progress" -> progress.asScala.toSeq)
  }
}
