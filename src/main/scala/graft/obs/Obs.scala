package graft.obs

import java.util.concurrent.atomic.AtomicLongArray

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

import graft.CodegenGuard

/** What one `Obs.around` body cost: scheduler counts, executor time and
  * bytes, and codegen fallbacks. `stages` counts every stage a job lists
  * at submission, skipped ones included. */
final case class Counters(jobs: Long, stages: Long, tasks: Long, taskMs: Long,
    cpuMs: Long, shuffleReadBytes: Long, shuffleWriteBytes: Long,
    spillBytes: Long, codegenFallbacks: Long) {
  override def toString: String =
    s"jobs=$jobs stages=$stages tasks=$tasks task_ms=$taskMs spill_bytes=$spillBytes " +
      s"shuffle_write_bytes=$shuffleWriteBytes codegen_fallbacks=$codegenFallbacks"
}

/** The engine's one SparkListener. It only adds up running totals; every
  * reader takes differences between two snapshots, so nothing is ever
  * reset and nested or back-to-back readers cannot disturb each other.
  * Spill is memory + disk bytes spilled, the amount a task wrote out
  * because its execution-memory share was full. */
private final class Totals extends SparkListener {
  private val t = new AtomicLongArray(8)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    t.incrementAndGet(0)
    t.addAndGet(1, e.stageInfos.size.toLong): Unit
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    t.incrementAndGet(2)
    val m = e.taskMetrics
    if (m != null) {
      t.addAndGet(3, m.executorRunTime)
      t.addAndGet(4, m.executorCpuTime / 1000000L)
      t.addAndGet(5, m.shuffleReadMetrics.totalBytesRead)
      t.addAndGet(6, m.shuffleWriteMetrics.bytesWritten)
      t.addAndGet(7, m.memoryBytesSpilled + m.diskBytesSpilled): Unit
    }
  }

  /** The eight totals above, in [[Counters]] field order, then codegen fallbacks. */
  def snapshot: Seq[Long] = (0 until 8).map(t.get) :+ CodegenGuard.current
}

object Obs {
  // keyed by context, not a JVM-wide flag: a restarted SparkContext gets
  // its own listener instead of silently counting nothing
  private var bound: Option[(SparkContext, Totals)] = None

  private def totals(sc: SparkContext): Totals = synchronized {
    bound.collect { case (c, t) if c eq sc => t }.getOrElse {
      val t = new Totals
      sc.addSparkListener(t)
      CodegenGuard.install()
      bound = Some(sc -> t)
      t
    }
  }

  /** Run `body` and return its result with the change in every counter
    * over it. The listener bus is drained before each snapshot, so every
    * event the body posted is counted and none from before it is. */
  def around[T](spark: SparkSession)(body: => T): (T, Counters) = {
    val sc = spark.sparkContext
    val t = totals(sc)
    org.apache.spark.obs.BusBridge.drain(sc)
    val before = t.snapshot
    val out = body
    org.apache.spark.obs.BusBridge.drain(sc)
    val d = t.snapshot.zip(before).map { case (a, b) => a - b }
    (out, Counters(d(0), d(1), d(2), d(3), d(4), d(5), d(6), d(7), d(8)))
  }
}
