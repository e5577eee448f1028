package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}

/** Detector for SILENT codegen degradation (round-11 verdict #2).
  *
  * Spark never fails a query when generated Java exceeds Janino's 64 KB
  * method limit — `CodeGenerator.compile` logs "Failed to compile the
  * generated Java code" and the plan falls back to interpreted
  * execution. Correctness survives; throughput silently drops an order
  * of magnitude on the affected operators, and nothing in the bench
  * artifact says so. This class of degradation survived two rounds of
  * IVF/PQ work precisely because it is log-only.
  *
  * Two more degradations are reported only at INFO, which the root level
  * normally drops. A generated method past HotSpot's 8,000-byte JIT limit
  * compiles but runs in the bytecode interpreter (`CodeGenerator`). A
  * whole-stage method past `spark.sql.codegen.hugeMethodLimit` makes
  * `WholeStageCodegenExec` run the plan without whole-stage codegen.
  *
  * The guard attaches one log4j2 appender to the root logger and counts
  * events whose message carries a marker. The two INFO loggers' events
  * are counted at their own logger configs instead. When the
  * configuration has none, the guard adds one that is not additive, whose
  * level is INFO or the inherited level when that is more verbose (so
  * `setLogLevel("DEBUG")` still shows the generated code), and that hands
  * its parent config only what the parent's level lets through: console
  * output and any appender or level set on `org.apache.spark` read as
  * before. A config that already exists is left as it is and only
  * counted; if its level drops INFO, install says so on stderr. The
  * bench snapshots the counter around every gate (per-gate counts land
  * in the BENCH_full sidecar), and PlanAuditSpec asserts zero across the
  * ANN family that previously regressed.
  */
object CodegenGuard {
  private val hits = new AtomicLong(0)
  private val samples = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  @volatile private var installed = false

  private val markers = Seq(
    "Failed to compile the generated Java code",
    "Whole-stage codegen disabled for plan",
    "grows beyond 64 KB",
    "Generated method too long to be JIT compiled",
    "Found too long generated codes")

  private val infoLoggers = Seq(
    "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator",
    "org.apache.spark.sql.execution.WholeStageCodegenExec")

  /** Idempotent; safe to call from tests and mains alike. */
  def install(): Unit = synchronized {
    if (installed) return
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    def appender(name: String)(take: LogEvent => Unit) = {
      val a = new AbstractAppender(name, null, null, true, Property.EMPTY_ARRAY) {
        override def append(event: LogEvent): Unit = take(event)
      }
      a.start()
      a
    }
    // the INFO loggers' events count at their own configs, never at the root
    cfg.getRootLogger.addAppender(appender("graft-codegen-guard") { e =>
      if (!infoLoggers.contains(e.getLoggerName)) count(e)
    }, Level.ALL, null)
    infoLoggers.foreach { name =>
      val lc = Option(cfg.getLoggers.get(name)).getOrElse {
        val own: LoggerConfig = new LoggerConfig(name, Level.INFO, false) {
          override def getLevel: Level = Option(getParent).map(_.getLevel)
            .filter(_.isLessSpecificThan(Level.INFO)).getOrElse(Level.INFO)
        }
        own.addAppender(appender("graft-codegen-forward") { e =>
          val up = own.getParent
          if (up != null && e.getLevel.isMoreSpecificThan(up.getLevel)) up.log(e)
        }, Level.ALL, null)
        cfg.addLogger(name, own) // sets its parent
        own
      }
      lc.addAppender(appender("graft-codegen-info")(count), Level.ALL, null)
      if (!Level.INFO.isMoreSpecificThan(lc.getLevel))
        System.err.println(s"[codegen-guard] $name is configured at " +
          s"${lc.getLevel}: its INFO markers are not counted")
    }
    ctx.updateLoggers()
    installed = true
  }

  private def count(event: LogEvent): Unit = {
    val msg =
      try event.getMessage.getFormattedMessage
      catch { case _: Throwable => return }
    if (msg != null && markers.exists(msg.contains)) {
      hits.incrementAndGet()
      if (samples.size < 8) samples.add(msg.linesIterator.next().take(240))
    }
  }

  /** Current cumulative fallback count since install/reset. */
  def current: Long = hits.get()

  /** Reset and return the prior count (per-gate snapshot pattern). */
  def reset(): Long = { samples.clear(); hits.getAndSet(0) }

  /** First line of up to 8 matched messages — enough to name the shape. */
  def recentSamples: Seq[String] = {
    import scala.jdk.CollectionConverters._
    samples.asScala.toSeq
  }
}
