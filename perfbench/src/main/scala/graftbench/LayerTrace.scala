package graftbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.graftbench.ListenerBusDrain
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer counters for the traced run. Every counter is charged to the
  * query executing when its event arrives; the harness drains the
  * listener bus at each query boundary, so no event crosses into the
  * next query. Nothing here runs in the untraced run. */
object LayerTrace {
  /** ext operator families, each named by the top-level objects that
    * implement it. */
  val ExtFamilies: Seq[(String, Seq[String])] = Seq(
    "Dedup" -> Seq("graft.ext.Dedup"),
    "Similarity" -> Seq("graft.ext.Similarity"),
    "TextAnalysis" -> Seq("graft.ext.TextAnalysis"),
    "Graph" -> Seq("graft.ext.Graph"),
    "Clustering" -> Seq("graft.ext.Clustering", "graft.ext.GmmKd"),
    "Learn" -> Seq("graft.ext.Learn"),
    "Recommend" -> Seq("graft.ext.Recommend"))

  private val MB = 1e6

  /** Whole-stage codegen fallbacks, counted from the two messages
    * WholeStageCodegenExec logs when it runs a stage interpreted. The
    * appender counts them; the log configuration keeps them off stderr. */
  val codegenFallbacks = new AtomicLong
  private val wscgLogger = "org.apache.spark.sql.execution.WholeStageCodegenExec"

  def installFallbackCounter(): Unit = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val appender = new AbstractAppender("graftbenchCodegenFallbacks", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val m = e.getMessage.getFormattedMessage
        if (m.startsWith("Whole-stage codegen disabled") ||
            m.startsWith("Found too long generated codes")) codegenFallbacks.incrementAndGet()
      }
    }
    appender.start()
    ctx.getConfiguration.getLoggerConfig(wscgLogger) match {
      case lc if lc.getName == wscgLogger => lc.addAppender(appender, null, null)
      case _ => sys.error(s"log configuration declares no logger $wscgLogger")
    }
    ctx.updateLoggers()
  }
}

/** Listener-side accumulators, reset at every query boundary. */
final class LayerTrace(spark: SparkSession, driverThread: Thread) {
  import LayerTrace._

  private val sums = mutable.LinkedHashMap[String, Double]()
  private val jobIntervals = mutable.Map[Int, (Long, Long)]()
  private val rddBlockBytes = mutable.Map[String, Long]()
  private var rddBytes = 0L
  private var rddPeak = 0L

  private def add(k: String, v: Double): Unit = sums(k) = sums.getOrElse(k, 0.0) + v

  private val scheduler = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = LayerTrace.this.synchronized {
      add("scheduler.jobs", 1)
      jobIntervals(e.jobId) = (e.time, Long.MaxValue)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = LayerTrace.this.synchronized {
      jobIntervals.get(e.jobId).foreach { case (s, _) => jobIntervals(e.jobId) = (s, e.time) }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      LayerTrace.this.synchronized(add("scheduler.stages", 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = LayerTrace.this.synchronized {
      add("scheduler.tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("executor.run_s", m.executorRunTime / 1e3)
        add("executor.cpu_s", m.executorCpuTime / 1e9)
        add("executor.gc_s", m.jvmGCTime / 1e3)
        add("shuffle.write_mb", m.shuffleWriteMetrics.bytesWritten / MB)
        add("shuffle.read_mb", m.shuffleReadMetrics.totalBytesRead / MB)
        add("shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
        add("shuffle.spill_mb", m.diskBytesSpilled / MB)
        add("scan.read_mb", m.inputMetrics.bytesRead / MB)
        add("scan.records", m.inputMetrics.recordsRead)
        add("io.write_mb", m.outputMetrics.bytesWritten / MB)
        add("io.records_written", m.outputMetrics.recordsWritten)
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = LayerTrace.this.synchronized {
      val info = e.blockUpdatedInfo
      if (info.blockId.isRDD) {
        val id = info.blockId.name
        val bytes = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
        rddBytes += bytes - rddBlockBytes.getOrElse(id, 0L)
        if (bytes == 0L) rddBlockBytes.remove(id) else rddBlockBytes(id) = bytes
        rddPeak = math.max(rddPeak, rddBytes)
      }
    }
  }

  private val catalyst = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = LayerTrace.this.synchronized {
      add("catalyst.executions", 1)
      val phases = qe.tracker.phases
      for ((phase, name) <- Seq(QueryPlanningTracker.ANALYSIS -> "analysis_s",
          QueryPlanningTracker.OPTIMIZATION -> "optimization_s",
          QueryPlanningTracker.PLANNING -> "planning_s"))
        add(s"catalyst.$name", phases.get(phase).map(_.durationMs / 1e3).getOrElse(0.0))
    }
  }

  private val streaming = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      LayerTrace.this.synchronized {
        val p = e.progress
        add("streaming.batches", 1)
        add("streaming.batch_s",
          Option(p.durationMs.get("triggerExecution")).map(_.longValue / 1e3).getOrElse(0.0))
        add("streaming.state_rows", p.stateOperators.map(_.numRowsUpdated.toDouble).sum)
      }
  }

  spark.sparkContext.addSparkListener(scheduler)
  spark.listenerManager.register(catalyst)
  spark.streams.addListener(streaming)

  /** Samples the driver thread's stack and charges each interval to the
    * innermost ext family on it: the driver time spent inside that
    * family's calls, eager kernel jobs included. */
  private val extWall = mutable.Map[String, Double]().withDefaultValue(0.0)
  @volatile private var sampling = false
  private val sampler = new Thread("graftbench-ext-sampler") {
    setDaemon(true)
    override def run(): Unit = {
      var last = System.nanoTime()
      while (!isInterrupted) {
        try Thread.sleep(2) catch { case _: InterruptedException => return }
        val now = System.nanoTime()
        if (sampling) {
          val family = driverThread.getStackTrace.iterator.map(_.getClassName).collectFirst(
            Function.unlift(familyOf))
          family.foreach(f => LayerTrace.this.synchronized(extWall(f) += (now - last) / 1e9))
        }
        last = now
      }
    }
  }
  sampler.start()

  private def familyOf(cls: String): Option[String] = ExtFamilies.collectFirst {
    case (f, objs) if objs.exists(o => cls == o || cls.startsWith(o + "$")) => f
  }

  private var compileCount0 = 0L
  private var compileNs0 = 0L
  private var fallbacks0 = 0L

  /** Opens a query's window: everything charged from here on is its own. */
  def begin(): Unit = {
    ListenerBusDrain(spark.sparkContext)
    synchronized {
      sums.clear(); jobIntervals.clear(); extWall.clear()
      rddPeak = rddBytes
    }
    compileCount0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    compileNs0 = CodeGenerator.compileTime
    fallbacks0 = codegenFallbacks.get
    sampling = true
  }

  /** Jobs started so far in the open window. */
  def jobsSoFar(): Double = {
    ListenerBusDrain(spark.sparkContext)
    synchronized(sums.getOrElse("scheduler.jobs", 0.0))
  }

  /** Closes the window [startMs, endMs] and returns its counters. */
  def end(startMs: Long, endMs: Long): Map[String, Double] = {
    sampling = false
    ListenerBusDrain(spark.sparkContext)
    synchronized {
      val out = mutable.LinkedHashMap[String, Double]() ++ sums
      val busy = union(jobIntervals.values.map { case (s, e) =>
        (math.max(s, startMs), math.min(if (e == Long.MaxValue) endMs else e, endMs)) }.toSeq)
      out("scheduler.driver_gap_s") = math.max(0L, endMs - startMs - busy) / 1e3
      out("codegen.compiles") = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compileCount0).toDouble
      out("codegen.compile_s") = (CodeGenerator.compileTime - compileNs0) / 1e9
      out("codegen.fallbacks") = (codegenFallbacks.get - fallbacks0).toDouble
      out("pin.rdds_left") = spark.sparkContext.getPersistentRDDs.size.toDouble
      out("pin.peak_mb") = rddPeak / MB
      for ((f, _) <- ExtFamilies) out(s"ext.$f.wall_s") = extWall(f)
      out.toMap
    }
  }

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- iv.filter { case (s, e) => e > s }.sortBy(_._1)) {
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total + (curE - curS)
  }

  def close(): Unit = {
    sampler.interrupt()
    sampler.join()
    spark.sparkContext.removeSparkListener(scheduler)
    spark.listenerManager.unregister(catalyst)
    spark.streams.removeListener(streaming)
  }
}
