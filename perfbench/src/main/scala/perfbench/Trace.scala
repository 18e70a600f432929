package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** A named interval the benchmark opened around one call into a module. */
final case class Span(name: String, module: String, parent: Option[String],
                      startMs: Long, endMs: Long) {
  def ms: Double = (endMs - startMs).toDouble
}

/** Attributes what Spark did while the benchmark ran to the program's
  * modules, from outside the program:
  *
  *  - spans: the benchmark brackets each call into the program, and
  *    stamps the span's name and module on the jobs it launches as job
  *    local properties;
  *  - a SparkListener counts jobs, stages and tasks and sums task metrics;
  *    each job belongs to the module of the innermost `graft.<module>`
  *    frame of its call site (the SQL execution's call site for SQL jobs,
  *    the stage's for RDD jobs), or to the span stamped on it when the
  *    benchmark itself ran the action;
  *  - a QueryExecutionListener sums Catalyst's planning phases;
  *  - a StreamingQueryListener keeps every micro-batch's progress.
  *
  * Wall, GC and file-system figures count only the measured windows
  * between `begin()` and `end()`, so whatever the benchmark does between
  * units (such as the GC it forces) stays out of them.
  *
  * Listener callbacks arrive on Spark's listener-bus thread, so all state
  * is guarded by `this`.
  */
final class Tracer(spark: SparkSession, cores: Int) extends SparkListener
    with QueryExecutionListener {

  val Modules: Seq[String] = Seq("sources", "views", "core", "sink", "job", "streaming", "llmdata", "other")

  private val Packages = Map(
    "sources" -> "sources", "fixtures" -> "sources", "views" -> "views", "core" -> "core",
    "functions" -> "core", "plans" -> "core", "sink" -> "sink", "job" -> "job",
    "streaming" -> "streaming", "llmdata" -> "llmdata", "registry" -> "llmdata")

  private final class Acc {
    var jobs, stages, tasks, truncateJobs, cacheJobs = 0L
    var taskMs, cpuNs, delayMs, shuffleW, shuffleR, spill, input = 0.0
    def add(o: Acc): Unit = {
      jobs += o.jobs; stages += o.stages; tasks += o.tasks
      truncateJobs += o.truncateJobs; cacheJobs += o.cacheJobs
      taskMs += o.taskMs; cpuNs += o.cpuNs; delayMs += o.delayMs
      shuffleW += o.shuffleW; shuffleR += o.shuffleR; spill += o.spill; input += o.input
    }
  }

  private val byModule = mutable.Map.empty[String, Acc]
  private val bySpan = mutable.Map.empty[String, Acc]
  private val execOwner = mutable.Map.empty[Long, String]
  private val stageOwner = mutable.Map.empty[Int, (String, String)]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobIntervals = mutable.Buffer.empty[(Long, Long)]
  private val blocks = mutable.Map.empty[String, Long]
  private var cachedBytes, cachePeak = 0L
  private var actions = 0L
  private val phaseMs = mutable.Map("analysis" -> 0.0, "optimization" -> 0.0, "planning" -> 0.0)
  val progress: mutable.Buffer[org.apache.spark.sql.streaming.StreamingQueryProgress] = mutable.Buffer.empty
  val spans: mutable.Buffer[Span] = mutable.Buffer.empty

  /** Names of the spans open on the driver thread, innermost first. */
  private var open: List[String] = Nil
  /** Measured windows (start, end) in wall milliseconds. */
  private val windows = mutable.Buffer.empty[(Long, Long)]
  private var windowStart = 0L
  private var gcAtStart = 0L
  private var fsAtStart = FsStats(0L, 0L)
  private var gcMs = 0L
  private var fsRead, fsWritten = 0L

  private def acc(m: mutable.Map[String, Acc], k: String): Acc = m.getOrElseUpdate(k, new Acc)

  /** Module of the innermost library frame of a call-site stack, if any. */
  private def moduleOf(stack: String): Option[String] =
    stack.linesIterator.map(_.trim.stripPrefix("at ")).collectFirst {
      case l if l.startsWith("graft.") => Packages.getOrElse(l.split('.')(1), "other")
    }

  /** (span, module) stamped on a job by `span`, or the benchmark's own. */
  private def spanOf(props: java.util.Properties): (String, String) =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.SpanKey)).map(s =>
      (s, Option(p.getProperty(Tracer.ModuleKey)).getOrElse("other")))).getOrElse(("bench", "other"))

  /** Runs `body` inside a span named `name`, owned by `module`. Must be
    * called on the driver thread that launches the body's jobs. */
  def span[T](name: String, module: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = (sc.getLocalProperty(Tracer.SpanKey), sc.getLocalProperty(Tracer.ModuleKey))
    val parent = open.headOption
    open = name :: open
    sc.setLocalProperty(Tracer.SpanKey, name)
    sc.setLocalProperty(Tracer.ModuleKey, module)
    val t0 = System.currentTimeMillis()
    try body
    finally {
      val t1 = System.currentTimeMillis()
      open = open.tail
      sc.setLocalProperty(Tracer.SpanKey, prev._1)
      sc.setLocalProperty(Tracer.ModuleKey, prev._2)
      synchronized { spans += Span(name, module, parent, t0, t1) }
    }
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    spark.streams.addListener(streamListener)
  }

  def unregister(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    spark.streams.removeListener(streamListener)
  }

  /** Opens a measured window. */
  def begin(): Unit = synchronized {
    windowStart = System.currentTimeMillis()
    gcAtStart = Jvm.gcMs()
    fsAtStart = FsStats.now()
  }

  /** Closes the window `begin()` opened. */
  def end(): Unit = synchronized {
    windows += ((windowStart, System.currentTimeMillis()))
    gcMs += Jvm.gcMs() - gcAtStart
    val fs = FsStats.now()
    fsRead += fs.bytesRead - fsAtStart.bytesRead
    fsWritten += fs.bytesWritten - fsAtStart.bytesWritten
  }

  // ---- SparkListener ----------------------------------------------------

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart =>
      moduleOf(e.details).foreach(m => synchronized { execOwner(e.executionId) = m })
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = spanOf(e.properties)
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong)
    val stack = e.stageInfos.map(_.details).mkString("\n")
    synchronized {
      val module = exec.flatMap(execOwner.get).orElse(moduleOf(stack)).getOrElse(span._2)
      val owner = (module, span._1)
      e.stageIds.foreach(id => stageOwner(id) = owner)
      jobStart(e.jobId) = e.time
      Seq(acc(byModule, module), acc(bySpan, span._1)).foreach { a =>
        a.jobs += 1
        if (stack.contains("graft.core.Lineage")) a.truncateJobs += 1
        if (e.stageInfos.exists(_.rddInfos.exists(_.storageLevel.isValid))) a.cacheJobs += 1
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(t0 => jobIntervals += ((t0, e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageOwner.get(e.stageInfo.stageId).foreach { case (m, s) =>
      acc(byModule, m).stages += 1
      acc(bySpan, s).stages += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m == null || info == null) return
    synchronized {
      val (module, span) = stageOwner.getOrElse(e.stageId, ("other", "bench"))
      Seq(acc(byModule, module), acc(bySpan, span)).foreach { a =>
        a.tasks += 1
        a.taskMs += info.duration
        a.cpuNs += m.executorCpuTime
        a.delayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime)
        a.shuffleW += m.shuffleWriteMetrics.bytesWritten
        a.shuffleR += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.diskBytesSpilled
        a.input += m.inputMetrics.bytesRead
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    if (!b.blockId.isRDD) return
    synchronized {
      val size = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
      cachedBytes += size - blocks.getOrElse(b.blockId.name, 0L)
      if (size == 0L) blocks.remove(b.blockId.name) else blocks(b.blockId.name) = size
      cachePeak = math.max(cachePeak, cachedBytes)
    }
  }

  // ---- QueryExecutionListener -------------------------------------------

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    synchronized {
      actions += 1
      phaseMs.keys.toSeq.foreach { p =>
        phases.get(p).foreach(s => phaseMs(p) += s.durationMs.toDouble)
      }
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized { progress += e.progress }
  }

  // ---- results ----------------------------------------------------------

  private def wallMs: Long = windows.map { case (a, b) => b - a }.sum

  /** Wall milliseconds of the measured windows in which no job was
    * running: driver-side planning, listing and commit work, and
    * scheduling gaps. */
  private def noJobMs: Double = windows.map { case (w0, w1) =>
    val sorted = jobIntervals.map { case (a, b) => (math.max(a, w0), math.min(b, w1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    sorted.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    (w1 - w0 - covered).toDouble
  }.sum

  /** Per-layer metrics, per unit of work (`units` = units traced). */
  def layerMetrics(units: Int): Map[String, Double] = synchronized {
    val all = new Acc
    byModule.values.foreach(all.add)
    val u = math.max(1, units).toDouble
    val base = Map(
      "plan.actions" -> actions / u,
      "plan.analysis_ms" -> phaseMs("analysis") / u,
      "plan.optimization_ms" -> phaseMs("optimization") / u,
      "plan.physical_ms" -> phaseMs("planning") / u,
      "sched.jobs" -> all.jobs / u,
      "sched.stages" -> all.stages / u,
      "sched.tasks" -> all.tasks / u,
      "sched.delay_ms" -> all.delayMs / u,
      "driver.nojob_ms" -> noJobMs / u,
      "exec.task_ms" -> all.taskMs / u,
      "exec.cpu_ms" -> all.cpuNs / 1e6 / u,
      "exec.gc_ms" -> gcMs / u,
      "exec.core_util" -> 100.0 * all.taskMs / (math.max(1L, wallMs) * cores),
      "exec.shuffle_write_bytes" -> all.shuffleW / u,
      "exec.shuffle_read_bytes" -> all.shuffleR / u,
      "exec.spill_bytes" -> all.spill / u,
      "exec.input_bytes" -> all.input / u,
      "core.truncate_jobs" -> all.truncateJobs / u,
      "core.cache_jobs" -> all.cacheJobs / u,
      "core.cache_peak_bytes" -> cachePeak.toDouble,
      "io.local_bytes_read" -> fsRead / u,
      "io.local_bytes_written" -> fsWritten / u)
    val batches = progress.toSeq
    val stream = Map(
      "streaming.batches" -> batches.size / u,
      "streaming.data_batches" -> batches.count(_.numInputRows > 0) / u)
    val perModule = Modules.flatMap { m =>
      val a = byModule.getOrElse(m, new Acc)
      Seq(s"$m.jobs" -> a.jobs / u,
        s"$m.task_share" -> (if (all.taskMs > 0) 100.0 * a.taskMs / all.taskMs else 0.0))
    }
    base ++ stream ++ perModule
  }

  /** Per-span breakdown for the detail file: jobs and task time launched
    * while each named span was open. */
  def spanDetail: Map[String, Map[String, Double]] = synchronized {
    bySpan.map { case (k, a) =>
      k -> Map("jobs" -> a.jobs.toDouble, "stages" -> a.stages.toDouble, "tasks" -> a.tasks.toDouble,
        "task_ms" -> a.taskMs, "cpu_ms" -> a.cpuNs / 1e6, "truncate_jobs" -> a.truncateJobs.toDouble,
        "cache_jobs" -> a.cacheJobs.toDouble)
    }.toMap
  }

  def moduleDetail: Map[String, Map[String, Double]] = synchronized {
    byModule.map { case (k, a) =>
      k -> Map("jobs" -> a.jobs.toDouble, "stages" -> a.stages.toDouble, "tasks" -> a.tasks.toDouble,
        "task_ms" -> a.taskMs, "cpu_ms" -> a.cpuNs / 1e6, "sched_delay_ms" -> a.delayMs,
        "shuffle_write_bytes" -> a.shuffleW, "shuffle_read_bytes" -> a.shuffleR)
    }.toMap
  }
}

object Tracer {
  /** Job local properties that carry the open span to the listener. */
  val SpanKey = "perfbench.span"
  val ModuleKey = "perfbench.module"
}

/** Process-wide local-filesystem counters of the Hadoop FileSystem layer,
  * which every parquet read and write goes through: sources, sinks,
  * stored indexes and streaming checkpoints alike. */
final case class FsStats(bytesRead: Long, bytesWritten: Long)

object FsStats {
  def now(): FsStats = {
    import scala.jdk.CollectionConverters._
    val st = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file")
    FsStats(st.map(_.getBytesRead).sum, st.map(_.getBytesWritten).sum)
  }
}

object Jvm {
  import scala.jdk.CollectionConverters._

  def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** CPU seconds used by all threads of this process so far. */
  def cpuS(): Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime / 1e9
    case _ => 0.0
  }

  /** Peak resident set size of this process so far, in MB (VmHWM). */
  def peakRssMb(): Double = {
    val f = new java.io.File("/proc/self/status")
    if (!f.exists()) return Runtime.getRuntime.totalMemory() / 1048576.0
    Files.readText(f.getPath).linesIterator.collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Runtime.getRuntime.totalMemory() / 1048576.0)
  }
}
