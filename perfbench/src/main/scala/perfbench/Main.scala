package perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.immutable.ListMap
import scala.collection.mutable

/** Job-level benchmark entry point.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *                [--expected <file>] [--smoke] [--record]
  * }}}
  *
  * One `local[nproc]` session per run. The benchmark generates the
  * inputs once; the program's set-up over them (layout, head seeding or
  * index build) then runs three times, and `setup_s` is its median. The
  * workload's warm-up runs untimed, and whole units are measured: the
  * workload's fixed number of them, and more until `--seconds` have
  * passed. With `--trace 1` the same sequence runs with the tracer on and
  * the run reports per-layer metrics instead of the end-to-end ones. The
  * last line of stdout is the result as JSON.
  */
object Main {

  /** End-to-end metrics: (name, unit). */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "unit_s" -> "s", "store_bytes" -> "bytes")

  /** Per-layer metrics: (name, unit), all per unit of work. */
  val PerLayer: Seq[(String, String)] = Seq(
    "plan.actions" -> "count", "plan.analysis_ms" -> "ms", "plan.optimization_ms" -> "ms",
    "plan.physical_ms" -> "ms", "sched.jobs" -> "count", "sched.stages" -> "count",
    "sched.tasks" -> "count", "sched.delay_ms" -> "ms", "driver.nojob_ms" -> "ms",
    "exec.task_ms" -> "ms", "exec.cpu_ms" -> "ms", "exec.gc_ms" -> "ms", "exec.core_util" -> "%",
    "exec.shuffle_write_bytes" -> "bytes", "exec.shuffle_read_bytes" -> "bytes",
    "exec.spill_bytes" -> "bytes", "exec.input_bytes" -> "bytes",
    "core.truncate_jobs" -> "count", "core.cache_jobs" -> "count", "core.cache_peak_bytes" -> "bytes",
    "io.local_bytes_read" -> "bytes", "io.local_bytes_written" -> "bytes", "io.write_amp" -> "x",
    "streaming.batches" -> "count", "streaming.data_batches" -> "count") ++
    Seq("sources", "views", "core", "sink", "job", "streaming", "llmdata", "other").flatMap(m =>
      Seq(s"$m.jobs" -> "count", s"$m.task_share" -> "%")) ++
    Seq("trace.unit_s" -> "s")

  final case class Args(workload: String = "", seed: Long = 1, seconds: Double = 10, trace: Boolean = false,
                        work: String = ".bench_build/work", expected: String = "perfbench/expected_corpus.json",
                        smoke: Boolean = false, record: Boolean = false)

  def parse(args: List[String], a: Args = Args()): Args = args match {
    case "--workload" :: v :: rest => parse(rest, a.copy(workload = v))
    case "--seed" :: v :: rest => parse(rest, a.copy(seed = v.toLong))
    case "--seconds" :: v :: rest => parse(rest, a.copy(seconds = v.toDouble))
    case "--trace" :: v :: rest => parse(rest, a.copy(trace = v == "1"))
    case "--work" :: v :: rest => parse(rest, a.copy(work = v))
    case "--expected" :: v :: rest => parse(rest, a.copy(expected = v))
    case "--smoke" :: rest => parse(rest, a.copy(smoke = true))
    case "--record" :: rest => parse(rest, a.copy(record = true))
    case Nil => a
    case other => throw new IllegalArgumentException(s"unexpected argument: ${other.head}")
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toList)
    // Deep enough call-site stacks to reach the library frame that
    // launched a job, for module attribution.
    System.setProperty("spark.callstack.depth", "200")
    val cores = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.core.GraftSession.applyDefaults(spark)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val code =
      try {
        if (a.smoke) smoke(spark, a) else run(spark, a, cores, sessionS)
      } finally spark.stop()
    sys.exit(code)
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Generates the inputs under `src` and draws the benchmark's plan from
    * them; returns the seconds taken. */
  private def generate(w: Workload, src: String): Double = {
    val t0 = System.nanoTime()
    w.generate(src)
    w.prepare(src)
    secs(t0)
  }

  /** The program's set-up under `dir`; returns the seconds taken. */
  private def setupOnce(w: Workload, src: String, dir: String): Double = {
    val t0 = System.nanoTime()
    w.layout(src, dir)
    secs(t0)
  }

  /** (rows, bytes) of each generated table under `src`. */
  private def inputSizes(spark: SparkSession, w: Workload, src: String): Map[String, (Long, Long)] =
    w.tables.map { t =>
      val path = s"$src/$t.parquet"
      t -> (spark.read.parquet(path).count(), Files.bytes(path))
    }.toMap

  /** One measured unit: wall seconds, process CPU seconds, operations. */
  final case class UnitRun(wallS: Double, cpuS: Double, ops: Seq[Op])

  /** Runs whole units, at least the workload's `minUnits` and until
    * `seconds` have passed. Each unit starts after a forced GC, outside
    * the tracer's measured window. */
  private def measure(w: Workload, seconds: Double, tracer: Option[Tracer]): Seq[UnitRun] = {
    val start = System.nanoTime()
    val out = mutable.Buffer.empty[UnitRun]
    while (out.size < w.minUnits || secs(start) < seconds) {
      System.gc()
      tracer.foreach(_.begin())
      val (t0, c0) = (System.nanoTime(), Jvm.cpuS())
      val ops = w.unit(tracer)
      out += UnitRun(secs(t0), Jvm.cpuS() - c0, ops)
      tracer.foreach(_.end())
    }
    out.toSeq
  }

  def run(spark: SparkSession, a: Args, cores: Int, sessionS: Double): Int = {
    val ctx = Ctx(spark, a.seed, smoke = false, a.expected)
    val w = Workload(a.workload, ctx)
    val src = s"${a.work}/src"
    val generateS = generate(w, src)
    val setups = (1 to 3).map { i =>
      if (i > 1) Files.rm(s"${a.work}/setup${i - 1}")
      setupOnce(w, src, s"${a.work}/setup$i")
    }
    val inputs = inputSizes(spark, w, src)
    val setupS = Stats.median(setups)

    // A cold-measured workload's first unit is its measurement.
    val tw = System.nanoTime()
    val warmOps = if (w.coldFirst) Seq.empty else w.warmUp()
    val warmS = secs(tw)

    // A traced run repeats the untraced sequence with the listeners on, so
    // its units sit at the same point of the JVM's warm-up as an untraced
    // run's; `report.py` sets the two side by side.
    val tracer = if (a.trace) Some(new Tracer(spark, cores)) else None
    tracer.foreach(_.register())
    val measured = measure(w, a.seconds, tracer)
    tracer.foreach(_.unregister())
    val reported = if (w.coldFirst) measured.take(w.minUnits) else measured
    val units = reported.map(_.wallS)
    val ops = reported.flatMap(_.ops)
    val store = w.storeBytes
    val rss = Jvm.peakRssMb()
    val checks =
      try w.checks()
      catch { case e: Throwable => Seq(Check("checks ran", ok = false, s"${e.getClass.getName}: ${e.getMessage}")) }
    if (a.record) w match {
      case c: CorpusOps => Files.writeText(s"${a.work}/recorded_corpus.json", Json.pretty(c.recorded.map {
        case (r, (n, h)) => r -> Seq(n, h) }))
      case _ =>
    }

    val allOps = warmOps ++ measured.flatMap(_.ops)
    val failures = allOps.filter(_.failed)
    val refused = allOps.filter(_.refused)
    val lat = ops.filterNot(_.error.isDefined).map(_.ms).toSeq
    def pct(q: Double) = if (lat.isEmpty) 0.0 else Stats.quantile(lat, q)
    val e2e = ListMap(
      "setup_s" -> setupS, "unit_s" -> Stats.median(units), "store_bytes" -> store.toDouble)
    val layers: Map[String, Double] = tracer.map { t =>
      val perUnit = t.layerMetrics(units.size)
      perUnit ++ Map(
        "io.write_amp" -> (if (store > 0) perUnit("io.local_bytes_written") / store else 0.0),
        "trace.unit_s" -> e2e("unit_s"))
    }.getOrElse(Map.empty)

    val correct = checks.forall(_.ok) && failures.isEmpty
    checks.filterNot(_.ok).foreach(c => System.err.println(s"[perfbench] CHECK FAILED ${c.name}: ${c.note}"))
    failures.foreach(o => System.err.println(s"[perfbench] OP FAILED ${o.name}: ${o.error.get}"))

    val detail = ListMap(
      "workload" -> w.name, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
      "labels" -> labels(spark, cores, a, w, inputs),
      "setup" -> w.setupIs, "unit" -> w.unitIs, "op" -> w.opIs,
      "end_to_end" -> e2e,
      "samples" -> Map("units" -> units.size, "units_run" -> measured.size, "ops" -> lat.size),
      "unit_s_all" -> measured.map(_.wallS),
      "unit_cpu_s" -> Stats.median(reported.map(_.cpuS)), "unit_cpu_s_all" -> measured.map(_.cpuS),
      "ops_ms" -> ops.filterNot(_.error.isDefined).map(o => Seq(o.name, o.ms)),
      "setup_s_all" -> setups, "generate_s" -> generateS, "session_start_s" -> sessionS, "warmup_s" -> warmS,
      "op_p50_ms" -> pct(0.5), "op_p75_ms" -> pct(0.75), "peak_rss_mb" -> rss,
      "checks" -> checks.map(c => ListMap("name" -> c.name, "ok" -> c.ok, "note" -> c.note)),
      "failures" -> failures.map(o => ListMap("op" -> o.name, "error" -> o.error.get)),
      "refused" -> refused.map(o => ListMap("op" -> o.name, "error" -> o.error.get)),
      "workload_detail" -> w.detail(),
      "traced" -> tracer.map(t => ListMap(
        "per_layer" -> ListMap(PerLayer.map { case (k, _) => k -> layers(k) }: _*),
        "by_module" -> t.moduleDetail, "by_span" -> t.spanDetail,
        "spans" -> t.spans.toSeq.take(2000).map(s => ListMap("name" -> s.name, "module" -> s.module,
          "parent" -> s.parent, "start_ms" -> s.startMs, "ms" -> s.ms)))))
    val detailPath = s"${a.work}/detail.json"
    Files.writeText(detailPath, Json.render(detail) + "\n")
    System.err.println(s"[perfbench] detail written to $detailPath")

    val metrics = if (a.trace) PerLayer.map { case (k, u) => k -> (layers(k), u) }
                  else EndToEnd.map { case (k, u) => k -> (e2e(k), u) }
    metrics.foreach { case (k, (v, u)) => println(f"$k%-28s $v%16.4f $u") }
    println(Json.render(ListMap(
      "correct" -> correct, "attempted" -> allOps.size, "failed" -> failures.size,
      "metrics" -> ListMap(metrics.map { case (k, (v, u)) => k -> ListMap("value" -> v, "unit" -> u) }: _*))))
    0
  }

  private def labels(spark: SparkSession, cores: Int, a: Args, w: Workload,
                     inputs: Map[String, (Long, Long)]): ListMap[String, Any] = {
    val memTotal = scala.util.Try(Files.readText("/proc/meminfo").linesIterator
      .collectFirst { case l if l.startsWith("MemTotal:") => l.split("\\s+")(1).toLong * 1024 }).toOption.flatten
    ListMap(
      "nproc" -> cores, "mem_total_bytes" -> memTotal.getOrElse(-1L),
      "driver_heap_bytes" -> Runtime.getRuntime.maxMemory(), "master" -> spark.sparkContext.master,
      "jdk" -> System.getProperty("java.version"), "spark" -> spark.version,
      "git_sha" -> sys.env.getOrElse("PERFBENCH_GIT_SHA", "unknown"),
      "seed" -> a.seed, "data_seed" -> w.dataSeed,
      "inputs" -> inputs.toSeq.sortBy(_._1).map { case (t, (r, b)) => t -> ListMap("rows" -> r, "bytes" -> b) }.toMap)
  }

  /** Every workload once at the smallest inputs with every check on. */
  def smoke(spark: SparkSession, a: Args): Int = {
    val ctx = Ctx(spark, a.seed, smoke = true, a.expected)
    val bad = Workload.Names.filter(n => a.workload.isEmpty || a.workload == n).flatMap { n =>
      val w = Workload(n, ctx)
      val t0 = System.nanoTime()
      val src = s"${a.work}/smoke_$n/src"
      generate(w, src)
      setupOnce(w, src, s"${a.work}/smoke_$n")
      val inputs = inputSizes(spark, w, src)
      val ops = w.unit(None)
      val checks = w.checks()
      if (a.record) w match {
        case c: CorpusOps => Files.writeText(s"${a.work}/recorded_corpus_smoke.json", Json.pretty(c.recorded.map {
          case (r, (x, h)) => r -> Seq(x, h) }))
        case _ =>
      }
      val problems = ops.filter(_.failed).map(o => s"$n: op ${o.name} failed: ${o.error.get}") ++
        checks.filterNot(_.ok).map(c => s"$n: check '${c.name}' failed: ${c.note}")
      println(f"smoke $n%-16s ${secs(t0)}%6.1f s  ${ops.size}%3d ops  ${checks.count(_.ok)}/${checks.size} checks  " +
        s"inputs ${inputs.map { case (t, (r, _)) => s"$t=$r" }.mkString(" ")}")
      problems
    }
    bad.foreach(p => println(s"FAIL $p"))
    println(if (bad.isEmpty) "smoke: all workloads passed" else s"smoke: ${bad.size} problem(s)")
    if (bad.isEmpty) 0 else 1
  }
}
