package perfbench

import graft.SparkEntry
import graft.core.{SchemaCasts, ScaleGuardRefusal}
import graft.fixtures.RefFixtures
import graft.job.Runner
import graft.llmdata.{CorpusOps => LlmCorpusOps}
import graft.registry.{PipelineA, PipelineB}
import graft.sink.{ParquetSink, SnapshotStore}
import graft.sources.Tables
import graft.streaming.DocStream
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.time.LocalDate
import scala.collection.mutable

/** One timed call into the program. `refused` marks a ScaleGuardRefusal,
  * which is a designed refusal, not a failure. */
final case class Op(name: String, ms: Double, error: Option[String] = None, refused: Boolean = false) {
  def failed: Boolean = error.isDefined && !refused
}

final case class Check(name: String, ok: Boolean, note: String)

final case class Ctx(spark: SparkSession, seed: Long, smoke: Boolean, expectedPath: String) {
  def sp[T](tracer: Option[Tracer], name: String, module: String)(body: => T): T =
    tracer.fold(body)(_.span(name, module)(body))
}

/** A workload: generated inputs, a unit of work repeated while the clock
  * runs, made of named operations, and correctness checks on the outputs. */
abstract class Workload(val ctx: Ctx) {
  def name: String
  /** What one operation is, for the labels. */
  def opIs: String
  def unitIs: String
  def tables: Seq[String]
  def sizes: DataGen.Sizes
  /** Seed of the generated tables. */
  def dataSeed: Long = ctx.seed
  /** What `setup_s` times: the program's part of set-up. */
  def setupIs: String
  /** Writes the generated tables under `src` (the benchmark's stand-in
    * for the test data; not part of `setup_s`). */
  def generate(src: String): Unit = DataGen.write(spark, src, dataSeed, sizes, tables)
  /** The benchmark's own plan drawn from the generated tables, such as an
    * arrival order; not part of `setup_s`. */
  def prepare(src: String): Unit = ()
  /** The program's set-up over the generated tables in `src`, under
    * `dir`: what `setup_s` times. The last call's outputs are the ones the
    * units use. */
  def layout(src: String, dir: String): Unit
  def unit(tracer: Option[Tracer]): Seq[Op]
  /** Untimed warm-up before the measured units. */
  def warmUp(): Seq[Op] = unit(None)
  /** When true the first unit of a run, without warm-up, is the measurement. */
  def coldFirst: Boolean = false
  /** Units every run measures, so each run does the same amount of work. */
  def minUnits: Int = 1
  def checks(): Seq[Check]
  def storeBytes: Long
  def detail(): Map[String, Any] = Map.empty

  protected val spark: SparkSession = ctx.spark

  protected def op(name: String)(body: => Unit): Op = {
    val t0 = System.nanoTime()
    def ms = (System.nanoTime() - t0) / 1e6
    try { body; Op(name, ms) }
    catch {
      case e: ScaleGuardRefusal => Op(name, ms, Some(s"${e.getClass.getName}: ${e.getMessage}"), refused = true)
      case e: Throwable => Op(name, ms, Some(s"${e.getClass.getName}: ${e.getMessage}"))
    }
  }
}

object Workload {
  val Names: Seq[String] = Seq("daily_merge", "monthly_refresh", "stream_ingest", "corpus_ops")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "daily_merge" => new DailyMerge(ctx)
    case "monthly_refresh" => new MonthlyRefresh(ctx)
    case "stream_ingest" => new StreamIngest(ctx)
    case "corpus_ops" => new CorpusOps(ctx)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (known: ${Names.mkString(", ")})")
  }

  /** Row-multiset equality of two frames over the same column names, by
    * row count and order-independent content hash. */
  def sameRows(a: DataFrame, b: DataFrame): (Boolean, String) = {
    if (a.columns.sorted.toSeq != b.columns.sorted.toSeq)
      return (false, s"columns differ: ${a.columns.sorted.mkString(",")} vs ${b.columns.sorted.mkString(",")}")
    val (got, want) = (contentHash(a), contentHash(b))
    (got == want, s"${got._1} rows (hash ${got._2}) vs expected ${want._1} rows (hash ${want._2})")
  }

  /** Row count and an order-independent content hash of a frame. */
  def contentHash(df: DataFrame): (Long, Long) = {
    val h = xxhash64(df.columns.sorted.map(col).toSeq: _*)
    val r = df.select(count(lit(1)), coalesce(sum(pmod(h, lit(1000000007L))), lit(0L)),
      coalesce(bit_xor(h), lit(0L))).head()
    (r.getLong(0), r.getLong(1) * 31 + r.getLong(2))
  }
}

/** The reference's weekday cron over one month, sampled: `Runner.runDaily`
  * on three weekdays of January 2024 into one ParquetSink, over POS feeds
  * laid out as `{bucket}/{system}/YYYY/MM/DD.parquet` by the events' own
  * dates. */
final class DailyMerge(c: Ctx) extends Workload(c) {
  val name = "daily_merge"
  val opIs = "one Runner.runDaily call"
  val unitIs = "one month of the weekday cron, sampled: runDaily on 2, 17 and 31 January 2024 " +
    "into a fresh ParquetSink"
  val setupIs = "RefFixtures lays out the two POS feeds as day files and writes the autorizacao " +
    "and produto tables"
  val tables = Seq("events", "part", "lineitem")
  val sizes =
    if (ctx.smoke) DataGen.Sizes(parts = 200, lineitems = 6000, events = 1000)
    else DataGen.Sizes(parts = 20000, lineitems = 600000, events = 100000)

  /** Three weekdays of January 2024: the first falls in days 1-5 (window
    * from 1 December), the second widens the month-to-date window, and the
    * month-end run covers every event. */
  val days: Seq[LocalDate] = Seq(2, 17, 31).map(LocalDate.of(2024, 1, _))

  private var src = ""
  private var dir = ""
  private var config = Map.empty[String, String]
  private var months = 0
  private var sinkPath = ""
  private val merged = mutable.Buffer.empty[Long]

  def layout(src: String, dir: String): Unit = {
    for ((sys, fix) <- Seq("cosmos" -> RefFixtures.cosmos, "pre_venda" -> RefFixtures.preVenda)) {
      val feed = fix.df(spark, src)
      val stage = s"$dir/stage_$sys"
      feed.withColumn("__day", date_format(col(feed.columns(2)), "yyyy-MM-dd"))
        .write.mode("overwrite").partitionBy("__day").parquet(stage)
      new java.io.File(stage).listFiles().filter(_.getName.startsWith("__day=")).foreach { f =>
        val Array(y, m, d) = f.getName.stripPrefix("__day=").split("-")
        val to = new java.io.File(s"$dir/bucket/$sys/$y/$m/$d.parquet")
        to.getParentFile.mkdirs()
        java.nio.file.Files.move(f.toPath, to.toPath)
      }
      Files.rm(stage)
    }
    RefFixtures.autorizacao.df(spark, src).write.mode("overwrite").parquet(s"$dir/autorizacao")
    RefFixtures.produto.df(spark, src).write.mode("overwrite").parquet(s"$dir/produto")
    this.src = src
    this.dir = dir
    config = Map("bucket" -> s"$dir/bucket", "cosmos_system" -> "cosmos",
      "pre_venda_system" -> "pre_venda", "autorizacao" -> s"$dir/autorizacao",
      "produto" -> s"$dir/produto")
  }

  def unit(tracer: Option[Tracer]): Seq[Op] = month(days, tracer)

  /** The month-end call alone: the widest window, so every code path. */
  override def warmUp(): Seq[Op] = month(days.takeRight(1), None)

  private def month(days: Seq[LocalDate], tracer: Option[Tracer]): Seq[Op] = {
    if (sinkPath.nonEmpty) Files.rm(sinkPath)
    months += 1
    sinkPath = s"$dir/sink_$months"
    val sink = new ParquetSink(spark, sinkPath)
    days.map { day =>
      op(s"runDaily $day") {
        merged += ctx.sp(tracer, "job.runDaily", "job")(Runner.runDaily(spark, config, sink, day))
      }
    }
  }

  def checks(): Seq[Check] = {
    val (ok, note) = Workload.sameRows(new ParquetSink(spark, sinkPath).read(),
      PipelineA.flagshipDf(spark, src))
    Seq(Check("month-end sink equals a_flagship", ok, note))
  }

  def storeBytes: Long = Files.bytes(sinkPath)

  override def detail(): Map[String, Any] = Map(
    "rows_merged_per_month" -> merged.takeRight(days.size).sum,
    "feed_day_files" -> Files.subdirs(s"$dir/bucket/cosmos/2024/01"))
}

/** One monthly ressarcimento refresh over the fixture years 1995-2001
  * (`today` = 2001-08-03): Replace on the first year, Append after. */
final class MonthlyRefresh(c: Ctx) extends Workload(c) {
  val name = "monthly_refresh"
  val opIs = "one Runner.runRessarcimento call (7 years)"
  val unitIs = opIs
  val setupIs = "RefFixtures writes the eleven ressarcimento input tables"
  val tables = Seq("region", "nation", "supplier", "part", "orders", "lineitem")
  val sizes =
    if (ctx.smoke) DataGen.Sizes(customers = 150, suppliers = 10, parts = 200, orders = 1500, lineitems = 6000)
    else DataGen.Sizes(customers = 15000, suppliers = 1000, parts = 20000, orders = 150000, lineitems = 600000)

  private val Keys = Seq("fornecedor", "aporte_cab", "aporte_det", "dim_produto", "coleta_cab",
    "coleta_det", "volume_tipo", "negociacao", "debito", "pagamento", "dim_sap")
  private val Today = LocalDate.of(2001, 8, 3)
  private var src = ""
  private var sinkPath = ""
  private var config = Map.empty[String, String]
  private var written = Map.empty[Int, Long]

  def layout(src: String, dir: String): Unit = {
    Keys.foreach(k => RefFixtures.byName(k).df(spark, src).write.mode("overwrite").parquet(s"$dir/in/$k"))
    this.src = src
    sinkPath = s"$dir/sink"
    config = Keys.map(k => k -> s"$dir/in/$k").toMap
  }

  def unit(tracer: Option[Tracer]): Seq[Op] = Seq(op("runRessarcimento") {
    written = ctx.sp(tracer, "job.runRessarcimento", "job")(
      Runner.runRessarcimento(spark, config, new ParquetSink(spark, sinkPath), Today, firstYear = 1995))
  })

  /** The same code paths over the last year only. */
  override def warmUp(): Seq[Op] = Seq(op("runRessarcimento 2001") {
    Runner.runRessarcimento(spark, config, new ParquetSink(spark, s"$sinkPath.warm"), Today, firstYear = 2001)
  })

  def checks(): Seq[Check] = {
    val sink = new ParquetSink(spark, sinkPath).read()
    val years = written.keySet.toSeq.sorted
    val (ok, note) = Workload.sameRows(sink.filter(year(col("periodo")) === PipelineB.Year),
      SchemaCasts.castDecimalDouble(PipelineB.ressarcimentoDf(spark, src)))
    Seq(
      Check("refresh wrote every fixture year", years == (1995 to 2001),
        s"years written: ${years.mkString(",")}"),
      Check("sink rows equal the rows written", sink.count() == written.values.sum,
        s"${written.values.sum} written"),
      Check(s"${PipelineB.Year} rows equal b_ressarcimento", ok, note))
  }

  def storeBytes: Long = Files.bytes(sinkPath)

  override def detail(): Map[String, Any] = Map(
    "rows_per_year" -> written.toSeq.sorted.map { case (y, n) => y.toString -> n }.toMap)
}

/** Streaming ingest into a versioned store: `DocStream.ingestToSnapshots`
  * fed by a MemoryStream. Each session starts from the same head (seeded
  * through `SnapshotStore.commit`) and offers the same trigger sequence:
  * fresh documents plus re-arrivals of documents offered earlier. */
final class StreamIngest(c: Ctx) extends Workload(c) {
  val name = "stream_ingest"
  val opIs = "one data-bearing micro-batch (triggerExecution)"
  val setupIs = "DocStream.withFingerprint and SnapshotStore.commit seed the head"
  val tables = Seq("documents")
  val sizes = DataGen.Sizes(documents = if (ctx.smoke) 500 else 5000)
  val headDocs: Int = if (ctx.smoke) 100 else 3000
  val triggers: Int = if (ctx.smoke) 3 else 5
  val freshPerTrigger: Int = if (ctx.smoke) 60 else 200
  val dupsPerTrigger: Int = if (ctx.smoke) 20 else 50
  val unitIs = s"one ingest session: $triggers triggers of $freshPerTrigger fresh + " +
    s"$dupsPerTrigger re-arriving documents onto a $headDocs-document head"

  type Doc = (Long, java.sql.Timestamp, String)
  private var dir = ""
  private var batches = Seq.empty[Seq[Doc]]
  private var head = Seq.empty[Doc]
  private var sessions = 0
  private var storePath = ""
  private val progress = mutable.Buffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]

  private val Epoch = java.time.Instant.parse("2024-02-01T00:00:00Z")
  private def ts(sec: Long) = java.sql.Timestamp.from(Epoch.plusSeconds(sec))

  override def prepare(src: String): Unit = {
    import spark.implicits._
    val texts = spark.read.parquet(s"$src/documents.parquet").orderBy("doc_id")
      .select("text").as[String].collect().toSeq
    val rnd = new scala.util.Random(ctx.seed)
    val order = rnd.shuffle(texts.indices.toVector)
    // Head documents carry a timestamp a day before the stream; the
    // generated corpus repeats some texts, and the head holds first
    // arrivals only, as an ingest would have left it. Stream documents get
    // increasing ids in arrival order, and event time advances five
    // minutes per trigger.
    head = order.take(headDocs).map(texts).distinct.zipWithIndex.map { case (t, i) => (i.toLong, ts(-86400L + i), t) }
    var nextId = headDocs.toLong
    val offered = mutable.ArrayBuffer.from(head.map(_._3))
    batches = (0 until triggers).map { b =>
      val fresh = order.slice(headDocs + b * freshPerTrigger, headDocs + (b + 1) * freshPerTrigger).map(texts)
      require(fresh.size == freshPerTrigger, "not enough generated documents for the trigger plan")
      val dups = Seq.fill(dupsPerTrigger)(offered(rnd.nextInt(offered.size)))
      val arriving = rnd.shuffle(fresh ++ dups)
      offered ++= fresh
      arriving.zipWithIndex.map { case (text, i) =>
        val d = (nextId, ts(b * 300L + i), text); nextId += 1; d
      }
    }
  }

  def layout(src: String, dir: String): Unit = {
    import spark.implicits._
    this.dir = dir
    val seedStore = new SnapshotStore(spark, s"$dir/head")
    seedStore.commit(DocStream.withFingerprint(head.toDF("doc_id", "ts", "text"))
      .select("doc_id", "ts", "text", "fingerprint"))
  }

  private def copyTree(from: java.io.File, to: java.io.File): Unit =
    if (from.isDirectory) {
      to.mkdirs(); from.listFiles().foreach(f => copyTree(f, new java.io.File(to, f.getName)))
    } else java.nio.file.Files.copy(from.toPath, to.toPath)

  def unit(tracer: Option[Tracer]): Seq[Op] = session(batches, tracer)

  override def warmUp(): Seq[Op] = session(batches.take(3), None)
  override def minUnits: Int = 3

  private def session(batches: Seq[Seq[Doc]], tracer: Option[Tracer]): Seq[Op] = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    if (storePath.nonEmpty) { Files.rm(storePath); Files.rm(s"$storePath.ckpt") }
    sessions += 1
    storePath = s"$dir/store_$sessions"
    copyTree(new java.io.File(s"$dir/head"), new java.io.File(storePath))
    val store = new SnapshotStore(spark, storePath)
    val mem = MemoryStream[Doc]
    val q = ctx.sp(tracer, "streaming.start", "streaming")(
      DocStream.ingestToSnapshots(mem.toDF().toDF("doc_id", "ts", "text"), store, s"$storePath.ckpt"))
    val ops = mutable.Buffer.empty[Op]
    try {
      batches.zipWithIndex.foreach { case (batch, i) =>
        ops += op(s"trigger $i") {
          ctx.sp(tracer, "streaming.trigger", "streaming") {
            mem.addData(batch)
            q.processAllAvailable()
          }
        }
      }
    } finally q.stop()
    val done = q.recentProgress.toSeq
    progress.clear()
    progress ++= done
    // The op latency is the engine's own triggerExecution time of each
    // micro-batch that carried data; a trigger that threw keeps its error.
    val failed = ops.filter(_.error.isDefined)
    failed.toSeq ++ dataBatches(done).map(p =>
      Op(s"batch ${p.batchId}", p.durationMs.get("triggerExecution").doubleValue()))
  }

  private def dataBatches(ps: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]) =
    ps.filter(_.numInputRows > 0)

  def checks(): Seq[Check] = {
    import spark.implicits._
    val offered = (head ++ batches.flatten).toDF("doc_id", "ts", "text")
    val want = DocStream.dedupBatchTwin(offered).select("doc_id").as[Long].collect().toSet
    val store = new SnapshotStore(spark, storePath)
    val got = store.readLatest().select("doc_id").as[Long].collect()
    Seq(
      Check("every trigger ran as a data-bearing batch", dataBatches(progress.toSeq).size == triggers,
        s"${dataBatches(progress.toSeq).size} of $triggers"),
      Check("head equals dedupBatchTwin first arrivals", got.length == got.toSet.size && got.toSet == want,
        s"head ${got.length} docs, expected ${want.size}"))
  }

  def storeBytes: Long = Files.bytes(storePath)

  override def detail(): Map[String, Any] = {
    def phase(k: String) = {
      val xs = dataBatches(progress.toSeq).map(_.durationMs.getOrDefault(k, 0L).toDouble)
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    val store = new SnapshotStore(spark, storePath)
    val streamed = triggers * (freshPerTrigger + dupsPerTrigger)
    val kept = store.readLatest().count()
    Map(
      "docs_offered" -> (head.size + streamed),
      "docs_in_head" -> kept,
      "admit_ratio" -> (kept - head.size).toDouble / streamed,
      "head_versions" -> store.versions.size,
      "micro_batches_per_session" -> progress.size,
      "data_batches_per_session" -> dataBatches(progress.toSeq).size,
      "median_data_batch_ms" -> Map("addBatch" -> phase("addBatch"), "queryPlanning" -> phase("queryPlanning"),
        "walCommit" -> phase("walCommit"), "commitOffsets" -> phase("commitOffsets"),
        "triggerExecution" -> phase("triggerExecution")),
      "state_rows_last" -> progress.lastOption.flatMap(_.stateOperators.headOption)
        .map(_.numRowsTotal).getOrElse(0L),
      "state_bytes_last" -> progress.lastOption.flatMap(_.stateOperators.headOption)
        .map(_.memoryUsedBytes).getOrElse(0L))
  }
}

/** One pass over a fixed list of registry rows on the corpus operators
  * (`llmdata` and the stored indexes), in a fixed order, as the first work
  * of a fresh session. The tables are generated from a fixed seed so each
  * row's row count and content hash can be checked against recorded
  * values. */
final class CorpusOps(c: Ctx) extends Workload(c) {
  val name = "corpus_ops"
  val opIs = "one registry row: plan, execute, hash its rows"
  val unitIs = "one pass over the 11 corpus rows"
  val setupIs = "CorpusOps.buildDedupIndex stores the dedup index of the whole corpus, read through " +
    "Tables.documents, as at ingest"
  val tables = Seq("documents", "embeddings")
  val sizes =
    if (ctx.smoke) DataGen.Sizes(documents = 500, embeddings = 500)
    else DataGen.Sizes(documents = 5000, embeddings = 2000)
  override def dataSeed: Long = CorpusOps.DataSeed
  override def coldFirst: Boolean = true

  val rows: Seq[String] = CorpusOps.Rows
  private var src = ""
  private var indexDir = ""
  private val results = mutable.Map.empty[String, (Long, Long)]

  def layout(src: String, dir: String): Unit = {
    this.src = src
    indexDir = s"$dir/dedup_index"
    LlmCorpusOps.buildDedupIndex(Tables.documents(spark, src), indexDir)
  }

  def unit(tracer: Option[Tracer]): Seq[Op] = rows.map { r =>
    op(r) {
      results(r) = ctx.sp(tracer, s"corpus.$r", "llmdata")(
        Workload.contentHash(SparkEntry.queries(r)(spark, src)))
    }
  }

  private def profile = if (ctx.smoke) "smoke" else "full"

  def checks(): Seq[Check] = {
    val expected = CorpusOps.readExpected(ctx.expectedPath).flatMap(_.get(profile)).getOrElse(Map.empty)
    val indexed = spark.read.parquet(s"$indexDir/shingles").select("doc_id").distinct().count()
    val docs = Tables.documents(spark, src).count()
    Check("set-up indexed every document", indexed == docs, s"$indexed of $docs documents") +:
    rows.map { r =>
      val got = results.get(r)
      val want = expected.get(r)
      Check(s"$r rows and content hash", got.isDefined && got == want,
        s"got ${got.map { case (n, h) => s"$n rows, hash $h" }.getOrElse("nothing")}, " +
          s"recorded ${want.map { case (n, h) => s"$n rows, hash $h" }.getOrElse("nothing")}")
    }
  }

  /** The stored indexes the rows built under the JVM's temp dir. */
  def storeBytes: Long =
    Option(new java.io.File(System.getProperty("java.io.tmpdir")).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("graft_")).map(f => Files.bytes(f.getPath)).sum

  def recorded: Map[String, (Long, Long)] = results.toMap

  override def detail(): Map[String, Any] = Map(
    "rows" -> results.toSeq.sortBy(_._1).map { case (r, (n, h)) => r -> Map("rows" -> n, "hash" -> h) }.toMap)
}

object CorpusOps {
  val Rows: Seq[String] = Seq("e_ivf_topk", "e_pq_topk", "e_lsh_selectivity", "x_rrf", "e_knn_graph",
    "e_knn_incr", "c_incr_idx", "x_pagerank", "c_keepbest", "d_minhash", "t_bm25")
  val DataSeed = 42L

  /** `{profile: {row: [rows, hash]}}` from the recorded-expectations file. */
  def readExpected(path: String): Option[Map[String, Map[String, (Long, Long)]]] = {
    import org.json4s._
    if (!new java.io.File(path).exists()) return None
    Json.parse(Files.readText(path)) match {
      case JObject(profiles) => Some(profiles.collect { case (p, JObject(rows)) =>
        p -> rows.collect { case (r, JArray(List(JInt(n), JInt(h)))) => r -> (n.toLong, h.toLong) }.toMap
      }.toMap)
      case _ => None
    }
  }
}
