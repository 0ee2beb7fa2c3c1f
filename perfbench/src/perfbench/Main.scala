package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftSession, Registry, SparkEntry}
import graft.ingest.{FileScanner, JsonIngestor}
import graft.query.QueryEngine
import graft.sink.{Connectors, Sinks}
import graft.sources.Tables

/** One benchmark run of one workload in one JVM, driven through the
  * engine's public entry points as a closed loop with a single client.
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --work DIR [--tables DIR --answers FILE] [--tiny 1] [--perturb 1]
  *
  * Writes `result.json` into the work directory: set-up phase times,
  * per-operation latencies, check counts and, with `--trace 1`, the
  * per-layer rollup. `run.py` turns that into the reported metrics.
  */
object Main {

  final class Opts(args: Array[String]) {
    private val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload: String = m("workload")
    val seed: Long = m("seed").toLong
    val seconds: Double = m("seconds").toDouble
    val trace: Boolean = m.getOrElse("trace", "0") == "1"
    val work: Path = Paths.get(m("work")).toAbsolutePath
    val tables: String = m.getOrElse("tables", "")
    val answers: String = m.getOrElse("answers", "")
    val tiny: Boolean = m.getOrElse("tiny", "0") == "1"
    val perturb: Boolean = m.getOrElse("perturb", "0") == "1"
  }

  /** Registered entries the query workloads run: the sub-second
    * query-back entries of `query_point`, and the fixed data-bound subset
    * of `query_scan`, chosen among entries whose DuckDB oracle runs in
    * seconds at sf0.1.
    */
  val PointEntries = Seq("q20_point_lookup", "q21_preview", "q22_count_star",
    "q23_event_type_top5", "q27_string_match")
  val ScanEntries = Seq("dd02_minhash_lsh", "mb01_market_basket", "cms01_countmin_heavy",
    "q37_corr_moments", "sim24_bulk_index_probe", "q01_pricing_summary")

  def main(args: Array[String]): Unit = {
    val o = new Opts(args)
    val r = new Run(o)
    r.info("main_epoch_ms") = System.currentTimeMillis()
    val k = math.min(Runtime.getRuntime.availableProcessors(), 4)
    val t0 = System.nanoTime()
    val spark = GraftSession.builder(k.toString)
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    r.setup("session_s") = (System.nanoTime() - t0) / 1e9
    r.info("cores") = k
    try {
      o.workload match {
        case "ingest_jsonl" => ingestJsonl(spark, r)
        case "ingest_json_files" => ingestJsonFiles(spark, r)
        case "query_point" => queryPoint(spark, r)
        case "query_scan" => queryScan(spark, r)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
    } finally {
      r.write(spark)
      spark.stop()
    }
  }

  /** Land a corpus once: ingest → sink. Returns the timed part's checker. */
  private def landOnce(spark: SparkSession, r: Run, ingest: String => JsonIngestor.IngestResult,
      sink: (DataFrame, String) => Unit, dir: Path, target: String, truth: Corpus.Truth): () => Boolean = {
    val res = r.tracer.span("ingest.call")(ingest(dir.toString))
    r.tracer.span("sink.write")(sink(res.data, target))
    () => checkLanded(spark, res, target, if (r.opts.perturb) truth.copy(records = truth.records + 1) else truth)
  }

  /** The landed table against generator truth: record count, failed
    * files, column set, and a checksum of the parquet read back.
    */
  private def checkLanded(spark: SparkSession, res: JsonIngestor.IngestResult, target: String,
      truth: Corpus.Truth): Boolean = {
    val back = Connectors.create("parquet").read(spark, target)
      .agg(count(lit(1)), sum(col("id").cast("long")), sum(length(col("text"))))
      .collect().head
    val failed = res.report.errors.map(e => e.file.substring(e.file.lastIndexOf('/') + 1)).toSet
    res.report.totalRecords == truth.records && failed == truth.failed &&
      res.data.columns.toSet == truth.columns &&
      back.getLong(0) == truth.records && back.getLong(1) == truth.idSum && back.getLong(2) == truth.textLen
  }

  /** Generate the corpus, land it once untimed (the warm-up), then land
    * it again and again in the timed loop.
    */
  private def ingestWorkload(spark: SparkSession, r: Run, gen: Path => Corpus.Truth,
      ingest: String => JsonIngestor.IngestResult, sink: (DataFrame, String) => Unit,
      probe: Boolean): Unit = {
    val corpus = r.opts.work.resolve("corpus")
    val target = r.opts.work.resolve("landed").toString
    val truth = r.setupStep("gen_s")(gen(corpus))
    r.setupStep("warmup_s") {
      r.check("warm-up")(landOnce(spark, r, ingest, sink, corpus, target, truth)())
    }
    r.info("records_per_op") = truth.records
    r.info("corpus_files") = truth.files
    r.info("corpus_bytes") = truth.bytes
    r.info("failed_files") = truth.failed.size
    r.loop(spark, "ingest") { _ => landOnce(spark, r, ingest, sink, corpus, target, truth) }
    if (r.opts.trace) r.standalone(spark) {
      val files = r.tracer.span("ingest.discover") {
        FileScanner.discover(corpus.toString, Seq("json"), recursive = true,
          hadoopConf = spark.sparkContext.hadoopConfiguration)("json")
      }
      if (probe) r.tracer.span("ingest.probe")(JsonIngestor.probeFiles(spark, files))
    }
    r.layerBytes(truth.bytes)
  }

  private def ingestJsonl(spark: SparkSession, r: Run): Unit = {
    val (files, perFile, corrupt) = if (r.opts.tiny) (4, 500, 1) else (24, 3000, 3)
    ingestWorkload(spark, r, Corpus.jsonl(_, r.opts.seed, files, perFile, corrupt),
      dir => JsonIngestor.ingestJsonl(spark, dir),
      (df, target) => { Connectors.create("parquet").write(df, target, SaveMode.Overwrite); () },
      probe = false)
  }

  private def ingestJsonFiles(spark: SparkSession, r: Run): Unit = {
    val files = if (r.opts.tiny) 8 else 16
    ingestWorkload(spark, r, Corpus.jsonFiles(_, r.opts.seed, files, 30, 1),
      dir => JsonIngestor.ingest(spark, dir),
      (df, target) => Sinks.saveParquet(df, target),
      probe = true)
  }

  private val PointKinds = Seq("preview", "describe", "count", "lookup_landed", "lookup_orders") ++ PointEntries

  private def queryPoint(spark: SparkSession, r: Run): Unit = {
    val tr = r.tracer
    val tables = r.opts.tables
    val qe = new QueryEngine(spark)
    val landed = r.opts.work.resolve("landed").toString
    val truth = r.setupStep("gen_s") {
      val (files, perFile) = if (r.opts.tiny) (3, 400) else (8, 1500)
      Corpus.jsonl(r.opts.work.resolve("corpus"), r.opts.seed, files, perFile, 1)
    }
    val keyRng = new java.util.SplittableRandom(r.opts.seed)
    val landedKeys = IndexedSeq.fill(64)(truth.goodIds(keyRng.nextInt(truth.goodIds.size)))
    val orderKeys = readAnswers(r.opts.answers)
    val expectCount = if (r.opts.perturb) truth.records + 1 else truth.records
    val warmRows = mutable.Map.empty[String, String]
    def exec(df: DataFrame): Array[Row] = tr.span("query.exec")(df.collect())

    def call(i: Int): () => Boolean = {
      val j = i / PointKinds.size
      val kind = PointKinds(i % PointKinds.size)
      r.timeCall(kind)(kind match {
        case "preview" =>
          val rows = exec(tr.span("query.preview")(qe.preview("landed", 10)))
          () => rows.length == 10 && rows.head.schema.fieldNames.toSet == truth.columns
        case "describe" =>
          val d = tr.span("query.describe")(qe.describe("landed"))
          () => d.map(_._1).toSet == truth.columns
        case "count" =>
          val rows = exec(tr.span("query.execute")(qe.execute("SELECT COUNT(*) AS n FROM landed")))
          () => rows.head.getLong(0) == expectCount
        case "lookup_landed" =>
          val id = landedKeys(j % landedKeys.size)
          val rows = exec(tr.span("query.execute")(
            qe.execute("SELECT kind, text FROM landed WHERE id = :k", Map("k" -> id.toString))))
          () => {
            val (kind, text) = Corpus.expect(r.opts.seed, id)
            rows.length == 1 && rows.head.getString(0) == kind && rows.head.getString(1) == text
          }
        case "lookup_orders" =>
          val (key, cust, price) = orderKeys(j % orderKeys.size)
          val orders = tr.span("sources.resolve")(Tables(spark, tables).orders)
          val rows = exec(orders.filter(col("o_orderkey") === key).select("o_custkey", "o_totalprice"))
          () => rows.length == 1 && rows.head.getLong(0) == (if (r.opts.perturb) cust + 1 else cust) &&
            rows.head.getDouble(1) == price
        case entry =>
          val df = tr.span("operators.build")(Registry.byName(entry).run(spark, tables))
          val rows = exec(df)
          // the warm-up round records each entry's answer (saved for the
          // oracle check); later calls must repeat it
          () => digest(rows) == warmRows.getOrElseUpdate(entry, {
            r.saveOutput(spark, entry, spark.createDataFrame(rows.toSeq.asJava, df.schema))
            digest(rows)
          })
      })
    }

    /** One operation: a round of every call kind, keys advancing per round. */
    def round(j: Int): () => Boolean = {
      val checks = PointKinds.indices.map(k => call(j * PointKinds.size + k))
      () => checks.forall(_())
    }

    r.setupStep("warmup_s") {
      val res = tr.span("ingest.call")(JsonIngestor.ingestJsonl(spark, r.opts.work.resolve("corpus").toString))
      tr.span("sink.write")(Connectors.create("parquet").write(res.data, landed, SaveMode.Overwrite))
      r.check("land")(checkLanded(spark, res, landed, truth))
      Connectors.create("parquet").read(spark, landed).createOrReplaceTempView("landed")
      PointKinds.indices.foreach(i => r.check(s"warm-up ${PointKinds(i)}")(call(i)()))
    }
    r.info("records_per_op") = PointKinds.size
    r.info("landed_records") = truth.records
    // planning code is large: its JIT settles later than the ingest paths'
    r.loop(spark, "round", settle = 1.5 * Run.SettleSeconds)(round)
  }

  private def queryScan(spark: SparkSession, r: Run): Unit = {
    val tables = r.opts.tables
    r.setupStep("warmup_s") {
      ScanEntries.foreach(e => r.saveOutput(spark, e, Registry.byName(e).run(spark, tables)))
    }
    r.info("records_per_op") = ScanEntries.size
    r.loop(spark, "pass") { _ =>
      ScanEntries.foreach { e =>
        r.tracer.span(s"operators.$e") {
          Registry.byName(e).run(spark, tables).write.format("noop").mode(SaveMode.Overwrite).save()
        }
      }
      () => true
    }
  }

  /** Order-insensitive fingerprint of a collected result. */
  private def digest(rows: Array[Row]): String = {
    val lines = rows.map(_.toSeq.mkString("|")).sorted
    f"${lines.length}:${scala.util.hashing.MurmurHash3.orderedHash(lines.toSeq)}%08x"
  }

  /** The point-lookup answers file: `[{"key":..,"o_custkey":..,"o_totalprice":..}, ...]`. */
  private def readAnswers(path: String): IndexedSeq[(Long, Long, Double)] = {
    val txt = Files.readString(Paths.get(path))
    val obj = "\\{([^}]*)\\}".r
    obj.findAllMatchIn(txt).map { m =>
      val kv = m.group(1).split(',').map(_.split(':').map(_.trim.stripPrefix("\"").stripSuffix("\"")))
        .map(a => a(0) -> a(1)).toMap
      (kv("key").toLong, kv("o_custkey").toLong, kv("o_totalprice").toDouble)
    }.toIndexedSeq
  }
}

/** State of one run: set-up timings, the timed loop, checks, and the
  * traced-run rollup.
  */
final class Run(val opts: Main.Opts) {
  val tracer = new Tracer
  val setup = mutable.LinkedHashMap.empty[String, Double]
  val info = mutable.LinkedHashMap.empty[String, Any]
  val ops = mutable.ArrayBuffer.empty[Op]
  /** Untraced per-call latencies of the measured loop, by call kind. */
  val perKind = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private var measuring = false
  private val failures = mutable.ArrayBuffer.empty[String]
  private val layers = mutable.LinkedHashMap.empty[String, Double]
  private var counters: Counters = _
  var attempted = 0L
  var failed = 0L
  private var gcMs = 0L

  def setupStep[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally setup(name) = setup.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
  }

  /** Time one call inside an operation (checks excluded). */
  def timeCall[T](kind: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally if (measuring && !tracer.on)
      perKind.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e6
  }

  /** Count one checked operation; an exception fails it like a wrong answer. */
  def check(what: String)(ok: => Boolean): Unit = {
    attempted += 1
    val problem =
      try { if (ok) None else Some("wrong output") }
      catch { case e: Exception => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    problem.foreach { p => failed += 1; if (failures.size < 20) failures += s"$what: $p" }
  }

  private def gcTotalMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum

  /** Closed loop: one operation at a time. The loop first settles for
    * `settle` seconds (operations run and are checked, but not timed:
    * the JIT is still compiling the hot paths), then measures
    * until `seconds` of wall time have passed. Each operation returns
    * its output check, which runs after its timer stops. A traced run
    * alternates untraced and traced operations (listeners attached and
    * spans recorded only for the latter), so both sets of numbers come
    * from the same run and the same stretch of it.
    */
  def loop(spark: SparkSession, name: String, settle: Double = Run.SettleSeconds)(op: Int => (() => Boolean)): Unit = {
    var i = 0
    def runFor(seconds: Double, more: => Boolean = false)(each: => Unit): Unit = {
      val end = System.nanoTime() + (seconds * 1e9).toLong
      while (System.nanoTime() < end || more) { each; i += 1 }
    }
    setupStep("settle_s")(runFor(settle)(check(s"$name settle $i")(op(i)())))
    val gc0 = gcTotalMs
    val start = System.nanoTime()
    if (opts.trace) counters = new Counters
    measuring = true
    // a traced run goes on until at least one operation ran traced
    runFor(opts.seconds, more = opts.trace && !ops.exists(_.traced)) {
      tracer.on = opts.trace && ops.size % 2 == 1
      if (tracer.on) {
        spark.sparkContext.addSparkListener(counters)
        spark.listenerManager.register(counters)
      }
      tracer.op = ops.size
      check(s"$name $i") {
        val t0 = Clock.now()
        var t1 = t0
        val chk =
          try { val c = op(i); t1 = Clock.now(); c }
          finally if (tracer.on) {
            PerfbenchBus.drain(spark.sparkContext)
            spark.sparkContext.removeSparkListener(counters)
            spark.listenerManager.unregister(counters)
          }
        ops += Op(ops.size, t0, t1, tracer.on)
        chk()
      }
    }
    measuring = false
    tracer.op = -1
    if (opts.trace) {
      // the standalone calls after the loop are traced too
      tracer.on = true
      spark.sparkContext.addSparkListener(counters)
    }
    gcMs = gcTotalMs - gc0
    info("window_s") = (System.nanoTime() - start) / 1e9
  }

  /** Calls made only in a traced run, outside the timed loop. */
  def standalone(spark: SparkSession)(body: => Unit): Unit = {
    body
    PerfbenchBus.drain(spark.sparkContext)
  }

  /** Per-call ingest and sink job counts and bytes, relative to the
    * corpus size: raw bytes read (1.0 is one scan of the corpus) and,
    * for the sink, parquet bytes written.
    */
  def layerBytes(corpusBytes: Long): Unit = if (counters != null) {
    for (layer <- Seq("ingest", "sink")) {
      val ss = tracer.spans.filter(s => s.name == (if (layer == "ingest") "ingest.call" else "sink.write") && s.op >= 0)
      if (ss.nonEmpty) {
        val js = ss.flatMap(s => counters.jobsIn(s.start, s.end))
        def perCorpusByte(bytes: Long) = bytes.toDouble / corpusBytes / ss.size
        layers(s"$layer.jobs") = js.size.toDouble / ss.size
        layers(s"$layer.input_bytes_ratio") = perCorpusByte(js.map(_.inputBytes).sum)
        if (layer == "sink") layers("sink.bytes_per_input_byte") = perCorpusByte(js.map(_.outputBytes).sum)
      }
    }
  }

  /** Save an entry's result for the DuckDB oracle check run by run.py. */
  def saveOutput(spark: SparkSession, entry: String, result: DataFrame): Unit = {
    result.coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(opts.work.resolve("outputs").resolve(entry).toString)
    SparkEntry.oracleSql.get(entry).foreach(sql => oracle(entry) = sql)
  }
  private val oracle = mutable.LinkedHashMap.empty[String, String]

  private def rollup(): Unit = if (counters != null) {
    val traced = ops.filter(_.traced)
    val plain = ops.filterNot(_.traced)
    val n = traced.size.max(1).toDouble
    var jobs, shuffle, spill, input = 0L
    var plan, gap, injob = 0.0
    traced.foreach { o =>
      val js = counters.jobsIn(o.start, o.end)
      jobs += js.size
      shuffle += js.map(_.shuffleBytes).sum
      spill += js.map(_.spillBytes).sum
      input += js.map(_.inputBytes).sum
      plan += counters.planMsIn(o.start, o.end)
      val covered = counters.inJobNs(js, o.start, o.end)
      injob += covered / 1e9
      gap += (o.end - o.start - covered) / 1e6
    }
    val wallMs = traced.map(_.wallMs).sum
    layers("query.plan_ms") = plan / n
    layers("query.jobs") = jobs / n
    layers("query.gap_ms") = gap / n
    layers("query.gap_share") = if (wallMs > 0) gap / wallMs else 0.0
    layers("query.injob_s") = injob / n
    layers("exchange.shuffle_bytes") = shuffle / n
    layers("exchange.spill_bytes") = spill / n
    layers("input.bytes") = input / n
    // collection time per timed operation: a faster loop runs more
    // operations, so a window total would grow as the engine got faster
    layers("jvm.gc_s") = gcMs / 1e3 / ops.size.max(1)
    layers("ops.untraced") = plain.size
    layers("ops.traced") = traced.size
    layers("trace.untraced_p50_ms") = Stats.median(plain.map(_.wallMs))
    layers("trace.traced_p50_ms") = Stats.median(traced.map(_.wallMs))
    layers("trace.overhead_ms") = layers("trace.traced_p50_ms") - layers("trace.untraced_p50_ms")
    val exec = spanMean("query.exec")
    if (!exec.isNaN) layers("query.exec_ms") = exec * 1e3
    for (s <- Seq("ingest.discover", "ingest.probe", "ingest.call", "sink.write")) {
      val v = spanMean(s)
      if (!v.isNaN) layers(s"${s}_s") = v
    }
    val resolve = spanMean("sources.resolve")
    if (!resolve.isNaN) layers("sources.resolve_ms") = resolve * 1e3
    tracer.spans.filter(s => s.layer == "operators" && s.op >= 0).groupBy(_.name).toSeq.sortBy(_._1)
      .foreach { case (name, ss) =>
        layers(s"$name.s") = ss.map(_.dur).sum / 1e9 / ss.size
        val injob = ss.map(s => counters.inJobNs(counters.jobsIn(s.start, s.end), s.start, s.end)).sum
        layers(s"$name.injob_share") = injob.toDouble / ss.map(_.dur).sum
      }
    // self time per layer, per traced operation
    val self = tracer.selfNs
    tracer.spans.filter(_.op >= 0).groupBy(_.layer).toSeq.sortBy(_._1).foreach { case (layer, ss) =>
      layers(s"self.$layer.s") = ss.map(s => self(s.id)).sum / 1e9 / n
    }
  }

  private def spanMean(name: String): Double = {
    val ss = tracer.spans.filter(_.name == name)
    if (ss.isEmpty) Double.NaN else ss.map(_.dur).sum / 1e9 / ss.size
  }

  private def vmHwmMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(Double.NaN)

  def write(spark: SparkSession): Unit = {
    rollup()
    if (opts.trace) layers("session.create_s") = setup("session_s")
    val plain = ops.filterNot(_.traced).map(_.wallMs)
    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> opts.workload,
      "setup" -> setup,
      "info" -> info,
      "op_ms" -> plain,
      "call_ms" -> perKind.values.flatten,
      "per_kind_ms" -> perKind.map { case (k, v) => k -> Stats.median(v) },
      "attempted" -> attempted,
      "failed" -> failed,
      "failures" -> failures,
      "rss_peak_mb" -> vmHwmMb,
      "oracle" -> oracle,
      "layers" -> layers)
    Files.writeString(opts.work.resolve("result.json"), Json(out))
    if (opts.trace) {
      val spans = tracer.spans.map(s => mutable.LinkedHashMap("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "op" -> s.op, "start_ns" -> s.start, "end_ns" -> s.end))
      val jobs = Option(counters).toSeq.flatMap(_.jobs.values).map(j => mutable.LinkedHashMap(
        "id" -> j.id, "start_ns" -> j.start, "end_ns" -> j.end, "tasks" -> j.tasks,
        "input_bytes" -> j.inputBytes, "output_bytes" -> j.outputBytes, "shuffle_bytes" -> j.shuffleBytes, "spill_bytes" -> j.spillBytes))
      Files.writeString(opts.work.resolve("trace.json"),
        Json(mutable.LinkedHashMap("spans" -> spans, "jobs" -> jobs, "ops" -> ops.map(o =>
          mutable.LinkedHashMap("id" -> o.id, "start_ns" -> o.start, "end_ns" -> o.end,
            "traced" -> o.traced)))))
    }
  }
}

object Run {
  /** Untimed settling before each measured loop. */
  val SettleSeconds = 4.0
}

object Stats {
  def median(xs: scala.collection.Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

/** Minimal JSON writer for the result files. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case x => quote(x.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    (sb += '"').toString
  }
}
