package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkEntry
import graft.core.ScanLayout
import graft.sources.VersionedStore
import graft.streaming.{IngestDedup, Streams}

/** One benchmark run of one workload, from one JVM with one client.
  *
  * Reads only the inputs that `perfbench/run.py` generated from the seed,
  * times the calls it makes into the program's public functions, and writes
  * the raw record (`harness.json`: set-up times, per-operation timings,
  * stream progress, and with `--trace 1` spans plus the Spark jobs, stages
  * and tasks attributed to them) for run.py to turn into metrics. Query
  * outputs are written untimed under `results/` for the oracle check.
  *
  * Usage: perfbench.Harness --workload W --inputs DIR --out DIR --seconds S
  *        --trace 0|1 --seed N --cores 4 --setups 3, plus per workload
  *        surface_sf01: --order FILE; crane_stream: --rate FILES_PER_S
  *        --warmup-files N --trigger-ms MS --ingest-files N; corpus_10x:
  *        --copies N. `--list` prints the surface queries.
  */
object Harness {
  val CorpusSteps = Seq("pipeline_clean_corpus", "dedup_ngram_jaccard_prefix",
    "dedup_minhash_lsh", "dedup_winnow_pairs", "dedup_simhash_clusters", "kmeans_lloyd",
    "q21_slowest_supplier")

  /** The surface queries: the 21 TPC-H analogues q1..q22 (there is no q11). */
  def surfaceNames: Seq[String] =
    graft.operators.Relational.queries.keys.filter(_.matches("q\\d+_.*")).toSeq.sorted

  final class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
  }

  def main(argv: Array[String]): Unit = {
    if (argv.headOption.contains("--list")) { surfaceNames.foreach(println); return }
    val a = new Args(argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap)
    val h = new Harness(a)
    try h.run() finally h.close()
  }
}

final class Harness(a: Harness.Args) {
  import Harness._

  private val workload = a("workload")
  private val inputs = a("inputs")
  private val out = a("out")
  private val seconds = a("seconds").toDouble
  private val tracer = new Tracer(a("trace") == "1")
  private val cores = a("cores").toInt
  private val setups = a("setups").toInt
  private val tmp = Paths.get(out, "tmp").toAbsolutePath.toString
  private val record = mutable.LinkedHashMap.empty[String, Any]
  private val nanoOrigin = System.nanoTime()
  private val epochOrigin = System.currentTimeMillis()
  private def epochToNano(ms: Long): Long = nanoOrigin + (ms - epochOrigin) * 1000000L
  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  private val jobs = new JobListener(epochToNano)
  private val progress = new ProgressListener
  private var spark: SparkSession = _

  /** The session every benchmark run uses: the configuration of the
    * program's own Bench, on `local[cores]`. */
  private def newSession(tag: String): SparkSession = {
    if (spark != null) { spark.stop(); SparkSession.clearActiveSession(); SparkSession.clearDefaultSession() }
    val s = graft.core.ExecMaster.configure(
        SparkSession.builder().withExtensions(new graft.plans.GraftExtensions), cores.toString)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.network.timeout", "600s")
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse-$tag")
      .config("spark.local.dir", s"$tmp/local")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.conf.set("graft.approx.exactGate", "false")
    s.conf.set(ScanLayout.EnabledKey, "true")
    s.conf.set(ScanLayout.BaseKey, s"$tmp/layout-$tag")
    if (tracer.enabled) {
      s.sparkContext.addSparkListener(jobs)
      s.streams.addListener(progress)
    }
    spark = s
    tracer.spark = s
    s
  }

  def close(): Unit = if (spark != null) spark.stop()

  def run(): Unit = {
    Files.createDirectories(Paths.get(tmp))
    record("workload") = workload
    record("seed") = a("seed").toLong
    record("trace") = tracer.enabled
    workload match {
      case "surface_sf01" => surface()
      case "corpus_10x" => corpus()
      case "crane_stream" => stream()
      case w => sys.error(s"unknown workload $w")
    }
    record("master") = spark.sparkContext.master
    record("spark_version") = spark.version
    record("jvm_flags") = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
    record("peak_rss_mb") = peakRssMb()
    if (tracer.enabled) {
      org.apache.spark.BenchBus.drain(spark.sparkContext)
      record("trace_record") = traceRecord()
    }
    val w = Files.newBufferedWriter(Paths.get(out, "harness.json"))
    try w.write(Json(record)) finally w.close()
  }

  /** VmHWM of this JVM: the peak resident set over the whole run. */
  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  // ---- set-up: session start, scan layout, warm pass -------------------

  private val setupRecs = mutable.ArrayBuffer.empty[Map[String, Double]]

  /** Set up `setups` times, each a fresh session plus a fresh scan-layout
    * cache; then one warm pass in the last session, which stays open for
    * the measurement. */
  private def setUp(dataDir: String)(warm: String => Unit): String = {
    var layoutDir = dataDir
    for (k <- 0 until setups) {
      var t = System.nanoTime()
      tracer.span("session", "core") { newSession(s"s$k") }
      val sessionS = secs(t); t = System.nanoTime()
      layoutDir = tracer.span("layout", "core") { ScanLayout.ensure(spark, dataDir) }
      setupRecs += Map("session_s" -> sessionS, "layout_s" -> secs(t))
    }
    val t = System.nanoTime()
    tracer.span("warm", "core") { warm(layoutDir) }
    record("setups") = setupRecs.toList
    record("warm_s") = secs(t)
    layoutDir
  }

  // ---- one query: build, plan, execute ----------------------------------

  private val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var opSeq = 0L

  /** Output of each query's first measured execution, for the oracle check. */
  private val outputs = mutable.LinkedHashMap.empty[String, (Array[org.apache.spark.sql.Row],
    org.apache.spark.sql.types.StructType)]

  /** Run one registered query as one client would, timed as build
    * (DataFrame construction), plan (forcing the executed plan) and exec
    * (running it and collecting its rows). Returns false when it failed. */
  private def timeQuery(name: String, dir: String, record: Boolean): Boolean = {
    opSeq += 1
    val op = opSeq
    val t0 = System.nanoTime()
    var b, p, e = 0.0
    val ok = try {
      tracer.span(name, "workload", op) {
        var t = System.nanoTime()
        val df = tracer.span("build", "operators") { SparkEntry.queries(name)(spark, dir) }
        b = secs(t); t = System.nanoTime()
        tracer.span("plan", "plans") { df.queryExecution.executedPlan }
        p = secs(t); t = System.nanoTime()
        val rows = tracer.span("exec", "exec") { df.collect() }
        e = secs(t)
        if (record && !outputs.contains(name)) outputs(name) = (rows, df.schema)
      }
      true
    } catch {
      case ex: Throwable =>
        System.err.println(s"perfbench: $name failed: ${ex.getClass.getSimpleName}: ${ex.getMessage}")
        false
    }
    if (record)
      ops += Map("op" -> op, "name" -> name, "ok" -> ok, "start_s" -> (t0 - nanoOrigin) / 1e9,
        "latency_s" -> secs(t0), "build_s" -> b, "plan_s" -> p, "exec_s" -> e)
    ok
  }

  private def warmQueries(names: Seq[String], dir: String): Unit =
    names.foreach(n => timeQuery(n, dir, record = false))

  /** Write the kept outputs (untimed) and the oracle SQL of `names`. */
  private def writeOutputs(names: Seq[String]): Unit = {
    tracer.phase = "verify"
    for ((n, (rows, schema)) <- outputs)
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1)
        .write.parquet(s"$out/results/$n")
    record("oracle_sql") = names.map(n => n -> SparkEntry.oracleSql.getOrElse(n, "")).toMap
  }

  // ---- surface_sf01 ------------------------------------------------------

  private def surface(): Unit = {
    val names = surfaceNames
    val order = Files.readAllLines(Paths.get(a("order"))).asScala.map(_.trim).filter(_.nonEmpty).toSeq
    require(order.sorted == names, s"order file does not list the ${names.size} surface queries")
    // the warm pass is one untimed round at sf0.1 itself: after a warm pass
    // at sf0.001 the first sf0.1 executions still paid 0.5-1.5 s of
    // compilation each, and where they fell in the seeded order moved the
    // median by 10 % between seeds (8 % after a warm round at sf0.01)
    val dir = setUp(s"$inputs/sf0.1") { d => warmQueries(order, d) }
    tracer.phase = "measure"
    val t0 = System.nanoTime()
    var i = 0
    // whole rounds only, so every query is measured equally often
    while (secs(t0) < seconds || i % order.size != 0) {
      timeQuery(order(i % order.size), dir, record = true); i += 1
    }
    record("measure_s") = secs(t0)
    record("ops") = ops.toList
    writeOutputs(names)
  }

  // ---- corpus_10x --------------------------------------------------------

  /** The replicated corpus: SoakGen.run over the seeded base tables, then
    * StreamSoak's appended-token mutation on a seeded ~10 % of the
    * replicated (copy >= 1) documents with at least 12 distinct shingles.
    * Built once per seed, before any clock starts. */
  private def makeCorpus(base: String, dst: String, copies: Int, seed: Long): Unit = {
    if (Files.exists(Paths.get(dst, "_DONE"))) return
    val s = newSession("gen")
    val raw = s"$dst.raw"
    tracer.span("soakgen", "tools") { graft.tools.SoakGen.run(s, base, raw, copies) }
    Files.createDirectories(Paths.get(dst))
    for (t <- Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
        "events", "embeddings"))
      Files.move(Paths.get(raw, s"$t.parquet"), Paths.get(dst, s"$t.parquet"))
    val docs = s.read.parquet(s"$raw/documents.parquet")
    val idBase = s.read.parquet(s"$base/documents.parquet").agg(max("doc_id")).head().getLong(0)
    var b = 10L; while (b <= idBase) b *= 10
    val nSh = graft.operators.Dedup.shingles(docs).groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val mut = col("doc_id") >= b && pmod(xxhash64(col("doc_id"), lit(seed)), lit(10)) === 0 &&
      coalesce(col("n_sh") >= 12, lit(false))
    docs.join(nSh, Seq("doc_id"), "left")
      .withColumn("text", when(mut, concat(col("text"), lit(" zq soakmut d"),
        col("doc_id").cast("string"), lit(" end"))).otherwise(col("text")))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select(docs.columns.map(col).toIndexedSeq: _*)
      .coalesce(1).write.parquet(s"$dst/documents.parquet")
    Files.writeString(Paths.get(dst, "_DONE"), "")
  }

  private def corpus(): Unit = {
    val dst = s"$inputs/corpus"
    makeCorpus(s"$inputs/base", dst, a("copies").toInt, a("seed").toLong)
    var dir = setUp(dst) { _ => warmQueries(CorpusSteps, s"$inputs/sf0.001") }
    tracer.phase = "measure"
    val jobTimes = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    while (jobTimes.isEmpty || secs(t0) < seconds) {
      if (jobTimes.nonEmpty) {
        // every job runs in a fresh session: nothing staged by the last one
        newSession(s"job${jobTimes.size}")
        dir = ScanLayout.ensure(spark, dst)
      }
      val tj = System.nanoTime()
      tracer.span("job", "workload") {
        CorpusSteps.foreach(timeQuery(_, dir, record = true))
      }
      jobTimes += secs(tj)
    }
    record("measure_s") = secs(t0)
    record("job_s") = jobTimes.toList
    record("ops") = ops.toList
    writeOutputs(CorpusSteps)
  }

  // ---- crane_stream ------------------------------------------------------

  private def progressJson(q: org.apache.spark.sql.streaming.StreamingQuery): Seq[Json.Raw] =
    q.recentProgress.toSeq.filter(_.numInputRows > 0).map(p => Json.Raw(p.json))

  private def listFiles(d: String, ext: String): Seq[java.nio.file.Path] =
    Files.list(Paths.get(d)).iterator().asScala.filter(_.toString.endsWith(ext)).toSeq
      .sortBy(_.getFileName.toString)

  private def stream(): Unit = {
    val feed = s"$inputs/feed"
    // the word-count topology warms inside the open loop (its first
    // arrivals are not measured); the ingest leg runs cold
    val dir = setUp(s"$inputs/sf0.1") { _ => () }
    tracer.phase = "measure"
    // the closed loop runs first: its ~15 s of Spark work also warms the
    // JIT for the open loop, whose triggers otherwise ran 400-550 ms in one
    // run and 700-870 ms in the next
    closedLoop(feed, dir)
    openLoop(feed)
  }

  /** Open loop: the word-count topology (complete mode, state store) runs
    * while one generator thread moves arrival files into its input
    * directory on a fixed schedule, whether or not the stream keeps up.
    * The first `warmup-files` arrivals warm the topology and are not
    * measured; the measured arrivals span `seconds`. */
  private def openLoop(feed: String): Unit = {
    val rate = a("rate").toDouble
    val warmup = a("warmup-files").toInt
    val files = listFiles(s"$feed/lines", ".txt")
    val n = warmup + math.ceil(seconds * rate).toInt
    require(files.size >= n, s"feed has ${files.size} files, the schedule needs $n")
    val inDir = s"$tmp/wc-in"; val stage = s"$tmp/wc-stage"
    Files.createDirectories(Paths.get(inDir)); Files.createDirectories(Paths.get(stage))
    val q = tracer.span("wordcount", "streaming") {
      Streams.wordCountStream(spark, inDir).writeStream.format("memory").queryName("wordcount")
        .outputMode("complete").option("checkpointLocation", s"$tmp/wc-ckpt")
        .trigger(Trigger.ProcessingTime(a("trigger-ms").toLong)).start()
    }
    def arrive(i: Int): Unit = {
      val staged = Paths.get(stage, files(i).getFileName.toString)
      Files.copy(files(i), staged)
      Files.move(staged, Paths.get(inDir, files(i).getFileName.toString), StandardCopyOption.ATOMIC_MOVE)
    }
    // the first batch of a fresh query runs ~2.5 s; it takes the first two
    // arrivals at once, before the schedule starts
    val due = new Array[Long](n); val wrote = new Array[Long](n)
    for (i <- 0 until 2) { due(i) = System.currentTimeMillis(); arrive(i); wrote(i) = due(i) }
    q.processAllAvailable()
    // processing-time triggers fire on multiples of the interval since the
    // epoch; the schedule keeps a fixed phase to them (arrivals 50 ms after
    // a trigger tick), so the wait for the next trigger does not vary by run
    val tick = a("trigger-ms").toLong
    val start = (System.currentTimeMillis() + 500) / tick * tick + tick + 50 - 200
    val gen = new Thread(() => {
      for (i <- 2 until n) {
        due(i) = start + math.round(i * 1000.0 / rate)
        val wait = due(i) - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        arrive(i)
        wrote(i) = System.currentTimeMillis()
      }
    }, "perfbench-arrivals")
    gen.start(); gen.join()
    val legEnd = start + math.round(n * 1000.0 / rate)
    val idle = legEnd - System.currentTimeMillis()
    if (idle > 0) Thread.sleep(idle)
    q.processAllAvailable()
    q.stop()
    record("open_loop") = Map("rate_files_per_s" -> rate, "files" -> n, "warmup_files" -> warmup,
      "trigger_ms" -> a("trigger-ms").toLong,
      "lines_per_file" -> 500, "start_ms" -> due(warmup), "end_ms" -> legEnd,
      "due_ms" -> due.toSeq, "wrote_ms" -> wrote.toSeq, "progress" -> progressJson(q),
      "run_id" -> q.runId.toString, "exception" -> q.exception.map(_.toString))
    tracer.phase = "verify"
    spark.table("wordcount").coalesce(1).write.parquet(s"$out/results/wordcount")
  }

  /** Closed loop: the spout -> dedup -> versioned-sink topology drains the
    * first `ingest-files` arrival batches (one file per trigger) against
    * the sf0.1 corpus. */
  private def closedLoop(feed: String, dir: String): Unit = {
    val m = a("ingest-files").toInt
    val inDir = s"$tmp/ingest-in"; val store = s"$tmp/ingest-store"
    Files.createDirectories(Paths.get(inDir))
    val files = listFiles(s"$feed/docs", ".parquet").take(m)
    files.foreach(f => Files.copy(f, Paths.get(inDir, f.getFileName.toString)))
    val corpusDocs = spark.read.parquet(s"$dir/documents.parquet")
    val t0 = System.nanoTime()
    val q = tracer.span("ingest", "streaming") {
      val q = IngestDedup.start(spark, corpusDocs, inDir, store, s"$tmp/ingest-ckpt")
      q.awaitTermination()
      q
    }
    val drainS = secs(t0)
    val versions = tracer.span("listVersions", "sources") { VersionedStore.listVersions(store) }
    def bytes(d: String) = Files.walk(Paths.get(d)).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet")).map(Files.size).sum
    record("closed_loop") = Map("files" -> files.size, "docs" -> files.size * 500,
      "drain_s" -> drainS, "versions" -> versions.sorted, "input_bytes" -> bytes(inDir),
      "store_bytes" -> bytes(store), "progress" -> progressJson(q), "run_id" -> q.runId.toString)
    tracer.phase = "verify"
    val pairs = versions.sorted.map(v => VersionedStore.readVersion(spark, store, v)
      .withColumn("version", lit(v)))
    if (pairs.nonEmpty)
      pairs.reduce(_ unionByName _).coalesce(1).write.parquet(s"$out/results/ingest_pairs")
    tracer.phase = "measure"
  }

  // ---- trace record ------------------------------------------------------

  private def traceRecord(): Map[String, Any] = {
    def rel(t: Long) = (t - nanoOrigin) / 1e9
    val spans = tracer.all.map(s => Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
      "name" -> s.name, "layer" -> s.layer, "phase" -> s.phase,
      "start_s" -> rel(s.start), "end_s" -> rel(s.end)))
    jobs.synchronized {
      val js = jobs.jobs.values.map(j => Map("job" -> j.jobId, "span" -> j.span,
        "stream_run" -> j.streamRun, "batch" -> j.batchId, "ok" -> j.ok,
        "start_s" -> rel(j.start), "end_s" -> rel(j.end), "stages" -> j.stages.toList)).toList
      val st = jobs.stages.values.map(s => Map("stage" -> s.stageId, "job" -> s.jobId,
        "tasks" -> s.tasks, "failed_tasks" -> s.failedTasks, "run_ms" -> s.runMs,
        "cpu_ns" -> s.cpuNs, "gc_ms" -> s.gcMs, "shuffle_read" -> s.shuffleRead,
        "shuffle_write" -> s.shuffleWrite, "spill" -> s.spill, "input" -> s.input,
        "peak_mem" -> s.peakMem, "start_s" -> rel(s.submitted), "end_s" -> rel(s.completed))).toList
      val pr = progress.synchronized(progress.progress.toList.map(p => Json.Raw(p.json)))
      Map("cores" -> cores, "spans" -> spans, "jobs" -> js, "stages" -> st, "progress" -> pr)
    }
  }
}
