package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.PerfBenchBus
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. Runs one workload closed-loop with a
  * single client: set-up rounds, then timed passes until `--seconds`
  * have passed, and writes every raw sample to `<out>/record.json`.
  * `perfbench/run.py` generates the inputs, builds and launches this,
  * checks the outputs and turns the record into metrics.
  *
  * Arguments: `--workload W --seed N --seconds S --trace 0|1 --out DIR
  * --data DIR[,DIR...] [--passes N]`: one copy of the inputs per set-up
  * round. Each round opens a new SparkSession over its own copy and
  * runs one warm pass; round 1 runs from process start and keeps the
  * outputs that get checked. Timed passes reuse the last round's
  * session and inputs.
  * With `--trace 1` passes alternate traced and untraced, so one run
  * gives the per-layer numbers and the tracing overhead. */
object PerfBench {
  val Warehouse = Seq("q_tpch_q1", "q_tpch_q5", "q_tpch_q13", "q_window_rank", "q_cube")
  val Text = Seq("q_pipeline_prepare", "q_dedup_minhash", "q_url_etld", "q_text_langid2",
    "q_rep_gopher")
  val Analytics = Seq("q_tpch_q5", "q_dedup_minhash", "q_url_etld")

  final case class Conf(workload: String, seed: Long, seconds: Double, trace: Boolean,
      out: String, data: Seq[String], passes: Option[Int])

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val conf = Conf(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv.getOrElse("trace", "0") == "1", kv("out"), kv("data").split(',').toSeq,
      kv.get("passes").map(_.toInt))
    val ok = new PerfBench(conf).run()
    sys.exit(if (ok) 0 else 1)
  }

  def workload(name: String, seed: Long): Workload = name match {
    case "warehouse" => new QueryWorkload(Warehouse, seed)
    case "text" => new QueryWorkload(Text, seed)
    case "analytics" => new QueryWorkload(Analytics, seed)
    case "lakehouse" => new LakehouseWorkload(seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

final class PerfBench(conf: PerfBench.Conf) {
  private val nproc = Runtime.getRuntime.availableProcessors()
  private val w = PerfBench.workload(conf.workload, conf.seed)
  private val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val checks = mutable.ArrayBuffer.empty[Check]
  private var heapPeak = 0L
  private val stalls = new StallProbe

  /** Files seen under the table directories: path -> (size, mtime). */
  private val seenFiles = mutable.Map.empty[String, (Long, Long)]
  private val writtenFiles = mutable.Set.empty[(String, Long, Long)]

  def run(): Boolean = {
    // Set-up round 1 runs from process start and keeps every output for
    // the checks. Every round opens a new session over its own copy of
    // the inputs (graft's schema memo is keyed by path, so it starts
    // cold) and fully evaluates one warm pass.
    val procStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val results = s"${conf.out}/results"
    var spark: SparkSession = null
    val sessionS = mutable.ArrayBuffer.empty[Double]
    val setupS = conf.data.zipWithIndex.map { case (dir, i) =>
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = if (i == 0) procStart else Clock.nowMs()
      spark = session()
      sessionS += (Clock.nowMs() - t0) / 1000.0
      val sink = if (i == 0 && w.checkedOutputs.nonEmpty) Sink.Parquet(results) else Sink.Noop
      val pre = if (i == 0) w.begin(spark, dir, s"${conf.out}/tables") else Nil
      runPass(spark, dir, -1 - i, pre ++ w.warmup(i == 0), sink, None, timed = false)
      (Clock.nowMs() - t0) / 1000.0
    }

    val dir = conf.data.last
    val tracer = if (conf.trace) Some(new Tracer) else None
    val calStart = calibrate()
    stalls.start()
    if (conf.trace) walkTables(count = false) // the stream's files before the timed passes
    val t0 = Clock.nowMs()
    // a traced run makes two traced and two untraced passes at least,
    // so each side holds an odd and an even lakehouse round
    val minPasses = if (conf.trace) 4 else w.minPasses
    var p = 1
    def more = conf.passes match {
      case Some(n) => p <= n
      case None => p <= minPasses || (Clock.nowMs() - t0) / 1000.0 < conf.seconds
    }
    while (more) {
      // traced, untraced, untraced, traced, ...: passes that grow with
      // the stream (lakehouse) weigh the same on both sides
      val traced = tracer.filter(_ => p % 4 <= 1)
      traced.foreach { tr =>
        walkTables() // files the untraced passes wrote stay theirs
        spark.sparkContext.addSparkListener(tr)
        spark.listenerManager.register(tr)
      }
      runPass(spark, dir, p, w.pass(p), Sink.Noop, traced, timed = true)
      traced.foreach { tr =>
        spark.sparkContext.removeSparkListener(tr)
        spark.listenerManager.unregister(tr)
      }
      p += 1
    }
    val measuredS = (Clock.nowMs() - t0) / 1000.0
    val calS = math.min(calStart, calibrate())
    checks ++= w.finish(spark)
    val lake = if (conf.trace && w.tableDirs.nonEmpty) lakeBytes(spark) else Map.empty[String, Any]

    val sc = spark.sparkContext
    val record = Map(
      "workload" -> conf.workload, "seed" -> conf.seed, "trace" -> conf.trace,
      "provenance" -> Map(
        "nproc" -> nproc, "default_parallelism" -> sc.defaultParallelism,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "spark_version" -> spark.version,
        "java_version" -> System.getProperty("java.version"),
        "scala_version" -> scala.util.Properties.versionNumberString,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "queries" -> w.streamDigest),
      "setup_s" -> setupS, "session_s" -> sessionS, "measured_s" -> measuredS,
      "host" -> Map("cal_s" -> calS, "stall_s" -> stalls.seconds, "stalls" -> stalls.count),
      "heap_peak_mb" -> heapPeak / 1048576.0,
      "passes" -> passes, "ops" -> ops, "checked_outputs" -> w.checkedOutputs,
      "checks" -> checks.map(c => Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)),
      "lake" -> lake, "stream_digest" -> w.streamDigest)
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    def write(name: String, v: Any) =
      Files.writeString(Paths.get(s"${conf.out}/$name"), json.writeValueAsString(v))
    write("record.json", record)
    write("spans.json", spans)
    write("oracle_sql.json",
      graft.SparkEntry.oracleSql.filter { case (k, _) => w.checkedOutputs.contains(k) })
    spark.stop()
    checks.forall(_.ok)
  }

  private def session(): SparkSession = {
    val work = new File(conf.out).getAbsolutePath
    val s = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Runs one pass; `p` < 0 is a set-up round. A timed pass goes into
    * the pass record, and after a traced one the heap left after a full
    * GC is sampled. */
  private def runPass(spark: SparkSession, dir: String, p: Int, passOps: Seq[Op],
      sink: Sink, tracer: Option[Tracer], timed: Boolean): Unit = {
    val sc = spark.sparkContext
    val stall0 = stalls.seconds
    val w0 = Clock.nowMs()
    passOps.zipWithIndex.foreach { case (op, i) =>
      val id = s"p$p.$i.${op.name}"
      val ctx = new Ctx(spark, dir, sink)
      sc.setLocalProperty(Tracer.OpProperty, id)
      tracer.foreach(_.currentOp = id)
      val s = Clock.nowMs()
      val err = try { op.run(ctx); None } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] ${conf.workload} $id failed: $e")
          e.printStackTrace()
          Some(e.toString)
      }
      val e = Clock.nowMs()
      sc.setLocalProperty(Tracer.OpProperty, null)
      val m = tracer.map { tr =>
        PerfBenchBus.drain(sc)
        tr.currentOp = ""
        val opSpan = Span(id, op.kind, s, e)
        val calls = ctx.calls.map(_.copy(op = id)).toSeq
        spans += opSpan
        spans ++= calls
        val st = tr.stats(id)
        st.jobSpans.foreach { case (a, b) => spans += Span(id, "job", a.toDouble, b.toDouble) }
        st.phaseSpans.foreach { case (n, a, b) => spans += Span(id, s"catalyst.$n", a.toDouble, b.toDouble) }
        layerMetrics(op, opSpan, calls, st)
      }.getOrElse(Map.empty[String, Double])
      ops += Map("pass" -> p, "name" -> op.name, "kind" -> op.kind,
        "traced" -> tracer.nonEmpty, "dur_s" -> (e - s) / 1000.0, "ok" -> err.isEmpty,
        "error" -> err, "rows" -> ctx.resultRows, "m" -> m)
    }
    if (timed) {
      passes += Map("pass" -> p, "traced" -> tracer.nonEmpty,
        "wall_s" -> (Clock.nowMs() - w0) / 1000.0,
        "stall_s" -> (stalls.seconds - stall0))
      if (tracer.nonEmpty) heapPeak = math.max(heapPeak, liveHeap())
    }
  }

  private def layerMetrics(op: Op, opSpan: Span, calls: Seq[Span], st: OpStats): Map[String, Double] = {
    def callS(name: String) = calls.filter(_.name == name).map(c => c.endMs - c.startMs).sum / 1000.0
    val builds = calls.filter(_.name == "verbs.build")
    val buildJobs = st.jobSpans.count { case (a, _) => builds.exists(b => a >= b.startMs && a <= b.endMs) }
    val gap = (opSpan.endMs - opSpan.startMs - Tracer.unionMs(st.jobSpans.toSeq, opSpan.startMs, opSpan.endMs)) / 1000.0
    val commit = op.kind == "commit"
    val files = if (commit) walkTables() else (0L, 0L, 0L)
    val self = Tracer.selfTimes(opSpan, calls, st)
    Map(
      "verbs.build_s" -> callS("verbs.build"), "verbs.build_jobs" -> buildJobs.toDouble,
      "catalyst.analysis_s" -> st.phaseMs("analysis") / 1000.0,
      "catalyst.optimization_s" -> st.phaseMs("optimization") / 1000.0,
      "catalyst.planning_s" -> st.phaseMs("planning") / 1000.0,
      "catalyst.exchanges" -> st.exchanges.toDouble,
      "catalyst.reused_exchanges" -> st.reusedExchanges.toDouble,
      "catalyst.broadcasts" -> st.broadcasts.toDouble,
      "exec.jobs" -> st.jobs.toDouble, "exec.stages" -> st.stages.toDouble,
      "exec.tasks" -> st.tasks.toDouble,
      "exec.driver_gap_s" -> (if (commit) 0.0 else gap),
      "exec.shuffle_write_bytes" -> st.shuffleWriteBytes.toDouble,
      "exec.shuffle_read_bytes" -> st.shuffleReadBytes.toDouble,
      "exec.spill_bytes" -> st.spillBytes.toDouble,
      "exec.task_cpu_s" -> st.taskCpuNs / 1e9, "exec.task_run_s" -> st.taskRunMs / 1000.0,
      "exec.gc_s" -> st.gcMs / 1000.0, "exec.task_wait_s" -> st.taskWaitMs / 1000.0,
      "scan.open_s" -> callS("scan.open"), "scan.files_read" -> st.scanFiles.toDouble,
      "scan.bytes_read" -> st.inputBytes.toDouble, "scan.rows" -> st.scanRows.toDouble,
      "commit.jobs" -> (if (commit) st.jobs.toDouble else 0.0),
      "commit.driver_gap_s" -> (if (commit) gap else 0.0),
      "commit.files_written" -> files._1.toDouble,
      "commit.bytes_written" -> files._2.toDouble,
      "commit.log_bytes" -> files._3.toDouble) ++
      Seq("verbs", "catalyst", "exec", "scan", "commit", "bench")
        .map(l => s"self.${l}_s" -> self.getOrElse(l, 0.0))
  }

  /** Lists the table directories; returns the files, bytes and log
    * bytes (Delta `_delta_log`, Iceberg `metadata`) new since the last
    * listing, and with `count` adds them to the bytes the timed passes
    * wrote. */
  private def walkTables(count: Boolean = true): (Long, Long, Long) = {
    var n, bytes, log = 0L
    w.tableDirs.map(Paths.get(_)).filter(Files.exists(_)).foreach { root =>
      Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_)).foreach { f =>
        val key = (Files.size(f), Files.getLastModifiedTime(f).toMillis)
        val path = f.toString
        if (!seenFiles.get(path).contains(key)) {
          seenFiles(path) = key
          if (count) writtenFiles += ((path, key._1, key._2))
          n += 1
          bytes += key._1
          if (path.contains("/_delta_log/") || path.contains("/metadata/")) log += key._1
        }
      }
    }
    (n, bytes, log)
  }

  /** Bytes the stream wrote under the table directories, the bytes
    * there now, and the parquet bytes of the final live rows written
    * once as a single file. */
  private def lakeBytes(spark: SparkSession): Map[String, Any] = {
    walkTables()
    val dirBytes = seenFiles.filter { case (p, _) => Files.exists(Paths.get(p)) }.values.map(_._1).sum
    val live = s"${conf.out}/live"
    graft.sources.DeltaScan.read(spark, w.tableDirs.head).coalesce(1)
      .write.mode("overwrite").parquet(live)
    val liveBytes = new File(live).listFiles().filter(_.getName.endsWith(".parquet")).map(_.length).sum
    Map("written_bytes" -> writtenFiles.toSeq.map(_._2).sum, "dir_bytes" -> dirBytes,
      "live_bytes" -> liveBytes, "tables" -> w.tableDirs.size)
  }

  /** Heap in use after a full collection, outside any timed pass: what
    * the process keeps live between passes. */
  private def liveHeap(): Long = {
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
  }

  /** Fixed single-thread CPU kernel (2^26 rounds of 64-bit mixing): host
    * speed, for marking slow or noisy runs. */
  private def calibrate(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < (1 << 26)) {
      x = (x ^ (x >>> 33)) * 0xFF51AFD7ED558CCDL
      x ^= i
      i += 1
    }
    if (x == 42L) System.err.print("")
    (System.nanoTime() - t0) / 1e9
  }
}

/** 10 ms heartbeat thread: a wake-up more than 100 ms late means the
  * JVM lost the CPU for that long (a host stall). */
final class StallProbe {
  @volatile private var stalledNs = 0L
  @volatile var count = 0L
  def seconds: Double = stalledNs / 1e9

  def start(): Unit = {
    val t = new Thread(() => {
      var last = System.nanoTime()
      while (true) {
        Thread.sleep(10)
        val now = System.nanoTime()
        val gap = now - last - 10000000L
        if (gap > 100000000L) { count += 1; stalledNs += gap }
        last = now
      }
    }, "perfbench-stall-probe")
    t.setDaemon(true)
    t.start()
  }
}
