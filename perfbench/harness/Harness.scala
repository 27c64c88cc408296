package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** Benchmark harness: runs one workload against the engine's public
  * entry points and writes a raw record (op windows, spans, Spark jobs,
  * query-execution phases, store listings, check digests) as JSON. All
  * metric arithmetic happens in `perfbench/metrics.py`; this side only
  * observes. Nothing here changes engine state beyond what the calls
  * themselves do.
  *
  * Usage (normally launched by `perfbench/run.py`):
  *   graft.perfbench.Harness key=value ...
  * keys: workload data work schedule trace_schedule seconds trace out cpus check
  */
object Harness {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  /** Epoch milliseconds with nanosecond resolution (one clock for the
    * harness's own timestamps; Spark's listener times are epoch ms). */
  def now(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  // ---- spans ----------------------------------------------------------
  final case class Span(id: Int, name: String, t0: Double, t1: Double,
      parent: Int, op: Int)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val spanIds = new java.util.concurrent.atomic.AtomicInteger(0)
  private val stack = new ThreadLocal[List[(Int, Int)]] { // (span id, op id)
    override def initialValue(): List[(Int, Int)] = Nil
  }
  @volatile private var tracing = false

  /** Time `body` as a span named `name`; nested calls parent to the
    * innermost open span on this thread. Spans are kept in memory and
    * written with the record. Without tracing only the op span is kept. */
  def span[T](name: String, op: Int = -1)(body: => T): T = {
    val outer = stack.get()
    val opId = if (op >= 0) op else outer.headOption.map(_._2).getOrElse(-1)
    if (!tracing && outer.nonEmpty) return body
    val id = spanIds.incrementAndGet()
    stack.set((id, opId) :: outer)
    val t0 = now()
    try body
    finally {
      spans.add(Span(id, name, t0, now(), outer.headOption.map(_._1).getOrElse(0), opId))
      stack.set(outer)
    }
  }

  /** `f` run on another thread with this thread's open spans as its
    * parents (for work handed to a pool). */
  def carry(f: () => Unit): () => Unit = {
    val ctx = stack.get()
    () => { stack.set(ctx); try f() finally stack.set(Nil) }
  }

  // ---- Spark observation (registered only when tracing) ---------------
  final class JobRec(val id: Int, val t0: Long, val group: String) {
    @volatile var t1: Long = -1L
    @volatile var firstLaunch: Long = Long.MaxValue
    var stages = 0; var tasks = 0
    var runMs, cpuNs, deserMs, gcMs, swBytes, srBytes, fetchMs, spillBytes,
      inRows, inBytes = 0L
  }
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()

  object JobTap extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      jobs.put(e.jobId, new JobRec(e.jobId, e.time, g))
      e.stageIds.foreach(stageJob.put(_, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.t1 = e.time)
    private def job(stage: Int) = Option(stageJob.get(stage)).flatMap(j => Option(jobs.get(j)))
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      job(e.stageInfo.stageId).foreach { j =>
        j.synchronized { j.stages += 1; j.tasks += e.stageInfo.numTasks } }
    override def onTaskStart(e: SparkListenerTaskStart): Unit =
      job(e.stageId).foreach { j =>
        j.synchronized { j.firstLaunch = math.min(j.firstLaunch, e.taskInfo.launchTime) } }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) job(e.stageId).foreach { j => j.synchronized {
        j.runMs += m.executorRunTime; j.cpuNs += m.executorCpuTime
        j.deserMs += m.executorDeserializeTime; j.gcMs += m.jvmGCTime
        j.swBytes += m.shuffleWriteMetrics.bytesWritten
        j.srBytes += m.shuffleReadMetrics.totalBytesRead
        j.fetchMs += m.shuffleReadMetrics.fetchWaitTime
        j.spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
        j.inRows += m.inputMetrics.recordsRead; j.inBytes += m.inputMetrics.bytesRead
      } }
    }
  }

  final case class QeRec(t0: Double, analysis: Long, optimization: Long, planning: Long,
      graftNs: Long, graftEff: Long, held: Boolean)
  private val qes = new ConcurrentLinkedQueue[QeRec]()

  object QeTap extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
      val start = ph.values.map(_.startTimeMs).reduceOption(_ min _)
        .getOrElse(System.currentTimeMillis()).toDouble
      val graft = qe.tracker.rules.filter(_._1.startsWith("graft."))
      val held = qe.analyzed.collectFirst { case r: LogicalRDD => r }.isDefined
      qes.add(QeRec(start, ms("analysis"), ms("optimization"), ms("planning"),
        graft.values.map(_.totalTimeNs).sum, graft.values.map(_.numEffectiveInvocations).sum,
        held))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  // ---- the record -----------------------------------------------------
  final case class Op(id: Int, kind: String, cls: String, t0: Double, t1: Double,
      ok: Boolean, err: String, rows: Long, digest: String)
  private val ops = ArrayBuffer.empty[Op]        // the measured window
  private val traceOps = ArrayBuffer.empty[Op]   // traced runs, after the window
  private val TraceOpBase = 1000000
  private val notes = scala.collection.mutable.LinkedHashMap.empty[String, String]
  private val listings = ArrayBuffer.empty[String]
  def note(k: String, v: Any): Unit = notes(k) = Json.value(v)

  def main(argv: Array[String]): Unit = {
    val a = argv.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val cpus = a("cpus")
    tracing = a("trace") == "1"
    note("jvm_start_ms",
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a("work")}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a("work")}/warehouse")
      .getOrCreate()
    if (tracing) {
      spark.sparkContext.addSparkListener(JobTap)
      spark.listenerManager.register(QeTap)
    }
    note("session_ready_ms", now())
    note("spark_version", spark.version)
    note("java_version", System.getProperty("java.version"))
    note("spark_width", spark.sparkContext.defaultParallelism)
    val rounds = readTokens(a("schedule"))
    val checks = a.get("check").filter(_.nonEmpty).map(_.split(",").toSeq).getOrElse(Nil)
    val w: Workload = a("workload") match {
      case "etl_scan" => new EtlScan(spark, a("data"))
      case "serve_maintain" => new ServeMaintain(spark, a("data"), a("work"))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    w.setup()
    note("setup_done_ms", now())
    // ---- measured window: closed loop, one client thread; whole rounds
    // only, so every run measures the same mix of op costs ----
    val deadline = now() + a("seconds").toDouble * 1000
    note("measure_start_ms", now())
    var i = 0
    for (item <- rounds.iterator.takeWhile(_ => now() < deadline).flatten) {
      ops += runOp(w, spark, item, i)
      i += 1
    }
    note("measure_end_ms", now())
    // the heap the engine still holds after the window (held artifacts,
    // caches): live data after a full collection
    System.gc()
    note("live_heap_mb",
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0)
    // ---- untimed: trace-only probes, then correctness checks ----
    if (tracing) {
      // the trace-only ops (more waves and compactions), after the window
      // and outside every end-to-end metric
      for ((item, k) <- readTokens(a("trace_schedule")).flatten.zipWithIndex)
        traceOps += runOp(w, spark, item, TraceOpBase + k)
      // per-job overhead (µs per trivial one-stage job), as Bench records it
      val t0 = System.nanoTime()
      for (_ <- 1 to 50) spark.range(8).count()
      note("job_overhead_us", (System.nanoTime() - t0) / 50000.0)
      Kernels.run(spark, a("data"))
    }
    val checkRes = w.check(checks, a("work"))
    org.apache.spark.perfbench.BusDrain(spark.sparkContext)
    val gcMs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).filter(_ > 0).sum
    note("jvm_gc_ms", gcMs)
    note("heap_peak_mb", java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0)
    note("vm_hwm_mb", vmHwmMb())
    writeRecord(a("out"), checkRes)
    spark.stop()
  }

  /** One round per line, op tokens `<cls>:<kind>` separated by spaces. */
  private def readTokens(path: String): IndexedSeq[Seq[String]] =
    new String(Files.readAllBytes(Paths.get(path)), UTF_8)
      .split("\n").map(_.trim).filter(_.nonEmpty).map(_.split(" ").toSeq).toIndexedSeq

  /** Run one op token as op `id`: its own job group and op span; a
    * failure is recorded, not thrown. */
  private def runOp(w: Workload, spark: SparkSession, item: String, id: Int): Op = {
    val (cls, kind) = item.span(_ != ':') match { case (c, k) => c -> k.drop(1) }
    val t0 = now()
    spark.sparkContext.setJobGroup(s"op-$id", item, interruptOnCancel = false)
    val res = try span(s"op:$cls", id)(Right(w.run(cls, kind, id)))
      catch { case e: Throwable => Left(e) }
    val t1 = now()
    spark.sparkContext.clearJobGroup()
    w.afterOp()
    res match {
      case Right((rows, dig)) => Op(id, kind, cls, t0, t1, ok = true, "", rows, dig)
      case Left(e) =>
        System.err.println(s"[perfbench] op $id $item failed: $e")
        Op(id, kind, cls, t0, t1, ok = false, String.valueOf(e.getMessage), -1, "")
    }
  }

  private def vmHwmMb(): Double =
    new String(Files.readAllBytes(Paths.get("/proc/self/status")), UTF_8).split("\n")
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024)
      .getOrElse(0.0)

  /** One line per filesystem listing: (label, op id, store, files, bytes,
    * tomb bytes, generation dirs) — trace mode only. */
  def listing(label: String, op: Int, store: String, dir: String): Unit = if (tracing) {
    val st = DirStats(dir)
    listings.synchronized {
      listings += Json.obj("label" -> label, "op" -> op, "store" -> store,
        "files" -> st.files, "bytes" -> st.bytes, "tomb_bytes" -> st.tombBytes,
        "gens" -> st.gens, "t" -> now())
    }
  }

  private def writeRecord(out: String, checks: Seq[(String, Boolean, String)]): Unit = {
    val sb = new StringBuilder("{")
    notes.foreach { case (k, v) => sb ++= Json.str(k) + ":" + v + "," }
    def opsJson(os: Seq[Op]) = os.map(o => Json.obj("id" -> o.id, "kind" -> o.kind,
      "cls" -> o.cls, "t0" -> o.t0, "t1" -> o.t1, "ok" -> o.ok, "err" -> o.err,
      "rows" -> o.rows, "digest" -> o.digest)).mkString("[", ",", "]")
    sb ++= "\"ops\":" + opsJson(ops.toSeq) + ",\"trace_ops\":" + opsJson(traceOps.toSeq) + ","
    sb ++= "\"spans\":[" + spans.asScala.map(s => Json.obj("id" -> s.id, "name" -> s.name,
      "t0" -> s.t0, "t1" -> s.t1, "parent" -> s.parent, "op" -> s.op)).mkString(",") + "],"
    sb ++= "\"jobs\":[" + jobs.values.asScala.toSeq.sortBy(_.id).map(j => Json.obj(
      "id" -> j.id, "t0" -> j.t0, "t1" -> j.t1, "group" -> j.group, "stages" -> j.stages,
      "tasks" -> j.tasks,
      "first_launch" -> (if (j.firstLaunch == Long.MaxValue) -1L else j.firstLaunch),
      "run_ms" -> j.runMs, "cpu_ms" -> j.cpuNs / 1e6, "deser_ms" -> j.deserMs,
      "gc_ms" -> j.gcMs, "sw_bytes" -> j.swBytes, "sr_bytes" -> j.srBytes,
      "fetch_ms" -> j.fetchMs, "spill_bytes" -> j.spillBytes, "in_rows" -> j.inRows,
      "in_bytes" -> j.inBytes)).mkString(",") + "],"
    sb ++= "\"qes\":[" + qes.asScala.map(q => Json.obj("t0" -> q.t0,
      "analysis" -> q.analysis, "optimization" -> q.optimization, "planning" -> q.planning,
      "graft_ns" -> q.graftNs, "graft_eff" -> q.graftEff, "held" -> q.held)).mkString(",") + "],"
    sb ++= "\"listings\":[" + listings.mkString(",") + "],"
    sb ++= "\"checks\":[" + checks.map { case (n, ok, d) =>
      Json.obj("name" -> n, "ok" -> ok, "detail" -> d) }.mkString(",") + "]}"
    Files.write(Paths.get(out), sb.toString.getBytes(UTF_8))
  }

  /** Order-insensitive digest of a frame's rows: (row count, sum of
    * 64-bit row hashes) — equal multisets give equal digests. */
  def digest(df: DataFrame): (Long, String) = {
    val r = df.select(xxhash64(df.columns.map(col).toIndexedSeq: _*).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h").cast("decimal(38,0)")), lit(0)))
      .head()
    (r.getLong(0), s"${r.getLong(0)}:${r.get(1)}")
  }
}

/** Filesystem totals of one store directory. */
final case class DirStats(files: Long, bytes: Long, tombBytes: Long, gens: Long)
object DirStats {
  def apply(dir: String): DirStats = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) return DirStats(0, 0, 0, 0)
    var files, bytes, tomb, gens = 0L
    val it = Files.walk(root).iterator()
    while (it.hasNext) {
      val p = it.next()
      val rel = root.relativize(p).toString
      if (Files.isDirectory(p)) {
        if (p.getFileName.toString.startsWith("gen=")) gens += 1
      } else if (!p.getFileName.toString.startsWith(".")) {
        val n = Files.size(p)
        files += 1; bytes += n
        if (rel.startsWith("tombs")) tomb += n
      }
    }
    DirStats(files, bytes, tomb, gens)
  }
}

/** Minimal JSON writer (the record is flat data). */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + value(x) }
      .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
