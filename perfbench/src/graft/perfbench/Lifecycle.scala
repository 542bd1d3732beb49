package graft.perfbench

import graft.SparkEntry
import graft.domain.{Accounting, ChainFixture}
import graft.streaming.TipInspect
import org.apache.spark.sql.{DataFrame, PerfbenchBridge, SparkSession}

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The benchmark's program side: runs one workload against the repository's
  * public layer functions and registered entries, and writes what it
  * measured as JSON. `perfbench/run.py` builds this, generates the inputs,
  * launches it, checks the outputs against the DuckDB oracles and turns the
  * JSON into metrics.
  *
  * Usage: Lifecycle <workload> <dataDir> <workDir> <seconds> <trace 0|1>
  *
  * Set-up is the session plus whatever the workload reads but does not
  * build itself. Then passes run until `seconds` have elapsed, at least one.
  * The first pass runs in a cold JVM, as a `brontes run` invocation does:
  * Spark's planning and code generation dominate this system at any input
  * size, so a JVM warmed by an untimed pass would hide most of what a user
  * waits for. One driver thread issues one action at a time (closed loop).
  * Each query's result is written as parquet to a per-pass directory: that
  * write is the action, and the oracle check reads the last pass's files.
  */
object Lifecycle {

  /** One action of a pass: a store build (the call writes the store) or a
    * registered entry whose result is written out. */
  final case class Op(name: String, layer: String, run: (SparkSession, String) => DataFrame,
      writesResult: Boolean)

  private def build(name: String, layer: String)(f: (SparkSession, String) => DataFrame) =
    Op(name, layer, f, writesResult = false)
  private def entry(name: String, layer: String) =
    Op(name, layer, SparkEntry.queries(name), writesResult = true)

  /** `brontes run` over the whole range, raw tables to composed MEV blocks,
    * one step per layer; then corpus entries that derive three of the
    * corpus family's text units (shingles, grams, lines). */
  val batchSteps: Seq[Op] = Seq(
    build("traces", "store")(ChainFixture.tracesTable),
    build("calldata", "classify")(ChainFixture.calldataTable),
    build("actions", "classify")(ChainFixture.actionsTable),
    build("headers", "accounting")(Accounting.bundleHeaders),
    entry("j2_dex_asof", "pricing"),
    entry("q1_sandwich", "inspect"),
    entry("q9_mev_block", "compose"),
    entry("d2_minhash_lsh", "corpus"),
    entry("d10_substring_dedup", "corpus"),
    entry("d15_line_dedup", "corpus"))

  /** The composer entry drives the shared stream; the inspect entry reads
    * the same run's other output surface. */
  val tipEntries: Seq[Op] =
    Seq(entry("r2_tip_composer", "stream"), entry("r2_tip_inspect", "stream"))

  val Layers: Seq[String] =
    Seq("store", "classify", "accounting", "pricing", "inspect", "compose", "stream", "corpus")

  def main(args: Array[String]): Unit = {
    val Array(workload, dataDir, workDir, secondsArg, traceArg) = args
    val (seconds, trace) = (secondsArg.toDouble, traceArg == "1")
    val cpus = math.min(4, Runtime.getRuntime.availableProcessors)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sc = spark.sparkContext
    val tracer = new Tracer
    sc.addSparkListener(tracer)
    val tmpDir = Paths.get(System.getProperty("java.io.tmpdir"))

    // batch passes each write a fresh store root; the tip stream reads the
    // traces store, built once in set-up
    val (ops, beforePass, coldStores) = workload match {
      case "batch_backfill" => (batchSteps, () => (), true)
      case "tip_follow" => (tipEntries, () => TipInspect.resetTipRuns(), false)
      case w => sys.error(s"unknown workload '$w'")
    }
    def storeRoot(pass: Int): Path =
      Paths.get(workDir, "stores", if (coldStores) s"pass$pass" else "shared")
    def useStoreRoot(pass: Int): Unit =
      spark.conf.set("spark.graft.matRoot", storeRoot(pass).resolve("m").toString)

    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    // JIT compilation and GC time, for the detail file: a cold pass's CPU
    // time is mostly the JIT compiling Spark
    def jitMs = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
    def gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    var drainNs = 0L
    final case class OpResult(op: Op, seconds: Double, cpu: Double, error: Option[String],
        heldBytes: Long, cachedRddBytes: Long)
    def runOp(op: Op, outDir: String): OpResult = {
      val group = s"${op.layer}:${op.name}:$outDir"
      if (trace) { tracer.openSpan(group, op.layer); sc.setJobGroup(group, op.name) }
      val held0 = PerfbenchBridge.storageMemoryUsed(sc)
      val (t0, c0) = (System.nanoTime(), os.getProcessCpuTime)
      val error =
        try {
          val df = op.run(spark, dataDir)
          if (op.writesResult) df.write.mode("overwrite").parquet(s"$outDir/${op.name}")
          None
        } catch { case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}".take(500)) }
      if (trace) {
        val d0 = System.nanoTime()
        PerfbenchBridge.drainListenerBus(sc)
        drainNs += System.nanoTime() - d0
        tracer.closeSpan()
        sc.clearJobGroup()
      }
      val s = (System.nanoTime() - t0) / 1e9
      val cpu = (os.getProcessCpuTime - c0) / 1e9
      if (trace) tracer.stats(op.layer).wallNs += (s * 1e9).toLong
      // what the op still holds when it ends (cached Datasets, checkpoints,
      // broadcasts), read before the cache is cleared the way the
      // repository's own drivers clear it after every query
      val held = PerfbenchBridge.storageMemoryUsed(sc) - held0
      val cachedRdd = sc.getRDDStorageInfo.map(_.memSize).sum
      spark.sharedState.cacheManager.clearCache()
      OpResult(op, s, cpu, error, held, cachedRdd)
    }

    // ── set-up ────────────────────────────────────────────────────────────
    val setupErrors =
      if (coldStores) Nil
      else {
        useStoreRoot(0)
        try { ChainFixture.tracesTable(spark, dataDir); Nil }
        catch { case e: Throwable => List(e.toString.take(500)) }
      }
    val (setupEndMs, setupCpu) = (System.currentTimeMillis(), os.getProcessCpuTime / 1e9)
    tracer.tracing = trace
    val cpuClock = new CpuSampler(os)

    // ── timed passes ──────────────────────────────────────────────────────
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val passes = Iterator.from(0).takeWhile(k => k == 0 || System.nanoTime() < deadline)
      .map { k =>
        val outDir = s"$workDir/out/pass$k"
        useStoreRoot(k)
        val batch0 = tracer.synchronized(tracer.batches.size)
        val before = Seq(storeRoot(k), tmpDir).map(sizeOf)
        val (t0, c0) = (System.nanoTime(), os.getProcessCpuTime)
        val (j0, g0) = (jitMs, gcMs)
        beforePass()
        val results = ops.map(op => runOp(op, outDir))
        val (wall, cpu) = ((System.nanoTime() - t0) / 1e9, (os.getProcessCpuTime - c0) / 1e9)
        PerfbenchBridge.drainListenerBus(sc)
        cpuClock.sample()
        val batches = tracer.synchronized(tracer.batches.drop(batch0).toList)
        val after = Seq(storeRoot(k), tmpDir).map(sizeOf)
        if (coldStores) delete(storeRoot(k))
        if (k > 0) delete(Paths.get(workDir, "out", s"pass${k - 1}"))
        Json.obj(
          "wall_s" -> wall, "cpu_s" -> cpu,
          "jit_s" -> (jitMs - j0) / 1e3, "gc_s" -> (gcMs - g0) / 1e3,
          "ops" -> results.map(r => Json.obj("name" -> r.op.name, "layer" -> r.op.layer,
            "s" -> r.seconds, "cpu_s" -> r.cpu, "error" -> r.error,
            "held_mb" -> r.heldBytes / 1e6, "cached_rdd_mb" -> r.cachedRddBytes / 1e6)),
          "batches" -> batches.map(b => Json.obj(
            "rows" -> b.inputRows, "ms" -> Json.obj(b.durations.toSeq: _*),
            "cpu_s" -> cpuClock.cpuSeconds(
              b.startMs, b.startMs + b.durations.getOrElse("triggerExecution", 0L)))),
          "written_bytes" -> after.zip(before).map { case (a, b) => a._1 - b._1 }.sum,
          "written_files" -> after.zip(before).map { case (a, b) => a._2 - b._2 }.sum,
          "held_mb" -> results.map(_.heldBytes).sum / 1e6,
          "resident_after_clear_mb" -> PerfbenchBridge.storageMemoryUsed(sc) / 1e6)
      }.toList
    cpuClock.stop()

    val n = passes.size.toDouble
    val layers = Layers.map { l =>
      val s = tracer.stats(l)
      l -> Json.obj(
        "wall_s" -> s.wallNs / 1e9 / n, "busy_s" -> s.runMs / 1e3 / n,
        "wait_s" -> s.waitMs / 1e3 / n, "plan_s" -> s.planMs / 1e3 / n,
        "tasks" -> s.tasks / n, "shuffle_mb" -> s.shuffleBytes / 1e6 / n,
        "spill_mb" -> s.spillBytes / 1e6 / n, "skew" -> s.skew)
    }
    val oracle = SparkEntry.oracleSql
    val out = Json.obj(
      "setup_end_ms" -> setupEndMs, "setup_cpu_s" -> setupCpu,
      "setup_errors" -> setupErrors,
      "passes" -> passes,
      "last_out" -> s"$workDir/out/pass${passes.size - 1}",
      "layers" -> Json.obj(layers: _*),
      "tasks_seen" -> tracer.tasksSeen, "tasks_unattributed" -> tracer.tasksUnattributed,
      "run_ms_seen" -> tracer.runMsSeen, "run_ms_unattributed" -> tracer.runMsUnattributed,
      "drain_s" -> drainNs / 1e9 / n,
      "stages_in_jobs" -> tracer.stagesInJobs, "stages_run" -> tracer.stagesRun,
      "oracle" -> Json.obj(ops.filter(_.writesResult).map(o => o.name -> oracle.get(o.name)): _*))
    Files.writeString(Paths.get(workDir, "result.json"), out.text)
    spark.stop()
  }

  /** (bytes, files) of the regular files under `root`, 0 if it is absent. */
  private def sizeOf(root: Path): (Long, Long) =
    if (!Files.exists(root)) (0L, 0L)
    else {
      val files = Files.walk(root).iterator.asScala.filter(Files.isRegularFile(_)).toList
      (files.map(Files.size).sum, files.size.toLong)
    }

  private def delete(root: Path): Unit =
    if (Files.exists(root))
      Files.walk(root).iterator.asScala.toList.reverse.foreach(Files.delete)
}

/** The JVM's CPU time, sampled against the wall clock every 10 ms, so that
  * an interval known only by its wall-clock bounds (a micro-batch, from its
  * progress event) can be given the CPU time the process spent in it. */
final class CpuSampler(os: com.sun.management.OperatingSystemMXBean) {
  private val wallMs = mutable.ArrayBuffer[Long]()
  private val cpuNs = mutable.ArrayBuffer[Long]()
  @volatile private var running = true
  private val thread = new Thread(() => while (running) { sample(); Thread.sleep(10) },
    "perfbench-cpu-sampler")
  thread.setDaemon(true)
  thread.start()

  def sample(): Unit = synchronized {
    wallMs += System.currentTimeMillis()
    cpuNs += os.getProcessCpuTime
  }

  def stop(): Unit = { running = false; thread.join() }

  /** CPU seconds between two epoch-ms instants, interpolated between samples. */
  def cpuSeconds(fromMs: Long, toMs: Long): Double = (cpuAt(toMs) - cpuAt(fromMs)) / 1e9

  private def cpuAt(t: Long): Double = synchronized {
    var (lo, hi) = (0, wallMs.size) // first sample at or after t
    while (lo < hi) { val m = (lo + hi) >>> 1; if (wallMs(m) < t) lo = m + 1 else hi = m }
    if (lo == 0) cpuNs.head.toDouble
    else if (lo == wallMs.size) cpuNs.last.toDouble
    else {
      val (t0, t1) = (wallMs(lo - 1), wallMs(lo))
      cpuNs(lo - 1) + (cpuNs(lo) - cpuNs(lo - 1)) * (t - t0).toDouble / (t1 - t0)
    }
  }
}

/** Just enough JSON for the result file. */
object Json {
  final case class Obj(text: String)

  def obj(kvs: (String, Any)*): Obj =
    Obj(kvs.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}"))

  private def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case o: Obj => o.text
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Number => n.toString
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case x => str(x.toString)
  }

  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
