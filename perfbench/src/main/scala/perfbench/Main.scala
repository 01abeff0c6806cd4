package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession

/** Benchmark process: runs one workload for a fixed measuring time and
  * writes raw samples (per-pass timings, latencies, counters, spans) as
  * JSON. `perfbench/run.py` builds, launches this and turns the raw file
  * into metrics.
  *
  * {{{
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --out <file> --work <dir>
  * }}}
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        out: String, work: String, cores: Int)

  private def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("out"), need("work"), Runtime.getRuntime.availableProcessors())
  }

  val Workloads: Map[String, Args => Workload] = Map(
    "binlog_catchup" -> (a => new BinlogCatchup(a)),
    "stream_fresh" -> (a => new StreamFresh(a)),
    "snapshot_bootstrap" -> (a => new SnapshotBootstrap(a)),
    "dedup_corpus" -> (a => new DedupCorpus(a)))

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val make = Workloads.getOrElse(a.workload,
      throw new IllegalArgumentException(s"unknown workload ${a.workload}"))
    val raw = new Raw(a)
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.local.dir", s"${a.work}/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try new Harness(spark, a, raw).run(make(a))
    catch { case t: Throwable => raw.fatal = stackOf(t) }
    finally {
      raw.write(a.out)
      spark.stop()
    }
    // loopback servers and pooled client sockets hold daemon threads only;
    // exit explicitly so nothing lingers past the measurement
    sys.exit(0)
  }

  def stackOf(t: Throwable): String = {
    val sw = new java.io.StringWriter()
    t.printStackTrace(new java.io.PrintWriter(sw))
    sw.toString
  }
}

/** One repetition's record. `rows` are the source rows it delivered;
  * `latencies` pairs a row-visibility delay (ms) with the number of rows
  * that saw it.
  */
final class PassRecord(val index: Int, val traced: Boolean, val warmup: Boolean) {
  var setupS = 0.0
  var timedS = 0.0
  var cpuS = 0.0
  var heapMb = 0.0
  var rows = 0L
  var failed = 0L
  var error: String = _
  val latencies: mutable.ArrayBuffer[(Double, Long)] = mutable.ArrayBuffer.empty
  val counters: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  val samples: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]] = mutable.LinkedHashMap.empty
  def sample(name: String, v: Double): Unit = samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  def count(name: String, v: Double): Unit = counters(name) = counters.getOrElse(name, 0.0) + v
}

final class Raw(a: Main.Args) {
  val passes: mutable.ArrayBuffer[PassRecord] = mutable.ArrayBuffer.empty
  @volatile var fatal: String = _

  def write(path: String): Unit = {
    val m = new ObjectMapper()
    val root = m.createObjectNode()
    root.put("workload", a.workload).put("seed", a.seed).put("seconds", a.seconds)
      .put("trace", a.trace).put("cores", a.cores)
    if (fatal != null) root.put("fatal", fatal)
    val ps = root.putArray("passes")
    passes.foreach { p =>
      val o = ps.addObject()
      o.put("index", p.index).put("traced", p.traced).put("warmup", p.warmup)
        .put("setup_s", p.setupS).put("timed_s", p.timedS).put("cpu_s", p.cpuS)
        .put("heap_mb", p.heapMb).put("rows", p.rows).put("failed", p.failed)
      if (p.error != null) o.put("error", p.error)
      val lat = o.putArray("latencies")
      p.latencies.foreach { case (ms, w) => lat.addArray().add(ms).add(w) }
      val c: ObjectNode = o.putObject("counters")
      p.counters.foreach { case (k, v) => c.put(k, v) }
      val s = o.putObject("samples")
      p.samples.foreach { case (k, vs) => val arr = s.putArray(k); vs.foreach(v => arr.add(v)) }
    }
    val sp = root.putArray("spans")
    Trace.all.foreach { s =>
      sp.addObject().put("id", s.id).put("parent", s.parent).put("name", s.name)
        .put("run", s.run).put("start_ns", s.startNs).put("end_ns", s.endNs)
    }
    m.writeValue(new java.io.File(path), root)
  }
}

/** A workload is a sequence of passes (repetitions with distinct inputs)
  * that the harness runs until the measuring time is spent.
  */
trait Workload {
  /** Passes measured at minimum, whatever the time. */
  def minPasses: Int = 3
  /** Unmeasured passes before the measured ones. */
  def warmupPasses: Int = 1
  /** Typical wall time of one pass: `--seconds` / this = measured passes. */
  def nominalPassSeconds: Double
  /** Build one pass's inputs (timed as set-up). Pass indices are negative
    * for warm-up passes; the first warm-up pass may use smaller inputs.
    */
  def prepare(spark: SparkSession, pass: Int): Pass
  def isFirst(pass: Int): Boolean = pass == -warmupPasses
}

trait Pass extends AutoCloseable {
  /** Source rows this pass delivers. */
  def rows: Long
  /** The timed work. */
  def execute(): Unit
  /** Row-visibility delays: by default every row becomes visible when the
    * pass ends, so each waits the whole pass.
    */
  def latencies(startNs: Long, endNs: Long): Seq[(Double, Long)] = Seq(((endNs - startNs) / 1e6, rows))
  /** Checks the outputs; returns the number of rows lost, duplicated or wrong. */
  def check(): Long
  /** Per-layer measurements taken after the timed window of a traced pass. */
  def afterTraced(rec: PassRecord): Unit = ()
  override def close(): Unit = ()
}

final class Harness(spark: SparkSession, a: Main.Args, raw: Raw) {

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
    .find(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))

  /** Old generation in use after a full GC. The second collection frees
    * what Spark's cleaner thread released after the first one (broadcast
    * and shuffle blocks whose handles the first collection cleared).
    */
  private def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(100)
    System.gc()
    val used = oldGen.map(_.getUsage.getUsed)
      .getOrElse(ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
    used / (1024.0 * 1024.0)
  }

  /** A fixed sequence of passes, so every run of a workload does the same
    * work in the same order: `warmupPasses` unmeasured passes (the first
    * one small, as it mostly pays class loading), then a measured pass
    * count that scales with `--seconds`.
    */
  def run(w: Workload): Unit = {
    (1 to w.warmupPasses).foreach(k => runPass(w, k - w.warmupPasses - 1, traced = false, warmup = true))
    val minPasses = if (a.trace) math.max(4, w.minPasses) else w.minPasses
    val n = math.max(minPasses, math.ceil(a.seconds / w.nominalPassSeconds).toInt)
    (1 to n).foreach(i => runPass(w, i, traced = a.trace && i % 2 == 0, warmup = false))
  }

  private def runPass(w: Workload, index: Int, traced: Boolean, warmup: Boolean): Unit = {
    val rec = new PassRecord(index, traced, warmup)
    raw.passes += rec
    try {
      val s0 = System.nanoTime()
      val p = w.prepare(spark, index)
      rec.setupS = (System.nanoTime() - s0) / 1e9
      rec.rows = p.rows
      try {
        val counters = new SparkCounters
        val plans = new PlanTimer
        if (traced) {
          spark.sparkContext.addSparkListener(counters)
          spark.listenerManager.register(plans)
          Trace.run = s"${a.workload}-${a.seed}-$index"
        }
        try {
          val c0 = osBean.getProcessCpuTime
          val t0 = System.nanoTime()
          Trace.span("pass") { p.execute() }
          val t1 = System.nanoTime()
          rec.cpuS = (osBean.getProcessCpuTime - c0) / 1e9
          rec.timedS = (t1 - t0) / 1e9
          rec.latencies ++= p.latencies(t0, t1)
          if (traced) {
            // engine counters cover the timed window only, not the checks
            org.apache.spark.BenchBus.drain(spark.sparkContext)
            rec.count("spark.jobs", counters.jobs.toDouble)
            rec.count("spark.stages", counters.stages.toDouble)
            rec.count("spark.tasks", counters.tasks.toDouble)
            rec.count("spark.executor_cpu_s", counters.executorCpuNs / 1e9)
            rec.count("spark.gc_s", counters.gcMs / 1e3)
            rec.count("spark.shuffle_write_bytes", counters.shuffleWriteBytes.toDouble)
            rec.count("spark.spill_bytes", counters.spillBytes.toDouble)
            rec.count("spark.driver_plan_ms", plans.planMs.toDouble)
            counters.stageSkew.foreach(rec.sample("spark.task_skew", _))
            counters.sourceMetrics.foreach { case (k, v) => rec.count(s"source.$k", v.toDouble) }
          }
          rec.failed += p.check()
          if (traced) p.afterTraced(rec)
        } finally {
          if (traced) {
            Trace.run = null
            spark.sparkContext.removeSparkListener(counters)
            spark.listenerManager.unregister(plans)
          }
        }
        rec.heapMb = liveHeapMb()
      } finally p.close()
    } catch {
      case t: Throwable =>
        rec.error = Main.stackOf(t)
        System.err.println(s"[perfbench] pass $index failed: $t")
    }
  }
}
