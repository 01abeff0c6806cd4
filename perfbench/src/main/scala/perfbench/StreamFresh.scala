package perfbench

import java.util.concurrent.locks.LockSupport

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types._

import graft.changelog.Changelog
import graft.pipes.KafkaWire

/** stream_fresh: an open-loop generator produces single-row change
  * events to a `KafkaWire.Broker` at a fixed rate; a `graft-kafka` stream
  * (`ProcessingTime(0)`, 4096 offsets per trigger) decodes, expands,
  * encodes CF JSON and writes through the exactly-once JSON file sink.
  * Each row is timed from its due time to the progress event that
  * reports its batch committed.
  */
final class StreamFresh(a: Main.Args) extends Workload {
  import StreamFresh._

  override def minPasses: Int = 2
  override def warmupPasses: Int = 1
  override def nominalPassSeconds: Double = 5.0

  override def prepare(spark: SparkSession, pass: Int): Pass = {
    val seconds = if (pass < 0) WarmupSeconds else SegmentSeconds
    val r = Gen.rng(a.seed, pass, 0x5FL)
    val gen = new Gen.ChangeGen(r, KeySpace)
    val n = (Rate * seconds).toInt
    val changes = Array.fill(n)(gen.next())
    val p = new FreshPass(spark, Partitions(a.cores), pass, changes)
    try { p.start(); p }
    catch { case t: Throwable => p.close(); throw t }
  }
}

object StreamFresh {
  /** Open-loop send rate, rows/s: about half of what binlog_catchup
    * sustains on a 4-core host, then frozen.
    */
  val Rate = 1500.0
  val MaxOffsetsPerTrigger = 4096L
  /** Half the cores: with a task per core the batch's critical path
    * shares every core with the generator, the broker and the JIT, and a
    * CPU taken by another process raised p50 by 23% (2 partitions: 5%).
    */
  def Partitions(cores: Int): Int = math.max(1, cores / 2)
  /** A generator later than this at p99 has not held its schedule. */
  val LateLimitMs = 100.0
  val WarmupSeconds = 3.0
  val SegmentSeconds = 4.0
  val KeySpace = 200000

  val EventSchema: StructType = StructType.fromDDL(
    "op STRING, id BIGINT, acct BIGINT, name STRING, amount DECIMAL(14,4), qty BIGINT, note STRING, before_id BIGINT")

  private val mapper = new ObjectMapper()

  /** One change event as the JSON value a producer writes. */
  def eventJson(c: Gen.Change): Array[Byte] = {
    val img = if (c.after != null) c.after else c.before
    val o = mapper.createObjectNode()
    o.put("op", c.op).put("id", img.id).put("acct", img.acct.toLong).put("name", img.name)
      .put("amount", img.amount).put("qty", img.qty)
    if (img.note == null) o.putNull("note") else o.put("note", img.note)
    if (c.before != null) o.put("before_id", c.before.id)
    mapper.writeValueAsBytes(o)
  }
}

final class FreshPass(spark: SparkSession, parts: Int, pass: Int, changes: Array[Gen.Change]) extends Pass {
  import StreamFresh._

  private val topic = "orders_events"
  private val broker = new KafkaWire.Broker(parts)
  private val work = java.nio.file.Files.createTempDirectory(s"fresh-$pass-")
  private val outDir = work.resolve("out").toString

  // schedule: record i is due at i / Rate after the window opens; offset 0
  // of every partition is a warm-up record, so record k of partition p
  // lands at offset k + 1
  private val partOf: Array[Int] = changes.map(c => (math.abs((if (c.after != null) c.after else c.before).id) % parts).toInt)
  private val values: Array[Array[Byte]] = changes.map(eventJson)
  private val dueRel: Array[Long] = Array.tabulate(changes.length)(i => (i * 1e9 / Rate).toLong)
  private val indexAt: Array[mutable.ArrayBuffer[Int]] = Array.fill(parts)(mutable.ArrayBuffer(-1))
  changes.indices.foreach(i => indexAt(partOf(i)) += i)

  @volatile private var t0 = Long.MaxValue
  private val committed = Array.fill(parts)(0L)
  private val latMs = new Array[Double](changes.length)
  private val lateMs = new Array[Double](changes.length)
  private val lag = mutable.ArrayBuffer.empty[Double]
  private val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  private var behind = false

  private def onProgress(p: StreamingQueryProgress, now: Long): Unit = synchronized {
    if (now >= t0) progress += p
    if (p.sources.nonEmpty && p.sources(0).endOffset != null) {
      val ends = graft.sources.PartitionOffsets.fromJson(p.sources(0).endOffset).offsets
      ends.foreach { case (part, end) =>
        var o = committed(part)
        while (o < end) {
          val i = indexAt(part)(o.toInt)
          if (i >= 0) latMs(i) = (now - t0 - dueRel(i)) / 1e6
          o += 1
        }
        committed(part) = math.max(committed(part), end)
      }
    }
    notifyAll()
  }

  private def committedTotal: Long = synchronized(committed.sum)

  private val listener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      onProgress(e.progress, System.nanoTime())
  }

  private def awaitCommitted(total: Long, timeoutMs: Long): Unit = synchronized {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (committed.sum < total) {
      val left = deadline - System.currentTimeMillis()
      if (left <= 0) throw new IllegalStateException(s"stream committed ${committed.sum} of $total rows in ${timeoutMs} ms")
      wait(left)
    }
  }

  private var query: StreamingQuery = _

  /** Set-up: the query starts and commits one warm-up record per partition. */
  def start(): Unit = {
    spark.streams.addListener(listener)
    val warm = eventJson(Gen.Change("insert", null,
      Gen.ChangeRow(0L, 0, "warm", java.math.BigDecimal.ZERO, 0L, null)))
    query = startQuery()
    (0 until parts).foreach(p => KafkaWire.produce(broker.url, topic, p, Seq((Array.emptyByteArray, warm, 0L))))
    awaitCommitted(parts.toLong, 120000L)
  }

  private def startQuery(): StreamingQuery = {
    val src = spark.readStream.format("graft-kafka")
      .option("path", s"${broker.url}/$topic")
      .option("maxOffsetsPerTrigger", MaxOffsetsPerTrigger)
      .load()
    val ev = src.select(col("partition"), col("offset"), col("ts"),
        from_json(col("value"), EventSchema).as("e"))
      .select(col("partition"), col("offset"), col("ts"), col("e.*"))
    val expanded: DataFrame = Changelog.expandUpdates(ev, "op", Map("id" -> "before_id"))
      .withColumn("seqno", col("offset") * 2 + col("half"))
    expanded.select(col("partition"), col("offset"), col("half"),
        BinlogCatchup.cfJson(expanded, col("ts")).as("cf"))
      .writeStream.format("json")
      .option("path", outDir)
      .option("checkpointLocation", work.resolve("ckpt").toString)
      .trigger(Trigger.ProcessingTime(0L))
      .start()
  }

  override def rows: Long = changes.length.toLong

  override def execute(): Unit = {
    val n = changes.length
    val next = Array.fill(parts)(1L)
    val byPart = Array.fill(parts)(mutable.ArrayBuffer.empty[(Array[Byte], Array[Byte], Long)])
    val start = System.nanoTime() + 5000000L
    t0 = start
    var lastLag = 0L
    var i = 0
    while (i < n) {
      val wait = start + dueRel(i) - System.nanoTime()
      if (wait > 0) LockSupport.parkNanos(wait)
      val now = System.nanoTime()
      // everything due by now goes out, one Produce per partition
      var j = i
      while (j < n && start + dueRel(j) <= now) {
        lateMs(j) = (now - start - dueRel(j)) / 1e6
        byPart(partOf(j)) += ((Array.emptyByteArray, values(j), 0L))
        j += 1
      }
      if (j == i) { lateMs(i) = (now - start - dueRel(i)) / 1e6; byPart(partOf(i)) += ((Array.emptyByteArray, values(i), 0L)); j = i + 1 }
      var p = 0
      while (p < parts) {
        val b = byPart(p)
        if (b.nonEmpty) {
          val base = KafkaWire.produce(broker.url, topic, p, b.toSeq)
          if (base != next(p)) throw new IllegalStateException(s"partition $p: broker offset $base, expected ${next(p)}")
          next(p) += b.size
          b.clear()
        }
        p += 1
      }
      i = j
      if (now - lastLag > 10000000L) { lag += (i + parts - committedTotal).toDouble; lastLag = now }
    }
    awaitCommitted(n.toLong + parts, 60000L)
    val late = lateMs.sorted
    behind = late.nonEmpty && late(math.min(late.length - 1, (late.length * 0.99).toInt)) > LateLimitMs
  }

  override def latencies(startNs: Long, endNs: Long): Seq[(Double, Long)] =
    if (behind) Seq.empty // a late generator's delays are not latencies
    else synchronized(latMs.toSeq.map(ms => (ms, 1L)))

  override def check(): Long = {
    query.stop()
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    if (behind) {
      System.err.println(s"[perfbench] stream_fresh: generator fell behind its schedule (p99 late > $LateLimitMs ms)")
      return changes.length.toLong
    }
    val got = spark.read.schema("partition INT, offset BIGINT, half INT, cf STRING").json(outDir)
      .groupBy("partition", "offset", "half").count().collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getInt(2)) -> r.getLong(3)).toMap
    val expected = mutable.HashMap.empty[(Int, Long, Int), Long]
    (0 until parts).foreach(p => expected((p, 0L, 1)) = 1L)
    (0 until parts).foreach { p =>
      indexAt(p).zipWithIndex.drop(1).foreach { case (i, off) =>
        changes(i).op match {
          case "insert" => expected((p, off.toLong, 1)) = 1L
          case "delete" => expected((p, off.toLong, 0)) = 1L
          case "update" => expected((p, off.toLong, 0)) = 1L; expected((p, off.toLong, 1)) = 1L
        }
      }
    }
    (expected.keySet ++ got.keySet).iterator
      .map(k => math.abs(expected.getOrElse(k, 0L) - got.getOrElse(k, 0L))).sum
  }

  override def afterTraced(rec: PassRecord): Unit = {
    lateMs.foreach(rec.sample("gen.late_ms", _))
    lag.foreach(rec.sample("sources.lag_rows", _))
    rec.count("sources.kafka.wire_requests", rec.counters.getOrElse("source.graftWireRequests", 0.0))
    Progress.record(rec, synchronized(progress.toSeq))
  }

  override def close(): Unit = {
    if (query != null && query.isActive) query.stop()
    spark.streams.removeListener(listener)
    broker.close()
    graft.core.Tmp.deleteRecursively(work)
  }
}
