package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}
import org.apache.spark.sql.types._

import graft.changelog.{BinlogWire, Changelog, GtidSet, MysqlRepl}
import graft.encode.CommonFormatJson
import graft.pipes.KafkaWire

/** binlog_catchup: a backlog of binary binlog transactions served by
  * `MysqlRepl.Server` is drained by the `graft-binlog` source over the
  * replication socket (`Trigger.AvailableNow`, 4096 events per trigger),
  * expanded by `Changelog.expandUpdates`, encoded as CF JSON and produced
  * over the Kafka wire to a `KafkaWire.Broker` topic. Each pass serves a
  * fresh log under its own GTID UUID, so no parse is ever served from the
  * source's content-keyed cache.
  */
final class BinlogCatchup(a: Main.Args) extends Workload {
  import BinlogCatchup._

  override def nominalPassSeconds: Double = 2.7

  override def prepare(spark: SparkSession, pass: Int): Pass = {
    val r = Gen.rng(a.seed, pass, 0xB1L)
    val uuid = Gen.uuid(r)
    val gen = new Gen.ChangeGen(r, KeySpace)
    val txns = mutable.ArrayBuffer.empty[BinlogWire.Txn]
    val expected = mutable.HashMap.empty[String, Int].withDefaultValue(0)
    var nRows = 0L
    var gno = 1L
    val ts0 = 1700000000000L + (pass + 100) * 1000000L
    val backlog = if (isFirst(pass)) BacklogRows / 8 else BacklogRows
    while (nRows < backlog) {
      val rows = Seq.fill(1 + r.nextInt(MaxTxnRows)) {
        val c = gen.next()
        Gen.expand(c).foreach(e => expected(e) += 1)
        BinlogWire.Row(c.op, Option(c.before).map(image), Option(c.after).map(image))
      }
      txns += BinlogWire.Txn(uuid, gno, ts0 + gno, Table, rows)
      nRows += rows.size
      gno += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    BinlogWire.write(bos, txns.iterator)
    new CatchupPass(spark, a, pass, bos.toByteArray, txns.toVector, expected.toMap, nRows)
  }
}

object BinlogCatchup {
  /** The reference's messages per commit; the trigger cap of every drain. */
  val MaxEventsPerTrigger = 4096L
  val BacklogRows = 10000L
  val MaxTxnRows = 50
  val KeySpace = 200000

  val Table: BinlogWire.TableDef = BinlogWire.TableDef("bench", "orders", Seq(
    BinlogWire.Col("id", BinlogWire.T.LONGLONG),
    BinlogWire.Col("acct", BinlogWire.T.LONG),
    BinlogWire.Col("name", BinlogWire.T.VARCHAR, meta = 64),
    BinlogWire.Col("amount", BinlogWire.T.NEWDECIMAL, meta = (14 << 8) | 4),
    BinlogWire.Col("qty", BinlogWire.T.LONGLONG),
    BinlogWire.Col("note", BinlogWire.T.VARCHAR, meta = 64)))

  val ImageSchema: StructType = StructType.fromDDL(
    "id BIGINT, acct BIGINT, name STRING, amount DECIMAL(14,4), qty BIGINT, note STRING")

  def image(c: Gen.ChangeRow): IndexedSeq[Any] = IndexedSeq(
    java.lang.Long.valueOf(c.id), java.lang.Long.valueOf(c.acct.toLong), c.name, c.amount,
    java.lang.Long.valueOf(c.qty), c.note)

  /** CF JSON for expanded change rows with columns id, acct, name,
    * amount, qty, note, op and seqno.
    */
  def cfJson(expanded: DataFrame, ts: Column): Column = CommonFormatJson.eventJson(
    col("op"), Seq(col("id") -> LongType), col("seqno"), ts,
    ImageSchema.fields.toSeq.filter(_.name != "id").map(f => (f.name, col(f.name), f.dataType)))

  /** One wire Produce per (task, broker partition) run of at most 4000
    * records — the executor-side producer shape: every broker partition
    * is owned by exactly one task.
    */
  def produce(encoded: DataFrame, url: String, topic: String, parts: Int): Unit =
    encoded.repartition(parts, col("kpart")).foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
      val buf = mutable.ArrayBuffer.empty[(Array[Byte], Array[Byte], Long)]
      var cur = -1
      def flush(): Unit = if (buf.nonEmpty) { KafkaWire.produce(url, topic, cur, buf.toSeq); buf.clear() }
      it.foreach { row =>
        val p = row.getInt(0)
        if (p != cur || buf.size >= 4000) { flush(); cur = p }
        buf += ((row.getString(1).getBytes(UTF_8), row.getString(2).getBytes(UTF_8), 0L))
      }
      flush()
    }

  /** Every record of every partition of `topic`, read over the wire. */
  def drainTopic(url: String, topic: String, parts: Int): Seq[KafkaWire.Record] =
    (0 until parts).flatMap { p =>
      val out = mutable.ArrayBuffer.empty[KafkaWire.Record]
      var off = 0L
      var hw = 1L
      while (off < hw) {
        val (recs, h) = KafkaWire.fetch(url, topic, p, off)
        hw = h
        recs.foreach { r => out += r; off = r.offset + 1 }
        if (recs.isEmpty && off < hw) throw new IllegalStateException(s"fetch stalled at $topic/$p@$off")
      }
      out
    }

  private val mapper = new ObjectMapper()

  /** Canonical form of one CF JSON record (see [[Gen.canonical]]). */
  def canonicalCf(json: String): String = {
    val n = mapper.readTree(json)
    val id = n.get("Key").get(0).asLong
    if (n.get("Type").asText == "delete") s"delete|$id"
    else {
      val f = mutable.HashMap.empty[String, com.fasterxml.jackson.databind.JsonNode]
      n.get("Fields").forEach(x => f(x.get("Name").asText) = x.get("Value"))
      def str(k: String) = if (f(k).isNull) null else f(k).asText
      Gen.canonical(id, f("acct").asLong, str("name"), f("amount").asDouble, f("qty").asLong, str("note"))
    }
  }

  /** Rows of the log not contained in `set` — what one dump decodes. */
  def rowsAfter(txns: Seq[BinlogWire.Txn], set: GtidSet): Long =
    txns.iterator.filterNot(t => set.contains(t.uuid, t.gno)).map(_.rows.size.toLong).sum
}

final class CatchupPass(spark: SparkSession, a: Main.Args, pass: Int, log: Array[Byte],
                        txns: Vector[BinlogWire.Txn], expected: Map[String, Int], nRows: Long)
    extends Pass {
  import BinlogCatchup._

  private val parts = a.cores
  private val topic = "orders_cf"
  private val server = new MysqlRepl.Server(log)
  private val broker = new KafkaWire.Broker(parts)
  private val ckpt = java.nio.file.Files.createTempDirectory(s"catchup-$pass-")
  private val commits = mutable.ArrayBuffer.empty[(Long, Long)] // (receipt ns, input rows)
  private val progress = mutable.ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]

  override def rows: Long = nRows

  private def batch(source: DataFrame, parent: Long): Unit = {
    // traced: the socket dump + parse is materialized on its own, so the
    // encode span below covers expand + encode only
    val df = if (!Trace.on) source
      else { val c = source.persist(); Trace.span("sources.binlog.read", parent) { c.count() }; c }
    val img = (c: String) => from_json(col(c), ImageSchema)
    val flat = df.select(col("op"), col("seq"), col("ts"), img("payload").as("a"), img("before").as("b"))
      .select(col("op"), col("seq"), col("ts"), col("a.*"), col("b.id").as("before_id"))
    val expanded = Changelog.expandUpdates(flat, "op", Map("id" -> "before_id"))
      .withColumn("seqno", col("seq") * 2 + col("half"))
    val encoded = expanded.select(
      pmod(col("id"), lit(parts)).cast("int").as("kpart"),
      col("id").cast("string").as("key"),
      cfJson(expanded, col("ts")).as("value"))
    if (!Trace.on) produce(encoded, broker.url, topic, parts)
    else {
      val cached = encoded.persist()
      try {
        Trace.span("encode.cf_json", parent) { cached.count() }
        Trace.span("pipes.kafka.produce", parent) { produce(cached, broker.url, topic, parts) }
      } finally { cached.unpersist(); df.unpersist() }
    }
  }

  override def execute(): Unit = {
    val parent = Trace.currentId
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val now = System.nanoTime()
        commits.synchronized { commits += ((now, e.progress.numInputRows)); progress += e.progress }
      }
    }
    spark.streams.addListener(listener)
    try {
      Trace.span("stream.drain") {
        val q = spark.readStream.format("graft-binlog")
          .option("path", server.url)
          .option("maxEventsPerTrigger", MaxEventsPerTrigger)
          .load()
          .writeStream
          .option("checkpointLocation", ckpt.toString)
          .trigger(Trigger.AvailableNow())
          .foreachBatch((df: DataFrame, _: Long) => batch(df, parent))
          .start()
        q.awaitTermination()
        q.exception.foreach(e => throw e)
      }
      // the last progress event is posted after the query terminates
      org.apache.spark.BenchBus.drain(spark.sparkContext)
    } finally spark.streams.removeListener(listener)
  }

  override def latencies(startNs: Long, endNs: Long): Seq[(Double, Long)] =
    commits.synchronized(commits.filter(_._2 > 0).map { case (t, n) => ((t - startNs) / 1e6, n) }.toSeq)

  override def check(): Long = {
    val got = mutable.HashMap.empty[String, Int].withDefaultValue(0)
    drainTopic(broker.url, topic, parts).foreach(r => got(canonicalCf(new String(r.value, UTF_8))) += 1)
    val keys = expected.keySet ++ got.keySet
    keys.iterator.map(k => math.abs(expected.getOrElse(k, 0) - got(k)).toLong).sum
  }

  override def afterTraced(rec: PassRecord): Unit = {
    val sets = server.dumpRequests.map(_.gtids).distinct
    rec.count("sources.binlog.decoded_rows", sets.map(rowsAfter(txns, _)).sum.toDouble)
    rec.count("sources.binlog.emitted_rows", nRows.toDouble)
    rec.count("sources.binlog.rows", rec.counters.getOrElse("source.graftRowsEmitted", 0.0))
    rec.count("sources.binlog.wire_requests", rec.counters.getOrElse("source.graftWireRequests", 0.0))
    val img = Trace.span("changelog.dump") { MysqlRepl.dumpRaw(server.url, GtidSet.empty) }
    Trace.span("changelog.parse") { BinlogWire.parse(new java.io.ByteArrayInputStream(img)) }
    val produced = expected.values.sum.toDouble
    rec.count("changelog.expanded_rows", produced)
    rec.count("changelog.source_rows", nRows.toDouble)
    rec.count("pipes.kafka.acks", broker.acksSent.toDouble)
    rec.count("encode.bytes_out", drainTopic(broker.url, topic, parts).map(_.value.length.toLong).sum.toDouble)
    Progress.record(rec, progress.synchronized(progress.toSeq))
  }

  override def close(): Unit = {
    server.close()
    broker.close()
    graft.core.Tmp.deleteRecursively(ckpt)
  }
}

/** Per-layer samples from `StreamingQueryProgress`. */
object Progress {
  val Phases: Seq[(String, String)] = Seq(
    "latestOffset" -> "stream.latest_offset_ms",
    "queryPlanning" -> "stream.query_planning_ms",
    "addBatch" -> "stream.add_batch_ms",
    "walCommit" -> "stream.wal_commit_ms",
    "commitOffsets" -> "stream.commit_offsets_ms")

  def record(rec: PassRecord, ps: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]): Unit = {
    val batches = ps.filter(_.numInputRows > 0)
    rec.count("stream.batches", batches.size.toDouble)
    batches.foreach { p =>
      val d = p.durationMs
      rec.sample("stream.rows_per_batch", p.numInputRows.toDouble)
      Option(d.get("triggerExecution")).foreach(v => rec.sample("stream.trigger_ms", v.doubleValue))
      Phases.foreach { case (k, name) => Option(d.get(k)).foreach(v => rec.count(name, v.doubleValue)) }
      // a micro-batch plans inside queryPlanning; no QueryExecutionListener sees it
      Option(d.get("queryPlanning")).foreach(v => rec.count("spark.driver_plan_ms", v.doubleValue))
    }
  }
}
