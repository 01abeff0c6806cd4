package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.encode.{AvroCodec, CommonFormatJson}
import graft.filters.RowFilter
import graft.pipes.FileSink
import graft.snapshot.Snapshot
import graft.stream.Streamer

/** snapshot_bootstrap: a seeded MySQL-like table, written to parquet
  * during set-up, goes through `Snapshot.scan` with a row filter that
  * keeps about half the rows, then fans out to Avro (`AvroCodec.encode`)
  * and gzip CF JSON, each written by `FileSink.write` with rotation and a
  * `_DONE` manifest.
  */
final class SnapshotBootstrap(a: Main.Args) extends Workload {
  import SnapshotBootstrap._

  override def nominalPassSeconds: Double = 2.7

  override def prepare(spark: SparkSession, pass: Int): Pass = {
    val r = Gen.rng(a.seed, pass, 0x5AL)
    // ids are unique per pass; rows are kept for the round-trip check
    val rows = Array.tabulate(if (isFirst(pass)) TableRows / 8 else TableRows)(i => Gen.snapshotRow(r, (pass + 100).toLong * 10000000L + i))
    val work = java.nio.file.Files.createTempDirectory(s"snapshot-$pass-")
    val table = work.resolve("table").toString
    spark.createDataFrame(rows.toSeq.map(v => Row.fromSeq(v.toSeq)).asJava, Schema)
      .write.parquet(table)
    new BootstrapPass(spark, work, table, rows)
  }
}

object SnapshotBootstrap {
  val TableRows = 32000
  val RecordsPerFile = 8000L

  val Schema: StructType = StructType.fromDDL(
    "id BIGINT NOT NULL, acct INT, region STRING, name STRING, amount DECIMAL(14,4), qty INT, " +
      "price DOUBLE, created TIMESTAMP, active BOOLEAN, note STRING, score BIGINT, day DATE")

  /** Keeps rows in two of the four regions (nulls drop out): about 45%. */
  val Filters: Seq[RowFilter] = Seq(
    RowFilter("region", "=", Seq(Gen.Regions(0), Gen.Regions(2))),
    RowFilter("id", ">=", Seq("0")))

  def keeps(row: Array[Any]): Boolean =
    row(2) != null && (row(2) == Gen.Regions(0) || row(2) == Gen.Regions(2)) && row(0).asInstanceOf[Long] >= 0

  val PayloadCols: Seq[String] = Schema.fieldNames.toSeq

  /** Top-level entries of a `PushedFilters: [a, b(c, d)]` plan string. */
  def countPushed(s: String): Int = {
    val body = s.trim.stripPrefix("[").stripSuffix("]").trim
    if (body.isEmpty) 0
    else {
      var depth = 0
      var n = 1
      body.foreach {
        case '(' | '[' => depth += 1
        case ')' | ']' => depth -= 1
        case ',' if depth == 0 => n += 1
        case _ => ()
      }
      n
    }
  }
}

final class BootstrapPass(spark: SparkSession, work: java.nio.file.Path, table: String,
                          source: Array[Array[Any]]) extends Pass {
  import SnapshotBootstrap._

  private val expectedRows = source.count(keeps).toLong
  private val avroOut = work.resolve("avro").toString
  private val jsonOut = work.resolve("cf_json").toString

  override def rows: Long = expectedRows

  private def materialized(name: String, df: DataFrame): DataFrame =
    if (!Trace.on) df
    else { val c = df.persist(); Trace.span(name) { c.count() }; c }

  override def execute(): Unit = {
    val scanned = materialized("snapshot.scan",
      Snapshot.scan(spark.read.parquet(table), Filters, PayloadCols, Seq("id")))
    val registered = Streamer.snapshotPhase(scanned).withColumn("row_key", col("id").cast("string"))
    val avro = materialized("encode.avro",
      AvroCodec.encode(registered, Schema, "orders", "bench", keyCols = Seq("id")).toDF("value"))
    Trace.span("pipes.filesink.write") { FileSink.write(avro, avroOut, "parquet", RecordsPerFile) }
    val cf = materialized("encode.cf_json",
      registered.select(CommonFormatJson.encodeRows(registered, Seq("id"), PayloadCols).as("value")))
    Trace.span("pipes.filesink.write") { FileSink.write(cf, jsonOut, "text", RecordsPerFile, gzip = true) }
    if (Trace.on) spark.catalog.clearCache()
  }

  private def manifest(dir: String): Seq[(String, Long)] = {
    val json = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(dir, "_DONE")), "UTF-8")
    val n = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    n.elements().asScala.map(e => e.get("FileName").asText -> e.get("NumRecs").asLong).toSeq
  }

  override def check(): Long = {
    var failed = 0L
    // CF JSON: the manifest's record counts add up to the filtered rows
    val jsonRecs = manifest(jsonOut).map(_._2).sum
    failed += math.abs(jsonRecs - expectedRows)
    // Avro: every filtered row is written, and a sample round-trips
    val avroFiles = manifest(avroOut)
    val bytes = spark.read.parquet(avroOut)
    failed += math.abs(bytes.count() - expectedRows)
    val schema = AvroCodec.avroSchema(Schema, "orders", "bench")
    val byId = source.iterator.filter(keeps).map(r => r(0).asInstanceOf[Long] -> r).toMap
    bytes.limit(200).collect().foreach { row =>
      val rec = AvroCodec.decode(row.getAs[Array[Byte]](0), schema)
      val id = rec.get("id").asInstanceOf[Long]
      val ok = byId.get(id).exists { src =>
        def same(i: Int, v: Any): Boolean = (src(i), v) match {
          case (null, null) => true
          case (s: String, u) if u != null => s == u.toString
          case (d: java.math.BigDecimal, u: java.lang.Double) => d.doubleValue == u.doubleValue
          case (t: java.sql.Timestamp, u: java.lang.Long) => t.getTime == u.longValue
          case (d: java.sql.Date, u) if u != null => d.toString == u.toString
          case (s: Integer, u: Integer) => s == u
          case (s, u) => s == u
        }
        Schema.fieldNames.zipWithIndex.forall { case (n, i) => same(i, rec.get(n)) } &&
          rec.get("is_deleted") == java.lang.Boolean.FALSE
      }
      if (!ok) failed += 1
    }
    if (avroFiles.size < 2) failed += 1 // rotation must split the output
    failed
  }

  override def afterTraced(rec: PassRecord): Unit = {
    Trace.span("pipes.filesink.manifest") { FileSink.writeDoneManifest(spark, avroOut, "parquet") }
    Trace.span("pipes.filesink.manifest") { FileSink.writeDoneManifest(spark, jsonOut, "text") }
    def size(dir: String) = java.nio.file.Files.list(java.nio.file.Paths.get(dir)).iterator().asScala
      .filterNot(_.getFileName.toString.startsWith(".")).map(java.nio.file.Files.size).sum
    rec.count("pipes.filesink.bytes", (size(avroOut) + size(jsonOut)).toDouble)
    rec.count("encode.bytes_out", spark.read.parquet(avroOut).select(sum(length(col("value")))).first().getLong(0).toDouble +
      spark.read.text(jsonOut).select(sum(length(col("value")) + 1)).first().getLong(0).toDouble)
    val plan = Snapshot.scan(spark.read.parquet(table), Filters, PayloadCols, Seq("id")).queryExecution.sparkPlan
    rec.count("filters.pushed", plan.collect { case f: FileSourceScanExec => countPushed(f.metadata.getOrElse("PushedFilters", "[]")) }.sum.toDouble)
  }

  override def close(): Unit = graft.core.Tmp.deleteRecursively(work)
}
