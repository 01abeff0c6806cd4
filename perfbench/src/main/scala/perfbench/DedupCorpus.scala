package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.analytics.Dedup

/** dedup_corpus: a seeded corpus with planted exact copies and
  * near-duplicates goes through `Dedup.lshBandKeys` → `lshVerifiedPairs`
  * → `dupClusters` with the catalog dedup pipeline's parameters
  * (8-character shingles, 8 hashes in bands of 4, Jaccard >= 0.5).
  */
final class DedupCorpus(a: Main.Args) extends Workload {
  import DedupCorpus._

  override def nominalPassSeconds: Double = 2.7

  override def prepare(spark: SparkSession, pass: Int): Pass = {
    val c = Gen.corpus(Gen.rng(a.seed, pass, 0xDDL), if (isFirst(pass)) BaseDocs / 8 else BaseDocs, Vocab)
    val work = java.nio.file.Files.createTempDirectory(s"dedup-$pass-")
    val path = work.resolve("docs").toString
    spark.createDataFrame(c.ids.indices.map(i => Row(c.ids(i), c.texts(i))).asJava, Schema)
      .write.parquet(path)
    new DedupPass(spark, work, path, c)
  }
}

object DedupCorpus {
  val BaseDocs = 2000
  val Vocab = 6000
  val Shingle = 8
  val NumHashes = 8
  val RowsPerBand = 4
  val MinJaccard = 0.5
  val Schema: StructType = StructType.fromDDL("doc_id BIGINT, text STRING")
}

final class DedupPass(spark: SparkSession, work: java.nio.file.Path, path: String, c: Gen.Corpus) extends Pass {
  import DedupCorpus._

  private var bandKeys: DataFrame = _
  private var verified: DataFrame = _
  private var clusters: Array[Row] = _

  override def rows: Long = c.ids.length.toLong

  override def execute(): Unit = {
    val docs = spark.read.parquet(path)
    val bk = Dedup.lshBandKeys(docs, "doc_id", col("text"), Shingle, NumHashes, RowsPerBand)
    bandKeys = if (Trace.on) { val p = bk.persist(); Trace.span("analytics.band_keys") { p.count() }; p } else bk
    // the verified pairs feed both the cluster summary and the check
    verified = Dedup.lshVerifiedPairs(bandKeys, docs, "doc_id", col("text"), Shingle)
      .filter(col("jaccard") >= MinJaccard)
      .select(col("doc_a"), col("doc_b"))
      .persist()
    if (Trace.on) Trace.span("analytics.verify") { verified.count() }
    clusters = Trace.span("analytics.clusters") { Dedup.dupClusters(verified).collect() }
  }

  /** Every planted exact-copy group lands in one cluster: the verified
    * pairs are joined into components here, on the driver, and each
    * cluster the pipeline reports must match one of them by size and
    * smallest member.
    */
  override def check(): Long = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      parent(x) = r
      r
    }
    verified.collect().foreach { row =>
      val (a, b) = (find(row.getLong(0)), find(row.getLong(1)))
      if (a != b) parent(math.max(a, b)) = math.min(a, b)
    }
    val members = parent.keys.toSeq.groupBy(find)
    val expected = members.values.map(m => (m.size.toLong, m.min)).toSet
    val reported = clusters.map(r => (r.getAs[Long]("n_docs"), r.getAs[Long]("keep_id"))).toSet
    val split = c.exactGroups.filter(g => !parent.contains(g.head) || g.map(find).distinct.size != 1)
    split.map(_.size.toLong).sum + (expected -- reported).size + (reported -- expected).size
  }

  override def afterTraced(rec: PassRecord): Unit = {
    val candidates = Dedup.lshCandidatePairs(bandKeys, "doc_id").count()
    rec.count("analytics.candidate_pairs", candidates.toDouble)
    rec.count("analytics.verified_pairs", verified.count().toDouble)
  }

  override def close(): Unit = {
    graft.core.CacheRegistry.releaseAll()
    spark.catalog.clearCache()
    graft.core.Tmp.deleteRecursively(work)
  }
}
