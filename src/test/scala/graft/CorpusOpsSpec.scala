package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Unit checks for the round-13 corpus-release operators
  * ([[QueriesTraining.epochShuffle]], [[QueriesTraining.heldoutLm]],
  * [[QueriesTraining.nbClassify]], [[QueriesTraining.datasetCard]]) on
  * hand-constructed corpora. The catalog oracle proves engine parity;
  * these prove the CONTRACTS: shard layout invariants and determinism,
  * held-out split discipline (no train doc is ever scored), smoothing
  * formulas, argmax tie-breaking, and rollup additivity.
  */
class CorpusOpsSpec extends SparkSuite {

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  private def docDir(rows: Seq[(Long, String, String, String)]): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-corpusops").toString
    val data = rows.map { case (id, text, lang, source) =>
      Row(id, text, lang, source, text.length.toLong)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(data, 2), docSchema)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  /** The split the operators use: even first-hex-digit of md5(prefix:id). */
  private def mdHexDigit(s: String): Int = {
    val d = java.security.MessageDigest.getInstance("MD5")
    val hex = d.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    "0123456789abcdef".indexOf(hex.charAt(0))
  }

  test("epochShuffle: shard layout invariants and rerun determinism") {
    val rows = (0L until 64L).map(i =>
      (i, (0 to (i % 7).toInt).map(k => s"w$k").mkString(" "), "en", "src0"))
    val dir = docDir(rows)
    val out = QueriesTraining.epochShuffle(spark, dir).collect()
    assert(out.length == 64)
    // every doc exactly once, shard within range
    assert(out.map(_.getLong(0)).toSet == (0L until 64L).toSet)
    assert(out.forall(r => r.getInt(1) >= 0 && r.getInt(1) < 8))
    // per shard: positions are 1..n, offsets are the exclusive prefix sum
    // of n_tok in position order
    out.groupBy(_.getInt(1)).foreach { case (_, g) =>
      val sorted = g.sortBy(_.getLong(2))
      assert(sorted.map(_.getLong(2)).toSeq == (1L to g.length).toSeq)
      var acc = 0L
      sorted.foreach { r =>
        assert(r.getLong(4) == acc, s"offset mismatch at pos ${r.getLong(2)}")
        acc += r.getLong(3)
      }
    }
    // seeded determinism: a second run yields the identical layout
    val again = QueriesTraining.epochShuffle(spark, dir).collect()
    assert(out.map(_.toString).sorted.toSeq == again.map(_.toString).sorted.toSeq)
  }

  test("heldoutLm: only held-out docs scored; smoothing matches hand computation") {
    // ids chosen BY the split function itself, so the test stays valid
    // if fixture ids shift: first 6 even-digit ids train, 2 odd ids held
    val trainIds = (0L until 200L).filter(i => mdHexDigit(s"lm:$i") % 2 == 0).take(6)
    val heldIds = (0L until 200L).filter(i => mdHexDigit(s"lm:$i") % 2 == 1).take(2)
    val trainRows = trainIds.map(i => (i, "a b a b c", "en", "src0"))
    // held doc 0: "a b" seen; held doc 1: "a z" has an OOV bigram
    val heldRows = Seq(
      (heldIds(0), "a b", "en", "src0"),
      (heldIds(1), "a z", "en", "src0"))
    val dir = docDir(trainRows ++ heldRows)
    val out = QueriesTraining.heldoutLm(spark, dir)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out.keySet == heldIds.toSet, "exactly the held-out docs are scored")
    // model per train doc: grams (a b)x2, (b a)x1, (b c)x1 -> x6 docs
    // c(a b)=12, c1(a .)=12, c(b a)=6, c(b c)=6, c1(b .)=12, V=3 (a,b,c)
    val v = 3
    val s0 = -math.log((12 + 1).toDouble / (12 + v))
    assert(out(heldIds(0)).getLong(3) == math.round(s0 * 1000), "seen bigram surprisal")
    assert(out(heldIds(0)).getLong(2) == 0L, "no OOV")
    val s1 = -math.log(1.0 / (12 + v)) // c2=0, prefix 'a' c1=12
    assert(out(heldIds(1)).getLong(3) == math.round(s1 * 1000), "OOV-smoothed surprisal")
    assert(out(heldIds(1)).getLong(2) == 1L, "one OOV bigram")
  }

  test("nbClassify: separable langs classified; argmax tie-break is lexicographically last") {
    val even = (0L until 400L).filter(i => mdHexDigit(s"nb:$i") % 2 == 0)
    val odd = (0L until 400L).filter(i => mdHexDigit(s"nb:$i") % 2 == 1)
    // train: 4 de docs of 'der', 4 en docs of 'the'; held: one doc per side
    val rows =
      even.take(4).map(i => (i, "der der der", "de", "src0")) ++
        even.slice(4, 8).map(i => (i, "the the the", "en", "src0")) ++
        Seq((odd(0), "der der", "de", "src0"), // clearly de
          (odd(1), "the the", "en", "src0"), // clearly en
          (odd(2), "mix", "es", "src0")) // OOV-only: every class ties
    val dir = docDir(rows)
    val out = QueriesTraining.nbClassify(spark, dir)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out.keySet == Set(odd(0), odd(1), odd(2)))
    assert(out(odd(0)).getString(2) == "de" && out(odd(0)).getBoolean(4))
    assert(out(odd(1)).getString(2) == "en" && out(odd(1)).getBoolean(4))
    // 'mix' is OOV for every class; de/en share the same token totals and
    // priors, es/fr/zh are all-zero classes — the es/fr/zh trio ties at
    // the higher smoothed score and 'zh' (lexicographically last) wins
    assert(out(odd(2)).getString(2) == "zh", "deterministic tie-break")
  }

  test("lshRecall: identical pair is a counted hit; distinct planted pairs are true negatives") {
    val rows = Seq(
      (0L, "alpha beta gamma delta epsilon zeta", "en", "src0"),
      (1L, "alpha beta gamma delta epsilon zeta", "en", "src0"), // exact dup of 0
      (2L, "qqqq wwww rrrr tttt yyyy uuuu iiii", "en", "src0"),
      (3L, "zzzz xxxx cccc vvvv bbbb nnnn mmmm", "en", "src0"))
    val dir = docDir(rows)
    val r = QueriesAnalytics.lshRecall(spark, dir).collect().head
    val (tp, fp, fn, tn) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(tp >= 1L, "the identical pair must be bucketed AND verified")
    assert(fn == 0L, "no true duplicate escapes the bucketing")
    assert(tn >= 2L, "the distinct planted pairs count as true negatives")
    assert(r.getLong(4) == 1000L, "recall mills with zero misses")
    assert(r.getBoolean(7), "floor_ok")
    assert(tp + fp + fn + tn >= 3L, "universe covers planted + candidates")
  }

  test("shardAppend: v1 positions are byte-stable under the append; arrivals extend each tail") {
    val rows = (0L until 80L).map(i =>
      (i, (0 to (i % 5).toInt).map(k => s"w$k").mkString(" "), "en", "src0"))
    val dir = docDir(rows)
    val out = QueriesTraining.shardAppend(spark, dir).collect()
    assert(out.length == 80)
    val (v1, v2) = out.partition(_.getString(5) == "v1")
    assert(v1.nonEmpty && v2.nonEmpty, "split produced both crawls")
    // v1 stability: re-deriving the layout from ONLY the old docs yields
    // the identical (pos, tok_offset) for every v1 row
    val oldIds = v1.map(_.getLong(0)).toSet
    val soloDir = docDir(rows.filter(r => oldIds.contains(r._1)))
    val solo = QueriesTraining.epochShuffle(spark, soloDir)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getLong(4))).toMap
    v1.foreach { r =>
      assert(solo(r.getLong(0)) == ((r.getLong(3), r.getLong(4))),
        s"v1 doc ${r.getLong(0)} moved under append")
    }
    // arrivals: per shard, positions continue contiguously after the tail
    out.groupBy(_.getInt(1)).foreach { case (_, g) =>
      val sorted = g.sortBy(_.getLong(3))
      assert(sorted.map(_.getLong(3)).toSeq == (1L to g.length).toSeq,
        "positions contiguous across v1+v2")
      var acc = 0L
      sorted.foreach { r =>
        assert(r.getLong(4) == acc); acc += r.getLong(2)
      }
      // within a shard every v1 row precedes every v2 row
      val firstV2 = sorted.indexWhere(_.getString(5) == "v2")
      if (firstV2 >= 0)
        assert(sorted.drop(firstV2).forall(_.getString(5) == "v2"))
    }
  }

  test("bpeTokenize: merges and subword counts match the hand-run algorithm") {
    // corpus "ana ana banana": weighted pair counts round 1:
    //   (a,n)=4  [2 in ana x2 docs-worth of weight... see below], (n,a$)=3, (n,a)=1, (b,a)=1
    // word weights: ana n=2, banana n=1.
    //   ana  = |a|n|a$|   pairs (a,n),(n,a$) x weight 2
    //   banana = |b|a|n|a|n|a$| pairs (b,a),(a,n),(n,a),(a,n)... wait:
    //   symbols b,a,n,a,n,a$ -> pairs (b,a),(a,n),(n,a),(a,n),(n,a$)
    // totals: (a,n) = 2 + 2 = 4 -> merge 1 = 'an'
    //   ana = |an|a$| ; banana = |b|an|an|a$|
    // round 2: (an,a$) = 2 + 1 = 3 -> merge 2 = 'ana$'
    //   ana = |ana$| (1 symbol); banana = |b|an|ana$| (3 symbols)
    // round 3: all pair counts are 1 -> deterministic early stop
    val dir = docDir(Seq(
      (1L, "ana ana banana", "en", "src0"),
      (2L, "ana", "en", "src0")))
    // doc 2 contributes one more 'ana' (weights above include it: ana n=3)
    // -> (a,n)=3+2=5, (n,a$)=3+1=4 - ordering identical, same merges
    val out = QueriesTraining.bpeTokenize(spark, dir)
      .collect().map(r => r.getLong(0) -> r).toMap
    val d1 = out(1L)
    assert(d1.getLong(1) == 3L, "n_words")
    assert(d1.getLong(2) == 12L, "n_chars: 3+3+6")
    assert(d1.getLong(3) == 1L + 1L + 3L, "ana=1 token x2, banana=3")
    val d2 = out(2L)
    assert(d2.getLong(3) == 1L, "'ana' collapses to one learned token")
    // chars_per_tok integer mills: doc1 12 chars / 5 tokens
    assert(d1.getLong(4) == 2400L)
  }

  test("bpeTokenize: training leaves one vocab checkpoint resident") {
    // the vocab is checkpointed once before training and every 4 merge
    // rounds (3 copies here); each new copy releases the previous one
    val sc = spark.sparkContext
    def checkpointed = sc.getPersistentRDDs.collect {
      case (id, rdd) if rdd.isCheckpointed => id }.toSet
    val before = checkpointed
    QueriesTraining.bpeTokenize(spark, sf0001)
    assert((checkpointed -- before).size == 1)
  }

  test("tokenizeApply: id streams match the hand-run encode; n_tok agrees with bpeTokenize") {
    // Same fixture as the bpeTokenize test: merges 'an' then 'ana$', stop.
    // Final vocab: ana = |ana$|, banana = |b|an|ana$|.
    // Symbol alphabet sorted bytewise: an < ana$ < b -> ids 1, 2, 3.
    val dir = docDir(Seq(
      (1L, "ana ana banana", "en", "src0"),
      (2L, "ana", "en", "src0")))
    val out = QueriesTraining.tokenizeApply(spark, dir)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getLong(1) == 5L, "doc1 n_tok: 1 + 1 + 3")
    assert(out(1L).getString(2) == "2 2 3 1 2", "ordered id stream")
    assert(out(2L).getLong(1) == 1L)
    assert(out(2L).getString(2) == "2")
    // cross-op consistency: the encode's token counts are the same
    // subword economics bpeTokenize reports (same trained merges).
    val bpe = QueriesTraining.bpeTokenize(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    out.foreach { case (id, r) => assert(r.getLong(1) == bpe(id),
      s"doc $id: encode n_tok vs bpeTokenize n_bpe") }
    // the id stream length is n_tok (decodable framing)
    out.values.foreach { r =>
      assert(r.getString(2).split(" ").length.toLong == r.getLong(1)) }
  }

  // 16 docs: 8 'en' sharing one vocabulary, 8 'de' sharing a disjoint
  // one -> target-vocab docs must carry strictly higher importance weights.
  private val dsirRows =
    (0 until 8).map(i => (i.toLong, "alpha beta gamma", "en", "s")) ++
      (8 until 16).map(i => (i.toLong, "uno dos tres", "de", "s"))

  /** Independent recompute of the exact integer DSIR weights (same hashed
    * buckets, same add-one-smoothed micro-quantized log-ratio).
    */
  private def dsirExpected(rows: Seq[(Long, String, String, String)]): Map[Long, Long] = {
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def bucket(g: String) =
      java.lang.Long.parseLong(md5hex(g).take(15), 16) % 4096L
    def grams(t: String) = {
      val ws = t.split(" ")
      ws.toSeq ++ ws.sliding(2).filter(_.length == 2).map(_.mkString(" "))
    }
    val all = rows.flatMap { case (id, t, lang, _) =>
      grams(t).map(g => (id, lang == "en", bucket(g))) }
    val byB = all.groupBy(_._3).map { case (b, gs) =>
      b -> (gs.size.toLong, gs.count(_._2).toLong) }
    val (rt, tt) = (all.size.toLong, all.count(_._2).toLong)
    val ratio = byB.map { case (b, (rawN, tgtN)) =>
      b -> math.round((math.log((tgtN + 1).toDouble / (tt + 4096).toDouble)
        - math.log((rawN + 1).toDouble / (rt + 4096).toDouble)) * 1e6) }
    all.groupBy(_._1).map { case (id, gs) =>
      id -> gs.groupBy(_._3).map { case (b, n) => n.size * ratio(b) }.sum }
  }

  test("dsirSelect: weights match an independent recompute; top-eighth cut and ordering hold") {
    val dir = docDir(dsirRows)
    val out = QueriesTraining.dsirSelect(spark, dir).collect()
    assert(out.length == 2, "ceil(16/8) docs selected")
    val expected = dsirExpected(dsirRows)
    val top = expected.toSeq.sortBy { case (id, w) => (-w, id) }.take(2)
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq == top,
      "selected (doc_id, w_micro) pairs match the recompute, in rank order")
    assert(top.forall(_._1 < 8L), "selection is target-vocabulary docs")
    // every en doc outweighs every de doc in the full weight table
    val (enW, deW) = (expected.filter(_._1 < 8).values, expected.filter(_._1 >= 8).values)
    assert(enW.min > deW.max, "target-vocab docs strictly outrank")
  }

  test("streamDsir: per-batch scores equal the batch formula; the gate keeps exactly w>=0") {
    val dir = docDir(dsirRows)
    val out = QueriesTraining.streamDsir(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    val expected = dsirExpected(dsirRows)
    assert(out.keySet == expected.keySet, "every doc scored exactly once across micro-batches")
    expected.foreach { case (id, w) =>
      assert(out(id)._1 == w, s"doc $id weight: stream vs batch recompute")
      assert(out(id)._2 == (w >= 0), s"doc $id gate flag")
    }
    // the fixture's break-even sits between the vocab groups: en kept, de dropped
    assert((0L until 8L).forall(out(_)._2) && (8L until 16L).forall(!out(_)._2))
  }

  test("editNeardup: exact dups score 1000/dup; a one-char edit scores its exact distance") {
    val base = "the quick brown fox jumps over the lazy dog near the river bank today"
    val edit = "the quick brown fox jumps over the lazy cog near the river bank today" // 1 substitution
    val dir = docDir(Seq(
      (1L, base, "en", "s"),
      (2L, edit, "en", "s"),
      (3L, "completely unrelated content sharing no shingles with anything here", "en", "s"),
      (4L, base, "en", "s")))
    val out = QueriesAnalytics.editNeardup(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
    // exact dup pair must surface (identical signatures share every band)
    assert(out((1L, 4L)) == ((0L, 1000L, true)), "exact dup: distance 0, sim 1000")
    // doc 3 shares no shingles -> never a candidate
    assert(!out.keySet.exists { case (a, b) => a == 3L || b == 3L })
    // the one-char edit: if LSH surfaced it (signature-dependent), the
    // verdict must be the exact hand arithmetic
    val l = base.length.toLong
    Seq((1L, 2L), (2L, 4L)).foreach { p =>
      out.get(p).foreach { case (d, s, dup) =>
        assert(d == 1L && s == (1000L * (l - 1)) / l && dup, s"pair $p")
      }
    }
  }

  test("editNeardup: thresholded kernel gates distances past max_len div 5 to -1") {
    // the plan's banded-DP kernel: levenshtein(a, b, t) returns the exact
    // distance iff <= t, else -1 — the boundary cases pin the sentinel
    // contract the sim_mills arithmetic relies on (d <= t <=> sim >= 800)
    val r = spark.sql(
      """SELECT levenshtein('abcdefghij', 'zzzzzzzzzz', 2) AS gated,
        |       levenshtein('abcdefghij', 'abcdefghiz', 2) AS under,
        |       levenshtein('aaaaaaaaaa', 'aaaaaaaazz', 2) AS at_t,
        |       levenshtein('aaaaaaaaaa', 'aaaaaaazzz', 2) AS past_t,
        |       levenshtein('', '', 0) AS empty""".stripMargin).head()
    assert(r.getInt(0) == -1, "all-different pair past threshold -> -1")
    assert(r.getInt(1) == 1, "distance 1 under threshold stays exact")
    assert(r.getInt(2) == 2, "distance exactly t stays exact")
    assert(r.getInt(3) == -1, "distance t+1 -> -1")
    assert(r.getInt(4) == 0, "empty pair at threshold 0 is distance 0")
  }

  test("datasetCard: cells, dup counting, and ALL-rollup additivity") {
    val passText = "the cat and the dog walk to the park in the rain today ok"
    val rows = Seq(
      (1L, passText, "en", "srcA"),
      (2L, passText, "en", "srcA"), // exact dup of 1 in the same cell
      (3L, "zz", "en", "srcB"), // fails gopher (too short)
      (4L, passText + " x", "de", "srcB"))
    val dir = docDir(rows)
    val out = QueriesTraining.datasetCard(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(out.size == 8, "3 populated cells + 2 source + 2 lang rollups + ALL")
    val cellAA = out(("srcA", "en"))
    assert(cellAA.getLong(2) == 2 && cellAA.getLong(5) == 1, "dup counted in cell")
    assert(cellAA.getLong(6) == 2, "both srcA docs pass gopher")
    val all = out(("ALL", "ALL"))
    assert(all.getLong(2) == 4 && all.getLong(5) == 1)
    assert(out(("srcB", "en")).getLong(6) == 0, "short doc fails")
    // additivity: per-source rollups sum to the ALL row
    val bySource = out.collect { case ((s, "ALL"), r) if s != "ALL" => r }
    assert(bySource.map(_.getLong(2)).sum == all.getLong(2))
    assert(bySource.map(_.getLong(3)).sum == all.getLong(3))
  }
}
