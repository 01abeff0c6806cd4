package perfbench

import java.util.SplittableRandom

/** Seeded input generators. Every generator draws from one
  * `SplittableRandom` on one thread, so a (seed, pass) pair always yields
  * the same inputs. The traffic dimensions each workload varies are
  * stated next to its generator.
  */
object Gen {

  /** Independent stream for one repetition of one workload. */
  def rng(seed: Long, pass: Int, salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ (pass.toLong << 32) ^ salt)

  /** Zipf(s) over ranks 1..n by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x / total; acc }
    }
    /** Rank in [0, n). */
    def sample(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      var lo = 0
      var hi = n - 1
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (cdf(mid) < u) lo = mid + 1 else hi = mid
      }
      lo
    }
  }

  private val Letters = "abcdefghijklmnopqrstuvwxyz"

  def word(r: SplittableRandom, minLen: Int, maxLen: Int): String = {
    val n = minLen + r.nextInt(maxLen - minLen + 1)
    val sb = new java.lang.StringBuilder(n)
    var i = 0
    while (i < n) { sb.append(Letters.charAt(r.nextInt(26))); i += 1 }
    sb.toString
  }

  /** Text with characters JSON encoders must escape now and then. */
  def text(r: SplittableRandom, minLen: Int, maxLen: Int): String = {
    val w = word(r, minLen, maxLen)
    r.nextInt(8) match {
      case 0 => w.substring(0, w.length / 2) + "\"" + w.substring(w.length / 2)
      case 1 => w.substring(0, w.length / 2) + " " + w.substring(w.length / 2)
      case _ => w
    }
  }

  def uuid(r: SplittableRandom): String = new java.util.UUID(r.nextLong(), r.nextLong()).toString

  // ------------------------------------------------------------ change rows

  /** The row shape of the change workloads (binlog_catchup, stream_fresh):
    * a BIGINT primary key, an INT, two VARCHARs (one nullable), a
    * NEWDECIMAL(14,4) and a BIGINT.
    */
  final case class ChangeRow(id: Long, acct: Int, name: String,
                             amount: java.math.BigDecimal, qty: Long, note: String)

  /** One source change: op is insert | update | delete; `before` is set
    * for update and delete, `after` for insert and update.
    */
  final case class Change(op: String, before: ChangeRow, after: ChangeRow)

  /** Change-event traffic. Dimensions:
    *  - op mix: 60% insert, 30% update (with a before-image), 10% delete;
    *  - key skew: primary keys Zipf(1.1) over `keySpace` keys;
    *  - row width: 6 columns, VARCHARs of 4-40 characters, 10% null notes.
    */
  final class ChangeGen(r: SplittableRandom, keySpace: Int) {
    private val zipf = new Zipf(keySpace, 1.1)

    private def row(id: Long): ChangeRow = ChangeRow(
      id, r.nextInt(1000000), text(r, 4, 24),
      java.math.BigDecimal.valueOf(r.nextLong(2000000000000L) - 1000000000000L, 4),
      r.nextLong(100000L),
      if (r.nextInt(10) == 0) null else text(r, 8, 40))

    def next(): Change = {
      val id = zipf.sample(r).toLong + 1
      val u = r.nextInt(10)
      if (u < 6) Change("insert", null, row(id))
      else if (u < 9) Change("update", row(id), row(id))
      else Change("delete", row(id), null)
    }
  }

  /** Canonical form of one expanded sink record, shared by the expected
    * side (from the generator) and the observed side (decoded from CF
    * JSON): type, key and, for inserts, every payload field.
    */
  def canonical(tpe: String, id: Long, r: ChangeRow): String =
    if (tpe == "delete") s"delete|$id"
    else canonical(id, r.acct.toLong, r.name, r.amount.doubleValue(), r.qty, r.note)

  /** CF JSON carries decimals as doubles; four decimal places recover the
    * source value exactly for the magnitudes generated here.
    */
  def canonical(id: Long, acct: Long, name: String, amount: Double, qty: Long, note: String): String =
    s"insert|$id|$acct|$name|${new java.math.BigDecimal(amount).setScale(4, java.math.RoundingMode.HALF_UP).toPlainString}|$qty|$note"

  /** Expected sink records of one change after update expansion. */
  def expand(c: Change): Seq[String] = c.op match {
    case "insert" => Seq(canonical("insert", c.after.id, c.after))
    case "update" => Seq(canonical("delete", c.before.id, null), canonical("insert", c.after.id, c.after))
    case "delete" => Seq(canonical("delete", c.before.id, null))
  }

  // ---------------------------------------------------------- snapshot rows

  val Regions: Array[String] = Array("us-east", "us-west", "eu-central", "ap-south")

  /** Snapshot table traffic. Dimensions: 12 mixed-type columns, each
    * nullable column null with probability 0.1, a unique BIGINT key,
    * four regions with uniform frequency (the row filter keeps two).
    */
  def snapshotRow(r: SplittableRandom, id: Long): Array[Any] = {
    def maybe(v: => Any): Any = if (r.nextInt(10) == 0) null else v
    Array[Any](
      id,
      maybe(r.nextInt(1000000)),
      maybe(Regions(r.nextInt(Regions.length))),
      maybe(text(r, 4, 24)),
      maybe(new java.math.BigDecimal(java.math.BigInteger.valueOf(r.nextLong(2000000000000L) - 1000000000000L), 4)),
      maybe(r.nextInt(10000)),
      maybe(r.nextDouble() * 1000.0),
      maybe(new java.sql.Timestamp(1600000000000L + r.nextLong(200000000000L))),
      maybe(r.nextBoolean()),
      maybe(text(r, 10, 80)),
      maybe(r.nextLong()),
      maybe(java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(18000L + r.nextInt(2000)))))
  }

  // ---------------------------------------------------------------- corpus

  /** A document corpus with planted duplicates. Dimensions: documents of
    * 30-80 tokens drawn Zipf(1.05) from a `vocab`-word vocabulary; 4% of
    * base documents get 1-3 exact copies and another 4% get one
    * near-duplicate with 3-10% of its tokens replaced.
    */
  final case class Corpus(ids: Array[Long], texts: Array[String], exactGroups: Seq[Seq[Long]])

  def corpus(r: SplittableRandom, baseDocs: Int, vocab: Int): Corpus = {
    val words = Array.fill(vocab)(word(r, 3, 10))
    val zipf = new Zipf(vocab, 1.05)
    def doc(): Array[String] = Array.fill(30 + r.nextInt(51))(words(zipf.sample(r)))
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    val exact = scala.collection.mutable.ArrayBuffer.empty[Seq[Int]]
    var i = 0
    while (i < baseDocs) {
      val d = doc()
      val at = texts.length
      texts += d.mkString(" ")
      val u = r.nextInt(100)
      if (u < 4) {
        val copies = 1 + r.nextInt(3)
        exact += (at to at + copies)
        (1 to copies).foreach(_ => texts += texts(at))
      } else if (u < 8) {
        val edited = d.clone()
        val edits = math.max(1, math.round(d.length * (0.03 + r.nextDouble() * 0.07)).toInt)
        (0 until edits).foreach(_ => edited(r.nextInt(d.length)) = words(r.nextInt(vocab)))
        texts += edited.mkString(" ")
      }
      i += 1
    }
    // ids are a seeded permutation, so copies are not neighbours by id
    val n = texts.length
    val ids = Array.tabulate(n)(_.toLong * 7 + 1)
    var k = n - 1
    while (k > 0) { val j = r.nextInt(k + 1); val t = ids(k); ids(k) = ids(j); ids(j) = t; k -= 1 }
    Corpus(ids, texts.toArray, exact.map(_.map(ids(_))).toSeq)
  }
}
