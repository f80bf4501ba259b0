package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.time.ZoneOffset
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Driver-side expectations, written without the library under test:
  * the canonical text of a value (the reference's NVL/TO_CHAR/fixed-point
  * rules, as documented in FIXTURES.md), repair statements, an
  * order-independent table fingerprint and exact shingle Jaccard.
  */
object Expect {

  private val tsFormat = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
    .withZone(ZoneOffset.UTC)

  def canonical(v: Any): String = v match {
    case null => "0"
    case d: Double => math.floor(d * 10000.0).toLong.toString
    case t: java.sql.Timestamp => tsFormat.format(t.toInstant)
    case d: java.sql.Date => d.toLocalDate.toString
    case other => other.toString
  }

  def canonicalRow(r: Row, n: Int): Seq[String] = (0 until n).map(i => canonical(r.get(i)))

  def insertSql(table: String, cols: Seq[String], vals: Seq[String]): String =
    s"INSERT INTO $table (${cols.mkString(",")}) VALUES (${vals.map(v => s"'$v'").mkString(",")})"

  def deleteSql(table: String, cols: Seq[String], vals: Seq[String]): String =
    s"DELETE FROM $table WHERE " + cols.zip(vals).map { case (c, v) => s"$c='$v'" }.mkString(" AND ")

  /** Order-independent fingerprint of a table of canonical rows: row
    * count plus two sums of 32-bit md5 slices of each row's text.
    */
  final case class Fingerprint(rows: Long, a: Long, b: Long)

  final class FingerprintBuilder {
    private val md = MessageDigest.getInstance("MD5")
    private var n, a, b = 0L
    def add(vals: Seq[String]): Unit = {
      val d = md.digest(vals.mkString("\u0001").getBytes(UTF_8))
      def word(o: Int) = ((d(o) & 0xFFL) << 24) | ((d(o + 1) & 0xFFL) << 16) |
        ((d(o + 2) & 0xFFL) << 8) | (d(o + 3) & 0xFFL)
      n += 1; a += word(0); b += word(4)
    }
    def result: Fingerprint = Fingerprint(n, a, b)
  }

  /** The same fingerprint computed by Spark over string columns. */
  def fingerprintOf(df: DataFrame): Fingerprint = {
    val h = md5(concat_ws("\u0001", df.columns.toSeq.map(col): _*))
    val r = df.agg(count(lit(1)),
      coalesce(sum(conv(substring(h, 1, 8), 16, 10).cast(LongType)), lit(0L)),
      coalesce(sum(conv(substring(h, 9, 8), 16, 10).cast(LongType)), lit(0L))).head()
    Fingerprint(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** Character shingles of the normalized text, as the dedup operators
    * define them: lower-cased, trimmed, whitespace runs collapsed,
    * windows of `k` code points (a shorter text is its own single window).
    */
  def shingleSet(text: String, k: Int = 8): Set[String] = {
    val norm = text.replaceAll("\\s+", " ").trim.toLowerCase
    val cps = norm.codePoints().toArray
    val n = math.max(cps.length - k + 1, 1)
    (0 until n).map(i => new String(cps, i, math.min(k, cps.length - i))).toSet
  }

  /** Jaccard scaled by 10^5 and floored, the operators' integer form. */
  def jaccardScaled(a: Set[String], b: Set[String]): Long = {
    val inter = a.count(b.contains)
    math.floor(100000.0 * inter / (a.size + b.size - inter)).toLong
  }

  /** MinHash signature of a shingle set as the dedup operators define it
    * (the declarative spec `Dedup.minhashSignaturesAgg`): per shingle,
    * a = md5 bytes 0-3 and b = md5 bytes 4-7 with the low bit set, each
    * read as an unsigned 32-bit number; hash i is (a + i*b) mod 2^32,
    * and the signature is the minimum of each hash over the set.
    */
  def minhash(shingles: Set[String], numHashes: Int = 8): Array[Long] = {
    val md = MessageDigest.getInstance("MD5")
    val mins = Array.fill(numHashes)(Long.MaxValue)
    shingles.foreach { s =>
      val d = md.digest(s.getBytes(UTF_8))
      def word(o: Int) = ((d(o) & 0xFFL) << 24) | ((d(o + 1) & 0xFFL) << 16) |
        ((d(o + 2) & 0xFFL) << 8) | (d(o + 3) & 0xFFL)
      val (a, b) = (word(0), word(4) | 1L)
      (0 until numHashes).foreach(i => mins(i) = math.min(mins(i), (a + i * b) % 4294967296L))
    }
    mins
  }

  /** LSH candidates: every pair (d1 < d2) of docs whose signatures agree
    * on all `rowsPerBand` hashes of at least one band.
    */
  def lshPairs(sigs: Iterable[(Long, Array[Long])], rowsPerBand: Int = 2): Set[(Long, Long)] =
    sigs.flatMap { case (d, m) => m.grouped(rowsPerBand).zipWithIndex.map { case (b, i) => (i, b.toSeq) -> d } }
      .groupBy(_._1).values
      .flatMap(bucket => bucket.map(_._2).toSeq.sorted.combinations(2).map(p => (p(0), p(1))))
      .toSet

  /** Union-find components labelled by their minimum member. */
  def components(pairs: Iterable[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (x, y) =>
      val (rx, ry) = (find(x), find(y))
      if (rx != ry) { if (rx < ry) parent(ry) = rx else parent(rx) = ry }
    }
    parent.keys.map(v => v -> find(v)).toMap
  }

  /** Multiset difference summary for error messages. */
  def multisetDiff(name: String, got: Seq[String], want: Seq[String]): Option[String] = {
    val (g, w) = (got.groupBy(identity).view.mapValues(_.size).toMap,
      want.groupBy(identity).view.mapValues(_.size).toMap)
    if (g == w) None
    else {
      val missing = w.filter { case (k, c) => g.getOrElse(k, 0) < c }.keys.take(2)
      val extra = g.filter { case (k, c) => w.getOrElse(k, 0) < c }.keys.take(2)
      Some(s"$name: got ${got.size} want ${want.size}; missing ${missing.mkString(" | ")}; " +
        s"extra ${extra.mkString(" | ")}")
    }
  }
}
