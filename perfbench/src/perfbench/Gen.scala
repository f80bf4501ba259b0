package perfbench

import java.sql.{Date, Timestamp}
import java.time.{Instant, LocalDate}
import java.util.SplittableRandom

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Seeded input generators. Every value is a pure function of
  * (seed, stream, index), so Spark tasks and the driver-side checkers
  * rebuild identical rows without sharing state, and one seed always
  * yields byte-identical fixture files.
  */
object Gen {

  def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def rng(seed: Long, stream: Long, i: Long): SplittableRandom =
    new SplittableRandom(mix(mix(seed, stream), i))

  /** Uniform in [0, 1) from one hash, for per-row decisions. */
  def unit(seed: Long, stream: Long, i: Long): Double =
    (mix(mix(seed, stream), i) >>> 11) * (1.0 / (1L << 53))

  // ------------------------------------------------------------ lineitem

  /** TPC-H lineitem, all 16 columns. Doubles, a timestamp, dates and a
    * nullable string cover every branch of the canonical renderer.
    * Part keys keep TPC-H's ratio of one part per 30 lines at 50,000
    * rows, so that l_orderkey has the largest NDV and is the split key,
    * as in TPC-H data.
    */
  val lineitemSchema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType, nullable = false),
    StructField("l_partkey", LongType, nullable = false),
    StructField("l_suppkey", LongType, nullable = false),
    StructField("l_linenumber", IntegerType, nullable = false),
    StructField("l_quantity", DoubleType, nullable = false),
    StructField("l_extendedprice", DoubleType, nullable = false),
    StructField("l_discount", DoubleType, nullable = false),
    StructField("l_tax", DoubleType, nullable = false),
    StructField("l_returnflag", StringType, nullable = false),
    StructField("l_linestatus", StringType, nullable = false),
    StructField("l_shipdate", TimestampType, nullable = false),
    StructField("l_commitdate", DateType, nullable = false),
    StructField("l_receiptdate", DateType, nullable = false),
    StructField("l_shipinstruct", StringType, nullable = false),
    StructField("l_shipmode", StringType, nullable = false),
    StructField("l_comment", StringType, nullable = true)))

  val lineitemCols: Seq[String] = lineitemSchema.fieldNames.toSeq
  val lineitemKeys: Seq[String] = Seq("l_orderkey", "l_linenumber")
  val LinesPerOrder = 4
  val Parts = 1700

  private val flags = Array("A", "N", "R")
  private val statuses = Array("O", "F")
  private val instructs = Array("DELIVER IN PERSON", "COLLECT COD", "NONE", "TAKE BACK RETURN")
  private val modes = Array("AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK")
  private val commentWords = Array(
    "furiously", "carefully", "quickly", "slyly", "blithely", "fluffily", "ironic",
    "final", "pending", "regular", "express", "special", "bold", "even", "silent",
    "unusual", "deposits", "packages", "requests", "accounts", "instructions",
    "theodolites", "pinto", "beans", "foxes", "ideas", "asymptotes", "courts",
    "dependencies", "platelets", "excuses", "sheaves", "sleep", "wake", "nag",
    "haggle", "cajole", "boost", "detect", "integrate", "among", "above", "across")
  private val day0 = LocalDate.of(1992, 1, 1).toEpochDay

  /** Row `i` of the source table: order i/4+1, line i%4+1. `variant`
    * salts the non-key values, so updates draw a different row for the
    * same key.
    */
  def lineitem(seed: Long, i: Long, variant: Int = 0): Row =
    lineitemAt(seed, i / LinesPerOrder + 1, (i % LinesPerOrder).toInt + 1, i, variant)

  def lineitemAt(seed: Long, orderkey: Long, line: Int, i: Long, variant: Int): Row = {
    val r = rng(seed, 11L + variant, i)
    val qty = (r.nextInt(50) + 1).toDouble
    val price = (r.nextInt(100000) + 90000) / 100.0
    val ship = day0 + r.nextInt(2500)
    val shipTs = Timestamp.from(
      Instant.ofEpochSecond(ship * 86400L + r.nextInt(86400), r.nextInt(1000) * 1000000L))
    val comment =
      if (r.nextInt(100) == 0) null
      else Seq.fill(3 + r.nextInt(4))(commentWords(r.nextInt(commentWords.length))).mkString(" ")
    Row(orderkey, (r.nextInt(Parts) + 1).toLong, (r.nextInt(1000) + 1).toLong, line,
      qty, qty * price, r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
      flags(r.nextInt(flags.length)), statuses(r.nextInt(statuses.length)), shipTs,
      Date.valueOf(LocalDate.ofEpochDay(ship + r.nextInt(60) - 30)),
      Date.valueOf(LocalDate.ofEpochDay(ship + 1 + r.nextInt(30))),
      instructs(r.nextInt(instructs.length)), modes(r.nextInt(modes.length)), comment)
  }

  // ------------------------------------------------------- verify drift

  /** Seeded drift of the compare target (FIXTURES.md F2 classes),
    * confined to a few narrow order-key zones so that only a small share
    * of the equi-depth chunks differ. Inside a zone each row is deleted,
    * updated or duplicated with small probability, and each order may
    * gain an inserted line 5.
    */
  final case class Drift(seed: Long, rows: Long, zones: Seq[(Long, Long)]) {
    def inZone(orderkey: Long): Boolean = zones.exists { case (a, b) => orderkey >= a && orderkey < b }
    /** 0 keep, 1 delete, 2 update, 3 duplicate. */
    def action(i: Long): Int =
      if (!inZone(i / LinesPerOrder + 1)) 0
      else {
        val u = unit(seed, 21, i)
        if (u < 0.05) 1 else if (u < 0.10) 2 else if (u < 0.13) 3 else 0
      }
    def inserts(i: Long): Boolean =
      i % LinesPerOrder == LinesPerOrder - 1 && inZone(i / LinesPerOrder + 1) &&
        unit(seed, 22, i) < 0.10
    def updated(i: Long): Row = lineitem(seed, i, variant = 1)
    def inserted(i: Long): Row =
      lineitemAt(seed, i / LinesPerOrder + 1, LinesPerOrder + 1, i, variant = 2)

    /** The target rows derived from source row `i`. */
    def target(i: Long): Seq[Row] = {
      val base = action(i) match {
        case 0 => Seq(lineitem(seed, i))
        case 1 => Seq.empty
        case 2 => Seq(updated(i))
        case _ => Seq(lineitem(seed, i), lineitem(seed, i))
      }
      if (inserts(i)) base :+ inserted(i) else base
    }

    /** Row indexes inside the zones (the only rows drift can touch). */
    def zoneRows: Iterator[Long] = zones.iterator.flatMap { case (a, b) =>
      ((a - 1) * LinesPerOrder until math.min(rows, (b - 1) * LinesPerOrder)).iterator
    }

    /** Planted diff: rows the target lacks (ADD) and rows it has extra (DEL). */
    def expectedDiff: (Seq[Row], Seq[Row]) = {
      val add = Seq.newBuilder[Row]
      val del = Seq.newBuilder[Row]
      zoneRows.foreach { i =>
        action(i) match {
          case 1 => add += lineitem(seed, i)
          case 2 => add += lineitem(seed, i); del += updated(i)
          case 3 => del += lineitem(seed, i)
          case _ =>
        }
        if (inserts(i)) del += inserted(i)
      }
      (add.result(), del.result())
    }

    def targetRows: Long =
      rows + zoneRows.map(i => (action(i) match { case 1 => -1; case 3 => 1; case _ => 0 }) +
        (if (inserts(i)) 1 else 0)).sum
  }

  /** `nZones` zones, each a quarter of a chunk wide (at least 8 orders,
    * so a tiny table still drifts), at seeded offsets.
    */
  def drift(seed: Long, rows: Long, nChunks: Int, nZones: Int): Drift = {
    val orders = rows / LinesPerOrder
    val width = math.max(8L, orders / nChunks / 4)
    val r = rng(seed, 23, 0)
    val starts = Iterator.continually(1 + (r.nextLong(orders - width) / width) * width)
      .distinct.take(nZones).toSeq.sorted
    Drift(seed, rows, starts.map(s => (s, s + width)))
  }

  // ------------------------------------------------------ migrate batch

  /** Change batch of about 1% of keys: 'U' and 'D' on existing keys,
    * 'I' as a new line 6 of an existing order. Rows carry every value
    * column plus `op`.
    */
  final case class Batch(seed: Long, rows: Long) {
    def op(i: Long): Char = {
      val u = unit(seed, 31, i)
      if (u < 0.005) 'U' else if (u < 0.008) 'D' else if (u < 0.010) 'I' else '-'
    }
    def batchRows(i: Long): Seq[Row] = op(i) match {
      case 'U' => Seq(withOp(lineitem(seed, i, variant = 3), "U"))
      case 'D' => Seq(withOp(lineitem(seed, i), "D"))
      case 'I' => Seq(withOp(inserted(i), "I"))
      case _ => Seq.empty
    }
    def inserted(i: Long): Row =
      lineitemAt(seed, i / LinesPerOrder + 1, LinesPerOrder + 2, i, variant = 4)
    /** Rows of the merged target derived from source row `i`. */
    def merged(i: Long): Seq[Row] = op(i) match {
      case 'U' => Seq(lineitem(seed, i, variant = 3))
      case 'D' => Seq.empty
      case 'I' => Seq(lineitem(seed, i), inserted(i))
      case _ => Seq(lineitem(seed, i))
    }
  }

  def withOp(r: Row, op: String): Row = Row.fromSeq(r.toSeq :+ op)
  val batchSchema: StructType = lineitemSchema.add(StructField("op", StringType, nullable = false))

  // ------------------------------------------------------ dedup corpus

  /** Docs come in blocks of 80: positions 0-23 are three planted
    * near-duplicate clusters of 8 (30% of docs), the rest singletons.
    * The third cluster of every block is a chain (each member edits its
    * predecessor), so its Jaccard graph is a path and connected
    * components needs several rounds; the other two are stars (each
    * member edits a shared base).
    */
  val Block = 80
  val ClusterSize = 8
  val ClustersPerBlock = 3
  val WordsPerDoc = 60
  val VocabSize = 20000

  /** Zipf(1) draws over 20,000 random-letter words, the rank-frequency
    * law of natural text: unrelated docs share the common words and the
    * 8-grams that span them (mean Jaccard about 0.015), so LSH also
    * returns chance candidates that Jaccard verification must screen.
    * The vocabulary is one fixed language for every seed: which common
    * 8-grams collide in the LSH bands depends on the words, so a
    * per-seed vocabulary would change the candidate volume tenfold from
    * seed to seed.
    */
  private lazy val vocab: Array[String] = {
    val r = rng(0, 41, 0)
    Array.fill(VocabSize)(Seq.fill(3 + r.nextInt(6))(('a' + r.nextInt(26)).toChar).mkString)
  }
  private lazy val cumulative: Array[Double] =
    (1 to VocabSize).map(1.0 / _).scanLeft(0.0)(_ + _).tail.toArray
  private def word(r: SplittableRandom): String = {
    val i = java.util.Arrays.binarySearch(cumulative, r.nextDouble() * cumulative.last)
    vocab(if (i >= 0) i else -i - 1)
  }

  final case class Corpus(seed: Long, docs: Long) {
    private def words(stream: Long, i: Long): Array[String] = {
      val r = rng(seed, stream, i)
      Array.fill(WordsPerDoc)(word(r))
    }
    private def edit(ws: Array[String], stream: Long, i: Long, n: Int): Array[String] = {
      val r = rng(seed, stream, i)
      val out = ws.clone()
      (0 until n).foreach(_ => out(r.nextInt(out.length)) = word(r))
      out
    }

    /** (block, cluster, member), or None for a singleton. */
    def cluster(d: Long): Option[(Long, Int, Int)] = {
      val pos = (d % Block).toInt
      if (pos < ClusterSize * ClustersPerBlock)
        Some((d / Block, pos / ClusterSize, pos % ClusterSize))
      else None
    }

    def text(d: Long): String = (cluster(d) match {
      case None => words(42, d)
      case Some((b, c, m)) =>
        val key = b * ClustersPerBlock + c
        val base = words(43, key)
        if (c == ClustersPerBlock - 1)
          (1 to m).foldLeft(base)((ws, k) => edit(ws, 44, key * ClusterSize + k, 2))
        else if (m == 0) base
        else edit(base, 45, key * ClusterSize + m, 1)
    }).mkString(" ")

    /** Planted pairs: every pair inside one cluster. */
    def plantedPairs: Iterator[(Long, Long)] =
      (0L until docs).iterator.filter(d => cluster(d).exists(_._3 == 0)).flatMap { first =>
        (0 until ClusterSize).combinations(2).map(p => (first + p(0), first + p(1)))
          .filter(_._2 < docs)
      }
  }

  val corpusSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = false)))
}
