package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.functions.Canonical
import graft.operators.{ChunkPlanner, DataCompare, Dedup, Migrate}

/** One user task run back to back by a single client. `setupFixture`
  * writes the seeded inputs (repeatable: it runs several times to time
  * set-up); `expect` derives the expected outputs on the driver; `run`
  * is the timed task; `check` compares its output with the expectation
  * outside the timed window and returns the mismatches it found.
  */
abstract class Workload(val spark: SparkSession, val seed: Long, val dir: String) {
  type Out
  def name: String
  /** Input rows one task completes, the numerator of rows_per_s. */
  def rowsPerTask: Long
  def setupFixture(): Unit
  def expect(): Unit
  def run(t: Tracer, out: String): Out
  def check(o: Out): Seq[String]
  /** Useful-work ratios and counts of one checked output, for the trace. */
  def ratios(o: Out, spanAccs: Map[String, SpanAcc]): Map[String, Double]
  /** Input tables and their rows, for the facts line. */
  def inputs: Seq[(String, Long)]
  /** Sizes of the expected output, for the facts line (after `expect`). */
  def shape: String = ""

  protected val cores: Int = spark.sparkContext.defaultParallelism

  /** Write `n` source indexes expanded by `rows` as one parquet table;
    * a fixed partition count keeps the files byte-identical per seed.
    */
  protected def writeRows(n: Long, schema: StructType, path: String)(rows: Long => Seq[Row]): Unit = {
    val rdd = spark.sparkContext.range(0L, n, 1L, cores).flatMap(rows)
    spark.createDataFrame(rdd, schema).write.mode("overwrite").parquet(path)
  }
}

object Workload {
  /** The workloads BENCHMARK.json lists. `verify` runs only when named:
    * a third workload does not fit the benchmark's time budget, and of
    * verify and migrate, migrate's short tasks give the steadier median.
    */
  val benchmarked: Seq[String] = Seq("dedup", "migrate")
  val names: Seq[String] = "verify" +: benchmarked

  /** Operator calls each workload wraps in a span. */
  val spans: Map[String, Seq[String]] = Map(
    "verify" -> Seq("ChunkPlanner.plan", "DataCompare.compareChunks", "DataCompare.rowDiff",
      "DataCompare.repairSql"),
    "dedup" -> Seq("Dedup.minhashSignatures", "Dedup.minhashCandidates", "Dedup.jaccardVerify",
      "Dedup.connectedComponents"),
    "migrate" -> Seq("Migrate.writeCsv", "Migrate.mergeApply"))

  /** Useful-work ratios and counts each workload reports when traced. */
  val ratios: Map[String, Seq[String]] = Map(
    "verify" -> Seq("verify.drift_chunk_frac", "verify.rescan_row_frac"),
    "dedup" -> Seq("dedup.candidate_yield", "dedup.planted_pairs_found"),
    "migrate" -> Seq("migrate.write_amp"))

  /** Sizes at scale 1; the self-test runs the same code at a tiny scale. */
  def apply(name: String, spark: SparkSession, seed: Long, dir: String, scale: Double): Workload = {
    def n(x: Long): Long = math.max(Gen.Block.toLong, (x * scale).toLong)
    name match {
      case "verify" => new VerifyWorkload(spark, seed, dir, rows = n(50000) / 4 * 4, chunks = 20)
      case "dedup" => new DedupWorkload(spark, seed, dir, docs = n(2400) / Gen.Block * Gen.Block)
      case "migrate" => new MigrateWorkload(spark, seed, dir, rows = n(50000) / 4 * 4)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
  }

  def dirBytes(path: String): Long = {
    val f = new File(path)
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(g => dirBytes(g.getPath)).sum
    else if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0L
    else f.length()
  }
}

/** The reference's data_compare task over a drifted copy of lineitem. */
final class VerifyWorkload(spark: SparkSession, seed: Long, dir: String, rows: Long, chunks: Int)
    extends Workload(spark, seed, dir) {
  final case class Out(dir: String, nChunks: Int, stmts: Seq[String], summary: Row)

  val name = "verify"
  private val drift = Gen.drift(seed, rows, chunks, nZones = 1)
  private val cols = Gen.lineitemCols
  private var wantDiff = Seq.empty[String]
  private var wantStmts = Seq.empty[String]
  private lazy val dstRows = drift.targetRows

  def rowsPerTask: Long = rows + dstRows
  def inputs: Seq[(String, Long)] = Seq("src" -> rows, "dst" -> dstRows)

  def setupFixture(): Unit = {
    val (s, d) = (seed, drift)
    writeRows(rows, Gen.lineitemSchema, s"$dir/src")(i => Seq(Gen.lineitem(s, i)))
    writeRows(rows, Gen.lineitemSchema, s"$dir/dst")(d.target)
  }

  def expect(): Unit = {
    val (add, del) = drift.expectedDiff
    def rendered(rs: Seq[Row]) = rs.map(Expect.canonicalRow(_, cols.size))
    wantDiff = rendered(add).map(v => ("ADD" +: v).mkString("|")) ++
      rendered(del).map(v => ("DEL" +: v).mkString("|"))
    wantStmts = rendered(add).map(Expect.insertSql("lineitem", cols, _)) ++
      rendered(del).map(Expect.deleteSql("lineitem", cols, _))
  }

  def run(t: Tracer, out: String): Out = {
    val src = spark.read.parquet(s"$dir/src")
    val dst = spark.read.parquet(s"$dir/dst")
    val (key, plan) = t.span("ChunkPlanner.plan") {
      val k = ChunkPlanner.chooseSplitKey(src, Seq("l_orderkey", "l_partkey", "l_suppkey"))
      (k, ChunkPlanner.plan(src, k, chunks))
    }
    val cid = ChunkPlanner.chunkIdColumn(col(key), plan)
    val status = t.span("DataCompare.compareChunks") {
      val s = DataCompare.compareChunks(src, dst, cid, cols).cache()
      s.orderBy("chunk_id").write.mode("overwrite").parquet(s"$out/chunk_status")
      s
    }
    try {
      val diff = t.span("DataCompare.rowDiff") {
        val d = DataCompare.rowDiff(src, dst, cols, Some(cid),
          Some(status.where(col("status") =!= "EQUAL"))).cache()
        d.write.mode("overwrite").parquet(s"$out/diff")
        d
      }
      try {
        val stmts = t.span("DataCompare.repairSql") {
          DataCompare.repairSql(diff, "lineitem", cols).orderBy("side", "stmt").select("stmt")
            .collect().map(_.getString(0)).toSeq
        }
        Files.write(Paths.get(s"$out/repair.sql"), stmts.mkString("", ";\n", ";\n").getBytes(UTF_8))
        Out(out, plan.size, stmts, DataCompare.tableSummary(status).collect().head)
      } finally diff.unpersist()
    } finally status.unpersist()
  }

  def check(o: Out): Seq[String] = {
    val diff = spark.read.parquet(s"${o.dir}/diff").collect().toSeq.map { r =>
      (r.getAs[String]("side") +: Expect.canonicalRow(r, cols.size)).mkString("|")
    }
    val s = o.summary
    val wantStatus = if (wantDiff.isEmpty) "EQUAL" else "NOT_EQUAL"
    Seq(
      Expect.multisetDiff("diff rows", diff, wantDiff),
      Expect.multisetDiff("repair statements", o.stmts, wantStmts),
      Option.when(s.getAs[Long]("src_rows") != rows || s.getAs[Long]("dst_rows") != dstRows ||
          s.getAs[Long]("chunk_totals") != o.nChunks || s.getAs[String]("table_status") != wantStatus)(
        s"summary $s, want src_rows $rows dst_rows $dstRows chunk_totals ${o.nChunks} $wantStatus")
    ).flatten
  }

  def ratios(o: Out, accs: Map[String, SpanAcc]): Map[String, Double] = {
    val status = spark.read.parquet(s"${o.dir}/chunk_status")
    val drifted = status.where(col("status") =!= "EQUAL").count()
    val read = accs.get("DataCompare.rowDiff").map(_.recordsRead).getOrElse(0L)
    Map("verify.drift_chunk_frac" -> drifted.toDouble / o.nChunks,
      "verify.rescan_row_frac" -> read.toDouble / rowsPerTask)
  }
}

/** MinHash/LSH near-duplicate clustering of a seeded corpus. */
final class DedupWorkload(spark: SparkSession, seed: Long, dir: String, docs: Long)
    extends Workload(spark, seed, dir) {
  final case class Out(dir: String)

  val name = "dedup"
  private val corpus = Gen.Corpus(seed, docs)
  private var wantCands = Set.empty[(Long, Long)]
  private var wantPairs = Set.empty[(Long, Long, Long)]
  private var wantLabels = Map.empty[Long, Long]
  private var planted = Set.empty[(Long, Long)]

  def rowsPerTask: Long = docs
  def inputs: Seq[(String, Long)] = Seq("docs" -> docs)
  override def shape: String =
    s"lsh_candidates=${wantCands.size} verified_pairs=${wantPairs.size} planted_pairs=${planted.size}"

  def setupFixture(): Unit = {
    val c = corpus
    writeRows(docs, Gen.corpusSchema, s"$dir/docs")(d => Seq(Row(d, c.text(d))))
  }

  /** Every stage's exact output, from the generator's text: the LSH
    * candidates of the operators' MinHash definition, their exact
    * Jaccard, and union-find components over the pairs above 0.8.
    */
  def expect(): Unit = {
    val sets = (0L until docs).map(d => d -> Expect.shingleSet(corpus.text(d))).toMap
    def exact(a: Long, b: Long) = Expect.jaccardScaled(sets(a), sets(b))
    wantCands = Expect.lshPairs(sets.view.mapValues(Expect.minhash(_)).toSeq)
    wantPairs = wantCands.map { case (a, b) => (a, b, exact(a, b)) }.filter(_._3 > 80000)
    wantLabels = Expect.components(wantPairs.toSeq.map(p => (p._1, p._2)))
    planted = corpus.plantedPairs.filter { case (a, b) => exact(a, b) > 80000 }.toSet
  }

  def run(t: Tracer, out: String): Out = {
    val docsDf = spark.read.parquet(s"$dir/docs")
    def stage(span: String, path: String)(df: => DataFrame): DataFrame = t.span(span) {
      df.write.mode("overwrite").parquet(s"$out/$path")
      spark.read.parquet(s"$out/$path")
    }
    val sig = stage("Dedup.minhashSignatures", "sig")(Dedup.minhashSignatures(docsDf, "doc_id", "text"))
    val cand = stage("Dedup.minhashCandidates", "cand")(Dedup.minhashCandidates(sig))
    val pairs = stage("Dedup.jaccardVerify", "pairs")(
      Dedup.jaccardVerify(cand, docsDf, "doc_id", "text").where(col("jaccard_scaled") > 80000))
    stage("Dedup.connectedComponents", "cc")(Dedup.connectedComponents(pairs.select("d1", "d2")))
    Out(out)
  }

  private def read(o: Out, path: String) = spark.read.parquet(s"${o.dir}/$path").collect().toSeq
  private def pairsOf(o: Out) = read(o, "pairs").map(r =>
    (r.getAs[Long]("d1"), r.getAs[Long]("d2"), r.getAs[Long]("jaccard_scaled")))

  def check(o: Out): Seq[String] = {
    val cands = read(o, "cand").map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2")))
    val labels = read(o, "cc").map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("component")).toMap
    Seq(
      Expect.multisetDiff("LSH candidates", cands.map(_.toString), wantCands.toSeq.map(_.toString)),
      Expect.multisetDiff("verified pairs", pairsOf(o).map(_.toString), wantPairs.toSeq.map(_.toString)),
      Option.when(labels != wantLabels)(
        s"components: ${labels.size} labelled docs, want ${wantLabels.size} from union-find")
    ).flatten
  }

  def ratios(o: Out, accs: Map[String, SpanAcc]): Map[String, Double] = {
    val cands = spark.read.parquet(s"${o.dir}/cand").count()
    val pairs = pairsOf(o).map(p => (p._1, p._2))
    Map("dedup.candidate_yield" -> pairs.size.toDouble / math.max(1L, cands),
      "dedup.planted_pairs_found" -> pairs.count(planted.contains).toDouble,
      "dedup.planted_pairs" -> planted.size.toDouble)
  }
}

/** The reference's csv_migrate export, then an incremental MERGE apply. */
final class MigrateWorkload(spark: SparkSession, seed: Long, dir: String, rows: Long)
    extends Workload(spark, seed, dir) {
  final case class Out(dir: String)

  val name = "migrate"
  private val batch = Gen.Batch(seed, rows)
  private val cols = Gen.lineitemCols
  private lazy val batchRows = (0L until rows).count(i => batch.op(i) != '-').toLong
  private var wantCsv, wantMerged = Expect.Fingerprint(0, 0, 0)

  def rowsPerTask: Long = rows + batchRows
  def inputs: Seq[(String, Long)] = Seq("src" -> rows, "batch" -> batchRows)

  def setupFixture(): Unit = {
    val (s, b) = (seed, batch)
    writeRows(rows, Gen.lineitemSchema, s"$dir/src")(i => Seq(Gen.lineitem(s, i)))
    writeRows(rows, Gen.batchSchema, s"$dir/batch")(b.batchRows)
  }

  def expect(): Unit = {
    val (csv, merged) = (new Expect.FingerprintBuilder, new Expect.FingerprintBuilder)
    (0L until rows).foreach { i =>
      csv.add(Expect.canonicalRow(Gen.lineitem(seed, i), cols.size))
      batch.merged(i).foreach(r => merged.add(Expect.canonicalRow(r, cols.size)))
    }
    wantCsv = csv.result
    wantMerged = merged.result
  }

  private def canonical(df: DataFrame): DataFrame =
    df.select(cols.map(c => Canonical.canonical(col(c), df.schema(c).dataType).as(c)): _*)

  def run(t: Tracer, out: String): Out = {
    val src = spark.read.parquet(s"$dir/src")
    t.span("Migrate.writeCsv")(Migrate.writeCsv(canonical(src), s"$out/csv"))
    t.span("Migrate.mergeApply") {
      Migrate.mergeApply(src, spark.read.parquet(s"$dir/batch"), Gen.lineitemKeys)
        .write.mode("overwrite").parquet(s"$out/target")
    }
    Out(out)
  }

  def check(o: Out): Seq[String] = {
    val strings = StructType(cols.map(StructField(_, StringType)))
    val csv = Expect.fingerprintOf(Migrate.readCsv(spark, s"${o.dir}/csv", strings))
    val merged = Expect.fingerprintOf(canonical(spark.read.parquet(s"${o.dir}/target")))
    Seq(
      Option.when(csv != wantCsv)(s"csv fingerprint $csv, want $wantCsv"),
      Option.when(merged != wantMerged)(s"merged target fingerprint $merged, want $wantMerged")
    ).flatten
  }

  def ratios(o: Out, accs: Map[String, SpanAcc]): Map[String, Double] = {
    val written = Seq("Migrate.writeCsv", "Migrate.mergeApply").flatMap(accs.get).map(_.bytesWritten).sum
    Map("migrate.write_amp" -> written.toDouble / Workload.dirBytes(s"$dir/src"))
  }
}
