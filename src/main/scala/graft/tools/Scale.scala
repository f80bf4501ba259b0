package graft.tools

import scala.util.control.NonFatal

import org.apache.spark.graftshims.ListenerShim
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Graft
import graft.operators._

/** The scale harness: named, self-validating scenarios on deterministic
  * synthetic data (`spark.range`-derived, no RNG), in four families:
  *
  *  - `check`: the compare pipeline on a 2N-row pair and the operator
  *    battery at N rows and N/10 docs;
  *  - `vector`: k-means, IVF pairs, hot-cell valves and recall over N
  *    64-dim vectors;
  *  - `curate`: the incremental vocab and DSIR states over an N-doc corpus,
  *    each checked equal to the full recompute;
  *  - `cc`: connected components' union-find path against its fallback on
  *    N-vertex graphs.
  *
  * `sbt "runMain graft.tools.Scale <millions> [scenario|family,…]"` runs
  * the chosen scenarios (all by default) in registry order, N = millions ×
  * 10⁶. Each prints one JSON line, its fields plus the scenario's
  * `shuffle_bytes` and `tasks`; a scenario that throws prints an `error`
  * line instead and the run goes on. The exit code is non-zero if any
  * scenario failed.
  */
object Scale {
  /** A scenario's output fields, in print order. */
  type Fields = Seq[(String, Any)]

  final case class Scenario(name: String, family: String, body: Inputs => Fields)

  private val usage = "usage: Scale <millions> [scenario|family,…]"

  def main(args: Array[String]): Unit = {
    val (millions, chosen) = parse(args.toSeq) match {
      case Right(ok) => ok
      case Left(msg) => System.err.println(msg); sys.exit(2)
    }
    val spark = Graft.local(32)
    spark.sparkContext.setLogLevel("WARN")
    val failed = try run(spark, millions, chosen) finally spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"failed scenarios: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }

  /** The size and the registry scenarios `args` select, or why they are
    * invalid, with the valid names.
    */
  private[tools] def parse(args: Seq[String]): Either[String, (BigDecimal, Seq[Scenario])] = {
    def invalid(why: String) = Left(s"$usage\n$why\nfamilies: ${families.mkString(", ")}" +
      s"\nscenarios: ${registry.map(_.name).mkString(", ")}")
    args match {
      case Seq(m, rest @ _*) if rest.size <= 1 =>
        val wanted = rest.headOption.fold(Set.empty[String])(_.split(",").map(_.trim).toSet)
        val unknown = wanted.filterNot(w => families.contains(w) || registry.exists(_.name == w))
        scala.util.Try(BigDecimal(m)).toOption.filter(_ > 0) match {
          case None => invalid(s"<millions> must be a positive number, got '$m'")
          case Some(_) if unknown.nonEmpty => invalid(s"unknown: ${unknown.toSeq.sorted.mkString(", ")}")
          case Some(size) => Right((size, registry.filter(s =>
            wanted.isEmpty || wanted(s.name) || wanted(s.family))))
        }
      case _ => invalid(s"expected 1 or 2 arguments, got ${args.size}")
    }
  }

  /** Runs `scenarios` at `millions` × 10⁶ on a caller-owned session,
    * printing one line each; returns the names of those that failed. Each
    * family gets fresh [[Inputs]], so its fixtures are dropped when it ends.
    */
  def run(spark: SparkSession, millions: BigDecimal, scenarios: Seq[Scenario]): Seq[String] = {
    val n = (millions * 1000000).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val pc = ProgressCounters.attach(spark)
    def counters() = { ListenerShim.waitUntilEmpty(spark.sparkContext, 30000); pc.snapshot() }
    try {
      var inputs: Option[Inputs] = None
      scenarios.filterNot { s =>
        val in = inputs.filter(_.family == s.family)
          .getOrElse(new Inputs(spark, n, s.family, () => counters()))
        inputs = Some(in)
        runOne(spark, s, in, () => counters())
      }.map(_.name)
    } finally ProgressCounters.detach(spark, pc)
  }

  /** Times `s`, prints its line and restores the session; true on success. */
  private def runOne(spark: SparkSession, s: Scenario, in: Inputs,
      counters: () => ProgressCounters#Snapshot): Boolean = {
    val conf = spark.conf.getAll
    val c0 = counters()
    val lap = stopwatch()
    val out = try Right(s.body(in)) catch { case NonFatal(e) => Left(e) }
    val sec = lap()
    val c1 = counters()
    val fields = out.fold(
      e => Seq("error" -> e.toString.linesIterator.nextOption().getOrElse("").take(500), "sec" -> sec),
      identity) ++
      Seq("shuffle_bytes" -> (c1.shuffleBytes - c0.shuffleBytes), "tasks" -> (c1.tasks - c0.tasks))
    println((("scenario" -> s.name) +: fields).map { case (k, v) => s""""$k":${json(v)}""" }
      .mkString("{", ",", "}"))
    System.err.println(f"[scale] ${s.name} ${if (out.isRight) "ok" else "FAILED"} $sec%.2f s")
    // checkpoint blocks of dropped relations are released by the
    // ContextCleaner only after a driver GC collects their RDD handles; in
    // one JVM they otherwise pile up until a later cache unroll OOMs
    spark.catalog.clearCache()
    val now = spark.conf.getAll
    (now.keySet -- conf.keySet).foreach(spark.conf.unset)
    conf.foreach { case (k, v) => if (!now.get(k).contains(v)) spark.conf.set(k, v) }
    System.gc()
    out.isRight
  }

  private def json(v: Any): String = v match {
    case d: Double  => "%.2f".formatLocal(java.util.Locale.ROOT, d)
    case s: String  => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case xs: Seq[_] => xs.map(json).mkString("[", ",", "]")
    case other      => other.toString
  }

  /** Seconds since the previous call, or since the stopwatch started. */
  private def stopwatch(): () => Double = {
    var last = System.nanoTime()
    () => { val now = System.nanoTime(); val s = (now - last) / 1e9; last = now; s }
  }

  /** One family's shared inputs at size `n`, each built on first use, so
    * any scenario also runs alone.
    */
  final class Inputs private[Scale] (val spark: SparkSession, val n: Long, val family: String,
      counters: () => ProgressCounters#Snapshot) {
    /** Shuffle records written so far in the session, after the bus drains. */
    def shuffleRecords(): Long = counters().shuffleRecordsWritten

    // ---- check: the compare pair (same perturbation classes as Perturb) --
    lazy val base: DataFrame = spark.range(n).select(
      col("id").as("k"),
      (col("id") % 7).cast("int").as("line"),
      (col("id") % 9973 / 100.0).as("qty"),
      concat(lit("flag_"), (col("id") % 3)).as("flag"))
    def src: DataFrame = base
    lazy val dst: DataFrame = base.where(col("k") % 997 =!= 0)
      .withColumn("qty", when(col("k") % 991 === 0, col("qty") + 1).otherwise(col("qty")))
      .unionAll(base.where(col("k") % 983 === 0))
    val cols = Seq("k", "line", "qty", "flag")
    val cid = floor(col("k") / 262144).cast("long") // ~256k-row chunks

    // ---- check: the LSH corpus (every text occurs ~8× ⇒ LSH clusters) --
    lazy val nDocs: Long = math.max(n / 10, 100000L)
    /** Doc `id`'s text: 12 words shared by the 8 ids of its `id div 8` cluster. */
    private def lshText = concat_ws(" ",
      (0 until 12).map(i =>
        concat(lit(s"w${i}_"), pmod(expr("id div 8") * 31 + lit(i), lit(99991)))): _*).as("text")
    lazy val docs: DataFrame = spark.range(nDocs).select(col("id").as("doc_id"), lshText)
    lazy val lshCandidates: DataFrame =
      Dedup.minhashCandidates(Dedup.minhashSignatures(docs, "doc_id", "text"))
    // 10k new docs: half verbatim clones of index docs 0..4999 (ids from
    // 10⁷), half md5-random (ids from 2×10⁷)
    val shardHalf = 5000L
    lazy val lshShard: DataFrame = spark.range(shardHalf)
      .select((col("id") + 10000000L).as("doc_id"), lshText)
      .unionAll(spark.range(shardHalf).select(
        (col("id") + 20000000L).as("doc_id"),
        concat_ws(" ",
          (0 until 12).map(i =>
            substring(md5(concat(col("id"), lit(s"_n$i"))), 1, 10)): _*).as("text")))
    lazy val shardPairs: DataFrame = Dedup.incrementalCandidates(
      Dedup.lshBands(Dedup.minhashSignatures(docs, "doc_id", "text")),
      Dedup.lshBands(Dedup.minhashSignatures(lshShard, "doc_id", "text")))

    // ---- check: 1% of the corpus shares ONE boilerplate text; the rest is
    // GENUINELY dissimilar md5-derived words (consecutive-integer words
    // shared enough shingles to give ~4.1M legitimate sub-cap LSH pairs at
    // 1M docs, swamping the planted bucket's closed form)
    lazy val hotB: Long = nDocs / 100
    lazy val hotDocs: DataFrame = spark.range(nDocs).select(
      col("id").as("doc_id"),
      when(col("id") < hotB, lit("the same boilerplate page text body"))
        .otherwise(concat_ws(" ",
          (0 until 12).map(i =>
            substring(md5(concat(col("id"), lit(s"_$i"))), 1, 10)): _*))
        .as("text"))

    // ---- check: edges (i,i+1) and (i,i+2) — exactly nNodes-2 triangles --
    lazy val nNodes: Long = 2 * n
    lazy val tEdges: DataFrame = spark.range(nNodes - 1).select(col("id").as("u"), (col("id") + 1).as("v"))
      .unionAll(spark.range(nNodes - 2).select(col("id").as("u"), (col("id") + 2).as("v")))

    // ---- check: nDocs/10 docs of 24 words, STRUCTURALLY unique filler per
    // (doc, position) — md5-truncated filler breaks the closed form at this
    // scale: boundary grams carrying ONE filler word collide between
    // carrier pairs at 16^-8 × ~5×10⁹ pairs ≈ 4 span extensions per run.
    // Every 10th doc carries a planted 12-word run, every 1000th is a clone.
    lazy val nDocsS: Long = math.max(n / 10, 100000L)
    lazy val docsS: DataFrame = {
      def u(from: Int, to: Int) =
        s"array_join(transform(sequence($from, $to), j -> concat(id, 'x', j)), ' ')"
      val run = (1 to 12).map(i => s"P$i").mkString(" ")
      val boiler = (1 to 24).map(i => s"B$i").mkString(" ")
      spark.range(nDocsS).select(col("id").as("doc_id"),
        expr(s"""CASE WHEN id % 1000 = 13 THEN '$boiler'
          WHEN id % 10 = 7 THEN concat(${u(1, 4)}, ' $run ', ${u(17, 24)})
          ELSE ${u(1, 24)} END""").as("text"))
    }

    // ---- check: blocklist corpus — doc id plants term blk{id%K}w
    // (id%5)+1 times plus an 'ab'×((id%4)+1) tail for the 'aba' term;
    // filler words are structurally unique and share no letters with terms
    lazy val nDocsB: Long = math.max(n / 10, 100000L)
    val kTerms = 10000
    lazy val docsB: DataFrame = spark.range(nDocsB).select(col("id").as("doc_id"),
      expr(s"""concat(
        array_join(transform(sequence(1, 12), j -> concat('f', id, 'q', j)), ' '),
        ' ', repeat(concat('blk', id % $kTerms, 'w '), CAST(id % 5 AS INT) + 1),
        repeat('ab', CAST(id % 4 AS INT) + 1))""").as("text"))

    // ---- vector: deterministic 64-dim embeddings, no RNG: element (id, j)
    // mixes both indices so vectors are distinct
    lazy val emb: DataFrame = spark.range(n).select(col("id").as("vec_id"),
      expr("transform(sequence(1, 64), j -> CAST(" +
        "CAST((id * 1103515245 + j * 2654435761) % 1000003 AS DOUBLE) / 1000003.0" +
        " AS FLOAT))").as("embedding"))
    lazy val centroidEvery: Int = (n / 4000L).max(1L).toInt
    // one vector cloned n/100 times (ids ≡ 1 mod centroidEvery, never
    // centroids) crowds the cells nearest to it
    lazy val blockDepth: Long = (n / 100L).max(1000L)
    lazy val hotCellCorpus: DataFrame = {
      // 7L: the INT literal product 7·1103515245 overflows under ANSI
      val blockVec = expr("transform(sequence(1, 64), j -> CAST(" +
        "CAST((7L * 1103515245 + j * 2654435761) % 1000003 AS DOUBLE) / 1000003.0" +
        " AS FLOAT))")
      emb.unionAll(spark.range(blockDepth).select(
        (lit(n) + col("id") * centroidEvery + 1).as("vec_id"),
        blockVec.as("embedding")))
    }

    // ---- curate: deterministic 12-token docs, Zipf-ish: 8 of 12 tokens draw
    // from a 500-word hot vocabulary (so the top-K vocab covers real traffic
    // and the admission gate splits), 4 from a ~50k tail
    private def curateDocs(ids: DataFrame) =
      ids.select(col("id").as("doc_id"),
        expr("array_join(transform(sequence(1, 12), j -> concat('w', " +
          "CAST(CASE WHEN j % 3 = 0" +
          " THEN ((id * 1103515245 + j * 2654435761) % 49999) + 1000" +
          " ELSE (id * 1103515245 + j * 2654435761) % 500 END AS STRING))), ' ')")
          .as("text"))
    lazy val nShard: Long = math.max(n / 100, 1000L)
    lazy val index: DataFrame = curateDocs(spark.range(n).toDF()).localCheckpoint(true)
    // half corpus-like (admit), half fully-alien singleton words (id*13+j is
    // injective for j ∈ 1..12), so alien tokens never accumulate into the
    // merged top-K the way a shared alien vocabulary legitimately would
    lazy val shard: DataFrame =
      curateDocs(spark.range(nShard).select((col("id") + 10000000L).as("id")))
        .where(col("doc_id") % 2 === 0)
        .unionAll(spark.range(nShard).select((col("id") + 10000000L).as("doc_id"),
            expr("array_join(transform(sequence(1, 12), j -> " +
              "concat('z', CAST(id * 13 + j AS STRING))), ' ')").as("text"))
          .where(col("doc_id") % 2 === 1))
        .localCheckpoint(true)
    lazy val union: DataFrame = index.unionAll(shard)

    // ---- cc: the two graph shapes dedup produces. Near-cliques of 8 (the
    // LSH cluster shape: hub star plus a ring edge) and chains of 64
    // (15.6k components per million, diameter 63). Ids g·k .. g·k + k-1
    // form group g, labeled g·k.
    lazy val cliques: DataFrame = spark.range(n).where(col("id") % 8 =!= 0)
      .select((col("id") - (col("id") % 8)).as("d1"), col("id").as("d2"))
      .unionAll(spark.range(n).where(col("id") % 8 === 7)
        .select((col("id") - 1).as("d1"), col("id").as("d2")))
      .localCheckpoint(true)
    lazy val chains: DataFrame = spark.range(n).where(col("id") % 64 =!= 0)
      .select((col("id") - 1).as("d1"), col("id").as("d2"))
      .localCheckpoint(true)
  }

  private def scenario(family: String)(name: String)(body: Inputs => Fields) =
    Scenario(name, family, body)
  private val check = scenario("check") _
  private val vector = scenario("vector") _
  private val curate = scenario("curate") _
  private val cc = scenario("cc") _

  private def sameSet(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  private val checks: Seq[Scenario] = Seq(
    // the full compare pipeline on the 2N-row pair: chunk checksums, then
    // the row diff restricted to mismatched chunks
    check("uniform") { in => import in._
      val lap = stopwatch()
      val status = DataCompare.compareChunks(src, dst, cid, cols).cache()
      val nChunks = status.count()
      val nBad = status.where(col("status") =!= "EQUAL").count()
      val checkSec = lap()
      val nDiff = DataCompare.rowDiff(src, dst, cols,
        Some(cid), Some(status.where(col("status") =!= "EQUAL"))).count()
      val diffSec = lap()
      Seq("rows" -> 2 * n, "chunks" -> nChunks, "mismatched_chunks" -> nBad, "diff_rows" -> nDiff,
        "checksum_sec" -> checkSec, "diff_sec" -> diffSec,
        "checksum_rows_per_sec" -> (2 * n / checkSec).toLong)
    },

    // clustered corruption: damage confined to one key range — the
    // realistic partial-failure case where restricting the rescan to
    // mismatched chunks pays (only ~1 of the chunks is re-read)
    check("clustered") { in => import in._
      val dst2 = base.where(!(col("k").between(1000000L, 1100000L) && col("k") % 10 === 0))
      val lap = stopwatch()
      val status2 = DataCompare.compareChunks(src, dst2, cid, cols).cache()
      val bad2 = status2.where(col("status") =!= "EQUAL")
      val nBad2 = bad2.count()
      val checkSec = lap()
      val nDiff2 = DataCompare.rowDiff(src, dst2, cols, Some(cid), Some(bad2)).count()
      val diffSec = lap()
      Seq("chunks" -> status2.count(), "mismatched_chunks" -> nBad2, "diff_rows" -> nDiff2,
        "checksum_sec" -> checkSec, "restricted_diff_sec" -> diffSec)
    },

    // LSH dedup: signature → band → candidate-pair. Signatures are a
    // projection (native expression, no shuffle); candidates are a band
    // equi-join whose cost follows collisions.
    check("lsh_dedup") { in => import in._
      val lap = stopwatch()
      val nSig = Dedup.minhashSignatures(docs, "doc_id", "text").count()
      val sigSec = lap()
      val nCand = lshCandidates.count()
      Seq("docs" -> nSig, "candidate_pairs" -> nCand, "signature_sec" -> sigSec,
        "candidates_sec" -> lap(), "sig_docs_per_sec" -> (nSig / sigSec).toLong)
    },

    // the degenerate-bucket valve: uncapped, the boilerplate bucket alone
    // emits (nDocs/100)²/2 pairs per band (~2×10⁸ at 1M docs); capped, it
    // emits hub-star edges. Closed form: B−1 capped pairs from the planted
    // bucket, and the star keeps the whole block in one component.
    check("lsh_hot_bucket") { in => import in._
      val lap = stopwatch()
      val capped = Dedup.minhashCandidates(
        Dedup.minhashSignatures(hotDocs, "doc_id", "text"), maxBucket = Some(64))
      val hotPairs = capped.where(col("d1") < hotB && col("d2") < hotB).count()
      val allPairs = capped.count()
      val sec = lap()
      require(hotPairs == hotB - 1,
        s"planted bucket must emit exactly B-1 star edges, got $hotPairs vs ${hotB - 1}")
      require(allPairs < 2L * hotB, s"capped candidate volume must stay linear, got $allPairs")
      Seq("docs" -> nDocs, "bucket_depth" -> hotB,
        "uncapped_bucket_pairs" -> hotB * (hotB - 1) / 2, "capped_pairs" -> allPairs, "sec" -> sec)
    },

    // the cap valve on the INCREMENTAL arm, with the degenerate bucket
    // SPANNING index and shard: hotS shard clones of the boilerplate probe
    // the planted index bucket. Uncapped, that union bucket emits hotB·hotS
    // probe + hotS²/2 intra pairs (~2.2×10⁷ at 1M docs); capped, exactly
    // hotS hub-star edges survive — the hub is index doc 0 (the union min),
    // so only member-∈-shard edges pass the shard-touching restriction.
    check("lsh_hot_bucket_incremental") { in => import in._
      val hotS = 2000L
      val hotShard = spark.range(hotS).select(
        (col("id") + 30000000L).as("doc_id"),
        lit("the same boilerplate page text body").as("text"))
      val lap = stopwatch()
      val cappedInc = Dedup.incrementalCandidates(
        Dedup.lshBands(Dedup.minhashSignatures(hotDocs, "doc_id", "text")),
        Dedup.lshBands(Dedup.minhashSignatures(hotShard, "doc_id", "text")),
        maxBucket = Some(64))
      val nCapInc = cappedInc.count()
      val starInc = cappedInc.where(col("d1") === 0L && col("d2") >= 30000000L).count()
      val sec = lap()
      require(starInc == hotS,
        s"spanning bucket must emit exactly one hub edge per shard clone: $starInc vs $hotS")
      require(nCapInc == hotS,
        s"capped incremental volume must be exactly the restricted star, got $nCapInc")
      Seq("index_docs" -> nDocs, "shard_docs" -> hotS, "union_bucket_depth" -> (hotB + hotS),
        "uncapped_bucket_pairs" -> (hotB * hotS + hotS * (hotS - 1) / 2),
        "capped_pairs" -> nCapInc, "sec" -> sec)
    },

    // the perceptual families' blocking operator. Lanes are md5-derived
    // (uniform over 2^16, so buckets birthday-collide to ~nDocs/65536 deep
    // — the REAL dense-band cost profile; every accidental candidate
    // verifies to distance ≫ 3 and drops, P[≤3 of 64 random bits] ≈ 6e-14).
    // Planted: the nDocs/100 SMALLEST ids share one hash — a deep bucket in
    // EVERY band, over cap ⇒ hub-star from doc 0, each edge at distance 0.
    // Closed form: output == exactly the B−1 hub edges.
    check("banded_hamming") { in => import in._
      val hotH = nDocs / 100
      val lanes = (0 until 4).map(l =>
        when(col("id") < hotH, lit(l + 1L)).otherwise(
          expr(s"conv(substring(md5(concat(id, '_l$l')), 1, 4), 16, 10)")
            .cast("long")).as(s"h$l"))
      val hashes = spark.range(nDocs).select(col("id").as("doc_id") +: lanes: _*)
      val lap = stopwatch()
      val pairs = Dedup.bandedHammingPairs(
        hashes, "doc_id", (0 until 4).map(l => s"h$l"), maxDist = 3, maxBand = Some(64))
      val nPairs = pairs.count()
      val nStar = pairs.where(col("d1") === 0L && col("d2") < hotH).count()
      val sec = lap()
      require(nStar == hotH - 1,
        s"planted hash bucket must emit exactly B-1 hub edges, got $nStar vs ${hotH - 1}")
      require(nPairs == hotH - 1, s"random lanes must contribute zero verified pairs, got $nPairs total")
      Seq("docs" -> nDocs, "bucket_depth" -> hotH,
        "uncapped_bucket_pairs" -> 4 * (hotH * (hotH - 1) / 2), "verified_pairs" -> nPairs, "sec" -> sec)
    },

    // shard-vs-index dedup cost follows the shard. Closed form on the
    // guaranteed subset: every clone's signature equals its source
    // cluster's, so it pairs with ALL 8 members of that cluster — exactly
    // shardHalf×8 cluster-matched probe pairs. No index×index pair is ever
    // formed (every pair touches the shard).
    check("lsh_incremental") { in => import in._
      val lap = stopwatch()
      val nInc = shardPairs.count()
      val sec = lap()
      val clusterHits = shardPairs
        .where(col("d1") < 10000000L && col("d2") >= 10000000L && col("d2") < 20000000L)
        .where(expr("d1 div 8") === expr("(d2 - 10000000) div 8"))
        .count()
      val touchShard = shardPairs.where(col("d2") >= 10000000L).count()
      require(clusterHits == shardHalf * 8,
        s"every clone must pair with all 8 source-cluster members: $clusterHits")
      require(touchShard == nInc, "no index-vs-index pair may be formed")
      Seq("index_docs" -> nDocs, "shard_docs" -> 2 * shardHalf, "pairs" -> nInc,
        "cluster_hits" -> clusterHits, "sec" -> sec)
    },

    // merge shard edges into EXISTING labels. Prior labels = one-time CC
    // over the corpus candidate pairs (the cost the incremental path never
    // repeats); the shard's edges then collapse onto those labels —
    // meta-CC is O(|shard edges|). Closed form: every clone lands in
    // EXACTLY the component its source cluster's min member (8·g) already
    // carries — not a recomputed 8·g (cross-cluster LSH collisions merge
    // ~10⁻³ of the clusters into larger components) — and NO existing
    // label changes: a clone's collision set is a subset of its members'.
    check("cc_incremental") { in => import in._
      val nInc = shardPairs.count()
      val lap = stopwatch()
      val labels = Dedup.connectedComponents(lshCandidates).localCheckpoint(true)
      val nLabels = labels.count()
      val lblSec = lap()
      val updated = Dedup.incrementalComponents(labels, shardPairs).localCheckpoint(true)
      val nUpdated = updated.count()
      val mrgSec = lap()
      val clones = updated.where(col("doc_id") >= 10000000L && col("doc_id") < 20000000L)
      val badClones = clones
        .withColumn("src", expr("((doc_id - 10000000) div 8) * 8"))
        .join(labels.select(col("doc_id").as("src"), col("component").as("src_c")), Seq("src"))
        .where(col("component") =!= col("src_c")).count()
      require(badClones == 0, s"every clone must join its source cluster's component: $badClones wrong")
      val nClones = clones.count()
      require(nClones == shardHalf, s"all $shardHalf clones must be labeled: $nClones")
      val changedOld = updated
        .join(labels.withColumnRenamed("component", "old_c"), Seq("doc_id"))
        .where(col("component") =!= col("old_c")).count()
      require(changedOld == 0, s"no existing label may change (clone ids exceed corpus ids): $changedOld")
      Seq("index_labels" -> nLabels, "shard_edges" -> nInc, "updated_labels" -> nUpdated,
        "corpus_cc_sec" -> lblSec, "merge_sec" -> mrgSec)
    },

    // native top-k-per-group vs the window row_number filter: 1000 groups
    // over 2n rows, k=5, unique ordering key. The native operator's
    // partial phase caps the exchange at k rows per group per map
    // partition; the window shuffles and sorts everything.
    check("topk_per_group") { in => import in._
      val grouped = spark.range(2 * n).select((col("id") % 1000).as("g"), col("id").as("ord"))
      val lap = stopwatch()
      val nNative = graft.plans.GraftFunctions.topKPerGroup(grouped, Seq("g"), "ord", 5).count()
      val nativeSec = lap()
      val nWindow = grouped
        .withColumn("rn", row_number().over(Window.partitionBy("g").orderBy(col("ord").desc)))
        .where(col("rn") <= 5).count()
      Seq("rows" -> 2 * n, "groups" -> 1000, "k" -> 5, "native_rows" -> nNative,
        "native_sec" -> nativeSec, "window_rows" -> nWindow, "window_sec" -> lap())
    },

    // distributed prefix sum (range repartition + offsets + partition-local
    // window) — the global-window alternative would single-task the set
    check("prefix_sum") { in => import in._
      val lap = stopwatch()
      val cum = Ranks.withRunningTotal(
        spark.range(2 * n).select(col("id").as("k"), (col("id") % 97).as("v")),
        Seq("k"), col("v"), "c")
      val sumMax = cum.agg(max("c")).collect().head.getLong(0)
      val sec = lap()
      Seq("rows" -> 2 * n, "final_total" -> sumMax, "sec" -> sec,
        "rows_per_sec" -> (2 * n / sec).toLong)
    },

    // distributed exclusive prefix-min (the skyline/dominance sweep) —
    // same two-pass shape as prefix_sum
    check("prefix_min") { in => import in._
      val lap = stopwatch()
      val pm = Ranks.withPrefixMin(
        spark.range(2 * n).select(col("id").as("k"),
          ((col("id") * 2654435761L) % 1000003L).as("v")),
        Seq("k"), col("v"), "m")
      val nAboveMin = pm.where(col("m") === 0L).count()
      val sec = lap()
      Seq("rows" -> 2 * n, "rows_after_global_min" -> nAboveMin, "sec" -> sec,
        "rows_per_sec" -> (2 * n / sec).toLong)
    },

    // PQ encode + ADC: encoding is a pure projection over the literal
    // codebook (no shuffle), the ADC rank reads only the 8 codes per vector
    check("pq_adc") { in => import in._
      val nVec = math.max(n / 10, 100000L)
      val vecs = spark.range(nVec).select(col("id").as("vec_id"),
        expr("transform(sequence(0, 63), i -> CAST((pmod(id * 37 + i * 101, 2000) - 1000) / 1000.0D AS FLOAT))").as("embedding"))
      val lap = stopwatch()
      val nPq = Similarity.pqTopK(vecs, vecs.where(col("vec_id") === 0), 10).count()
      val sec = lap()
      Seq("vectors" -> nVec, "topk_rows" -> nPq, "sec" -> sec, "vecs_per_sec" -> (nVec / sec).toLong)
    },

    // CDC circle: capture the diff between two 2n-row snapshots (1%
    // updates, 0.1% deletes, 0.1% inserts), then MERGE-apply it back
    check("cdc_circle") { in => import in._
      val oldSnap = spark.range(2 * n).select(col("id").as("k"), (col("id") % 9973).as("v"))
      val newSnap = oldSnap.where(col("k") % 997 =!= 0)
        .withColumn("v", when(col("k") % 101 === 0, col("v") + 1).otherwise(col("v")))
        .unionAll(spark.range(100000).select((col("id") + 10 * n).as("k"), lit(7L).as("v")))
      val lap = stopwatch()
      val feed = Migrate.changeCapture(oldSnap, newSnap, Seq("k"))
      val nEvents = feed.count()
      val captureSec = lap()
      val nApplied = Migrate.mergeApply(oldSnap, feed, Seq("k")).count()
      Seq("rows" -> 2 * n, "events" -> nEvents, "applied_rows" -> nApplied,
        "capture_sec" -> captureSec, "apply_sec" -> lap())
    },

    // n-gram decontamination: nDocs train docs, nDocs/1000 eval docs that
    // are exact copies of every 1000th train doc. Train texts use the
    // UNMODDED id so every doc is unique; contaminated_docs must equal
    // exactly nDocs/1000. The scale path joins on xxhash64 of the gram —
    // 8-byte shuffle keys instead of ~40-byte strings; the oracle-checked
    // q157 joins the gram text itself.
    check("decontaminate") { in => import in._
      val trainDocs = spark.range(nDocs).select(col("id").as("doc_id"),
        concat_ws(" ", (0 until 12).map(i =>
          concat(lit(s"w${i}_"), col("id") * 31 + lit(i))): _*).as("text"))
      val evalDocs = spark.range(nDocs / 1000).select((col("id") * 1000).as("src_id"))
        .join(trainDocs.withColumnRenamed("doc_id", "src_id"), "src_id")
      def grams(df: DataFrame) = df
        .select(col("*"), split(col("text"), " ").as("ws"))
        // sequence(1, size-4) DESCENDS when size < 5 (garbage grams via
        // slice); guard so the helper stays safe for variable-length text
        .where(size(col("ws")) >= 5)
        .select(col("*"),
          explode(expr("transform(sequence(1, size(ws) - 4), i -> xxhash64(array_join(slice(ws, i, 5), ' ')))"))
            .as("gh"))
      val lap = stopwatch()
      val evGrams = grams(evalDocs).select("gh").distinct()
      val nContam = grams(trainDocs).select("doc_id", "gh").distinct()
        .join(evGrams, "gh").select("doc_id").distinct().count()
      val sec = lap()
      Seq("train_docs" -> nDocs, "eval_docs" -> nDocs / 1000, "contaminated_docs" -> nContam,
        "expected" -> nDocs / 1000, "sec" -> sec, "docs_per_sec" -> (nDocs / sec).toLong)
    },

    // triangle counting: the triple self-join's cost follows wedges
    // (bounded out-degree 2), never |V|²; the edge aggregate appears three
    // times and dedups via ReusedExchange
    check("triangles") { in => import in._
      val lap = stopwatch()
      val nTri = Graphs.triangleCount(tEdges).head().getLong(0)
      Seq("nodes" -> nNodes, "edges" -> (2 * nNodes - 3), "triangles" -> nTri,
        "expected" -> (nNodes - 2), "sec" -> lap())
    },

    // bounded BFS on the same graph: 3 supersteps from node 0; each joins
    // the (tiny, broadcastable) frontier against the full edge list
    check("bfs") { in => import in._
      val lap = stopwatch()
      val hops = Graphs.bfsHops(tEdges.select(col("u").as("src"), col("v").as("dst")), maxHops = 3).count()
      Seq("nodes" -> nNodes, "visited" -> hops, "sec" -> lap())
    },

    // BM25 scoring (q182's shape): one (doc, term) aggregate feeds
    // tf/df/dl, the 1-row totals and top-5 query terms broadcast back —
    // two shuffles over the token relation regardless of corpus size
    check("bm25") { in => import in._
      val nDocs2 = n / 10
      val docs2 = spark.range(nDocs2).select(col("id").as("doc_id"),
        concat_ws(" ", (0 until 12).map(i =>
          concat(lit("t"), (col("id") * 31 + lit(i * 7)) % 997)): _*).as("text"))
      val lap = stopwatch()
      val tok2 = docs2.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      val tf2 = tok2.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dl2 = tf2.groupBy("doc_id").agg(sum("tf").as("dl"))
      val df2 = tf2.groupBy("term").agg(count(lit(1)).as("df"))
      val tot2 = dl2.agg(sum("dl").as("t_tokens"), count(lit(1)).as("n_docs"))
      val qt2 = df2.orderBy(col("df").desc, col("term")).limit(5)
      val top2 = tf2.join(broadcast(qt2), "term").join(dl2, "doc_id")
        .crossJoin(broadcast(tot2))
        .select(col("doc_id"),
          expr("CAST(2*n_docs - 2*df + 1 AS DECIMAL(38,0)) * 44 * t_tokens * tf * 1000000" +
            " div (CAST(2*df + 1 AS DECIMAL(38,0))" +
            " * (20 * t_tokens * tf + 6 * t_tokens + 18 * dl * n_docs))").as("score_ppm"))
        .groupBy("doc_id").agg(sum("score_ppm").as("s"))
        .orderBy(col("s").desc, col("doc_id")).limit(20).count()
      val sec = lap()
      Seq("docs" -> nDocs2, "topk_rows" -> top2, "sec" -> sec, "docs_per_sec" -> (nDocs2 / sec).toLong)
    },

    // association rules over 2n basket items (5 items/basket, q183's
    // shape): the basket self-join emits ~4 ordered pairs per basket —
    // cost follows items-per-basket², never |items|²
    check("assoc_rules") { in => import in._
      val items3 = spark.range(2 * n).select(
        expr("id div 5").as("basket"),
        pmod(col("id") * 2654435761L, lit(1000)).as("item")).distinct()
      val lap = stopwatch()
      val a3 = items3.select(col("basket").as("bk"), col("item").as("u"))
      val b3 = items3.select(col("basket").as("bk2"), col("item").as("v"))
      val nRules = a3.join(b3, col("bk") === col("bk2") && col("u") < col("v"))
        .groupBy("u", "v").agg(count(lit(1)).as("n_ab"))
        .where(col("n_ab") >= 2).count() * 2
      val sec = lap()
      Seq("basket_rows" -> 2 * n, "rules" -> nRules, "sec" -> sec,
        "rows_per_sec" -> (2 * n / sec).toLong)
    },

    // exact prefix-filtered set-similarity join (q208's shape) on the LSH
    // corpus (~8 docs/cluster ⇒ ~28 true pairs per cluster): the candidate
    // join touches only each doc's rarest trigram prefix, so exact
    // all-pairs Jaccard stays collision-bounded at 1M docs
    check("prefix_filter_join") { in => import in._
      val lap = stopwatch()
      val g8 = docs.select(col("doc_id"),
        explode(expr("array_distinct(transform(sequence(1, greatest(size(split(text, ' ')) - 2, 0))," +
          " i -> concat_ws(' ', slice(split(text, ' '), i, 3))))")).as("g"))
      val sizes8 = g8.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val dfc8 = g8.groupBy("g").agg(count(lit(1)).as("df"))
      val ranked8 = g8.join(dfc8, "g").join(sizes8, "doc_id")
        .withColumn("rn", row_number().over(Window.partitionBy("doc_id").orderBy("df", "g")))
        .where(expr("rn <= n div 2 + 1")).select("doc_id", "g")
      val cand8 = ranked8.select(col("doc_id").as("d1"), col("g"))
        .join(ranked8.select(col("doc_id").as("d2"), col("g").as("g2")),
          col("g") === col("g2") && col("d1") < col("d2"))
        .select("d1", "d2").distinct()
      val sets8 = g8.groupBy("doc_id").agg(sort_array(collect_set(col("g"))).as("gs"))
      val nExact = cand8
        .join(sets8.select(col("doc_id").as("d1"), col("gs").as("gs1")), "d1")
        .join(sets8.select(col("doc_id").as("d2"), col("gs").as("gs2")), "d2")
        .where(size(array_intersect(col("gs1"), col("gs2"))) * 3
          >= size(col("gs1")) + size(col("gs2")))
        .count()
      val sec = lap()
      Seq("docs" -> nDocs, "exact_pairs" -> nExact, "sec" -> sec, "docs_per_sec" -> (nDocs / sec).toLong)
    },

    // salted join under real skew: 90% of probe rows share ONE key, the
    // build side (200k keys) is above any broadcast threshold at real
    // payload widths. Times the plain shuffled join (AQE skew split may or
    // may not engage) against Skew.saltedJoin's deterministic 8-way
    // spread; both reduce to the same aggregate.
    check("salted_join") { in => import in._
      val nDim = 200000L
      val factS = spark.range(2 * n).select(
        when(col("id") % 10 === 0, col("id") % nDim).otherwise(lit(7L)).as("fk"),
        (col("id") % 1000).as("v"))
      val dimS = spark.range(nDim).select(col("id").as("dk"), concat(lit("name_"), col("id")).as("name"))
      val lap = stopwatch()
      val plainAgg = factS.join(dimS, col("fk") === col("dk"))
        .groupBy("name").agg(sum("v").as("s")).count()
      val plainSec = lap()
      val saltedAgg = Skew.saltedJoin(factS, dimS, "fk", "dk", salts = 8)
        .groupBy("name").agg(sum("v").as("s")).count()
      Seq("probe_rows" -> 2 * n, "dim_rows" -> nDim, "groups_plain" -> plainAgg,
        "groups_salted" -> saltedAgg, "plain_sec" -> plainSec, "salted_sec" -> lap())
    },

    // Merkle anti-entropy (q232's shape) on the compare pair: row hashes
    // fold map-side into 1024 leaf buckets per side, one 1024-row
    // full-outer join locates diverging subtrees — two scans + a
    // metadata-sized join finds WHERE two replicas disagree
    check("merkle") { in => import in._
      val lap = stopwatch()
      def leaves(df: DataFrame, side: String) = {
        val rowStr = graft.functions.Canonical.rowString(df, cols)
        df.select(
            (conv(substring(md5(rowStr), 1, 8), 16, 10).cast("long") % 1024).as("bucket"),
            conv(substring(md5(rowStr), 9, 8), 16, 10).cast("long").as("rh"))
          .groupBy("bucket").agg(sum("rh").as(side))
      }
      val nDiverge = leaves(src, "sh").join(leaves(dst, "dh"), Seq("bucket"), "full_outer")
        .select(coalesce(col("sh"), lit(0L)).as("sh"), coalesce(col("dh"), lit(0L)).as("dh"))
        .where(col("sh") =!= col("dh")).count()
      val sec = lap()
      Seq("rows" -> 2 * n, "diverging_leaves" -> nDiverge, "sec" -> sec,
        "rows_per_sec" -> (2 * n / sec).toLong)
    },

    // content-defined chunking (q283's shape): the rolling 8-char
    // polynomial hash runs as nested in-row HOFs — ~8·L integer ops per doc
    // inside codegen, zero explode, zero shuffle until the source rollup
    check("cdc_chunk") { in => import in._
      val nCdc = n / 10
      val cdcDocs = spark.range(nCdc).select((col("id") % 32).as("src"),
        concat_ws(" ", (0 until 12).map(i =>
          concat(lit(s"w${i}_"), col("id") * 31 + lit(i))): _*).as("t"))
      val lap = stopwatch()
      val cdcAgg = cdcDocs
        .select(col("src"), length(col("t")).as("l"),
          expr("size(filter(sequence(8, length(t)), i -> " +
            "aggregate(sequence(i - 7, i), 0L, (a, k) -> " +
            "a * 31 + ascii(substring(t, k, 1))) % 64 = 0))").as("nb"))
        .groupBy("src")
        .agg(sum("l").as("chars"), sum("nb").as("bounds"))
        .agg(sum("chars"), sum("bounds")).head()
      val sec = lap()
      Seq("docs" -> nCdc, "chars" -> cdcAgg.getLong(0), "boundaries" -> cdcAgg.getLong(1),
        "sec" -> sec, "docs_per_sec" -> (nCdc / sec).toLong)
    },

    // bitmap set algebra (q271's shape) over a 100M-id universe: each
    // side's distinct ids pack into 32-bit words (bit_or), one word-grain
    // join + popcount answers |A∩B| — versus the set-semi-join baseline
    // that shuffles id-grain rows. The two answers MUST match exactly.
    check("bitmap_intersect") { in => import in._
      val uniVerse = 100000000L
      val setA = spark.range(n / 2).select((col("id") * 9 % uniVerse).as("uid"))
      val setB = spark.range(n / 2).select((col("id") * 21 % uniVerse).as("uid"))
      val lap = stopwatch()
      def words(df: DataFrame, side: String) =
        df.distinct().groupBy(expr("uid div 32").as("wi"))
          .agg(expr("bit_or(shiftleft(1L, CAST(uid % 32 AS INT)))").as(side))
      val nBoth = words(setA, "a").join(words(setB, "b"), "wi")
        .agg(sum(expr("bit_count(a & b)"))).head().getLong(0)
      val bitmapSec = lap()
      val nBothExact = setA.distinct().join(setB.distinct(), Seq("uid"), "left_semi").count()
      val setjoinSec = lap()
      require(nBoth == nBothExact, s"bitmap $nBoth != exact $nBothExact")
      Seq("universe" -> uniVerse, "side_rows" -> n / 2, "n_both" -> nBoth,
        "bitmap_sec" -> bitmapSec, "setjoin_sec" -> setjoinSec)
    },

    // interval-union sweep (q440's running-max island shape) over 2n
    // intervals across 100k users: even users get overlapping chains
    // (10-apart starts, duration 15 ⇒ ONE island, covered = (k−1)·10+15),
    // odd users get gapped chains (duration 5 ⇒ k islands, covered = 5k).
    // Cost = one sort per user partition — no explode, no self-join.
    check("interval_union") { in => import in._
      val nUsers = 100000L
      val perUser = (2 * n) / nUsers
      val iv = spark.range(2 * n).select(
        (col("id") % nUsers).as("u"),
        ((col("id") / nUsers).cast("long") * 10).as("s"))
        .withColumn("e", col("s") + when(col("u") % 2 === 0, 15L).otherwise(5L))
      val lap = stopwatch()
      val ordW = Window.partitionBy("u").orderBy("s", "e")
      val g = iv
        .withColumn("pmax", max("e").over(ordW.rowsBetween(Window.unboundedPreceding, -1)))
        .withColumn("isl",
          sum(when(col("pmax").isNull || col("s") > col("pmax"), 1).otherwise(0)).over(ordW))
      val perU = g.groupBy("u", "isl")
        .agg(min("s").as("is"), max("e").as("ie"))
        .groupBy("u")
        .agg(count(lit(1)).as("ni"), sum(col("ie") - col("is")).as("cov"))
      val badIv = perU.where(
        !(col("u") % 2 === 0 && col("ni") === 1 && col("cov") === (perUser - 1) * 10 + 15) &&
        !(col("u") % 2 === 1 && col("ni") === perUser && col("cov") === 5 * perUser)).count()
      val sec = lap()
      require(badIv == 0, s"interval_union: $badIv users off the closed form")
      Seq("intervals" -> 2 * n, "users" -> nUsers, "bad_users" -> badIv, "sec" -> sec,
        "intervals_per_sec" -> (2 * n / sec).toLong)
    },

    // CUSUM prefix form (q439's shape) over 100k series: 1% of series
    // drift over their last quarter, by a per-step amount sized so the
    // drifted tail sums past the threshold at every scale; with target
    // k=10, threshold h=100, CLEAN series hold S≡0 and drifted ones must
    // alarm — the alarm census equals the plant exactly.
    check("cusum_prefix") { in => import in._
      val nSeries = 100000L
      val perSeries = (2 * n) / nSeries
      val driftFrom = (perSeries * 3) / 4
      val drift = 100 / (perSeries - driftFrom) + 1
      val cu = spark.range(2 * n).select(
        (col("id") % nSeries).as("sid"),
        (col("id") / nSeries).cast("long").as("t"))
        .withColumn("x",
          lit(10L) + when(col("sid") % 100 === 0 && col("t") >= driftFrom, drift).otherwise(0L))
      val lap = stopwatch()
      val wS = Window.partitionBy("sid").orderBy("t")
      val alarms = cu.withColumn("ps", sum(col("x") - 10L).over(wS))
        .withColumn("cusum", col("ps") - least(min("ps").over(wS), lit(0L)))
        .groupBy("sid").agg(max("cusum").as("mx"))
        .where(col("mx") > 100).count()
      val sec = lap()
      require(alarms == nSeries / 100, s"cusum: $alarms alarms, planted ${nSeries / 100}")
      Seq("rows" -> 2 * n, "series" -> nSeries, "alarms" -> alarms, "sec" -> sec,
        "rows_per_sec" -> (2 * n / sec).toLong)
    },

    // delete-one jackknife (q462's two-pass shape) over 2n rows × 1000
    // groups: clean groups are constant (x=200, y=2) so every
    // leave-one-out ratio equals the full ratio and the variance is
    // EXACTLY zero; 1% planted groups carry one outlier row, which must
    // push their variance strictly positive. Cost = two linear scans + a
    // 1000-row broadcast, the same plan that runs at 100 TB.
    check("jackknife") { in => import in._
      val nGroups = 1000L
      val jk = spark.range(2 * n).select(
        (col("id") % nGroups).as("gk"),
        // one planted row (the group's id 0 row) in every 100th group —
        // 10⁴× the clean value so the milli-scaled θ spread survives the
        // div-n³ truncation (a 2× outlier floors to v=0 at 20k rows/group)
        when(col("id") % nGroups % 100 === 0 && col("id") < nGroups, 2000000L)
          .otherwise(200L).as("x"),
        lit(2L).as("y"))
      val lap = stopwatch()
      val gsum = jk.groupBy("gk").agg(count(lit(1)).as("cn"), sum("x").as("sx"), sum("y").as("sy"))
      val th = jk.join(broadcast(gsum), "gk")
        .select(col("gk"), col("cn"),
          expr("CAST((1000 * (CAST(sx AS DECIMAL(38,0)) - x)) div (sy - y) AS BIGINT)").as("t"))
      val jvar = th.groupBy("gk", "cn")
        .agg(sum(col("t").cast("decimal(38,0)")).as("tt"),
          sum(col("t").cast("decimal(38,0)") * col("t")).as("q"))
        .select(col("gk"),
          expr("CAST((CAST(cn - 1 AS DECIMAL(38,0)) * (cn * q - tt * tt))" +
            " div (CAST(cn AS DECIMAL(38,0)) * cn * cn) AS BIGINT)").as("v"))
      val nZero = jvar.where(col("v") === 0 && col("gk") % 100 =!= 0).count()
      val nPos = jvar.where(col("v") > 0 && col("gk") % 100 === 0).count()
      val sec = lap()
      require(nZero == nGroups - nGroups / 100,
        s"jackknife: $nZero clean groups at zero variance, want ${nGroups - nGroups / 100}")
      require(nPos == nGroups / 100, s"jackknife: $nPos planted groups positive, want ${nGroups / 100}")
      Seq("rows" -> 2 * n, "groups" -> nGroups, "planted" -> nGroups / 100, "sec" -> sec,
        "rows_per_sec" -> (2 * n / sec).toLong)
    },

    // group-leakage capture flags (q476/q464's one-pass shape) over 2n rows
    // in groups of 200: hash-splitting rows must leak (P[pure] = 0.8^200 +
    // 0.2^200 ≈ 0) while splitting on the GROUP hash leaks exactly zero.
    // xxhash64 keeps the bucket assignment cheap (the oracle-checked q476
    // uses md5; the flag algebra is identical).
    check("split_leakage") { in => import in._
      val nG2 = 2 * n / 200
      val sp = spark.range(2 * n).select((col("id") % nG2).as("gk"), col("id"))
        .select(col("gk"),
          (abs(xxhash64(lit("r"), col("id"))) % 5).as("rb"),
          (abs(xxhash64(lit("g"), col("gk"))) % 5).as("gb"))
      val lap = stopwatch()
      def leak(flag: String): Long = sp.groupBy("gk")
        .agg(max(when(col(flag) === 0, 1L).otherwise(0L)).as("te"),
          max(when(col(flag) =!= 0, 1L).otherwise(0L)).as("tr"))
        .agg(sum(col("te") * col("tr"))).collect()(0).getLong(0)
      val rowLeak = leak("rb")
      val grpLeak = leak("gb")
      val sec = lap()
      require(grpLeak == 0L, s"group-hash split leaked $grpLeak groups")
      require(rowLeak > (nG2 * 99) / 100, s"row-hash split leaked only $rowLeak of $nG2 groups")
      Seq("rows" -> 2 * n, "groups" -> nG2, "row_leaked" -> rowLeak, "group_leaked" -> grpLeak,
        "sec" -> sec, "rows_per_sec" -> (2 * n / sec).toLong)
    },

    // two-pass exact median (q492's shape) over 2n rows × 100 groups: each
    // group holds a permutation of 1..k, whose ⌈k/2⌉ order statistic is
    // exactly (k+1)/2. Pass 1 is a 64-wide bin histogram (map-side
    // combinable), pass 2 ranks only the single median bin — no global
    // sort ever happens.
    check("twopass_median") { in => import in._
      val nGroups = 100L
      val k = (2 * n) / nGroups // values 1..k per group
      val tp = spark.range(2 * n).select(
        (col("id") % nGroups).as("gk"),
        ((col("id") / nGroups).cast("long") + 1).as("v")) // 1..k, arrival order ≠ sorted
      val lap = stopwatch()
      val hist = tp.withColumn("bin", expr("v div 64"))
        .groupBy("gk", "bin").agg(count(lit(1)).as("bc"))
      val wcum = Window.partitionBy("gk").orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val loc = hist
        .withColumn("cum", sum("bc").over(wcum))
        .withColumn("nn", sum("bc").over(Window.partitionBy("gk")))
        .withColumn("target", expr("(nn + 1) div 2"))
        .where(col("cum") >= col("target") && col("cum") - col("bc") < col("target"))
        .select(col("gk"), col("bin"), (col("target") - (col("cum") - col("bc"))).as("k_in_bin"))
      val med = tp.withColumn("bin", expr("v div 64"))
        .join(broadcast(loc), Seq("gk", "bin"))
        .withColumn("rn", row_number().over(Window.partitionBy("gk").orderBy("v")))
        .where(col("rn") === col("k_in_bin"))
        .select("gk", "v")
      val badMed = med.where(col("v") =!= (k + 1) / 2).count()
      val nMed = med.count()
      val sec = lap()
      require(badMed == 0 && nMed == nGroups,
        s"two-pass median: $badMed wrong, $nMed groups (want $nGroups at ${(k + 1) / 2})")
      Seq("rows" -> 2 * n, "groups" -> nGroups, "median" -> (k + 1) / 2, "sec" -> sec,
        "rows_per_sec" -> (2 * n / sec).toLong)
    },

    // the composed hygiene chain: every 4th doc is German (lang gate drops
    // it), every 10th is a 3-token stub (quality gate), every 50th
    // duplicates doc id-1 (exact dedup), and every 97th surviving doc
    // shares a 5-gram with the eval split (decontamination). Survivor
    // counts are asserted exactly against the closed form.
    check("curation_waterfall") { in => import in._
      val nDocsC = math.max(n / 10, 200000L)
      // stable text is 9 tokens with the DOC NUMBER at position 5, so
      // EVERY 5-gram contains the number — decontamination can only hit
      // the planted eval sources, never via a shared scaffold gram
      val corpus = spark.range(nDocsC).select(col("id").as("doc_id"),
        expr(
          """CASE
            |  WHEN id % 10 = 3 THEN 'too short doc'
            |  WHEN id % 4 = 1 THEN
            |    'der hund und die katze und das haus der baum und die sonne und'
            |  WHEN id % 50 = 2 THEN
            |    'the stable of number ' || CAST(id - 1 AS STRING) || ' and corpus words on'
            |  ELSE
            |    'the stable of number ' || CAST(id AS STRING) || ' and corpus words on'
            |END""".stripMargin).as("text"))
      // eval split: verbatim copies of every 97th SURVIVING doc's text
      val evalC = spark.range(nDocsC / 97 + 1).select((col("id") * 97).as("src"))
        .where(col("src") < nDocsC &&
          col("src") % 10 =!= 3 && col("src") % 4 =!= 1 && col("src") % 50 =!= 2)
        .select((col("src") + 1000000000L).as("doc_id"),
          concat(lit("the stable of number "), col("src").cast("string"),
            lit(" and corpus words on")).as("text"))
      val lap = stopwatch()
      val (_, report) = Curate.waterfall(corpus, evalC, Curate.Config(minTokens = 5))
      val rows = report.collect().map(r => r.getString(1) -> r.getLong(2)).toMap
      val sec = lap()
      val ids = (0L until nDocsC)
      val qualKeep = ids.count(i => i % 10 != 3 && i % 4 != 1)
      val dedKeep  = ids.count(i => i % 10 != 3 && i % 4 != 1 &&
        !(i % 50 == 2 && (i - 1) % 10 != 3 && (i - 1) % 4 != 1))
      val evalHits = ids.count(i => i % 97 == 0 && i % 10 != 3 && i % 4 != 1 && i % 50 != 2)
      require(rows("input_train") == nDocsC, s"input: ${rows("input_train")}")
      require(rows("quality") == qualKeep, s"quality: ${rows("quality")} want $qualKeep")
      require(rows("exact_dedup") == dedKeep, s"dedup: ${rows("exact_dedup")} want $dedKeep")
      require(rows("decontaminated") == dedKeep - evalHits,
        s"clean: ${rows("decontaminated")} want ${dedKeep - evalHits}")
      Seq("docs" -> nDocsC, "survivors" -> rows("decontaminated"), "planted_eval_hits" -> evalHits,
        "sec" -> sec, "docs_per_sec" -> (nDocsC / sec).toLong)
    },

    // q470's default kNN base: deterministic 16-dim pseudo-embeddings,
    // centroids every 50th vector. The candidate stream must be non-empty
    // and two or more orders of magnitude below brute-force n(n−1). With
    // C = nVec/50 cells the expected pair share is nProbe²/C = 200/nVec,
    // so that needs well over 20,000 vectors: the floor keeps at least 800
    // cells (share ≈ 0.5%).
    check("ivf_candidates") { in => import in._
      val nVec = (n / 100) max 40000L
      val emb16 = spark.range(nVec).select(col("id").as("vec_id"),
        expr("transform(sequence(1, 16), j -> CAST(" +
          "CAST((id % 997 + 1) * j * 2654435761 % 1000003 AS DOUBLE) / 1000003.0 AS FLOAT))")
          .as("embedding"))
      val lap = stopwatch()
      val cand = Similarity.ivfCandidatePairs(emb16, 50, 2)
      val nPairs = cand.count()
      val maxPer = cand.groupBy("qid").agg(count(lit(1)).as("c")).agg(max("c")).head().getLong(0)
      val sec = lap()
      val brute = nVec * (nVec - 1)
      require(nPairs > 0 && nPairs * 100 < brute,
        s"ivf candidates must be sub-quadratic: $nPairs vs brute $brute")
      Seq("vectors" -> nVec, "pairs" -> nPairs, "max_pairs_per_vector" -> maxPer,
        "brute_pairs" -> brute, "sec" -> sec, "vectors_per_sec" -> (nVec / sec).toLong)
    },

    // JDK-codec pixel decode: copies of the 4×4 known PNG through
    // decodeImage; every record must decode to the q573 channel sums
    check("media_decode") { in => import in._
      val nMedia = math.max(n / 100, 20000L)
      val pngHex = "89504E470D0A1A0A0000000D49484452000000040000000408020000002693" +
        "09290000003D49444154789C6360606030626448616298C6CCC0C0E8C660EC2E97EA" +
        "6133DD338A81A987C1A4D726ADAF6246FF1606E64B0CA697A3D2AF6C9979950F000A" +
        "930EA9F931FEAB0000000049454E44AE426082"
      val media = spark.range(nMedia).select(col("id").as("doc_id"), unhex(lit(pngHex)).as("content"))
      val lap = stopwatch()
      val agg = Multimodal.decodeImage(spark, media).toDF()
        .agg(count(lit(1)), min("sum_r"), max("sum_r"), min("luma_milli"), max("luma_milli")).head()
      val sec = lap()
      require(agg.getLong(0) == nMedia && agg.getLong(1) == 1224L &&
        agg.getLong(2) == 1224L && agg.getLong(3) == 96151L && agg.getLong(4) == 96151L,
        s"decode drift: $agg")
      Seq("images" -> nMedia, "sec" -> sec, "images_per_sec" -> (nMedia / sec).toLong)
    },

    // GBK→UTF-8 conversion through the codegen'd encode(decode(...))
    // projection; self-validating via a known row
    check("charset_convert") { in => import in._
      val nTxt = math.max(n / 10, 100000L)
      val gbkHex = "4D6978656420D6D0D3A22074657874" // "Mixed 中英 text"
      val txt = spark.range(nTxt).select(col("id"), unhex(lit(gbkHex)).as("b"))
      val lap = stopwatch()
      val outHex = txt.select(hex(graft.functions.Canonical.convertCharset(col("b"), "GBK", "UTF-8")).as("h"))
        .groupBy("h").agg(count(lit(1)).as("cnt")).collect()
      val sec = lap()
      require(outHex.length == 1 &&
        outHex(0).getString(0) == "4D6978656420E4B8ADE88BB12074657874" &&
        outHex(0).getLong(1) == nTxt, s"charset drift: ${outHex.toSeq}")
      Seq("rows" -> nTxt, "sec" -> sec, "rows_per_sec" -> (nTxt / sec).toLong)
    },

    // the collation-aware equi-depth divider: 2n rows over 100k
    // case-insensitive keys, each spelled in 3 case variants. Chunks cover
    // all rows, the collated NDV is exact (no case-variant group splits
    // across chunks), bounds are disjoint. The divider windows over the
    // O(NDV) distinct-key relation only.
    check("collated_chunks") { in => import in._
      val nKeys = 100000L
      val lap = stopwatch()
      val keyed = spark.range(2 * n).select(
        concat(
          when(col("id") % 3 === 0, lit("key_"))
            .when(col("id") % 3 === 1, lit("KEY_"))
            .otherwise(lit("Key_")),
          lpad((col("id") % nKeys).cast("string"), 6, "0")).as("k"))
      val planRows = ChunkPlanner.collatedPlan(keyed, "k", 64).collect()
      val sec = lap()
      val (rowsSum, keysSum, disjoint) = chunkCover(planRows)
      require(rowsSum == 2 * n && keysSum == nKeys && disjoint,
        s"collated chunk drift: rows=$rowsSum keys=$keysSum disjoint=$disjoint")
      Seq("rows" -> 2 * n, "ndv" -> nKeys, "chunks" -> planRows.length, "sec" -> sec,
        "rows_per_sec" -> (2 * n / sec).toLong)
    },

    // the NDV-guard scale path: a UNIQUE collated key (NDV = rows, the
    // reference's usual PK/UK chunk key). Above the guard the divider must
    // take the distributed range-shuffle prefix sum — the plan may contain
    // NO unpartitioned window (the single-task sort a naive divider plans);
    // at or below it, the one exact window. Within 10% of the guard the
    // sketched NDV may fall on either side, so the path is not checked.
    check("collated_chunks_unique") { in => import in._
      import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
      val lap = stopwatch()
      val keyed = spark.range(2 * n).select(
        concat(
          when(col("id") % 2 === 0, lit("pk_")).otherwise(lit("PK_")),
          lpad(col("id").cast("string"), 9, "0")).as("k"))
      val planDf = ChunkPlanner.collatedPlan(keyed, "k", 64)
      val globalWindows = planDf.queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty => w
      }
      val planRows = planDf.collect()
      val sec = lap()
      val (rowsSum, keysSum, disjoint) = chunkCover(planRows)
      val guard = ChunkPlanner.NdvGuard
      if (math.abs(2 * n - guard) > guard / 10)
        require(globalWindows.isEmpty == (2 * n > guard),
          s"unique-key divider with ${2 * n} keys (guard $guard) planned windows: $globalWindows")
      require(rowsSum == 2 * n && keysSum == 2 * n && disjoint,
        s"unique collated chunk drift: rows=$rowsSum keys=$keysSum disjoint=$disjoint")
      Seq("rows" -> 2 * n, "chunks" -> planRows.length, "sec" -> sec,
        "rows_per_sec" -> (2 * n / sec).toLong)
    },

    // ExactSubstr duplicated-span dedup: the planted run's five interior
    // 8-grams each occur nDocsS/10 times — the HOT-GRAM skew key the
    // semi-join must absorb. Closed form: one (5,16) span per run-carrier,
    // one (1,24) span per clone, removal mass 12·carriers + 24·clones;
    // everything else is unique and must contribute nothing.
    check("dup_spans") { in => import in._
      val nCarrier = nDocsS / 10
      val nClone = nDocsS / 1000
      val lap = stopwatch()
      val spans = Dedup.duplicateSpans(docsS, "doc_id", "text").cache()
      val nSpans = spans.count()
      val nRun = spans.where(col("span_start") === 5 && col("span_end") === 16).count()
      val nFull = spans.where(col("span_start") === 1 && col("span_end") === 24).count()
      val spanSec = lap()
      require(nRun == nCarrier, s"run-carrier spans: $nRun vs $nCarrier")
      require(nFull == nClone, s"full-clone spans: $nFull vs $nClone")
      require(nSpans == nCarrier + nClone, s"md5-unique filler must contribute no spans: $nSpans")
      val removed = Dedup.scrubDuplicateSpans(docsS, "doc_id", "text")
        .agg(sum("n_removed")).head().getLong(0)
      val scrubSec = lap()
      require(removed == 12 * nCarrier + 24 * nClone,
        s"removal mass: $removed vs ${12 * nCarrier + 24 * nClone}")
      Seq("docs" -> nDocsS, "grams" -> nDocsS * 17, "hot_gram_occurrences" -> nCarrier,
        "spans" -> nSpans, "span_sec" -> spanSec, "scrub_sec" -> scrubSec)
    },

    // incremental arm: the gram state persists to parquet once; a
    // nDocsS/100 shard of verbatim clones of FILLER docs (ids ≡ 1 mod 10 —
    // never run-carriers or boilerplate) transitions all 17 grams of each
    // cloned old doc, so the output is whole-doc (1,24) spans for every
    // shard doc AND every cloned old doc — from the shard, the state and
    // semi-join-restricted old-doc lookups only, never a corpus rescan.
    check("dup_spans_incremental") { in => import in._
      val nShardS = math.max(nDocsS / 100, 1000L)
      inTempDir("dupspan_state") { stDir =>
        val lap = stopwatch()
        Dedup.dupSpanState(docsS, "doc_id", "text").write.mode("overwrite").parquet(stDir)
        val stateSec = lap()
        val shardS = spark.range(nShardS).select(
          (col("id") + 100000000L).as("doc_id"),
          expr("array_join(transform(sequence(1, 24), j -> " +
            "concat(id * 10 + 1, 'x', j)), ' ')").as("text"))
        val incS = Dedup.dupSpansIncremental(
          spark.read.parquet(stDir), docsS, shardS, "doc_id", "text").cache()
        val nIncS = incS.count()
        val nWhole = incS.where(col("span_start") === 1 && col("span_end") === 24).count()
        val nOldAff = incS.where(col("doc_id") < 100000000L).count()
        val incSec = lap()
        require(nIncS == 2 * nShardS && nWhole == nIncS && nOldAff == nShardS,
          s"incremental closed form: spans=$nIncS whole=$nWhole old=$nOldAff vs ${2 * nShardS}/$nShardS")
        Seq("index_docs" -> nDocsS, "shard_docs" -> nShardS, "transitioned_old_docs" -> nOldAff,
          "state_sec" -> stateSec, "inc_sec" -> incSec)
      }
    },

    // multi-pattern Aho-Corasick tagging against a 10,001-term dictionary
    // (the naive twin is 10,001 LIKE scans of the corpus). Closed forms per
    // term (K | 5·gcd ⇒ each term's docs share one id%5 residue) and for
    // the overlap-vs-disjoint split of 'aba'. The tagging pass is ONE
    // codegen projection — the only shuffle is the term rollup.
    check("blocklist") { in => import in._
      val dictB = (0 until kTerms).map(t => s"blk${t}w") :+ "aba"
      val lap = stopwatch()
      val perTerm = Blocklist.matchCounts(docsB, "doc_id", "text", dictB)
        .groupBy("term")
        .agg(sum("n_olap").as("olap"), sum("n_disj").as("disj")).cache()
      val nTermsHit = perTerm.count()
      val tagSec = lap()
      require(nTermsHit == kTerms + 1, s"terms hit: $nTermsHit vs ${kTerms + 1}")
      val expB = spark.range(nDocsB).select((col("id") % kTerms).as("tnum"),
          ((col("id") % 5) + 1).as("cnt"))
        .groupBy("tnum").agg(sum("cnt").as("want"))
      val badPlanted = perTerm.where(col("term") =!= "aba")
        .select(regexp_extract(col("term"), "blk(\\d+)w", 1).cast("long").as("tnum"),
          col("olap"), col("disj"))
        .join(expB, "tnum")
        .where(col("olap") =!= col("want") || col("disj") =!= col("want"))
        .count()
      require(badPlanted == 0, s"planted-term mismatches: $badPlanted")
      val abaRow = perTerm.where(col("term") === "aba").head()
      val abaExp = spark.range(nDocsB).agg(
        sum(col("id") % 4).as("eo"),
        sum(expr("(id % 4 + 1) div 2")).as("ed")).head()
      require(abaRow.getAs[Long]("olap") == abaExp.getAs[Long]("eo") &&
        abaRow.getAs[Long]("disj") == abaExp.getAs[Long]("ed"),
        s"aba closed form: (${abaRow.getAs[Long]("olap")},${abaRow.getAs[Long]("disj")})" +
          s" vs (${abaExp.getAs[Long]("eo")},${abaExp.getAs[Long]("ed")})")
      Seq("docs" -> nDocsB, "dict_terms" -> (kTerms + 1), "terms_hit" -> nTermsHit, "tag_sec" -> tagSec)
    },

    // head-to-head vs the naive per-term plan at a REALISTIC small
    // dictionary (24 terms): one `contains` branch per term — O(len·|dict|)
    // string scans per row. Totals must agree exactly (disjoint counts via
    // the replace()-length identity, the oracle formula).
    check("blocklist_naive_twin") { in => import in._
      val dict24 = (0 until 24).map(t => s"blk${t * (kTerms / 24)}w")
      val lap = stopwatch()
      val acHits = Blocklist.matchCounts(docsB, "doc_id", "text", dict24)
        .agg(sum("n_disj")).head().getLong(0)
      val acSec = lap()
      val naiveHits = docsB.select(
        dict24.zipWithIndex.map { case (t, i) =>
          ((length(col("text")) - length(replace(col("text"), lit(t), lit("")))) / t.length)
            .cast("long").as(s"c$i")
        }: _*)
        .agg(sum(expr((0 until 24).map(i => s"c$i").mkString("+")))).head().getLong(0)
      val naiveSec = lap()
      require(acHits == naiveHits, s"AC vs naive totals: $acHits vs $naiveHits")
      Seq("docs" -> nDocsB, "dict_terms" -> 24, "hits" -> acHits,
        "ac_sec" -> acSec, "naive_sec" -> naiveSec)
    },

    // dictionary growth: the char-4-gram postings persist ONCE, then adding
    // term blk77w re-tags via the index: its gram 'k77w' can only arise
    // from id exactly 77 (mod K), so candidates are EXACTLY the nDocsB/K
    // planted docs, each carrying (77%5)+1 = 3 occurrences — probe cost
    // follows the term's selectivity, never the corpus.
    check("blocklist_delta_term") { in => import in._
      inTempDir("blk_postings") { pstDir =>
        val lap = stopwatch()
        Blocklist.gramPostings(docsB, "doc_id", "text").write.mode("overwrite").parquet(pstDir)
        val postingsSec = lap()
        val delta = Blocklist.termDeltaCounts(
          spark.read.parquet(pstDir), docsB, "doc_id", "text", Seq("blk77w")).cache()
        val nDelta = delta.count()
        val deltaHits = delta.agg(sum("n_disj")).head().getLong(0)
        val probeSec = lap()
        val wantDocs = nDocsB / kTerms
        require(nDelta == wantDocs && deltaHits == 3 * wantDocs,
          s"delta closed form: $nDelta docs/$deltaHits hits vs $wantDocs/${3 * wantDocs}")
        Seq("docs" -> nDocsB, "postings_sec" -> postingsSec, "affected_docs" -> nDelta,
          "probe_sec" -> probeSec)
      }
    })

  /** `body` on a fresh temporary directory, deleted afterwards. */
  private def inTempDir[T](prefix: String)(body: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    try body(dir.toString)
    finally scala.util.Using.resource(java.nio.file.Files.walk(dir))(
      _.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => java.nio.file.Files.delete(p)))
  }

  /** (Σ n_rows, Σ n_keys, bounds disjoint in chunk order) of a collated plan. */
  private def chunkCover(planRows: Array[org.apache.spark.sql.Row]): (Long, Long, Boolean) = {
    val sortedB = planRows.sortBy(_.getAs[Int]("chunk_id"))
    val disjoint = sortedB.sliding(2).forall {
      case Array(a, b) => a.getAs[String]("upper_bound") < b.getAs[String]("lower_bound")
      case _           => true
    }
    (planRows.map(_.getAs[Long]("n_rows")).sum, planRows.map(_.getAs[Long]("n_keys")).sum, disjoint)
  }

  // Partition sizing for the 256-partition vector scenarios: the IVF
  // candidate exchange is ~10^9 (qid, cid) pairs at 1M vectors — at the
  // session's 32 shuffle partitions that is ~31M pair keys per task's
  // partial-distinct map, which overruns local[32]'s ~250 MB-per-task heap
  // share (observed OOM). 256 partitions ≈ 4M pairs/task — the "size
  // partitions to task memory" rule a 100 TB run applies; AQE coalesces
  // the small stages back down. The harness restores the session value.
  private def wide(spark: SparkSession): Unit = spark.conf.set("spark.sql.shuffle.partitions", "256")

  private val vectors: Seq[Scenario] = Seq(
    // 3 Lloyd rounds, C = n/seedEvery centroids; every vector must stay
    // assigned and the converged cells cannot exceed the seeds
    vector("kmeans_1m") { in => import in._
      val seedEvery = (n / 256L).max(1L).toInt
      val r0 = shuffleRecords()
      val lap = stopwatch()
      val r = Similarity.kmeansAssignments(emb, seedEvery, iters = 3)
        .agg(count(lit(1)), countDistinct(col("cell"))).head()
      val sec = lap()
      val shuf = shuffleRecords() - r0
      val (nAsg, nCells) = (r.getLong(0), r.getLong(1))
      require(nAsg == n, s"every vector must be assigned: $nAsg vs $n")
      // kmeansAssignments seeds every vec_id (0 until n) divisible by
      // seedEvery: ceil(n / seedEvery) centroids, 257 at 100k
      val nSeeds = (n + seedEvery - 1) / seedEvery
      require(nCells <= nSeeds, s"cells must not exceed the seed count $nSeeds: $nCells")
      Seq("vectors" -> n, "cells" -> nCells, "iters" -> 3, "sec" -> sec, "shuffle_records" -> shuf,
        "shuffle_per_round" -> shuf / 3, "vectors_per_sec" -> (n / sec).toLong)
    },

    // multi-probe candidate stream over 4,000 cells (every n/4000-th
    // vector is a centroid)
    vector("ivf_pairs_1m") { in => import in._
      wide(spark)
      val r0 = shuffleRecords()
      val lap = stopwatch()
      val r = Similarity.ivfCandidatePairs(emb, centroidEvery, nProbe = 2)
        .groupBy("qid").agg(count(lit(1)).as("c"))
        .agg(sum("c"), max("c")).head()
      val sec = lap()
      val shuf = shuffleRecords() - r0
      val (nPairs, maxPer) = (r.getLong(0), r.getLong(1))
      val brute = n * (n - 1)
      require(nPairs > 0 && nPairs * 100 < brute,
        s"ivf candidates must be sub-quadratic: $nPairs vs brute $brute")
      Seq("vectors" -> n, "pairs" -> nPairs, "max_pairs_per_vector" -> maxPer, "brute_pairs" -> brute,
        "sec" -> sec, "shuffle_records" -> shuf, "vectors_per_sec" -> (n / sec).toLong)
    },

    // the degenerate-cell valve: uncapped, the cloned block's two nearest
    // cells alone would emit ≥ blockDepth² directed pairs (10⁸ at 1M) —
    // the quadratic bomb q598's LSH twin already closed. Capped, the block
    // contributes only hub-star edges: clone-clone pairs vanish (the hubs
    // are natural small-id members of the crowded cells), every clone
    // keeps an edge, and the dense cells keep their exact all-pairs stream.
    vector("ivf_hot_cell_1m") { in => import in._
      wide(spark)
      val cap = 8192
      val lap = stopwatch()
      // one aggregation pass — never cache the ~10⁹-row dense stream
      val r = Similarity.ivfCandidatePairs(hotCellCorpus, centroidEvery, nProbe = 2, maxCell = Some(cap))
        .agg(
          count(lit(1)),
          sum(when(col("qid") > n && col("cid") > n, 1L).otherwise(0L)),
          countDistinct(when(col("qid") > n, col("qid")))).head()
      val sec = lap()
      val (nPairs, blockInternal, touched) = (r.getLong(0), r.getLong(1), r.getLong(2))
      require(blockInternal == 0, s"clone-clone pairs must vanish under the cap: $blockInternal")
      require(touched == blockDepth, s"every clone must keep a hub edge: $touched vs $blockDepth")
      Seq("vectors" -> (n + blockDepth), "cell_depth" -> blockDepth, "cap" -> cap, "pairs" -> nPairs,
        "uncapped_block_pairs" -> blockDepth * (blockDepth - 1),
        "block_internal_pairs" -> blockInternal, "sec" -> sec)
    },

    // the bounded-prefix valve on the REMOVAL decision: near-duplicates
    // crowding one centroid is exactly the distribution SemDeDup is for,
    // and uncapped the removal join there alone is ≥ blockDepth²/2 cosine
    // pairs (5×10⁷ at 1M). Capped, every member verifies against the
    // cell's `cap` smallest-id members: hot-cell work drops to cap·|cell|,
    // the prefix holds the natural members (all ids below every clone),
    // and every clone still matches its source — removed, with zero
    // over-pruning possible by construction (the x-side only shrinks).
    vector("semdedup_hot_cell_1m") { in => import in._
      wide(spark)
      val cap = 256
      val r0 = shuffleRecords()
      val lap = stopwatch()
      val r = Similarity.semDedup(hotCellCorpus, centroidEvery, 999000L, maxCell = Some(cap))
        .agg(
          count(lit(1)),
          sum(when(col("vec_id") > n && col("removed"), 1L).otherwise(0L)),
          sum(when(col("vec_id") > n && !col("removed"), 1L).otherwise(0L))).head()
      val sec = lap()
      val shuf = shuffleRecords() - r0
      val (nRows, cloneRemoved, cloneKept) = (r.getLong(0), r.getLong(1), r.getLong(2))
      require(nRows == n + blockDepth, s"every vector must carry a decision: $nRows vs ${n + blockDepth}")
      require(cloneRemoved == blockDepth && cloneKept == 0,
        s"every clone must be removed via the prefix: removed=$cloneRemoved kept=$cloneKept")
      Seq("vectors" -> (n + blockDepth), "cell_depth" -> blockDepth, "cap" -> cap,
        "uncapped_block_pairs" -> blockDepth * (blockDepth - 1) / 2,
        "capped_block_pairs" -> cap.toLong * blockDepth,
        "clones_removed" -> cloneRemoved, "sec" -> sec, "shuffle_records" -> shuf)
    },

    ivfRecall(2),
    ivfRecall(8))

  /** recall@10 of the IVF probe path vs exact over 1000 cells and 100
    * queries — the audit that justifies nProbe (q619 measures 4 queries).
    * The exact ground truth is one corpus × 100-query native-scaled-dot
    * pass feeding both rankings through the bounded-heap top-k operator.
    */
  private def ivfRecall(nProbe: Int): Scenario = vector(s"ivf_recall_1m_probe$nProbe") { in => import in._
    wide(spark)
    val every = (n / 1000L).max(1L).toInt
    val queries = emb.where(col("vec_id") % (n / 100L).max(1L) === 0)
    val lap = stopwatch()
    val stats = Similarity.ivfRecall(emb, queries, 10, every, nProbe)
      .agg(count(lit(1)), sum("hits"), floor(avg(col("recall_permille"))).cast("long")).head()
    val sec = lap()
    val (nQ, hits, meanRecall) = (stats.getLong(0), stats.getLong(1), stats.getLong(2))
    require(nQ == 100, s"expected 100 audited queries, got $nQ")
    // every query's own cell is probed: the query vector itself is a hit
    require(hits > 0 && meanRecall > 0, "recall audit must be non-trivial")
    Seq("vectors" -> n, "queries" -> nQ, "cells" -> n / every, "n_probe" -> nProbe, "k" -> 10,
      "mean_recall_permille" -> meanRecall, "sec" -> sec)
  }

  // The incremental curation states: each is built once over the N-doc
  // index, a shard of nShard docs is ingested, and the incremental arm must
  // EQUAL the full-corpus recompute restricted to shard ids while costing
  // shard-plus-state work (the wall-clock ratio is printed, not assumed).
  private val curates: Seq[Scenario] = Seq(
    curate("oov_admit_1m") { in => import in._
      val all = union
      val lap = stopwatch()
      val vState = Curate.vocabState(index).localCheckpoint(true)
      val stateRows = vState.count()
      val stSec = lap()
      val inc = Curate.oovAdmit(vState, shard, vocabK = 1000)
      inc.count()
      val incSec = lap()
      val full = Curate.oovAdmit(Curate.vocabState(index.limit(0)), all, vocabK = 1000)
        .where(col("doc_id") >= 10000000L).localCheckpoint(true)
      full.count()
      val fullSec = lap()
      require(sameSet(inc, full), "oovAdmit incremental != full restriction")
      val nAdmit = inc.where(col("admitted")).count()
      require(nAdmit > 0 && nAdmit < nShard, s"fixture must split admissions: $nAdmit of $nShard")
      Seq("index_docs" -> n, "shard_docs" -> nShard, "state_rows" -> stateRows, "admitted" -> nAdmit,
        "state_sec" -> stSec, "inc_sec" -> incSec, "full_sec" -> fullSec, "match" -> true)
    },

    // BOTH bucket states fold in; the ingest arm reads (raw state, target
    // state, shard) ONLY — inc_sec is shard-sized work, independent of the
    // corpus-sized state_sec/tstate_sec one-time builds
    curate("dsir_incremental_1m") { in => import in._
      val all = union
      val target = index.where(col("doc_id") % 997 === 0)
      val lap = stopwatch()
      val dState = Curate.dsirState(index).localCheckpoint(true)
      dState.count()
      val dstSec = lap()
      val tState = Curate.dsirTargetState(target).localCheckpoint(true)
      tState.count()
      val tstSec = lap()
      val dInc = Curate.dsirScoresIncremental(dState, tState, shard)
      dInc.count()
      val dIncSec = lap()
      val dFull = Curate.dsirScores(all, target).where(col("doc_id") >= 10000000L).localCheckpoint(true)
      dFull.count()
      val dFullSec = lap()
      require(sameSet(dInc, dFull), "dsir incremental != full restriction")
      Seq("index_docs" -> n, "shard_docs" -> nShard, "buckets" -> 512,
        "state_sec" -> dstSec, "tstate_sec" -> tstSec, "inc_sec" -> dIncSec,
        "full_sec" -> dFullSec, "match" -> true)
    })

  /** connectedComponents on `pairs` through the gated union-find path
    * (gate Long.MaxValue) or the distributed fallback it keeps for graphs
    * over the gate (min-label propagation over the contracted forest,
    * forced by a negative gate). Every vertex must carry its group's least
    * id; the line reports the faster of two reps.
    */
  private def ccPath(name: String, k: Long, gate: Long)(pairs: Inputs => DataFrame): Scenario =
    cc(name) { in => import in._
      val graph = pairs(in)
      val reps = (1 to 2).map { _ =>
        val lap = stopwatch()
        val (out, _) = Dedup.connectedComponentsGated(graph, 50, gate)
        val r = out.agg(count(lit(1)), countDistinct(col("component")),
          count(when(col("component") =!= col("doc_id") - col("doc_id") % k, 1))).head()
        val dt = lap()
        spark.sharedState.cacheManager.clearCache()
        // a trailing partial group is a component of its own
        val groups = (n + k - 1) / k
        require(r.getLong(0) == n && r.getLong(1) == groups && r.getLong(2) == 0,
          s"$name: ${r.getLong(0)} vertices, ${r.getLong(1)} components, " +
            s"${r.getLong(2)} wrong labels; want $n, $groups, 0")
        (dt, r.getLong(0), r.getLong(1))
      }
      val (dt, nv, nc) = reps.minBy(_._1)
      Seq("min_sec" -> dt, "rep_sec" -> reps.map(_._1), "vertices" -> nv, "components" -> nc)
    }

  private val ccs: Seq[Scenario] = Seq(
    ccPath("cliques8_unionfind", 8, Long.MaxValue)(_.cliques),
    ccPath("cliques8_fallback", 8, -1)(_.cliques),
    ccPath("chain64_unionfind", 64, Long.MaxValue)(_.chains),
    ccPath("chain64_fallback", 64, -1)(_.chains))

  /** Every scenario, in run order. */
  val registry: Seq[Scenario] = checks ++ vectors ++ curates ++ ccs
  val families: Seq[String] = registry.map(_.family).distinct
}
