package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.operators.{Curate, Dedup, Similarity}

/** Disk-backed END-TO-END ingestion rehearsal — the production recipe in
  * executable form (VERDICT r9 #1). The loop's legs were proven
  * separately (Materialized*Spec disk round-trips, LabelRewriteSpec,
  * `graft.tools.Scale`'s `curate` family); this closes the remaining
  * daylight: ONE scenario that
  *
  *  1. persists ALL the pipeline state as parquet — the LSH band index
  *     (partitioned by band), the IVF cell map + frozen centroid
  *     metadata (cell map partitioned by cell), the dedup labels
  *     (partitioned by pmod(component, P)), the DSIR raw/target +
  *     vocabulary curation states, and the perceptual media-hash index
  *     (the banded-Hamming lane relation) — plus the corpus
  *     text/embedding stores themselves;
  *  2. ingests TWO consecutive shards end-to-end where every step reads
  *     ONLY the on-disk state and the shard (candidate-restricted text
  *     lookups go to the corpus store; no index×index re-pairing, no
  *     full-corpus CC, no corpus-sized feature rescan): `Dedup.ingest`
  *     probes the band index and bottom-K Jaccard verifies → labelDelta →
  *     PRUNED dynamic partition overwrite + newLabels append → band
  *     append; IVF probe → cell-map append; DSIR/vocab incremental
  *     scoring + state fold-in;
  *     media shard lanes probe the persisted hash index
  *     (bandedHammingIncremental) → plain row append;
  *  3. asserts the final on-disk world EQUALS the one-shot rebuild over
  *     corpus ∪ shard1 ∪ shard2 — labels map-identical, shard-2 DSIR
  *     scores and OOV admissions identical to the full-recompute
  *     restriction, cell map and every curation state set-identical,
  *     and the ACCUMULATED incremental media pairs equal to the one-shot
  *     capped banded-Hamming run over the union (the media fixture keeps
  *     every state-spanning bucket on a FIXED side of the cap, so the
  *     per-ingest shard-touching restrictions compose to exactly the
  *     full run);
  *  4. asserts the IO shape at file level: band/cell appends leave every
  *     pre-existing file untouched, the label rewrite's scan carries
  *     PartitionFilters and provably never lists untouched partitions'
  *     files, and untouched label partitions are byte-stable
  *     (path+length) across an ingest.
  *
  * Fixture (all md5/integer-deterministic, no RNG): corpus docs in
  * clone-groups of 4 (disjoint md5-derived word sets across groups);
  * shards mix corpus-group clones (attach to existing components),
  * fresh in-shard groups (new components; shard 2 reuses half of
  * shard 1's seeds, chaining across ingests), and BRIDGE docs
  * concatenating two distinct groups' texts (the only way text
  * similarity merges two existing components — exercising meta-merges
  * and the pruned overwrite's partition-moving rows). Verification runs
  * under the bottom-32 `maxShingles` valve, so the rehearsal also runs
  * the bounded-verification path at scale.
  *
  * `sbt "runMain graft.tools.IngestRehearsal [docs] [shard]"` (defaults
  * 1M / 10k). Prints one JSON line per leg; throws on any mismatch.
  */
object IngestRehearsal {

  // label-store partitions — COPRIME with the fixture's component-id
  // stride (group minima are multiples of 4; pmod 64 would collapse the
  // store onto 16 partition values and defeat the pruning proof)
  private val P = 63
  private val Cap = 100         // LSH hot-bucket valve (untripped here; algebra is q607-pinned)
  private val MaxShingles = 32  // jaccardVerify bottom-K valve
  private val JacMin = 20000L   // clone pairs 100000, bridges ~33000, md5 noise ~0
  private val NProbe = 2
  private val MediaCap = 50     // banded-Hamming hot-bucket valve (TRIPPED here)
  private val MaxHam = 3        // < 4 lanes, so banding is pigeonhole-exact
  private val MediaLanes = (0 until 4).map(l => s"h$l")

  final case class Dirs(base: String) {
    val docs = s"$base/docs"
    val emb = s"$base/emb"
    val bands = s"$base/bands"
    val labels = s"$base/labels"
    val cents = s"$base/cents"
    val cells = s"$base/cells"
    val hashes = s"$base/hashes"
    def dsir(v: Int) = s"$base/dsir_v$v"
    def dsirTgt(v: Int) = s"$base/dsir_tgt_v$v"
    def vocab(v: Int) = s"$base/vocab_v$v"
  }

  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toLong).getOrElse(1000000L)
    val nShard = args.drop(1).headOption.map(_.toLong).getOrElse(10000L)
    val spark = graft.core.Graft.local(32)
    spark.sparkContext.setLogLevel("WARN")
    run(spark, nDocs, nShard,
      java.nio.file.Files.createTempDirectory("ingest_rehearsal").toString)
    spark.stop()
  }

  // ---- deterministic fixture ----

  /** 12 md5-derived 8-char words for group `gidExpr` — disjoint word sets
    * across groups, so only same-group docs are text-similar.
    */
  private def textOf(gidExpr: String): String =
    s"array_join(transform(sequence(0, 11), j -> substr(md5(concat('t', " +
      s"CAST(($gidExpr) AS STRING), '_', CAST(j AS STRING))), 1, 8)), ' ')"

  private def embOf(idExpr: String): String =
    s"transform(sequence(1, 64), j -> CAST(CAST((($idExpr) * 1103515245 + " +
      s"j * 2654435761) % 1000003 AS DOUBLE) / 1000003.0 AS FLOAT))"

  private def corpusDocs(spark: SparkSession, nDocs: Long): DataFrame =
    spark.range(nDocs).select(col("id").as("doc_id"),
      expr(textOf("id div 4")).as("text"))

  private def corpusEmb(spark: SparkSession, nVec: Long): DataFrame =
    spark.range(nVec).select(col("id").as("vec_id"),
      expr(embOf("id")).as("embedding"))

  /** Shard k: bridges (id%50=49) concatenate two distinct corpus groups'
    * texts (16 (A,B) pairs per shard — the only text-similarity path
    * that MERGES existing components); other even ids clone one of 16
    * corpus groups (attach to existing components); odd ids form 12
    * fresh in-shard clone-groups — shard 2 reuses shard 1's seeds on
    * even (id div 2), chaining components across ingests. Distinct
    * touched components stay well under the P=64 label partitions, so
    * the pruned rewrite provably skips partitions; the big clone-groups
    * (hundreds of members) push their band buckets OVER the LSH cap, so
    * the hub-star valve runs for real in both the incremental and the
    * one-shot path.
    */
  private def shardDocs(spark: SparkSession, k: Int, nDocs: Long, nShard: Long): DataFrame = {
    val g = nDocs / 4
    val freshK1 = textOf(s"10000000 + (id div 2) % 12")
    val freshOwn = textOf(s"${10000000L * k} + (id div 2) % 12")
    val fresh = if (k == 1) freshK1
      else s"CASE WHEN (id div 2) % 2 = 0 THEN $freshK1 ELSE $freshOwn END"
    spark.range(nShard).select((lit(100000000L * k) + col("id")).as("doc_id"),
      expr(s"""CASE
        WHEN id % 50 = 49 THEN concat(${textOf(s"(((id div 50) % 16) * 3 + $k) % $g")},
          ' ', ${textOf(s"(((id div 50) % 16) * 5 + ${k + 7}) % $g")})
        WHEN id % 2 = 0 THEN ${textOf(s"(((id div 2) % 16) * 7) % $g")}
        ELSE $fresh END""").as("text"))
  }

  private def shardEmb(spark: SparkSession, k: Int, nVec: Long, nShard: Long): DataFrame =
    spark.range(nShard).select((lit(100000000L * k) + col("id")).as("vec_id"),
      expr(s"CASE WHEN id % 4 = 0 THEN ${embOf(s"(id * 17) % $nVec")} " +
        s"ELSE ${embOf(s"id + ${100000000L * k}")} END").as("embedding"))

  /** Perceptual-hash fixture (4 × 64-bit lanes, [[MaxHam]]-exact banding).
    * Three content classes, all md5/integer-deterministic:
    *  - BOILERPLATE (corpus ids < nDocs/50; shard ids ≡ 99 mod 100):
    *    constant lanes l+1 — ONE bucket over [[MediaCap]] from the corpus
    *    build onward (hub = media 0, the union minimum at every state);
    *  - clone groups: structurally disjoint lane values (gid+2)·16+l —
    *    any two DISTINCT groups differ in ≥ 1 bit on EVERY lane, so
    *    cross-group Hamming ≥ 4 > [[MaxHam]] and verification drops every
    *    cross-group candidate deterministically, while same-group pairs
    *    sit at distance 0;
    *  - noise: 32-bit md5 lanes (unique content; birthday candidates
    *    verify-drop at ~48 expected differing bits over 3 lanes).
    * The cap-composition invariant the final check rests on: every bucket
    * that SPANS ingest states stays on one side of the cap at every state
    * — boilerplate is over from the corpus build (nDocs/50 ≥ 80 > 50),
    * corpus groups cloned by shards stay ≤ 4+2·ceil(nShard/1600) ≪ 50 —
    * and fresh in-shard groups live entirely inside one state, where
    * inc ≡ full holds per bucket regardless of the cap side.
    */
  private def noiseLane(key: String, l: Int): Column =
    expr(s"CAST(conv(substring(md5(concat('$key', id, '_$l')), 1, 8), 16, 10) AS LONG)")

  private def groupLane(gid: Column, l: Int): Column =
    (gid + lit(2L)) * lit(16L) + lit(l.toLong)

  private def corpusMedia(spark: SparkSession, nMedia: Long): DataFrame = {
    val lanes = (0 until 4).map { l =>
      when(col("id") < nMedia / 50, lit(l + 1L))
        .when(col("id") % 7 === 6, noiseLane("mc", l))
        .otherwise(groupLane(expr("id div 4"), l))
        .as(s"h$l")
    }
    spark.range(nMedia).select(col("id").as("media_id") +: lanes: _*)
  }

  /** Shard k media: boilerplate joins the over-cap bucket (hub-star edges
    * restricted to shard members compose across ingests); ids ≡ 1 mod 100
    * clone one of 16 designated corpus groups just above the boilerplate
    * range (≤ 1 + nShard/1600 clones per group per shard — the buckets
    * stay far under the cap at every state); other odd ids form 12 fresh
    * in-shard groups (over the cap at 1M — the shard-side star arm — and
    * dense at spec scale, both composing exactly); the rest is noise.
    */
  private def shardMedia(spark: SparkSession, k: Int, nDocs: Long, nShard: Long): DataFrame = {
    val cloneGid = lit(nDocs / 50 / 4 + 1) + expr("id div 100") % 16
    val freshGid = lit(30000000L * k) + expr("id div 2") % 12
    val lanes = (0 until 4).map { l =>
      when(col("id") % 100 === 99, lit(l + 1L))
        .when(col("id") % 100 === 1, groupLane(cloneGid, l))
        .when(col("id") % 2 === 1, groupLane(freshGid, l))
        .otherwise(noiseLane(s"ms$k", l))
        .as(s"h$l")
    }
    spark.range(nShard).select((lit(100000000L * k) + col("id")).as("media_id") +: lanes: _*)
  }

  // ---- helpers ----

  private def parquetFiles(dir: String): Set[String] = {
    import scala.jdk.CollectionConverters._
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) Set.empty
    else java.nio.file.Files.walk(p).iterator().asScala
      .filter(f => f.toString.endsWith(".parquet"))
      .map(f => s"${f.toString}#${java.nio.file.Files.size(f)}").toSet
  }

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def sameSet(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  /** Verified near-dup edges for a candidate set against a docs relation
    * — the one pipeline definition both the ingest path and the one-shot
    * rebuild use, so they can never silently disagree.
    */
  private def verifiedEdges(cand: DataFrame, docs: DataFrame): DataFrame =
    Dedup.jaccardVerify(cand, docs, "doc_id", "text",
        maxShingles = Some(MaxShingles))
      .where(col("jaccard_scaled") >= JacMin)
      .select("d1", "d2")

  // ---- the rehearsal ----

  def run(spark: SparkSession, nDocs: Long, nShard: Long, base: String): Unit = {
    // the pruned label rewrite is a dynamic partition overwrite; restore
    // the caller's mode on exit (the spec shares its session)
    val prevMode = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try runInner(spark, nDocs, nShard, base)
    finally prevMode match {
      case Some(m) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", m)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
  }

  private def runInner(spark: SparkSession, nDocs: Long, nShard: Long, base: String): Unit = {
    val dirs = Dirs(base)
    val docs = corpusDocs(spark, nDocs)
    val emb = corpusEmb(spark, nDocs)
    val target = docs.where(col("doc_id") % 997 === 0)
    val centroidEvery = (nDocs / 1000L).max(1L).toInt

    // ---- one-time state build (corpus-sized, paid once) ----
    // accumulated media near-dup pairs: build-time pairs ∪ each ingest's
    // incremental pairs — the final check proves this union IS the
    // one-shot capped run over the union index
    var mediaPairs: DataFrame = null
    val (_, buildSec) = timed {
      docs.write.mode("overwrite").parquet(dirs.docs)
      emb.write.mode("overwrite").parquet(dirs.emb)
      val sig = Dedup.minhashSignatures(spark.read.parquet(dirs.docs), "doc_id", "text")
      val bands = Dedup.lshBands(sig)
      bands.write.mode("overwrite").partitionBy("band").parquet(dirs.bands)
      Dedup.IngestState.rebuild(bands, Some(Cap), verifiedEdges(_, spark.read.parquet(dirs.docs)))
        .labels.withColumn("lblpart", pmod(col("component"), lit(P.toLong)))
        .write.mode("overwrite").partitionBy("lblpart").parquet(dirs.labels)
      val cents = Similarity.ivfCentroids(spark.read.parquet(dirs.emb), centroidEvery)
      cents.write.mode("overwrite").parquet(dirs.cents)
      Similarity.ivfIndex(spark.read.parquet(dirs.emb),
          spark.read.parquet(dirs.cents), NProbe)
        .write.mode("overwrite").partitionBy("cell").parquet(dirs.cells)
      Curate.dsirState(spark.read.parquet(dirs.docs))
        .write.mode("overwrite").parquet(dirs.dsir(0))
      Curate.dsirTargetState(target).write.mode("overwrite").parquet(dirs.dsirTgt(0))
      Curate.vocabState(spark.read.parquet(dirs.docs))
        .write.mode("overwrite").parquet(dirs.vocab(0))
      corpusMedia(spark, nDocs).write.mode("overwrite").parquet(dirs.hashes)
      mediaPairs = Dedup.bandedHammingPairs(spark.read.parquet(dirs.hashes),
          "media_id", MediaLanes, maxDist = MaxHam, maxBand = Some(MediaCap))
        .localCheckpoint(true)
    }
    println(f"""{"scenario":"rehearsal_build","docs":$nDocs,"vectors":$nDocs,""" +
      f""""label_parts":$P,"sec":$buildSec%.2f}""")

    // ---- ingest shard k: reads ONLY on-disk state + the shard ----
    def ingest(k: Int): (DataFrame, DataFrame) = {
      val shard = shardDocs(spark, k, nDocs, nShard).localCheckpoint(true)
      val shEmb = shardEmb(spark, k, nDocs, nShard).localCheckpoint(true)
      val sig = Dedup.minhashSignatures(shard, "doc_id", "text")

      // 1. admit: probe the persisted band index (no corpus text read),
      //    then verify with candidate-restricted text lookups against the
      //    corpus STORE ∪ shard (broadcast semi-join inside jaccardVerify
      //    keeps the read candidate-sized at the row level). Only the
      //    admitted edges are used: step 2 applies the merge on disk, so
      //    the next state's labels are never forced.
      val disk = spark.read.parquet(dirs.labels)
      val labels = disk.select("doc_id", "component")
      val ((shardBands, edges), admitSec) = timed {
        val sb = Dedup.lshBands(sig)
        val state = new Dedup.IngestState(spark.read.parquet(dirs.bands), labels)
        (sb, Dedup.ingest(state, sb, Some(Cap),
          verifiedEdges(_, spark.read.parquet(dirs.docs).unionAll(shard)))._2)
      }

      // 2. labels: delta → pruned dynamic overwrite + append, with the
      //    file-level proof that untouched partitions stay untouched
      val (mergeStats, labelSec) = timed {
        val (meta, newLabels) = Dedup.labelDelta(labels, edges)
        val metaMat = meta.localCheckpoint(true)
        val nMerges = metaMat.where(col("mv") =!= col("mc")).count()
        val pruned = Dedup.prunedLabelRewrite(disk, metaMat, P)
        // the scan must be partition-pruned, and provably never LIST an
        // untouched partition's files (LabelRewriteSpec's technique)
        val scan = pruned.queryExecution.sparkPlan
          .collect { case f: FileSourceScanExec => f }
          .find(_.relation.location.rootPaths.exists(_.toString.contains("labels")))
          .getOrElse(sys.error("no label-store scan in the pruned plan"))
        require(scan.partitionFilters.nonEmpty, "pruned rewrite lost its PartitionFilters")
        val readFiles = scan.relation.location
          .listFiles(scan.partitionFilters, Nil).flatMap(_.files)
          .map(_.getPath.toString).toSet
        val allFiles = scan.relation.location.listFiles(Nil, Nil).flatMap(_.files)
          .map(_.getPath.toString).toSet
        require(readFiles.size < allFiles.size,
          s"pruned scan must read fewer files: ${readFiles.size} vs ${allFiles.size}")
        val untouched = (0L until P.toLong).toSet -- Dedup.affectedLabelParts(metaMat, P)
        require(untouched.nonEmpty, "fixture must leave some partitions untouched")
        untouched.foreach { p =>
          require(!readFiles.exists(_.contains(s"lblpart=$p/")),
            s"untouched partition lblpart=$p was read")
        }
        // apply: materialize BEFORE overwriting the store being read
        val prunedMat = pruned.localCheckpoint(true)
        val newMat = newLabels
          .withColumn("lblpart", pmod(col("component"), lit(P.toLong)))
          .localCheckpoint(true)
        def untouchedFiles() =
          untouched.toSeq.sorted.map(p => parquetFiles(s"${dirs.labels}/lblpart=$p"))
        val beforeU = untouchedFiles()
        prunedMat.write.mode("overwrite").partitionBy("lblpart").parquet(dirs.labels)
        // the pruned dynamic overwrite must leave untouched partitions
        // byte-identical — only affected partition dirs are replaced
        require(beforeU == untouchedFiles(),
          "untouched label partitions must be byte-stable across the pruned overwrite")
        newMat.write.mode("append").partitionBy("lblpart").parquet(dirs.labels)
        // the new-vertex append may ADD files anywhere (fresh components
        // hash to any partition) but never rewrites an existing file
        val afterU = untouchedFiles()
        require(beforeU.zip(afterU).forall { case (b, a) => b.subsetOf(a) },
          "a new-label append must leave existing files in place")
        (nMerges, newMat.count(), untouched.size)
      }

      // 3. maintenance: the admitted shard joins the corpus stores (plain
      //    data appends — later shards' candidates must find its text),
      //    and the band/cell index appends are partition-local — every
      //    pre-existing file survives verbatim
      val (_, appendSec) = timed {
        shard.write.mode("append").parquet(dirs.docs)
        shEmb.write.mode("append").parquet(dirs.emb)
        val bandsBefore = parquetFiles(dirs.bands)
        shardBands.write.mode("append").partitionBy("band").parquet(dirs.bands)
        require(bandsBefore.subsetOf(parquetFiles(dirs.bands)),
          "band append must leave existing index files in place")
        val cellsBefore = parquetFiles(dirs.cells)
        Similarity.ivfIndex(shEmb, spark.read.parquet(dirs.cents), NProbe)
          .write.mode("append").partitionBy("cell").parquet(dirs.cells)
        require(cellsBefore.subsetOf(parquetFiles(dirs.cells)),
          "cell-map append must leave existing index files in place")
      }

      // 4. vector admission probe over the persisted cell map (metadata
      //    only — no corpus embedding read). Note: the cell map already
      //    contains this shard (appended above), so probe the PRE-append
      //    view by excluding shard ids — in production the probe runs
      //    before the append; here order is flipped to share one read.
      val (nVecCand, probeSec) = timed {
        Similarity.ivfIncrementalPairsIndexed(
          spark.read.parquet(dirs.cells).where(col("vec_id") < 100000000L * k),
          spark.read.parquet(dirs.cents), shEmb, NProbe, maxCell = Some(8192))
          .count()
      }
      require(nVecCand > 0, "vector probe must admit candidates")

      // 5. curation: score the shard against the persisted states, then
      //    fold its counts in (versioned writes — never overwrite a
      //    state the same plan is reading)
      val ((scores, oov), curateSec) = timed {
        val st = spark.read.parquet(dirs.dsir(k - 1))
        val tst = spark.read.parquet(dirs.dsirTgt(k - 1))
        val vst = spark.read.parquet(dirs.vocab(k - 1))
        val sc = Curate.dsirScoresIncremental(st, tst, shard)
        val ov = Curate.oovAdmit(vst, shard, vocabK = 1000)
        Curate.dsirStateMerge(st, shard).write.mode("overwrite").parquet(dirs.dsir(k))
        tst.write.mode("overwrite").parquet(dirs.dsirTgt(k)) // target is fixed; re-version for uniformity
        Curate.vocabStateMerge(vst, shard).write.mode("overwrite").parquet(dirs.vocab(k))
        (sc, ov)
      }

      // 6. media: the shard's perceptual hash lanes probe the PERSISTED
      //    hash index (index side contributes one metadata-sized bucket
      //    aggregate + the probe join — media payloads are never re-read),
      //    then the lanes append as plain rows (the lane row IS the
      //    index, so append ≡ rebuild by construction)
      val (nMediaPairs, mediaSec) = timed {
        val shLanes = shardMedia(spark, k, nDocs, nShard).localCheckpoint(true)
        val inc = Dedup.bandedHammingIncremental(
            spark.read.parquet(dirs.hashes), shLanes,
            "media_id", MediaLanes, maxDist = MaxHam, maxBand = Some(MediaCap))
          .localCheckpoint(true)
        val hashesBefore = parquetFiles(dirs.hashes)
        shLanes.write.mode("append").parquet(dirs.hashes)
        require(hashesBefore.subsetOf(parquetFiles(dirs.hashes)),
          "hash-index append must leave existing index files in place")
        mediaPairs = mediaPairs.unionAll(inc).localCheckpoint(true)
        inc.count()
      }
      require(nMediaPairs > 0, "media shard must admit near-dup pairs")

      val (nMerges, nNew, nUntouched) = mergeStats
      println(f"""{"scenario":"rehearsal_ingest","shard":$k,"docs":$nShard,""" +
        f""""edges":${edges.count()},"component_merges":$nMerges,"new_labels":$nNew,""" +
        f""""untouched_parts":$nUntouched,"vec_candidates":$nVecCand,""" +
        f""""media_pairs":$nMediaPairs,""" +
        f""""admit_sec":$admitSec%.2f,"label_sec":$labelSec%.2f,""" +
        f""""append_sec":$appendSec%.2f,"probe_sec":$probeSec%.2f,""" +
        f""""curate_sec":$curateSec%.2f,"media_sec":$mediaSec%.2f}""")
      require(nMerges > 0, "fixture must exercise real component merges")
      require(nNew > 0, "fixture must append new-vertex labels")
      (scores, oov)
    }

    val (_, _) = ingest(1)
    val (scores2, oov2) = ingest(2)

    // ---- the closed-form check: disk world == one-shot rebuild ----
    val (_, checkSec) = timed {
      val s1 = shardDocs(spark, 1, nDocs, nShard)
      val s2 = shardDocs(spark, 2, nDocs, nShard)
      val union = docs.unionAll(s1).unionAll(s2).localCheckpoint(true)

      // labels: the store equals CC over the union's verified edges
      val bandsU = Dedup.lshBands(Dedup.minhashSignatures(union, "doc_id", "text"))
      val ccU = Dedup.IngestState.rebuild(bandsU, Some(Cap), verifiedEdges(_, union)).labels
      val store = spark.read.parquet(dirs.labels).select("doc_id", "component")
      require(sameSet(store, ccU), "label store != one-shot rebuild")

      // shard-2 scores and admissions equal the full-recompute restriction
      val fullScores = Curate.dsirScores(union, target)
        .where(col("doc_id") >= 200000000L)
      require(sameSet(scores2, fullScores), "shard-2 DSIR scores != full restriction")
      val fullOov = Curate.oovAdmit(Curate.vocabState(union.limit(0)), union, vocabK = 1000)
        .where(col("doc_id") >= 200000000L)
      require(sameSet(oov2, fullOov), "shard-2 OOV admissions != full restriction")

      // curation states on disk equal from-scratch rebuilds
      require(sameSet(spark.read.parquet(dirs.dsir(2)), Curate.dsirState(union)),
        "DSIR state != rebuild")
      require(sameSet(spark.read.parquet(dirs.vocab(2)), Curate.vocabState(union)),
        "vocab state != rebuild")

      // the cell map equals the rebuild against the frozen centroids
      val unionEmb = emb.unionAll(shardEmb(spark, 1, nDocs, nShard))
        .unionAll(shardEmb(spark, 2, nDocs, nShard))
      require(sameSet(spark.read.parquet(dirs.cells).select("vec_id", "cell"),
          Similarity.ivfIndex(unionEmb, spark.read.parquet(dirs.cents), NProbe)),
        "cell map != rebuild")

      // band index equals the rebuild (bands are per-doc rows)
      require(sameSet(spark.read.parquet(dirs.bands).select("doc_id", "band", "bucket"), bandsU),
        "band index != rebuild")

      // media: the accumulated incremental pairs equal the one-shot
      // capped banded-Hamming run over the union index (every
      // state-spanning bucket sits on a fixed side of the cap, so the
      // shard-touching restrictions compose to exactly the full run),
      // and the hash index equals the rebuild
      val unionMedia = corpusMedia(spark, nDocs)
        .unionAll(shardMedia(spark, 1, nDocs, nShard))
        .unionAll(shardMedia(spark, 2, nDocs, nShard))
        .localCheckpoint(true)
      val fullMedia = Dedup.bandedHammingPairs(unionMedia, "media_id",
        MediaLanes, maxDist = MaxHam, maxBand = Some(MediaCap))
      require(sameSet(mediaPairs, fullMedia),
        "accumulated media pairs != one-shot capped run")
      // boilerplate hub-star closed form: media 0 (the union-min hub of
      // the one over-cap spanning bucket) pairs with every other
      // boilerplate item and nothing else
      val nBoil = nDocs / 50 + 2 * (nShard / 100)
      require(mediaPairs.where(col("d1") === 0L).count() == nBoil - 1,
        "boilerplate hub-star count mismatch")
      require(sameSet(spark.read.parquet(dirs.hashes), unionMedia),
        "hash index != rebuild")
    }
    println(f"""{"scenario":"rehearsal_check","docs":${nDocs + 2 * nShard},""" +
      f""""match":true,"rebuild_check_sec":$checkSec%.2f}""")
  }
}
