package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

/** Document deduplication for training-data pipelines, at 100 TB shape:
  *
  *  - exact: one groupBy on a content fingerprint — single shuffle keyed
  *    on the hash, map-side combined;
  *  - MinHash + LSH: shingle → one md5 per shingle → k derived min-hashes
  *    (Broder) → band buckets → candidate pairs only where a band
  *    collides. The cross-document comparison is a self-equi-join on
  *    (band, bucket), so cost follows collisions, never n²;
  *  - SimHash: 16-bit sign-aggregated fingerprint; near-dup = small
  *    Hamming distance, blocked by bucket before pairing;
  *  - n-gram Jaccard: exact verification join, run only on LSH candidates.
  *
  * All hashes are md5-derived (portable — DuckDB oracles rebuild them).
  */
object Dedup {

  /** Exact dedup groups: content fingerprint → keeper (min id) + count. */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(normText(col(textCol))).as("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_docs"))

  /** Per-document MinHash signature: k derived hashes over character
    * shingles; returns (id, m0..m{k-1}).
    *
    * Uses the native text-form MinHash expression (`minhashText`) — the
    * whole signature is one in-row loop, a pure PROJECTION: no shingle
    * explode, no groupBy, no shuffle; MinHashExpressionSpec checks it
    * against a declarative twin. The explicit repartition only spreads the few fat input splits
    * across cores.
    */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
      shingleLen: Int = 8, numHashes: Int = 8): DataFrame = {
    val n = docs.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    // fused text-form expression: normText evaluates ONCE per row as the
    // direct child. A shingle-array child (shingles(normText(..)))
    // carries normText inside the transform lambda — re-evaluated per shingle position on
    // evaluation paths without subexpression elimination (pushed-down
    // join-key filters, RDD materialization), i.e. QUADRATIC in doc
    // length: one 30 KB doc cost ~10 s per such evaluation and q618's
    // candidate step ran 33 s at sf0.1 (now ~1 s).
    val sig = graft.plans.GraftFunctions.minhashText(
      normText(col(textCol)), shingleLen, numHashes)
    docs.repartition(n, col(idCol))
      .select(col(idCol).as("doc_id") +:
        (0 until numHashes).map(i => element_at(sig, i + 1).as(s"m$i")): _*)
  }

  /** LSH band state: signature rows → (doc_id, band, bucket), the one
    * constructor of the relation both band-pair kernels
    * ([[minhashCandidatesBanded]], [[incrementalCandidates]]) consume and
    * [[appendBands]] maintains. The bucket key is a single long —
    * rowsPerBand 32-bit lanes packed by shift-and-xor — so the band
    * self-join hashes/compares one primitive instead of building per-row
    * strings.
    *
    * Returns the band relation MATERIALIZED (eager `localCheckpoint`):
    * planning a join whose keys are expression-derived pushes an
    * isnotnull(key) filter below the projection, INLINING the full
    * shingle→minhash pipeline into the Filter — evaluated 2× there + 1×
    * in the projection, per row, per branch, per join side, and
    * filter-context evaluation of the HOF subtree is ~100× a
    * projection-context pass (measured: two 30 KB docs, 0.16 s projected
    * vs 44.5 s filtered; q618's candidate step 33 s → ~1 s with the
    * barrier). The ExistingRDD barrier leaves join planning nothing to
    * inline, so callers feed the result to any number of band joins (and
    * the index append) without adding a barrier of their own. The
    * signature relation is read once: every band's bucket comes out of
    * one row ([[bandRows]]), so a lazy `sig` is never recomputed per band.
    */
  def lshBands(sig: DataFrame, numHashes: Int = 8, rowsPerBand: Int = 2): DataFrame = {
    // (k0 << 32) ^ k1 packs two 32-bit lanes injectively into one long
    // (shifts don't throw under ANSI). Only exact for rowsPerBand ≤ 2 —
    // more lanes would shift the first out of the word.
    require(rowsPerBand <= 2, "long-packed bucket keys support ≤2 rows/band")
    graft.core.Graft.span("Dedup.lshBands") {
      val buckets = (0 until numHashes / rowsPerBand).map { bIdx =>
        // cast defensively: on an INT lane, shiftleft(_, 32) would be a
        // silent no-op (Java shifts wrap mod the width) and the bucket key
        // would degrade to a collision-prone plain XOR
        (0 until rowsPerBand)
          .map(r => col(s"m${bIdx * rowsPerBand + r}").cast("long"))
          .reduceLeft((a, b) => shiftleft(a, 32).bitwiseXOR(b))
      }
      bandRows(sig, col("doc_id"), buckets).localCheckpoint(true)
    }
  }

  /** The one band-row recipe: (doc_id, band, bucket) with one row per
    * entry of `buckets`, band = its position, built in ONE read of
    * `rows`. Serves [[lshBands]] and the banded-Hamming lane bands.
    */
  private def bandRows(rows: DataFrame, id: Column, buckets: Seq[Column]): DataFrame =
    rows.select(id.as("doc_id"), posexplode(array(buckets: _*)).as(BandKey))

  /** A band relation's block key. */
  private val BandKey = Seq("band", "bucket")

  /** Candidate near-dup pairs: docs sharing any LSH band bucket —
    * [[minhashCandidatesBanded]] over [[lshBands]] of `sig`.
    *
    * `maxBucket` is the 100 TB safety valve: a degenerate bucket of B
    * docs (empty pages, shared boilerplate — common in web corpora)
    * makes the self-join emit B²/2 pairs, the one quadratic bomb in an
    * otherwise collision-bounded plan. With a cap, oversized buckets
    * emit hub-star edges instead (min doc_id → each member, B−1 rows):
    * pair volume turns linear while every member stays connected to the
    * bucket's cluster, which is exactly what the downstream
    * connected-components clustering needs — and Jaccard verification
    * still screens each star edge. Default None preserves the exact
    * all-pairs semantics.
    */
  def minhashCandidates(sig: DataFrame, numHashes: Int = 8, rowsPerBand: Int = 2,
      maxBucket: Option[Int] = None): DataFrame =
    minhashCandidatesBanded(lshBands(sig, numHashes, rowsPerBand), maxBucket)

  /** The FULL-CORPUS capped blocked-pair join, the one place a block's
    * (size, hub) is computed: the x-side is every row of a block of at
    * most `cap` rows plus the min-`id` hub of each larger block, joined to
    * every row (y) on `keys` with x.id < y.id — all pairs of a small
    * block, hub → member edges of a large one (the valve documented on
    * [[minhashCandidates]]); `cap` None keeps every pair. Returns the
    * join, sides aliased `x` and `y`, for the caller to project its own
    * check. Callers: [[bandPairs]], [[probeIntra]]'s shard×shard leg,
    * [[simhashPairs]] and Similarity.nearDupPairs.
    */
  private[operators] def blockPairs(rows: DataFrame, keys: Seq[String], id: String,
      cap: Option[Int]): DataFrame = {
    val xSide = cap match {
      case None => rows
      case Some(c) =>
        val stats = rows.groupBy(keys.map(col): _*)
          .agg(count(lit(1)).as("bsz"), min(col(id)).as("hub"))
        rows.join(stats, keys)
          .where(col("bsz") <= c || col(id) === col("hub"))
          .select(rows.columns.map(col): _*)
    }
    xSide.as("x").join(rows.as("y"),
      keys.map(k => col(s"x.$k") === col(s"y.$k")).reduce(_ && _) &&
        col(s"x.$id") < col(s"y.$id"))
  }

  /** Shard-touching pairs: shard×index probe + shard×shard intra. */
  private def probeIntra(shd: DataFrame, idx: DataFrame): DataFrame =
    shd.as("s").join(idx.as("i"),
        col("s.band") === col("i.band") && col("s.bucket") === col("i.bucket"))
      .select(least(col("s.doc_id"), col("i.doc_id")).as("d1"),
        greatest(col("s.doc_id"), col("i.doc_id")).as("d2"))
      .unionAll(blockPairs(shd, BandKey, "doc_id", None)
        .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2")))

  /** The FULL-CORPUS band-pair kernel over any (doc_id, band, bucket)
    * relation — [[lshBands]] output, the banded-Hamming lane bands of
    * [[bandedHammingPairs]], or an IVF cell index read as one band
    * (Similarity.ivfCandidatePairs): distinct (d1, d2) pairs sharing a
    * bucket, `maxBucket`-capped as documented on [[minhashCandidates]],
    * materialized by an eager localCheckpoint. A composition that also
    * probes the same index (q604/q605/q609's shape: corpus CC from the
    * full pair set, THEN a shard admission against the same bands) builds
    * `lshBands(sig)` ONCE and feeds both kernels. `bands` must not carry
    * an expression-derived key over an expensive lazy plan — [[lshBands]]
    * output is materialized, and a persisted index is a plain scan.
    */
  def minhashCandidatesBanded(bands: DataFrame,
      maxBucket: Option[Int] = None): DataFrame =
    graft.core.Graft.span("Dedup.minhashCandidatesBanded") {
      bandPairs(bands, maxBucket).localCheckpoint(true)
    }

  /** [[minhashCandidatesBanded]]'s pairs, lazy: for a caller that
    * materializes (or streams) them itself, as the IVF pair builders do.
    */
  private[operators] def bandPairs(bands: DataFrame,
      maxBucket: Option[Int]): DataFrame =
    blockPairs(bands, BandKey, "doc_id", maxBucket)
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
      .distinct()

  /** The INCREMENTAL band-pair kernel: candidate pairs for a NEW shard
    * against an existing corpus whose band-bucket index is already
    * materialized — the shape that keeps continuous ingestion tractable
    * at 100 TB, and the index-probe pattern of incremental top-k
    * similarity search. The full-corpus candidate join re-pairs
    * index×index on every run (O(corpus) work to admit O(shard) rows);
    * here the index side joins only where a shard bucket probes it, and
    * the one self-join is shard×shard — total cost follows
    * |shard| + |matched buckets|, never |corpus|². In production
    * `indexBands` is a bucket-partitioned table written once per corpus
    * version (persisted [[lshBands]] output, maintained by
    * [[appendBands]]) and the probe is a co-located join on
    * (band, bucket); MaterializedIndexSpec proves probe-from-disk
    * candidate identity. Both sides are any (doc_id, band, bucket)
    * relations — [[lshBands]] output for MinHash, lane bands for
    * [[bandedHammingIncremental]], cell assignments for
    * Similarity.ivfIncrementalPairsIndexed.
    *
    * Exactly equivalent to `minhashCandidates(index ∪ shard)` restricted
    * to pairs touching the shard (bands are per-doc), which
    * LshBucketCapSpec and q601 pin. Returns (d1, d2) with d1 < d2 across
    * the union id space; doc_ids must be disjoint between the two sides.
    *
    * `maxBucket` caps a degenerate bucket exactly like
    * [[minhashCandidates]]: bucket sizes are measured over index ∪ shard
    * (the index side's counts are one aggregate over the persisted band
    * relation — metadata, no corpus text), and an oversized bucket emits
    * only its hub-star edges that touch the shard — identical to the
    * capped full-corpus candidates restricted to shard-touching pairs,
    * which LshBucketCapSpec pins.
    */
  def incrementalCandidates(indexBands: DataFrame, shardBands: DataFrame,
      maxBucket: Option[Int] = None): DataFrame =
    graft.core.Graft.span("Dedup.incrementalCandidates") {
      incrementalBandPairs(indexBands, shardBands, maxBucket).localCheckpoint(true)
    }

  /** [[incrementalCandidates]]' pairs, lazy apart from the capped arm's
    * O(buckets) size table, which is cut at call time.
    */
  private[operators] def incrementalBandPairs(indexBands: DataFrame,
      shardBands: DataFrame, maxBucket: Option[Int]): DataFrame = {
    val pairs = maxBucket match {
      case None => probeIntra(shardBands, indexBands)
      case Some(cap) =>
        // bucket size + hub over index ∪ shard: at scale the index
        // side's counts are ONE aggregate over the persisted band
        // relation (index metadata, no corpus text). doc_ids are
        // disjoint, so min struct(doc_id, side) = the union's min id
        // with its side riding along for the hub-ownership test.
        val tagged = indexBands.select("doc_id", "band", "bucket")
          .withColumn("side", lit(0))
          .unionAll(shardBands.select("doc_id", "band", "bucket")
            .withColumn("side", lit(1)))
        // eager cut: O(buckets) rows, and an aggregate feeding three
        // aliased joins below would otherwise recompute per branch
        val stats = tagged.groupBy("band", "bucket")
          .agg(count(lit(1)).as("bsz"),
            min(struct(col("doc_id"), col("side"))).as("mh"))
          .select(col("band"), col("bucket"), col("bsz"),
            col("mh.doc_id").as("hub"), col("mh.side").as("hub_side"))
          .localCheckpoint(true)
        val denseKeys = stats.where(col("bsz") <= cap).select("band", "bucket")
        val dense = probeIntra(
          shardBands.join(denseKeys, BandKey),
          indexBands.join(denseKeys, BandKey))
        // oversized: hub-star restricted to pairs touching the shard —
        // (hub, member) survives iff the member is a shard doc OR the
        // hub itself is (then every star edge touches the shard); hub
        // is the union min, so d1 < d2 holds by construction
        val star = tagged.join(stats.where(col("bsz") > cap), BandKey)
          .where(col("doc_id") =!= col("hub") &&
            (col("side") === 1 || col("hub_side") === 1))
          .select(col("hub").as("d1"), col("doc_id").as("d2"))
        dense.unionAll(star)
    }
    pairs.distinct()
  }

  /** Band-index MAINTENANCE — the fourth leg of continuous ingestion
    * (admit → verify → merge labels → UPDATE the index): the admitted
    * shard's band rows ([[lshBands]] of its signatures) append to the
    * persisted band relation. Bands are per-document, so the appended
    * relation is EXACTLY `lshBands` over index ∪ shard signatures —
    * probing it with the next shard is identical to probing a
    * from-scratch rebuild, which MaterializedIndexSpec proves through a
    * disk round-trip (in production the append is a partition-local
    * parquet append: new files land in matched band partitions, existing
    * files are never rewritten — the spec asserts that too). q609 chains
    * two shards through the maintained index end-to-end, materializing
    * the shard bands once for both the probe ([[incrementalCandidates]])
    * and this append.
    */
  def appendBands(indexBands: DataFrame, shardBands: DataFrame): DataFrame =
    indexBands.select("doc_id", "band", "bucket")
      .unionAll(shardBands.select("doc_id", "band", "bucket"))

  /** Exact shingle-Jaccard verification of candidate pairs (the expensive
    * join runs only on the candidate set).
    *
    * `maxShingles` is the last unbounded-per-row valve in the dedup
    * family: each candidate doc's DISTINCT shingle set rides through two
    * joins as ONE in-row array, so a single pathological document (a
    * 10 MB page → ~10⁷ shingles) would pin ~10⁷ array elements in every
    * row it pairs with — executor OOM risk on a real crawl. With a cap,
    * a doc keeps only its K md5-SMALLEST distinct shingles (ties by the
    * shingle itself — total order, engine-reproducible): docs at or
    * under the cap verify EXACTLY (the bottom-K of a ≤K set is the set,
    * spec-pinned); an oversized doc verifies its bottom-K sketch, so
    * the reported jaccard is the Jaccard of the two bottom-K sets — the
    * bottom-k-sketch estimate of the true similarity (md5 is a uniform
    * permutation of the shingle space, so the K smallest are a uniform
    * sample; the estimate concentrates around the true value at rate
    * O(1/√K)). Bounded approximation semantics in exchange for a hard
    * per-row memory bound — q618's oracle recomputes the identical
    * bottom-K relation from raw text. Default None keeps the exact
    * semantics (q27).
    *
    * Each candidate doc's set is built exactly once, behind an eager
    * `localCheckpoint` that both pair joins read, and each pair's
    * intersection is counted once: the scored pairs come back behind a
    * lazy `localCheckpoint`, so a caller's predicate on the scores
    * filters finished rows instead of entering the join condition (where
    * the intersection would run per conjunct). The sets checkpoint runs
    * in the call; the pair scoring runs at the caller's first action.
    */
  def jaccardVerify(candidates: DataFrame, docs: DataFrame, idCol: String,
      textCol: String, shingleLen: Int = 8,
      maxShingles: Option[Int] = None): DataFrame =
    graft.core.Graft.span("Dedup.jaccardVerify") {
      // Only documents that appear in some candidate pair need their shingle
      // sets — restrict with a broadcast semi-join on the candidate id set,
      // so verification cost follows |candidates|, not corpus size.
      //
      // Each doc's DISTINCT shingle set stays an in-row ARRAY (no explode):
      // per-pair intersection is a native merge inside codegen. The
      // explode alternative builds a |pairs|×|shingles/doc| intermediate
      // (36M rows at sf0.1's 134k-pair clusters) and shuffles it twice;
      // this shape joins one small set-table to the pair list twice and
      // does the set work row-local.
      // one explode pass, not a two-branch union — the union scanned the
      // candidate plan twice (and candidates are often an unmaterialized
      // band-join pipeline; the CC symmetrization fix, r10)
      val candIds = candidates
        .select(explode(array(col("d1"), col("d2"))).as(idCol))
        .distinct()
      // shingle over a PRE-PROJECTED normalized-text attribute (the
      // regexp runs once per row however often the capped arm references
      // the set) with a fused native set build: sorted_shingle_set ==
      // array_sort(array_distinct(shingles(__nt, len))) in ONE pass (no
      // transform lambda, no intermediate array, no per-element hash-set;
      // char offsets computed once instead of a substr walk per window).
      // SortedShingleSetSpec pins equality with the declarative chain.
      val fullSet = graft.plans.GraftFunctions.sortedShingleSet(col("__nt"), shingleLen)
      val shsExpr = maxShingles match {
        case None => fullSet
        case Some(k) =>
          // bottom-K by (md5, shingle): array_sort on the struct orders by
          // the leading hash field, slice keeps K, transform unwraps — all
          // in-row, so at most K elements ever leave the projection. For a
          // ≤K set the slice is the whole set (order is irrelevant to the
          // set ops below) — capped ≡ exact there, so the md5+sort work is
          // GATED on size > K: a corpus where only pathological docs
          // exceed the cap pays the hash only for those (ungated, md5 of
          // every shingle of every candidate doc dominated the verify —
          // 24.2 s vs the exact arm's 3.3 s at sf0.1).
          when(size(fullSet) <= k, fullSet).otherwise(
            // re-sort the bottom-K slice (it is ordered by md5, not by
            // shingle) so every emitted set is sorted for the native merge
            array_sort(transform(
              slice(array_sort(transform(fullSet, s => struct(md5(s).as("h"), s.as("s")))),
                1, k),
              x => x.getField("s"))))
      }
      // the set is stored SORTED (native build above; the capped arm
      // re-sorts its slice): the per-PAIR intersection below then runs as
      // a native two-pointer merge (sorted_intersect_count) instead of
      // array_intersect's per-pair hash-set build — the verify cost is
      // |pairs| × intersect, so the per-pair constant dominates and the
      // per-doc sort amortizes over every pair the doc appears in (r11;
      // SortedIntersectSpec pins the count equality with the builtin).
      // Set semantics are unchanged — only the in-row element order
      // differs, and no caller reads `shs`.
      // eager barrier, the one set build: left lazy, each pair join plans
      // its own copy of this subplan, and exchange reuse cannot merge a
      // copy streamed against broadcast candidates with one built for an
      // exchange (the perfbench verify stage spent 1.78 s CPU that way,
      // 0.57 s reading a checkpoint). Both aliases scan these rows.
      val sets = docs
        .join(broadcast(candIds), Seq(idCol), "left_semi")
        .select(col(idCol).as("doc_id"), normText(col(textCol)).as("__nt"))
        .select(col("doc_id"), shsExpr.as("shs"))
        .localCheckpoint(true)
      val a = sets.as("a")
      val b = sets.as("b")
      candidates
        .join(a, col("a.doc_id") === col("d1"))
        .join(b, col("b.doc_id") === col("d2"))
        .select(col("d1"), col("d2"), col("a.shs").as("s1"), col("b.shs").as("s2"))
        .withColumn("n_inter",
          graft.plans.GraftFunctions.sortedIntersectCount(col("s1"), col("s2")))
        .select(col("d1"), col("d2"), col("n_inter"),
          (size(col("s1")) + size(col("s2")) - col("n_inter")).as("n_union"),
          floor(lit(100000.0) * col("n_inter") / (size(col("s1")) + size(col("s2")) - col("n_inter")))
            .cast("long").as("jaccard_scaled"))
        // lazy barrier: a caller's filter on the scores stays above it
        .localCheckpoint(false)
    }

  /** 16-bit SimHash per document: per-bit ±1 sums over token hashes
    * (frequency-weighted — duplicate tokens count), sign → bit. Bit ops
    * use `div`/`pow` arithmetic so the same formula runs on any engine.
    */
  def simhash16(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    // native expression: the fingerprint is one in-row loop over the
    // token array — a pure projection, no explode and no shuffle.
    // SimHashExpressionSpec checks it against a declarative twin.
    docs.select(col(idCol).as("doc_id"),
      graft.plans.GraftFunctions.simhash16(tokens(normText(col(textCol)))).as("simhash"))

  /** Connected components over an undirected pair list (d1, d2) — the
    * clustering step of corpus dedup: near-dup PAIRS become duplicate
    * GROUPS, each labeled by its minimum member id (the canonical
    * keeper). Returns (doc_id, component) for every vertex, in the ids'
    * own integral type (d1 and d2 widened to one type).
    *
    * Contract, don't propagate — a graph under the gate costs two jobs,
    * never a round loop:
    *  1. contract: a `mapPartitions` runs union-find (union-by-min, path
    *     halving) over each partition's pairs, with no shuffle, and emits
    *     (v, local root) for every vertex it saw — a root or a
    *     self-loop-only vertex emits (v, v). The union of the
    *     partitions' forests has the input's connectivity;
    *  2. count: the forest is a lazy localCheckpoint whose first action
    *     is its row count, so counting is the materialization job;
    *  3. finish: at or under [[CcFinishMaxRows]] rows the forest is read
    *     by ONE task whose union-find labels every vertex with its
    *     component's least id; the vertex count is the first action of
    *     that labeling's lazy checkpoint.
    * Above the gate the forest goes to [[propagate]], the distributed
    * min-label propagation loop — the forest rather than the raw pairs,
    * because it is never larger than the symmetrized pair list and the
    * edges of a component that share a partition arrive collapsed into
    * one star, which cuts the loop's diameter-bound rounds.
    *
    * A NULL endpoint keeps the loop's semantics on both paths
    * (ConnectedComponentsSpec pins them): NULL is one pseudo-vertex that
    * never links its neighbors, labeled with the least component among
    * them (NULL when it has none), and an edge list whose only vertex is
    * NULL fails with an IllegalStateException.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 50): DataFrame =
    connectedComponentsCounted(pairs, maxIter)._1

  /** [[connectedComponents]] plus the VERTEX COUNT of the labeling, for
    * free: it is the first action that materializes the labels, so
    * callers that would otherwise run a separate count() barrier to size
    * a broadcast (labelDelta's meta-fit gate) fuse it away.
    */
  def connectedComponentsCounted(pairs: DataFrame, maxIter: Int = 50): (DataFrame, Long) =
    connectedComponentsGated(pairs, maxIter, CcFinishMaxRows)

  /** The finish gate: the most forest rows one task labels. A forest has
    * no more vertices than rows, and the task's [[LongUnionFind]] keeps
    * its table at most half full at 17 B a slot (8 B id, 8 B parent, 1 B
    * occupancy): 4M vertices fit 2^23 slots = 143 MB, plus the 2^22-slot
    * table it grew from = 214 MB at the peak, about a fifth of Spark's
    * default 1 GiB executor heap. The rows stream in; nothing else is
    * held.
    */
  private val CcFinishMaxRows = 4000000L

  /** The most vertices one contraction table holds before the partition
    * starts a new one (2^21 slots = 36 MB, so 32 concurrent tasks stay
    * near 1 GB): a partition's chunk forests together keep its
    * connectivity, so a huge partition costs a larger forest, not memory.
    */
  private val CcContractMaxVertices = 1 << 20

  /** [[connectedComponentsCounted]] with the finish gate as an argument:
    * a negative gate forces the distributed fallback (ConnectedComponentsSpec
    * and the `cc` family of graft.tools.Scale compare the two paths).
    */
  private[graft] def connectedComponentsGated(pairs: DataFrame, maxIter: Int,
      finishMaxRows: Long): (DataFrame, Long) =
    graft.core.Graft.span("Dedup.connectedComponents") {
      import org.apache.spark.sql.types._
      val integral: Seq[DataType] = Seq(ByteType, ShortType, IntegerType, LongType)
      val types = Seq("d1", "d2").map(pairs.schema(_).dataType)
      require(types.forall(integral.contains),
        s"connectedComponents needs integral ids, got ${types.mkString(", ")}")
      val idType = integral(types.map(integral.indexOf).max)
      val nullable = Seq("d1", "d2").exists(pairs.schema(_).nullable)
      def schema(v: String, c: String, cNullable: Boolean) = StructType(Seq(
        StructField(v, LongType, nullable), StructField(c, LongType, cNullable)))
      val spark = pairs.sparkSession
      // lazy checkpoints (compact UnsafeRows) counted straight off their
      // rows: the count is the materialization job, with no aggregate
      // exchange, so each step costs exactly one job
      def materialize(rows: RDD[Row], schema: StructType): (DataFrame, Long) = {
        val df = spark.createDataFrame(rows, schema).localCheckpoint(false)
        (df, df.queryExecution.toRdd.count())
      }
      val (forest, nForest) = materialize(
        pairs.select(col("d1").cast(LongType), col("d2").cast(LongType)).rdd
          .mapPartitions(contract(CcContractMaxVertices)),
        schema("d1", "d2", nullable))
      val (labels, nVerts) =
        // coalesce without a shuffle: the one task reads the checkpointed
        // forest blocks where they are
        if (nForest <= finishMaxRows)
          materialize(forest.rdd.coalesce(1).mapPartitions(finish),
            schema("doc_id", "component", cNullable = true))
        else propagate(forest, maxIter)
      (labels.select(col("doc_id").cast(idType).as("doc_id"),
        col("component").cast(idType).as("component")), nVerts)
    }

  /** Unions a pair into `uf`; a pair with a NULL endpoint only registers
    * its other endpoint, and the result says whether it had one.
    */
  private def absorb(uf: LongUnionFind, e: Row): Boolean = {
    val (n1, n2) = (e.isNullAt(0), e.isNullAt(1))
    if (!n1 && !n2) uf.union(e.getLong(0), e.getLong(1))
    else {
      if (!n1) uf.add(e.getLong(0))
      if (!n2) uf.add(e.getLong(1))
    }
    n1 || n2
  }

  /** Step 1 over one partition: (v, local root) for every vertex, one
    * table of at most `maxVertices` vertices at a time; pairs with a NULL
    * endpoint pass through unchanged.
    */
  private[operators] def contract(maxVertices: Int)(pairs: Iterator[Row]): Iterator[Row] =
    Iterator.continually(pairs.hasNext).takeWhile(identity).flatMap { _ =>
      val uf = new LongUnionFind
      val nullPairs = scala.collection.mutable.ArrayBuffer.empty[Row]
      while (pairs.hasNext && uf.size < maxVertices) {
        val e = pairs.next()
        if (absorb(uf, e)) nullPairs += e
      }
      uf.labels.map { case (v, r) => Row(v, r) } ++ nullPairs
    }

  /** Step 3: the whole forest's labeling, (doc_id, component). */
  private def finish(forest: Iterator[Row]): Iterator[Row] = {
    val uf = new LongUnionFind
    val nullNeighbors = scala.collection.mutable.ArrayBuffer.empty[Long]
    var nullVertex = false
    forest.foreach { e =>
      if (absorb(uf, e)) {
        nullVertex = true
        Seq(0, 1).filterNot(e.isNullAt).foreach(i => nullNeighbors += e.getLong(i))
      }
    }
    if (nullVertex && uf.size == 0)
      throw new IllegalStateException("connectedComponents: NULL is the only vertex")
    val nullRow = Option.when(nullVertex)(Row(null,
      if (nullNeighbors.isEmpty) null else nullNeighbors.map(uf.find).min))
    uf.labels.map { case (v, c) => Row(v, c) } ++ nullRow
  }

  /** The distributed fallback: min-label propagation over a (d1, d2) pair
    * list, returning (doc_id, component) and the vertex count. Every
    * vertex starts as its own label; each round pulls the minimum label
    * across neighbors, and from round 3 on also follows one
    * label-of-label hop, so it converges in O(log diameter) rounds.
    * `localCheckpoint` cuts the growing lineage so round N's plan does
    * not replay rounds 1..N-1.
    *
    * Shuffle accounting: `sym` is hash-partitioned on `src` ONCE, which
    * the dedup aggregate (ClusteredDistribution on (src,dst) is satisfied
    * by the src clustering), the init aggregate (groupBy src), and every
    * round's propagation join all reuse — so a round's only exchange is
    * the unavoidable propagation groupBy. Convergence costs no join at
    * all: min-propagation labels are NON-INCREASING per vertex over a
    * fixed vertex set, so Σlbl (exact, DECIMAL(38,0) — no overflow before
    * ~1e38) strictly decreases iff any label changed; equal sums ⇒
    * fixpoint.
    */
  private def propagate(pairs: DataFrame, maxIter: Int): (DataFrame, Long) = {
    // sym is checkpointed partitioning-preserving (r10,
    // Graft.partitionedCheckpoint): under a plain AQE-compiled checkpoint
    // the LogicalRDD reports UnknownPartitioning — every round's
    // propagation join then RE-EXCHANGES the edge-sized sym relation,
    // i.e. the "partitioned once, reused every round" design had been
    // silently broken since AQE became the engine default. With the
    // partitioning preserved, every consumer — the init aggregate and
    // each round's join — reads sym exchange-free even though the rounds
    // themselves run WITH AQE on (PartitionedCheckpointSpec pins both
    // this mixed case and the control; plans/r10/cc_round_after.txt shows
    // the round join's sym side as a bare Sort over the ExistingRDD, and
    // a hot src key costs partition imbalance bounded by that key's
    // distinct neighbors — the pre-AQE behavior this loop always had;
    // round-side AQE skew splitting on the lbl key stays active).
    // countless repartition: AQE sizes the construction shuffle from
    // actual bytes (coalescing fires only without a pinned count), and
    // partitionedCheckpoint stamps that scale-adaptive count.
    // Symmetrization is ONE explode pass, not a two-branch union that
    // scans `pairs` twice.
    val sym = graft.core.Graft.partitionedCheckpoint(
      pairs.select(explode(array(
          struct(col("d1").as("src"), col("d2").as("dst")),
          struct(col("d2").as("src"), col("d1").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
        .repartition(col("src"))
        .dropDuplicates(Seq("src", "dst")), col("src"))
    // A NULL sum is legal ONLY for the empty edge list (incremental
    // meta-CC); a DECIMAL(38,0) overflow also nulls under non-ANSI, and
    // treating that as 0 would let two overflowed rounds compare equal —
    // silently returning unconverged labels, the exact failure class the
    // convergence throw below exists to prevent. Fail loud instead
    // (unreachable before ~1e19 max-id vertices).
    // the count rides the sum's job (r11): an all-NULL lbl column cannot
    // occur (labels are vertex ids), so sum NULL with count > 0 is the
    // overflow case — fail loud as before
    def lblSum(df: DataFrame): (java.math.BigDecimal, Long) = {
      val r = df.agg(sum(col("lbl").cast("decimal(38,0)")), count(lit(1))).head()
      val n = r.getLong(1)
      if (!r.isNullAt(0)) (r.getDecimal(0), n)
      else if (n == 0) (java.math.BigDecimal.ZERO, 0L)
      else throw new IllegalStateException(
        "connectedComponents label-sum overflowed DECIMAL(38,0)")
    }
    // LAZY checkpoint fused with the convergence sum: the sum aggregate is
    // the checkpoint's FIRST action, so it materializes the round relation
    // (truncating lineage exactly like the former eager form) and computes
    // Σlbl in ONE job instead of two. Every round of this loop is a full
    // cluster barrier at 100 TB — the r10 JobProf measured the composed
    // pipelines at ~100 sequential jobs with per-job fixed cost dominating
    // sf0.1 wall-clock (q605 = 103 jobs / 11.5 s), and each dropped
    // barrier is one fewer synchronous driver round-trip at any scale.
    def matSum(df: DataFrame): (DataFrame, (java.math.BigDecimal, Long)) = {
      val c = df.localCheckpoint(false)
      (c, lblSum(c))
    }
    // r11: the LABELS side of the round join rides exchange-free too.
    // sym is stamped hash(src, p); a label relation checkpointed the
    // plain way reports UnknownPartitioning, so every round RE-EXCHANGED
    // the |V|-sized labels onto the join key. Init and plain-round
    // outputs end in a v-keyed aggregate, so compiling just their
    // checkpoint with AQE off and the shuffle count pinned to sym's own
    // p (Graft.stampedCheckpoint) makes the plan's one exchange double
    // as the stamp: the round join then reads BOTH sides exchange-free
    // and a plain round's only exchange is the unavoidable propagation
    // groupBy (partial-agg-collapsed map-side). Doubling rounds keep the
    // unstamped path: their output comes off the lbl-keyed self-join,
    // where a stamp would cost an extra v-exchange and the AQE-off
    // compile would drop skew-split exactly where converging labels
    // funnel (the round-join comment below).
    val symP = sym.rdd.getNumPartitions
    def matSumStamped(df: DataFrame): (DataFrame, (java.math.BigDecimal, Long)) = {
      val c = graft.core.Graft.stampedCheckpoint(df, symP)
      (c, lblSum(c))
    }
    // initialization folds in round 1: every vertex appears as src in the
    // symmetric edge list, so min(self, neighbors) is one aggregate
    // (exchange-FREE: the groupBy rides sym's stamped partitioning, and
    // the alias-aware aggregate output carries hash(v, p) into the stamp)
    var (labels, (prev, nVerts)) = matSumStamped(sym.groupBy(col("src").as("v"))
      .agg(min(col("dst")).as("__mn"))
      .select(col("v"), least(col("v"), col("__mn")).as("lbl")))
    var changed = true
    var i = 0
    while (changed && i < maxIter) {
      val prop = sym.join(labels, sym("src") === labels("v"))
        .select(col("dst").as("v"), col("lbl"))
        .unionAll(labels)
        .groupBy("v").agg(min("lbl").as("lbl"))
      // Adaptive path-shortcutting (pointer doubling): neighbor
      // propagation alone needs diameter rounds — fine for LSH's
      // near-clique clusters (2-3), quadratic wall-clock on a deep chain
      // (63-round = 46 s at 1M vertices). From round 3 on, each round
      // also follows one label-of-label hop, so reached distance DOUBLES
      // per round and any graph converges in O(log diameter) rounds
      // (Scale's chain64_fallback: the 1M-vertex chain-of-64 graph drops
      // 46.7 s → ~8 s).
      // Rounds 1-2 stay plain so the common shallow case never pays the
      // extra |V|-sized join. (r10 measured the onset: delaying doubling
      // to round 4 just moves which round pays the join on the sf0.1
      // LSH graphs — q68 57→58 jobs, q604 unchanged — so the r9 onset
      // stands.) Labels are component-internal vertex ids
      // and `least` only decreases, so the fixpoint test (no decrease ⇒
      // propagation alone found nothing ⇒ edge-consistent) is unchanged.
      // Skew bound: the join keys on `lbl`, and as a giant component
      // converges most rows share ONE label value — the probe side of
      // that key funnels into a single task per round. The build side
      // (pv) is unique-keyed, so this is exactly the shape AQE's
      // skew-join split handles (replicate the one matching build row
      // across the split probe partitions); with AQE on (the engine
      // default) the hot partition splits at runtime, and the round
      // count is already O(log diameter), so the residual skew cost is
      // bounded — no salting layer needed on top.
      val (step, (cur, _)) = if (i < 2) matSumStamped(prop) else {
        // checkpoint the propagation once, THEN self-join it — without
        // the cut the shortcut would recompute the propagation per side
        // (eager here: the relation feeds BOTH sides of the self-join)
        val propC = prop.localCheckpoint()
        val p = propC.select(col("v").as("pv"), col("lbl").as("plbl"))
        matSum(propC.join(p, col("lbl") === col("pv"), "left_outer")
          .select(col("v"), least(col("lbl"), coalesce(col("plbl"), col("lbl"))).as("lbl")))
      }
      changed = cur.compareTo(prev) != 0
      prev = cur
      labels = step
      i += 1
    }
    // With doubling, maxIter=50 covers diameter ~2^48 — running out of
    // rounds means the loop is broken, never legitimate data. The pre-r9
    // loop SILENTLY returned unconverged labels here (a diameter-63 chain
    // at maxIter=50 reported 13× the true component count — caught by
    // the `cc` scale family's chain shape); wrong labels must never leave
    // this method.
    if (changed)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds")
    // the vertex set is fixed across rounds, so the init count IS the
    // labeling's row count
    (labels.select(col("v").as("doc_id"), col("lbl").as("component")), nVerts)
  }

  /** Incremental cluster maintenance — the missing third of the
    * continuous-ingestion loop ([[incrementalCandidates]] admits shard
    * edges; this merges them into EXISTING component labels without
    * re-running [[connectedComponents]] over the corpus):
    *
    *  1. collapse each new edge's endpoints to their current component
    *     label (new vertices stand for themselves) — a prior component
    *     is internally connected, so the collapsed graph preserves
    *     reachability exactly;
    *  2. run min-label CC on the collapsed graph — it is O(|new edges|)
    *     vertices, never corpus-sized;
    *  3. rewrite: old labels remap through the (tiny, broadcast) meta
    *     labeling; new vertices take their meta label directly.
    *
    * Exactly `connectedComponents(old pairs ∪ new pairs)` (old component
    * ids are the min member id, so the collapsed min IS the union min) —
    * q604's oracle proves the equivalence end-to-end. Cost: the collapse
    * and meta-CC follow |newPairs|; the label rewrite is one
    * broadcast-join pass over the labels relation with no shuffle (in
    * production, labels partitioned by component rewrite only the
    * partitions the meta labeling touches). Exact for ANY id order: an
    * old label is its component's min member, so the collapsed-graph min
    * is the union component's true min even when a new vertex undercuts
    * an existing component's label.
    */
  def incrementalComponents(labels: DataFrame, newPairs: DataFrame,
      maxIter: Int = 50): DataFrame = {
    val (meta, newLabeled) = labelDelta(labels, newPairs, maxIter)
    labels
      .join(meta, col("component") === col("mv"), "left_outer")
      .select(col("doc_id"), coalesce(col("mc"), col("component")).as("component"))
      .unionAll(newLabeled)
  }

  /** The DELTA a shard's admitted edges induce on an existing labeling —
    * [[incrementalComponents]]' internals, exposed so a production store
    * can apply them with partition-pruned IO ([[prunedLabelRewrite]]):
    * `meta` = (mv → mc) restricted to EXISTING components the edges
    * touch (tiny — bounded by |newPairs| endpoints), `newLabels` =
    * labels for never-seen vertices (append-only rows). Both already
    * carry the broadcast hint when they verifiably fit.
    *
    * The old-component restriction on `meta` is load-bearing for the
    * pruned rewrite: the collapsed meta-CC also labels every NEW vertex
    * (they stand for themselves), and keeping those identity-ish rows in
    * `meta` would smear the affected-partition list across pmod of every
    * shard id — on a realistic ingest (thousands of new docs) that is
    * ALL partitions, silently turning the pruned overwrite into a full
    * rewrite (caught by the r10 IngestRehearsal; the earlier spec only
    * planted two new vertices). New-vertex labels flow exclusively
    * through `newLabels`, which appends — no rewrite needed.
    */
  def labelDelta(labels: DataFrame, newPairs: DataFrame,
      maxIter: Int = 50): (DataFrame, DataFrame) = {
    val l1 = labels.select(col("doc_id").as("d1"), col("component").as("c1"))
    val l2 = labels.select(col("doc_id").as("d2"), col("component").as("c2"))
    // one pass resolves both endpoints and flags never-seen vertices;
    // LAZY cut (r11, the matSum recipe): everything downstream reads this
    // edge-sized relation, and its FIRST action — the meta-CC's forest
    // count below, which references it exactly once — doubles as the
    // materialization job, so the standalone checkpoint barrier
    // disappears. Later consumers (newVerts' two-branch union, oldComps)
    // read the persisted partitions.
    val e = newPairs
      .join(l1, Seq("d1"), "left_outer")
      .join(l2, Seq("d2"), "left_outer")
      .select(col("d1"), col("d2"),
        coalesce(col("c1"), col("d1")).as("e1"),
        coalesce(col("c2"), col("d2")).as("e2"),
        col("c1").isNull.as("n1"), col("c2").isNull.as("n2"))
      .localCheckpoint(false)
    // self-loops = both endpoints already in one component: no-op edges
    val collapsed = e.where(col("e1") =!= col("e2"))
      .select(col("e1").as("d1"), col("e2").as("d2"))
    val newVerts = e.where(col("n1")).select(col("d1").as("v"))
      .unionAll(e.where(col("n2")).select(col("d2").as("v")))
      .distinct()
    val oldComps = e.where(!col("n1")).select(col("e1").as("oc"))
      .unionAll(e.where(!col("n2")).select(col("e2").as("oc")))
      .distinct()
    // meta scales with |newPairs| components — broadcast only while it
    // verifiably fits; the size gate rides the meta-CC's own vertex count
    // (connectedComponentsCounted) instead of a separate count() barrier;
    // a giant ingest batch falls back to AQE's own join pick instead of
    // pressuring the driver
    val (metaCc, nMeta) = connectedComponentsCounted(collapsed, maxIter)
    val metaAll0 = metaCc.select(col("doc_id").as("mv"), col("component").as("mc"))
    val fits = nMeta <= 4000000L
    val metaAll = if (fits) broadcast(metaAll0) else metaAll0
    val metaOld = metaAll0.join(oldComps, col("mv") === col("oc"), "left_semi")
    val meta = if (fits) broadcast(metaOld) else metaOld
    // new vertices take their label from the UNRESTRICTED meta-CC (their
    // rows are exactly what the old-component restriction drops); a new
    // vertex whose every edge collapsed away cannot exist (ids are
    // disjoint from old labels), but coalesce keeps the shape total
    val newLabeled = newVerts
      .join(metaAll, col("v") === col("mv"), "left_outer")
      .select(col("v").as("doc_id"), coalesce(col("mc"), col("v")).as("component"))
    (meta, newLabeled)
  }

  /** The production REWRITE leg over a label store PARTITIONED by
    * `partCol = pmod(component, nParts)`: only partitions holding a
    * component the meta labeling touches — as source (mv) OR as merge
    * target (mc) — are read and rewritten; every other partition's files
    * are never opened (LabelRewriteSpec proves it via the scan's
    * PartitionFilters and file counts). Returns the replacement rows
    * for exactly the affected partitions, partCol re-derived from the
    * NEW component (a merged row may move partitions — its target is
    * affected by construction, so dynamic partition overwrite over this
    * output is closed); `newLabels` from [[labelDelta]] are appended
    * separately (partition-local append, never an overwrite). The
    * affected-partition list is collected driver-side — O(|meta|)
    * components, the same chunk-bounds scale class as every other
    * driver-held plan artifact.
    */
  def prunedLabelRewrite(labels: DataFrame, meta: DataFrame, nParts: Int,
      partCol: String = "lblpart"): DataFrame = {
    val parts = meta
      .select(explode(array(pmod(col("mv"), lit(nParts.toLong)),
        pmod(col("mc"), lit(nParts.toLong)))).as("p"))
      .distinct().collect().map(_.getLong(0))
    val newComp = coalesce(col("mc"), col("component"))
    labels.where(col(partCol).isin(parts: _*))
      .join(broadcast(meta), col("component") === col("mv"), "left_outer")
      .select(col("doc_id"), newComp.as("component"),
        pmod(newComp, lit(nParts.toLong)).as(partCol))
  }

  /** Near-dup pairs over a MULTI-LANE fingerprint (perceptual image
    * hashes, or any 64-bit signature emitted as 16-bit lanes): candidates
    * are docs agreeing on ANY lane, verified by exact Hamming distance
    * Σ bit_count(lane_x ⊕ lane_y) ≤ `maxDist`.
    *
    * Pigeonhole exactness: with L lanes, a pair at distance d < L has at
    * most d touched lanes, so at least one lane matches exactly — for
    * `maxDist < laneCols.size` the banded candidates provably contain
    * EVERY qualifying pair (unlike [[simhashPairs]]' top-byte block,
    * which is probabilistic). That is the multi-index Hamming trick
    * (Norouzi et al., "Fast Search in Hamming Space with Multi-Index
    * Hashing") — the same band-decomposition LSH uses, made exact by
    * the distance bound, so the candidates come from the LSH full-corpus
    * kernel [[minhashCandidatesBanded]] over one band per lane. Pair cost
    * follows lane collisions, never n².
    *
    * `maxBand` is this operator's degenerate-locality valve (the
    * [[minhashCandidates]] recipe): exact duplicates share ALL lanes, so
    * a web corpus's boilerplate image lands B docs in one (lane, value)
    * bucket — B²/2 candidate pairs uncapped. A bucket over the cap emits
    * hub-star candidates only (min doc_id → member), still
    * Hamming-verified — capped output ⊆ exact, no over-emission.
    */
  def bandedHammingPairs(sig: DataFrame, idCol: String, laneCols: Seq[String],
      maxDist: Int = 3, maxBand: Option[Int] = None): DataFrame =
    graft.core.Graft.span("Dedup.bandedHammingPairs") {
      val lanes = laneRows(sig, idCol, laneCols)
      hammingVerify(minhashCandidatesBanded(laneBands(lanes, idCol, laneCols), maxBand),
        lanes, idCol, laneCols, maxDist)
    }

  /** `sig`'s (id, lanes) projection behind an eager `localCheckpoint`
    * (the jaccardVerify pattern): the lane bands and both verification
    * sides read these rows, so a lazy signature plan runs once.
    */
  private def laneRows(sig: DataFrame, idCol: String, laneCols: Seq[String]): DataFrame =
    sig.select(col(idCol) +: laneCols.map(col): _*).localCheckpoint(true)

  /** One (doc_id, band = lane index, bucket = lane value) row per lane. */
  private def laneBands(lanes: DataFrame, idCol: String, laneCols: Seq[String]): DataFrame =
    bandRows(lanes, col(idCol), laneCols.map(col(_).cast("long")))

  /** Candidate pairs (d1, d2) kept where Σ bit_count(lane ⊕ lane) ≤
    * `maxDist`, both sides looked up in `lanes`; `hamming` is a long.
    * Pair columns resolve through cand(...) — a lane literally named
    * "d1" (the image dHash lanes) would otherwise make the bare name
    * ambiguous after the joins.
    */
  private def hammingVerify(cand: DataFrame, lanes: DataFrame, idCol: String,
      laneCols: Seq[String], maxDist: Int): DataFrame = {
    val a = lanes.as("a")
    val b = lanes.as("b")
    val ham = laneCols.map(c => expr(s"bit_count(a.$c ^ b.$c)")).reduce(_ + _)
    cand.join(a, col(s"a.$idCol") === cand("d1"))
      .join(b, col(s"b.$idCol") === cand("d2"))
      .select(cand("d1"), cand("d2"), ham.cast("long").as("hamming"))
      .where(col("hamming") <= maxDist)
  }

  /** Incremental banded-Hamming dedup — the perceptual families'
    * [[incrementalCandidates]], run over lane bands: a media shard's
    * hash lanes probe the PERSISTED hash relation (for image/audio/video
    * hashes the lane row IS the index — id + four 16-bit lanes,
    * ~40 bytes/doc, and maintenance is a plain row append: the relation
    * is per-document, so append ≡ rebuild holds trivially, unlike the LSH
    * band decomposition). Emits exactly the capped full run
    * ([[bandedHammingPairs]] over index ∪ shard) RESTRICTED to pairs
    * touching the shard: dense buckets (union size ≤ cap) contribute
    * probe (shard×index) + intra (shard×shard) pairs; oversized buckets
    * contribute hub-star edges (hub = union min id) only where the
    * member or the hub is a shard doc. Every emitted pair still
    * verifies exact Hamming ≤ maxDist over the union lanes.
    *
    * At 100 TB: cost follows the shard — the index side contributes
    * one metadata-sized aggregate (bucket stats over the persisted
    * relation) and the probe join; the corpus' media payloads are
    * never re-read.
    */
  def bandedHammingIncremental(indexSig: DataFrame, shardSig: DataFrame,
      idCol: String, laneCols: Seq[String],
      maxDist: Int = 3, maxBand: Option[Int] = None): DataFrame =
    graft.core.Graft.span("Dedup.bandedHammingIncremental") {
      val idx = laneRows(indexSig, idCol, laneCols)
      val shd = laneRows(shardSig, idCol, laneCols)
      hammingVerify(incrementalCandidates(laneBands(idx, idCol, laneCols),
          laneBands(shd, idCol, laneCols), maxBand),
        idx.unionAll(shd), idCol, laneCols, maxDist)
    }

  /** SimHash near-dup pairs: Hamming distance ≤ maxDist. Blocked by the
    * top byte of the fingerprint before pairing so the join is bucketed,
    * not n² (near-dups share high bits with probability ∝ similarity).
    *
    * `maxBlock` closes this operator's member of the degenerate-locality
    * class: simhash blocks CONCENTRATE on real text (a 5k-doc fixture
    * already grows a 237-member natural block — statistically similar
    * documents share sign patterns), and exact dups share one block
    * outright. A block over the cap restricts the pairing's x-side to
    * its hub (min doc_id) — hub-anchored pairs only, still
    * Hamming-VERIFIED, a subset of the exact output; blocks at or under
    * the cap keep exact all-pairs (LshBucketCapSpec pins it). The pairing
    * is the [[blockPairs]] kernel keyed on the block.
    */
  def simhashPairs(sim: DataFrame, maxDist: Int = 3,
      maxBlock: Option[Int] = None): DataFrame =
    graft.core.Graft.span("Dedup.simhashPairs") {
      // same expression barrier as the band relations: if `sim` arrives as
      // a lazy plan (native simhash over normalized text), the block join
      // pushes isnotnull(blk) below the projection and inlines the whole
      // fingerprint pipeline into the Filter, per side — the checkpointed
      // relation is metadata-sized (doc_id, simhash, blk)
      val blocked = sim.withColumn("blk", expr("simhash div 256"))
        .localCheckpoint(true)
      blockPairs(blocked, Seq("blk"), "doc_id", maxBlock)
        .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"),
          expr("bit_count(x.simhash ^ y.simhash)").as("hamming"))
        .where(col("hamming") <= maxDist)
    }

  /** (doc_id, i, gram): every 1-based n-gram start of every document with
    * at least n words — the corpus-token-sized relation all the
    * duplicated-span operators share.
    */
  private def gramPositions(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    val ws = docs.select(col(idCol).as("doc_id"), split(col(textCol), " ").as("ws"))
      .where(size(col("ws")) >= n)
    ws.select(col("doc_id"), posexplode(expr(
        s"transform(sequence(1, size(ws) - ${n - 1}), i -> array_join(slice(ws, i, $n), ' '))")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("i"), col("col").as("gram"))
  }

  /** Merges duplicated n-gram starts (doc_id, i) into per-document
    * MAXIMAL spans. Gaps-and-islands at n-gram reach: a new island
    * starts when the interval [i, i+n-1] neither overlaps nor touches
    * the running maximal end (prevMax(i) + n - 1) of the ones before it.
    * Per-DOCUMENT windows only — bounded by document length.
    */
  private def spanIslands(dup: DataFrame, n: Int): DataFrame = {
    val byDoc = Window.partitionBy("doc_id").orderBy("i")
    val prevMax = max(col("i")).over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    dup.withColumn("f",
        when(prevMax.isNull || col("i") > prevMax + n, lit(1)).otherwise(lit(0)))
      .withColumn("g", sum(col("f")).over(byDoc))
      .groupBy(col("doc_id"), col("g"))
      .agg(min("i").as("span_start"), (max(col("i")) + (n - 1)).as("span_end"))
      .select("doc_id", "span_start", "span_end")
  }

  /** ExactSubstr-style duplicated spans (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better", ACL 2022): a word
    * position is DUPLICATED when the n-gram opening there occurs at
    * least `minCount` times anywhere in the corpus (including within one
    * document); overlapping/adjacent duplicated n-gram intervals
    * [i, i+n-1] merge into per-document MAXIMAL spans — the
    * word-resolution analog of the paper's repeated-substring intervals
    * (spans shorter than n words are invisible; that is the standard
    * n-gram-seeded approximation of the suffix-array method).
    *
    * Returns (doc_id, span_start, span_end), 1-based inclusive word
    * positions, each span ≥ n words.
    *
    * 100 TB shape: the gram relation is corpus-TOKEN-sized — the honest
    * ExactSubstr cost (the suffix array it approximates is also
    * corpus-sized). Every step is linear: the occurrence count is one
    * map-side-combined aggregation; the duplicated-position filter is a
    * left-semi join on the gram key (a boilerplate gram repeated 10⁷
    * times skews exactly one join key — AQE's skew-join split applies,
    * and no pair blowup exists anywhere since positions never join
    * positions); the island merge runs inside per-DOCUMENT windows
    * (bounded by document length, the q357 gaps-and-islands class,
    * never a global window).
    */
  def duplicateSpans(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 8, minCount: Long = 2): DataFrame = {
    val sp = gramPositions(docs, idCol, textCol, n)
    val hot = sp.groupBy("gram").agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= minCount).select("gram")
    val dup = sp.join(hot, Seq("gram"), "left_semi").select("doc_id", "i")
    spanIslands(dup, n)
  }

  /** Removes every [[duplicateSpans]] occurrence from the text (ALL
    * copies, the ExactSubstr policy — near-total-dup documents collapse
    * toward empty and a length filter downstream drops them). Returns
    * every input document: (doc_id, n_tokens, n_removed, cleaned_text)
    * with cleaned_text the surviving words in order.
    *
    * The covered test is a per-document range join (words × that doc's
    * few maximal spans — spans are disjoint after the merge, so the
    * left join cannot duplicate a word row); reconstruction is one
    * per-document aggregation of (position, word) pairs, sorted in-row.
    */
  def scrubDuplicateSpans(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 8, minCount: Long = 2): DataFrame = {
    val spans = duplicateSpans(docs, idCol, textCol, n, minCount)
    val words = docs
      .select(col(idCol).as("doc_id"), posexplode(split(col(textCol), " ")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("j"), col("col").as("wd"))
    words.as("w")
      .join(spans.as("s"),
        col("w.doc_id") === col("s.doc_id") &&
          col("w.j").between(col("s.span_start"), col("s.span_end")), "left_outer")
      .groupBy(col("w.doc_id").as("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("s.span_start").isNotNull, 1L).otherwise(0L)).as("n_removed"),
        array_join(transform(array_sort(collect_list(
            when(col("s.span_start").isNull,
              struct(col("w.j").as("j"), col("w.wd").as("wd"))))),
          x => x.getField("wd")), " ").as("cleaned_text"))
  }

  /** Persisted state for INCREMENTAL [[duplicateSpans]] (minCount = 2
    * semantics): per distinct n-gram its corpus occurrence count, plus —
    * for count-1 grams only — the one (doc, position) holding it:
    * (gram, cnt, one_doc, one_pos). The single-occurrence columns are
    * what makes ingestion exact: when a shard brings a second copy of a
    * previously-unique gram, that row names the OLD document whose spans
    * must be re-derived.
    *
    * The state is corpus-TOKEN-sized — the suffix-array-scale index the
    * ExactSubstr method inherently needs. At 100 TB, persist it BUCKETED
    * on `gram` (bucketBy at write; the BucketedJoinSpec pattern): every
    * per-ingest probe below joins on the gram key, and a bucketed state
    * side co-locates without re-shuffling the index — the ingest then
    * shuffles only shard-sized relations.
    */
  def dupSpanState(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 8): DataFrame =
    gramPositions(docs, idCol, textCol, n)
      .groupBy("gram")
      .agg(count(lit(1)).as("cnt"),
        min(struct(col("doc_id"), col("i"))).as("occ"))
      .select(col("gram"), col("cnt"),
        when(col("cnt") === 1, col("occ.doc_id")).as("one_doc"),
        when(col("cnt") === 1, col("occ.i")).as("one_pos"))

  /** Incremental ExactSubstr: spans after ingesting `shard`, for exactly
    * the AFFECTED documents — the shard itself plus every old document
    * owning a gram the shard transitions from unique to duplicated.
    * Equals [[duplicateSpans]] over corpus ∪ shard RESTRICTED to those
    * documents; every other document's spans are provably unchanged
    * (gram counts only grow, so a document's duplicated-position set
    * changes iff it holds a transitioned gram — and the count-1 state
    * rows name those holders exhaustively).
    *
    * Reads: the shard, the persisted state, and the affected OLD
    * documents' text from the corpus store (a semi-join-restricted
    * lookup — the corpus is never rescanned). The subtle case this
    * handles exactly: a newly-duplicated position adjacent to an old
    * span EXTENDS it — affected docs re-derive their islands from ALL
    * their duplicated positions (old and new) against union counts.
    */
  def dupSpansIncremental(state: DataFrame, corpusDocs: DataFrame,
      shard: DataFrame, idCol: String, textCol: String, n: Int = 8): DataFrame = {
    val shardSp = gramPositions(shard, idCol, textCol, n).localCheckpoint(true)
    val shardCnt = shardSp.groupBy("gram").agg(count(lit(1)).as("scnt"))
      .localCheckpoint(true)
    // the shard's gram set drives two probes into the token-sized state;
    // broadcast it while it verifiably fits so the state is only ever
    // SCANNED (column-pruned), never shuffled — a giant ingest batch
    // falls back to AQE's own join pick (the meta-CC bound's recipe)
    val shardKeys0 = shardCnt.select("gram")
    val shardKeys =
      if (shardCnt.count() <= 4000000L) broadcast(shardKeys0) else shardKeys0
    // union-duplicated grams, decomposed so no term joins the full state:
    // already-duplicated (cnt >= 2, a filter-only scan), transitioned
    // (cnt = 1 AND in the shard), and shard-internal repeats
    val dupGrams = state.where(col("cnt") >= 2).select("gram")
      .unionAll(state.where(col("cnt") === 1)
        .join(shardKeys, Seq("gram"), "left_semi").select("gram"))
      .unionAll(shardCnt.where(col("scnt") >= 2).select("gram"))
    // old docs holding a gram the shard just duplicated
    val affectedOld = state.where(col("cnt") === 1)
      .join(shardKeys, Seq("gram"), "left_semi")
      .select(col("one_doc").as("doc_id")).distinct()
    val oldSp = gramPositions(
      corpusDocs.join(affectedOld,
        corpusDocs(idCol) === affectedOld("doc_id"), "left_semi"),
      idCol, textCol, n)
    val dup = oldSp.unionAll(shardSp)
      .join(dupGrams, Seq("gram"), "left_semi")
      .select("doc_id", "i")
    spanIslands(dup, n)
  }
}

/** Union-find over Long vertex ids for [[Dedup.connectedComponents]]:
  * union-by-min (a root is its component's least id) with path halving,
  * on an open-addressing table of id → parent id (linear probing,
  * Fibonacci hashing, at most half full; 17 B a slot, nothing boxed).
  */
private[operators] final class LongUnionFind {
  private var bits = 4
  private var ids = new Array[Long](1 << bits)
  private var parent = new Array[Long](1 << bits)
  private var used = new Array[Boolean](1 << bits)
  private var n = 0

  def size: Int = n

  /** The slot holding `v`, or the empty slot where it belongs. */
  private def slot(v: Long): Int = {
    val mask = ids.length - 1
    var i = ((v * 0x9E3779B97F4A7C15L) >>> (64 - bits)).toInt
    while (used(i) && ids(i) != v) i = (i + 1) & mask
    i
  }

  private def grow(): Unit = {
    val (oldIds, oldParent, oldUsed) = (ids, parent, used)
    bits += 1
    ids = new Array[Long](1 << bits)
    parent = new Array[Long](1 << bits)
    used = new Array[Boolean](1 << bits)
    for (k <- oldIds.indices if oldUsed(k)) {
      val i = slot(oldIds(k))
      used(i) = true
      ids(i) = oldIds(k)
      parent(i) = oldParent(k)
    }
  }

  /** Registers `v` as its own root unless it is already a vertex. */
  def add(v: Long): Unit = if (!used(slot(v))) {
    if (2 * (n + 1) > ids.length) grow()
    val i = slot(v)
    used(i) = true
    ids(i) = v
    parent(i) = v
    n += 1
  }

  /** The root of a registered vertex. */
  def find(v: Long): Long = {
    var x = v
    var i = slot(x)
    while (parent(i) != x) {
      val grand = parent(slot(parent(i)))
      parent(i) = grand
      x = grand
      i = slot(x)
    }
    x
  }

  def union(a: Long, b: Long): Unit = {
    add(a)
    add(b)
    val (ra, rb) = (find(a), find(b))
    if (ra < rb) parent(slot(rb)) = ra
    else if (rb < ra) parent(slot(ra)) = rb
  }

  /** (vertex, root) for every vertex. */
  def labels: Iterator[(Long, Long)] =
    Iterator.range(0, ids.length).filter(used(_)).map(i => (ids(i), find(ids(i))))
}
