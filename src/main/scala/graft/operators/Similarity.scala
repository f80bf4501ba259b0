package graft.operators

import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding similarity search over an `array<float>` column.
  *
  * Scale design: the brute-force path is one narrow scan with a
  * codegen'd fold per row (no explode, no shuffle except the final top-k,
  * which TakeOrdered handles in O(k) per partition). The ANN path buckets
  * vectors by random-hyperplane signs (8-bit LSH) so the candidate join is
  * an equi-join on bucket — at 10^9 vectors the probe touches ~1/256 of
  * the corpus per bucket, and bucket assignment is embarrassingly parallel.
  *
  * Determinism: float math is done on ×10^6 floor-scaled integers, so any
  * engine (the DuckDB oracle included) reproduces dot products and cosine
  * ranks bit-for-bit; hyperplane signs are md5-derived from (plane, dim)
  * indices — no RNG state.
  */
object Similarity {

  val Dim = 64
  val Scale = 1000000.0

  /** (score, index) packing for in-row argmin/top-k: `score · 2^21 + idx`
    * is monotone in (score, idx) while idx < 2^21, so a primitive long
    * min/min-k replaces a struct comparator. |score| ≤ ~10^6 (scaled
    * cosine), so the product stays ≤ ~2^43 — no overflow. Bounds the
    * centroid fan-in at 2^21 cells.
    */
  private val IdxFactor = 1L << 21
  private val IdxMask = (1L << 21) - 1

  /** The packed score of every centroid struct in the row's `cents` array:
    * `-floor(Scale·dot/(‖x‖·‖c‖))·IdxFactor + i`, where `dot(c)` is the
    * row's exact scaled dot with centroid `c`, `xNorm` the row's scaled
    * self-dot and field `cNorm` the centroid's. The smallest packed value
    * is the highest scaled cosine, ties to the earlier array index; with a
    * `cents` array sorted by centroid id, that is the smaller id.
    * [[packedCentroid]] reads the centroid back.
    */
  private def packedScores(xNorm: Column, cNorm: String)(dot: Column => Column): Column =
    transform(col("cents"), (c, i) =>
      (-floor(lit(Scale) * dot(c).cast("double") /
          (sqrt(xNorm.cast("double")) * sqrt(c.getField(cNorm).cast("double"))))
        .cast("long")) * lit(IdxFactor) + i.cast("long"))

  /** The `cents` struct a [[packedScores]] value names. */
  private def packedCentroid(packed: Column): Column =
    element_at(col("cents"), packed.bitwiseAND(lit(IdxMask)).cast("int") + 1)

  /** Element scaled to an exact integer: floor(x · 10^6). */
  private def sInt(x: Column): Column =
    floor(x.cast("double") * lit(Scale)).cast("long")

  /** Exact scaled dot product of two float-array columns — the native
    * fused-loop Catalyst expression (graft.plans.GraftFunctions); its
    * declarative twin lives in the tests as the semantic spec.
    */
  def scaledDot(a: Column, b: Column): Column =
    graft.plans.GraftFunctions.scaledDot(a, b)

  /** Scaled cosine: floor(10^6 · dot / (‖a‖·‖b‖)), all from exact ints. */
  def cosineScaled(a: Column, b: Column): Column =
    floor(lit(Scale) * scaledDot(a, b).cast("double") /
      (sqrt(scaledDot(a, a).cast("double")) * sqrt(scaledDot(b, b).cast("double"))))
      .cast("long")

  /** Brute-force top-k by cosine against one query vector (broadcast
    * cross join of a single row — no shuffle of the corpus).
    */
  def bruteForceTopK(embeddings: DataFrame, query: DataFrame, k: Int): DataFrame =
    embeddings.crossJoin(broadcast(query.select(col("embedding").as("qv"))))
      .select(col("vec_id"), cosineScaled(col("embedding"), col("qv")).as("cos_scaled"))
      .orderBy(col("cos_scaled").desc, col("vec_id").asc)
      .limit(k)

  /** Deterministic ±1 hyperplane signs: sign(plane j, dim i) from
    * md5("j_i") — identical to the SQL twin
    * ('0x'||substr(md5(j||'_'||i),1,2))::INT % 2.
    */
  def hyperplaneSigns(numPlanes: Int = 8): Array[Array[Int]] = {
    val md = MessageDigest.getInstance("MD5")
    Array.tabulate(numPlanes, Dim) { (j, i) =>
      val hex = md.digest(s"${j}_${i + 1}".getBytes("UTF-8"))
        .take(1).map("%02x".format(_)).mkString
      if (Integer.parseInt(hex, 16) % 2 == 1) 1 else -1
    }
  }

  /** LSH bucket id (0..2^planes-1) for an embedding column: bit j set iff
    * the scaled dot with hyperplane j is positive. The sign vectors are
    * array literals — the whole bucket assignment stays inside whole-stage
    * codegen with zero joins.
    */
  def lshBucket(emb: Column, numPlanes: Int = 8): Column = {
    val signs = hyperplaneSigns(numPlanes)
    (0 until numPlanes).map { j =>
      val signArr = array(signs(j).map(s => lit(s.toLong)): _*)
      val dot = aggregate(zip_with(emb, signArr, (x, s) => sInt(x) * s), lit(0L), (a, v) => a + v)
      when(dot > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** ANN top-k: restrict to the query's LSH bucket, then exact cosine. */
  def annTopK(embeddings: DataFrame, query: DataFrame, k: Int, numPlanes: Int = 8): DataFrame = {
    val bucketed = embeddings.withColumn("bucket", lshBucket(col("embedding"), numPlanes))
    val q = query.select(col("embedding").as("qv"),
      lshBucket(col("embedding"), numPlanes).as("qbucket"))
    bucketed.join(broadcast(q), col("bucket") === col("qbucket"))
      .select(col("vec_id"), col("bucket"),
        cosineScaled(col("embedding"), col("qv")).as("cos_scaled"))
      .orderBy(col("cos_scaled").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Lloyd's k-means over scaled-integer embeddings, engine-exact: seeds
    * are every `seedEvery`-th vector (deterministic init), each
    * iteration reassigns by max scaled cosine (ties → smaller cid) and
    * recomputes centroids as element-wise integer means (`sum div
    * count`). All arithmetic is BIGINT, so a SQL oracle unrolling the
    * same iterations reproduces assignments bit-for-bit — this closes
    * the "IVF centroids are every-Nth, not k-means" fixture caveat.
    *
    * Scale shape: per iteration, elements ⋈ centroid-elements is an
    * equi-join on the dim index with the (tiny) centroid relation
    * broadcast — n·C·d work, embarrassingly parallel; the centroid
    * update is one map-side-combined aggregate over n·d rows. Returns
    * the final (vec_id, cell) assignment.
    */
  def kmeansAssignments(embeddings: DataFrame, seedEvery: Int,
      iters: Int): DataFrame = {
    // scaled elements as an ARRAY per vector with its norm precomputed:
    // each corpus×centroid pair then costs ONE zip_with dot (n·C fused
    // loops) instead of 64 exploded join rows (n·C·d shuffle input) —
    // the same values, 64× fewer rows through the aggregate
    val embArr = embeddings.select(col("vec_id"),
        expr("transform(embedding, v -> CAST(FLOOR(CAST(v AS DOUBLE) * 1000000.0) AS BIGINT))")
          .as("xa"))
      .withColumn("xnrm", graft.plans.GraftFunctions.longDot(col("xa"), col("xa")))
      .cache()

    // in-row argmin (r6): the C centroid structs ride as ONE broadcast
    // array row (cid-ASCENDING, so packed index order == cid order), and
    // reassignment is a PROJECTION over embArr — the former window path
    // shuffled n·C scored rows per Lloyd round (at 1M vectors × 244
    // cells that exchange alone is 244M rows). The min packed score is
    // the window's (ccos DESC, cid ASC) head; the per-centroid dot is the
    // native long_dot fused loop (the interpreted zip_with twin measured
    // 226s for 3 rounds at 1M×64-d — the lambda overhead WAS the runtime).
    // The scores are probeCells', over the pre-scaled long arrays.
    def withCell(centArr: DataFrame): DataFrame = {
      val centsArr = centArr
        .agg(sort_array(collect_list(struct(col("cid"), col("ca"), col("cnrm"))))
          .as("cents"))
      val packed = packedScores(col("xnrm"), "cnrm")(c =>
        graft.plans.GraftFunctions.longDot(col("xa"), c.getField("ca")))
      embArr.crossJoin(broadcast(centsArr))
        .withColumn("cell", packedCentroid(array_min(packed)).getField("cid"))
    }
    def assign(centArr: DataFrame): DataFrame =
      withCell(centArr).select(col("vec_id"), col("cell"))
    // (cid, ca, cnrm) from element rows — used for updated centroids
    def toArr(cent: DataFrame): DataFrame =
      cent.groupBy("cid")
        .agg(expr("transform(array_sort(collect_list(struct(i, c))), s -> s.c)").as("ca"))
        .withColumn("cnrm", graft.plans.GraftFunctions.longDot(col("ca"), col("ca")))

    var centArr = embArr.where(col("vec_id") % seedEvery === 0)
      .select(col("vec_id").as("cid"), col("xa").as("ca"), col("xnrm").as("cnrm"))
    var it = 0
    while (it < iters) {
      // centroid update: cell attaches IN the assignment projection, so
      // the element explode needs no join back to an assignment relation
      // (the former el ⋈ asg shuffled n·d + n rows per round — 65M rows
      // at 1M×64-d); the groupBy partials map-combine to C·d per task,
      // so the only per-round shuffle is O(C·d·partitions) rows.
      // eager checkpoint per round: C rows of centroid state — keeps each
      // Lloyd iteration ONE pass (a lazy chain would re-run every prior
      // assign inside the next) and bounds lineage depth for any `iters`
      centArr = toArr(withCell(centArr)
        .select(col("cell"), posexplode(col("xa")))
        .groupBy(col("cell").as("cid"), (col("pos") + 1).as("i"))
        .agg(expr("sum(col) div count(1)").as("c")))
        .localCheckpoint(true)
      it += 1
    }
    // materialize the final assignment off the cache, then release it —
    // the (vec_id, cell) map must not pin the scaled corpus in executor
    // storage after the call (the Ranks cache contract)
    try assign(centArr).localCheckpoint(true)
    finally embArr.unpersist(false)
  }

  /** IVF (inverted-file) ANN: the corpus is partitioned into Voronoi
    * cells around deterministic centroids (every `centroidEvery`-th
    * vector, reproducible without iterative k-means), each vector is
    * assigned to its nearest centroids by scaled cosine, and a query
    * probes only its `nProbe` nearest cells with the exact ranking.
    *
    * This is the centroid relation (ccid, cemb, cnrm0): every
    * `centroidEvery`-th vector with its scaled self-dot. Tiny (C rows);
    * in production this is persisted index METADATA alongside the
    * (vec_id, cell) relation, so a probe never touches corpus
    * embeddings.
    */
  def ivfCentroids(emb: DataFrame, centroidEvery: Int): DataFrame =
    emb.where(col("vec_id") % centroidEvery === 0)
      .select(col("vec_id").as("ccid"), col("embedding").as("cemb"),
        scaledDot(col("embedding"), col("embedding")).as("cnrm0"))

  /** The one IVF centroid-scoring recipe: beside every column of `rows`,
    * `out(cells)`, where `cells` is the array of the ccids of the row
    * `embedding`'s `nProbe` nearest [[ivfCentroids]] by scaled cosine,
    * nearest first, ties to the smaller ccid. Lazy.
    *
    * `out` keeps the array (a query's probe set) or explodes it into one
    * `cell` row per probe, in this same projection. An exploded cell must
    * be generated here, not from a projected `cells` column: a filter
    * the optimizer infers on that column (explode's non-empty check, a
    * join's not-null check on the cell) is pushed below the projection
    * into the cross join and scores every row a second time, while a
    * generated column stops it at the Generate.
    *
    * Scale shape: the C centroids ride as ONE broadcast array row
    * (ccid-ASCENDING: sort_array on the struct sorts by the leading
    * field), so scoring is a pure projection — no n·C exploded rows, no
    * window exchange (at 1M vectors × 10k cells that exchange was 240 GB
    * of shuffle). Each centroid's (negccos, idx) packs into one monotone
    * long and the native min_k_long takes the k smallest in one
    * primitive O(C·nProbe) pass: packed index order == ccid order, so
    * the k smallest packed are the (ccos DESC, ccid ASC) head. An
    * array_sort over C structs per row paid O(C log C) boxed
    * comparisons instead and OOM'd the 1M `check` scale run. The row
    * norm is projected below the cross join, so it is computed once per
    * row.
    */
  private def probeCells(rows: DataFrame, centroids: DataFrame, nProbe: Int)(
      out: Column => Column): DataFrame = {
    val cents = centroids.agg(sort_array(
      collect_list(struct(col("ccid"), col("cemb"), col("cnrm0")))).as("cents"))
    val packed = packedScores(col("__nrm"), "cnrm0")(c =>
      scaledDot(col("embedding"), c.getField("cemb")))
    val cells = transform(graft.plans.GraftFunctions.minKLong(packed, lit(nProbe)),
      p => packedCentroid(p).getField("ccid"))
    rows.withColumn("__nrm", scaledDot(col("embedding"), col("embedding")))
      .crossJoin(broadcast(cents))
      .select(rows.columns.map(col) :+ out(cells): _*)
  }

  private def oneCellARow(cells: Column): Column = explode(cells).as("cell")

  /** (vec_id, embedding, cell): every vector with its HOME cell (the
    * nProbe = 1 assignment) over `emb`'s own centroids. Lazy, and the
    * embedding rides along, so a consumer pairing cell-mates by cosine
    * needs no join back to the corpus.
    */
  private def homeCells(emb: DataFrame, centroidEvery: Int): DataFrame =
    probeCells(emb, ivfCentroids(emb, centroidEvery), 1)(oneCellARow)
      .select("vec_id", "embedding", "cell")

  /** The PERSISTABLE index relation: (vec_id, cell) over the `nProbe`
    * nearest centroids, eagerly materialized (the call-time cost IS the
    * scoring pass), so a corpus writes it once (partitioned by cell) and
    * every later shard probes the on-disk relation.
    * MaterializedIvfIndexSpec proves probe-from-disk identity.
    */
  def ivfIndex(emb: DataFrame, centroids: DataFrame, nProbe: Int): DataFrame =
    probeCells(emb, centroids, nProbe)(oneCellARow)
      .select("vec_id", "cell")
      .localCheckpoint(true)

  /** An IVF assignment as a band relation: a (vec_id, cell) row is the
    * (doc_id, band = 0, bucket = cell) row of one LSH band, so cell-mates
    * are bucket-mates and the Dedup band-pair kernels pair them.
    */
  private def cellBands(asg: DataFrame): DataFrame =
    asg.select(col("vec_id").as("doc_id"), lit(0).as("band"), col("cell").as("bucket"))

  /** The kernels' (d1 < d2) pairs in the directed (qid, cid) convention:
    * each pair in both orientations, from one read of `pairs`.
    */
  private def bothWays(pairs: DataFrame): DataFrame =
    pairs.select(explode(array(
        struct(col("d1").as("qid"), col("d2").as("cid")),
        struct(col("d2").as("qid"), col("d1").as("cid")))).as("p"))
      .select("p.qid", "p.cid")

  /** IVF multi-probe candidate pairs — the default kNN base for
    * neighborhood operators (q470 LOF): every vector is indexed into its
    * `nProbe` nearest cells ([[ivfIndex]]), and candidate pairs are
    * cell-mates, paired by [[Dedup.minhashCandidatesBanded]]' join over
    * the index as one band. Pair count follows Σ|cell|² ≈ n²·nProbe²/C —
    * the n²/C shape that replaces brute force; the only cross join is
    * corpus × centroids. Returns directed (qid, cid) pairs, qid ≠ cid,
    * deduplicated across shared cells; lazy over the index, which is
    * materialized at call time.
    *
    * `maxCell` is the kernel's `maxBucket` for a DEGENERATE cell (skewed
    * embeddings crowd one centroid: near-duplicate corpora, zero-vector
    * sinks): an oversized cell emits hub-star edges, in both
    * orientations, instead of |cell|² pairs — the cap semantics
    * documented on [[Dedup.minhashCandidates]]. Default None keeps
    * every cell-mate pair.
    */
  def ivfCandidatePairs(embeddings: DataFrame, centroidEvery: Int,
      nProbe: Int, maxCell: Option[Int] = None): DataFrame =
    bothWays(Dedup.bandPairs(cellBands(
      ivfIndex(embeddings, ivfCentroids(embeddings, centroidEvery), nProbe)), maxCell))

  /** Incremental IVF candidates: a NEW shard of vectors probes an
    * EXISTING corpus's cell index — [[ivfIncrementalPairsIndexed]] over
    * an index built from `indexEmb` and its own centroids (in production
    * the (vec_id, cell) map is the pre-materialized IVF index).
    */
  def ivfIncrementalPairs(indexEmb: DataFrame, shardEmb: DataFrame,
      centroidEvery: Int, nProbe: Int, maxCell: Option[Int] = None): DataFrame = {
    val cents = ivfCentroids(indexEmb, centroidEvery)
    ivfIncrementalPairsIndexed(ivfIndex(indexEmb, cents, nProbe), cents,
      shardEmb, nProbe, maxCell)
  }

  /** IVF index MAINTENANCE — the vector twin of
    * [[graft.operators.Dedup.appendBands]]: the admitted shard's cell
    * assignments (against the SAME frozen centroid metadata) append to
    * the persisted (vec_id, cell) relation. Assignment is per-vector, so
    * the appended relation is EXACTLY `ivfIndex` over index ∪ shard
    * with the index's centroids — probing it with the next shard is
    * identical to probing a from-scratch rebuild, which
    * MaterializedIvfIndexSpec proves through a disk round-trip (the
    * production append is a cell-partition-local parquet append; no
    * existing file is rewritten). q610 runs the full vector ingestion
    * loop through this append.
    */
  def ivfIndexAppend(indexAsg: DataFrame, centroids: DataFrame,
      shardEmb: DataFrame, nProbe: Int): DataFrame =
    indexAsg.select("vec_id", "cell")
      .unionAll(ivfIndex(shardEmb, centroids, nProbe))

  /** Incremental IVF candidates against a PRE-MATERIALIZED index: the
    * (vec_id, cell) relation and the centroid metadata come in as
    * relations (from disk in production — no index embedding is ever
    * read); only the shard assigns fresh. The pairs are
    * [[Dedup.incrementalCandidates]]' join over the two assignments as
    * bands: shard×index plus shard×shard cell-mates, index×index never
    * re-paired, so admit cost follows |shard|·nProbe, not Σ|cell|² over
    * the corpus. Returns directed (qid, cid): qid ∈ shard,
    * cid ∈ index ∪ shard, qid ≠ cid — exactly [[ivfCandidatePairs]] over
    * index ∪ shard restricted to shard queries when the union picks the
    * same centroids. vec_ids must be disjoint between the sides. Lazy
    * over the shard's assignment, which is materialized at call time.
    *
    * `maxCell` is the kernel's incremental `maxBucket`: cell sizes are
    * measured over index ∪ shard, and an oversized cell keeps the
    * hub-star edges a shard vector queries.
    */
  def ivfIncrementalPairsIndexed(indexAsg: DataFrame, centroids: DataFrame,
      shardEmb: DataFrame, nProbe: Int, maxCell: Option[Int] = None): DataFrame = {
    val shdAsg = ivfIndex(shardEmb, centroids, nProbe)
    bothWays(Dedup.incrementalBandPairs(cellBands(indexAsg), cellBands(shdAsg), maxCell))
      .join(shdAsg.select(col("vec_id").as("qid")), Seq("qid"), "left_semi")
  }

  /** IVF top-k for one query vector: probe the query's nProbe nearest
    * cells, exact scaled-cosine rank within each vector's home cell.
    */
  def ivfTopK(embeddings: DataFrame, query: DataFrame, k: Int,
      centroidEvery: Int, nProbe: Int): DataFrame = {
    val probe = probeCells(query, ivfCentroids(embeddings, centroidEvery),
        nProbe)(oneCellARow)
      .select(col("embedding").as("qv"), col("cell").as("pcell"))
    homeCells(embeddings, centroidEvery)
      .join(broadcast(probe), col("cell") === col("pcell"))
      .select(col("vec_id"), col("cell"),
        cosineScaled(col("embedding"), col("qv")).as("cos_scaled"))
      .orderBy(col("cos_scaled").desc, col("vec_id").asc)
      .limit(k)
  }

  /** SemDeDup-style semantic dedup: vectors are clustered into IVF cells
    * (deterministic centroids), and within each cell a vector is REMOVED
    * iff some smaller-id cell-mate has cosine ≥ `minCosScaled` with it.
    * Returns per-vector (vec_id, cell, removed). The pairwise step is
    * cell-local — cost follows Σ|cell|², never corpus², and cells are
    * independent tasks; the pruned corpus is the `removed = false` side.
    *
    * `maxCell` is this family's 100 TB valve — BOUNDED-PREFIX
    * verification: each vector verifies against only its cell's `cap`
    * SMALLEST-id members (the canonical keepers — removal already means
    * "a smaller id covers you", so the small-id end of the cell is
    * where the decision lives). For every cell at or under the cap the
    * prefix IS the full smaller-id set — capped ≡ exact, spec-pinned in
    * SemDedupCapSpec; an oversized cell does cap·|cell| work instead of
    * |cell|², exactly linear where near-duplicate corpora crowd one
    * centroid (the distribution SemDeDup is FOR — there the prefix
    * holds the keepers and every later near-dup still matches them).
    * Capped removals are always a SUBSET of exact removals (the x-side
    * only shrinks): the cap never over-prunes, it can only admit extra
    * survivors in an oversized mixed cell. The prefix itself comes from
    * the native bounded-heap top-k-per-group operator — O(cap) state
    * per cell, no |cell|-row window sort.
    */
  def semDedup(embeddings: DataFrame, centroidEvery: Int, minCosScaled: Long,
      maxCell: Option[Int] = None): DataFrame = {
    val asg = homeCells(embeddings, centroidEvery)
    val removed = cellPrefix(asg, maxCell).as("x").join(asg.as("y"),
        col("x.cell") === col("y.cell") && col("x.vec_id") < col("y.vec_id"))
      .where(cosineScaled(col("x.embedding"), col("y.embedding")) >= minCosScaled)
      .select(col("y.vec_id").as("vec_id")).distinct()
      .withColumn("__rm", lit(true))
    asg.select("vec_id", "cell")
      .join(removed, Seq("vec_id"), "left_outer")
      .select(col("vec_id"), col("cell"), coalesce(col("__rm"), lit(false)).as("removed"))
  }

  /** Cluster-balanced diversity sampling — the quota COMPLEMENT of
    * [[semDedup]]: instead of removing near-duplicates within a cell,
    * keep a fixed per-cell quota (the `perCell` smallest-id members of
    * every IVF cell), so every region of embedding space is represented
    * and no crowded region dominates the sample — the cluster-sampling
    * shape of diversity-driven data selection. Deterministic (id-prefix
    * quota, no RNG); one bounded-heap pass (native top-k-per-group)
    * after the assignment projection — no |cell|-row window sort, no
    * corpus self-join at all. Returns (vec_id, cell) for the kept
    * sample.
    */
  def clusterSample(embeddings: DataFrame, centroidEvery: Int,
      perCell: Int): DataFrame =
    cellPrefix(homeCells(embeddings, centroidEvery), Some(perCell))
      .select("vec_id", "cell")

  /** The SemDeDup verification prefix: each cell's `cap` smallest-id
    * members (everything when uncapped) — the x-side of the removal
    * join. Shared by [[semDedup]], [[semDedupIncremental]] and
    * [[clusterSample]] so all three arms bound with the same semantics.
    */
  private def cellPrefix(asg: DataFrame, maxCell: Option[Int]): DataFrame =
    maxCell match {
      case None => asg
      case Some(cap) =>
        graft.plans.GraftFunctions.topKPerGroup(
          asg, Seq("cell"), "vec_id", cap, descending = false)
    }

  /** Incremental SemDeDup — the admission DECISION consumer of the
    * incremental vector machinery: a NEW shard vector is REMOVED iff
    * some smaller-id cell-mate (an index vector, or an earlier shard
    * member) has cosine ≥ `minCosScaled`; exactly
    * `semDedup(index ∪ shard)` restricted to shard ids (shard ids must
    * exceed index ids and avoid the centroid residue, the standard
    * ingestion fixture invariants). Cells come from the INDEX corpus's
    * centroids — in production the pre-materialized (vec_id, cell) map —
    * and index×index is never re-paired: admit cost follows
    * |shard| · cell occupancy. Returns (vec_id, cell, removed) for the
    * shard.
    *
    * `maxCell` applies [[semDedup]]'s bounded-prefix cap with the prefix
    * measured over index ∪ shard — identical to
    * `semDedup(index ∪ shard, cap)` restricted to shard ids
    * (SemDedupCapSpec pins it); at scale the prefix of a persisted index
    * cell is itself persistable metadata (cap rows per cell), so an
    * oversized cell costs cap·|shard∩cell| per ingest, never
    * |cell|·|shard∩cell|.
    */
  def semDedupIncremental(indexEmb: DataFrame, shardEmb: DataFrame,
      centroidEvery: Int, minCosScaled: Long,
      maxCell: Option[Int] = None): DataFrame = {
    val cents = ivfCentroids(indexEmb, centroidEvery)
    semDedupIncrementalIndexed(ivfIndex(indexEmb, cents, 1), cents,
      indexEmb, shardEmb, minCosScaled, maxCell)
  }

  /** [[semDedupIncremental]] against a PRE-MATERIALIZED (vec_id, cell)
    * index relation and its centroid metadata — the admission twin of
    * [[ivfIncrementalPairsIndexed]]: a composition that also appends to
    * the same index (q610's ingestion loop) scores the corpus against
    * the centroids ONCE and feeds both the admission decision and the
    * maintenance append, instead of each operator re-running the
    * corpus × centroids assignment pass internally (at 100 TB that pass
    * is the expensive leg; from disk in production it is already a plain
    * scan). Identical output to [[semDedupIncremental]] — it IS its back
    * half (SemDedupCapSpec pins the arm).
    */
  def semDedupIncrementalIndexed(indexAsg: DataFrame, centroids: DataFrame,
      indexEmb: DataFrame, shardEmb: DataFrame, minCosScaled: Long,
      maxCell: Option[Int] = None): DataFrame = {
    val cents = centroids
    val idxA = indexAsg.select("vec_id", "cell")
      .join(indexEmb.select(col("vec_id"), col("embedding")), Seq("vec_id"))
    val shdA = ivfIndex(shardEmb, cents, 1)
      .join(shardEmb.select(col("vec_id"), col("embedding")), Seq("vec_id"))
    // ONE aliased self-join against the unioned x-side (the capped-arm
    // pattern): unioning the aliased hit branches instead crashes
    // Catalyst's union-constraint rewrite — even checkpointed, LogicalRDD
    // origin constraints still reference the projected-away join attrs.
    // Capped arm only: restrict the prefix input to cells the SHARD
    // touches first (broadcast semi-join on the shard's tiny cell set) —
    // cells without a shard member can't witness any decision, and
    // without the cut the bounded-heap prefix would still stream
    // cap-per-cell rows for EVERY index cell into its exchange
    // (decision-identical either way; the uncapped arm's plain join
    // already prunes untouched cells inside the hash probe)
    val xAll0 = idxA.unionAll(shdA)
    val xAll = cellPrefix(
      if (maxCell.isEmpty) xAll0
      else xAll0.join(broadcast(shdA.select("cell").distinct()),
        Seq("cell"), "left_semi"),
      maxCell)
    val removed = shdA.as("y").join(xAll.as("x"),
        col("x.cell") === col("y.cell") && col("x.vec_id") < col("y.vec_id"))
      .where(cosineScaled(col("x.embedding"), col("y.embedding")) >= minCosScaled)
      .select(col("y.vec_id").as("vec_id")).distinct()
      .withColumn("__rm", lit(true))
    shdA.select("vec_id", "cell")
      .join(removed, Seq("vec_id"), "left_outer")
      .select(col("vec_id"), col("cell"),
        coalesce(col("__rm"), lit(false)).as("removed"))
  }

  /** Recall@k audit of the LSH ANN against the exact brute force, per
    * query vector: hits = |ANN top-k ∩ exact top-k|, recall in permille.
    *
    * Scale shape: the exact ground truth inherently needs a full
    * corpus × queries pass, so the audit runs it ONCE (broadcast query
    * set, native scaled_dot per pair) and ranks both candidate sets from
    * that single pass with the native bounded-heap top-k-per-group
    * operator — never a per-query global sort. The ordering key packs
    * (cosine, ¬vec_id) into one long so ties break toward the smaller id,
    * matching every other ranking in the engine.
    */
  def annRecall(embeddings: DataFrame, queries: DataFrame, k: Int,
      numPlanes: Int = 8): DataFrame = {
    import org.apache.spark.sql.graftshims.TopKApi
    val q = queries.select(col("vec_id").as("qid"), col("embedding").as("qv"),
      lshBucket(col("embedding"), numPlanes).as("qbucket"))
    val scored = embeddings
      .withColumn("bucket", lshBucket(col("embedding"), numPlanes))
      .crossJoin(broadcast(q))
      .select(col("qid"), col("vec_id"),
        cosineScaled(col("embedding"), col("qv")).as("cs"),
        (col("bucket") === col("qbucket")).as("in_bucket"))
      // pack (cos, ¬vec_id) into one ordering long: cos ≤ 10^6 in
      // magnitude, vec_id < 2^32 ⇒ |ord| < 2^52
      .withColumn("ord", col("cs") * lit(4294967296L) + (lit(4294967295L) - col("vec_id")))
    // ONE pass over the corpus×queries scores: top-k per (qid, in_bucket)
    // collapses the expensive side to ≤ 2k rows/query; the ANN ranking is
    // the in-bucket half verbatim, the exact ranking re-ranks the 2k
    // survivors (top-k of a union of per-group top-ks is exact).
    val grouped = TopKApi.topKPerGroup(scored, Seq("qid", "in_bucket"), "ord", k)
    val bf = TopKApi.topKPerGroup(grouped, Seq("qid"), "ord", k)
      .select(col("qid"), col("vec_id"))
    val ann = grouped.where(col("in_bucket"))
      .select(col("qid").as("aqid"), col("vec_id").as("avid"))
    val hits = bf.join(ann, col("qid") === col("aqid") && col("vec_id") === col("avid"))
      .groupBy("qid").agg(count(lit(1)).as("hits"))
    q.select(col("qid")).join(hits, Seq("qid"), "left_outer")
      .select(col("qid"), coalesce(col("hits"), lit(0L)).as("hits"))
      .withColumn("recall_permille", expr(s"CAST(hits * 1000 div $k AS BIGINT)"))
      .orderBy("qid")
  }

  /** Recall@k audit of the IVF probe path against the exact brute force,
    * per query vector — [[annRecall]]'s twin for the engine's DEFAULT kNN
    * base (the q121 audit covered only the 8-plane LSH path; the IVF
    * multi-probe family had cost certifications but no recall-vs-exact
    * measurement until this). A query's candidate set is every corpus
    * vector whose HOME cell (nProbe=1 assignment) is among the query's
    * `nProbe` nearest centroids — exactly [[ivfTopK]]'s probe semantics.
    *
    * Scale shape: identical to [[annRecall]] — the exact ground truth
    * needs one corpus × queries pass, so that single native-scaled-dot
    * pass feeds BOTH rankings through the bounded-heap top-k-per-group
    * operator (no per-query global sort); cell assignment is the in-row
    * packed-argmin projection over the broadcast centroid array, and the
    * query probe-cell sets ride as one tiny broadcast array column.
    */
  def ivfRecall(embeddings: DataFrame, queries: DataFrame, k: Int,
      centroidEvery: Int, nProbe: Int): DataFrame = {
    import org.apache.spark.sql.graftshims.TopKApi
    val cents = ivfCentroids(embeddings, centroidEvery)
    // home cell of every corpus vector (the nProbe=1 assignment)
    val asg = ivfIndex(embeddings, cents, 1)
    // each query's nProbe probe cells as ONE in-row array, so the probe
    // set broadcasts with the query row
    val qp = probeCells(queries, cents, nProbe)(_.as("qcells"))
      .select(col("vec_id").as("qid"), col("embedding").as("qv"), col("qcells"))
    val scored = embeddings.join(asg, Seq("vec_id"))
      .crossJoin(broadcast(qp))
      .select(col("qid"), col("vec_id"),
        cosineScaled(col("embedding"), col("qv")).as("cs"),
        array_contains(col("qcells"), col("cell")).as("in_probe"))
      // the annRecall ordering pack: (cos, ¬vec_id) in one long
      .withColumn("ord", col("cs") * lit(4294967296L) + (lit(4294967295L) - col("vec_id")))
    val grouped = TopKApi.topKPerGroup(scored, Seq("qid", "in_probe"), "ord", k)
    val bf = TopKApi.topKPerGroup(grouped, Seq("qid"), "ord", k)
      .select(col("qid"), col("vec_id"))
    val ann = grouped.where(col("in_probe"))
      .select(col("qid").as("aqid"), col("vec_id").as("avid"))
    val hits = bf.join(ann, col("qid") === col("aqid") && col("vec_id") === col("avid"))
      .groupBy("qid").agg(count(lit(1)).as("hits"))
    qp.select(col("qid")).join(hits, Seq("qid"), "left_outer")
      .select(col("qid"), coalesce(col("hits"), lit(0L)).as("hits"))
      .withColumn("recall_permille", expr(s"CAST(hits * 1000 div $k AS BIGINT)"))
      .orderBy("qid")
  }

  /** Product-quantization codes: the vector splits into `m` subvectors of
    * `d` dims; each maps to the nearest (scaled-integer L2²) of `k`
    * codewords in that subspace, ties to the smaller code. The codebook is
    * driver-side metadata (m·k·d longs — like chunk bounds), baked in as a
    * nested array literal, so encoding is a PURE PROJECTION: no join, no
    * shuffle, embarrassingly parallel over the corpus. Returns array<long>
    * of `m` codes.
    */
  def pqCodes(emb: Column, cb: Array[Array[Array[Long]]]): Column = {
    val m = cb.length; val k = cb(0).length; val d = cb(0)(0).length
    graft.plans.GraftFunctions.pqEncode(emb, cb.flatten.flatten, m, k, d)
  }

  /** PQ/ADC top-k: asymmetric distance computation — the query's exact
    * distance to every codeword (an m×k table, computed once on the
    * driver) is summed over each corpus vector's codes. The scan reads
    * only the code arrays (m bytes of signal per vector instead of the
    * full embedding — at 10^9 vectors this is the difference between
    * scanning 32 GB and 256 GB), and scoring is an in-row fold over the
    * broadcast-literal table.
    */
  def pqTopK(embeddings: DataFrame, query: DataFrame, k: Int,
      codebookEvery: Int = 31, m: Int = 8, nCodes: Int = 16): DataFrame = {
    val d = Dim / m
    def scaled(f: Float): Long = math.floor(f.toDouble * Scale).toLong
    // codebook: the m-th subvector of the 16 deterministic training
    // vectors (vec_id = c · codebookEvery) — reproducible without k-means
    val trainRows = embeddings
      .where(col("vec_id") % codebookEvery === 0 && col("vec_id") < codebookEvery.toLong * nCodes)
      .orderBy("vec_id").select("embedding").collect()
      .map(_.getSeq[Float](0).toArray)
    require(trainRows.length == nCodes, s"expected $nCodes training vectors, got ${trainRows.length}")
    val cb = Array.tabulate(m, nCodes, d)((mi, c, i) => scaled(trainRows(c)(mi * d + i)))
    // ADC table: exact scaled-L2² of the query to every codeword
    val qv = query.select("embedding").head().getSeq[Float](0).toArray.map(scaled)
    val dt = Array.tabulate(m, nCodes) { (mi, c) =>
      (0 until d).map(i => { val diff = qv(mi * d + i) - cb(mi)(c)(i); diff * diff }).sum
    }
    val dtLit = array(dt.map(row => array(row.map(lit(_)): _*)): _*)
    val codes = pqCodes(col("embedding"), cb)
    embeddings
      .select(col("vec_id"), codes.as("codes"))
      .select(col("vec_id"),
        aggregate(sequence(lit(0), lit(m - 1)), lit(0L), (a, mi) =>
          a + element_at(element_at(dtLit, mi + 1),
            element_at(col("codes"), mi + 1).cast("int") + 1)).as("adc_dist"))
      .orderBy(col("adc_dist").asc, col("vec_id").asc)
      .limit(k)
  }

  /** Embedding near-duplicate pairs: bucket-mates with cosine above a
    * scaled threshold (the dedup-by-embedding path).
    *
    * `maxBucket` closes this operator's member of the degenerate-locality
    * class (identical embeddings all hash to ONE bucket — |bucket|²
    * pairs exactly on near-duplicate corpora): a bucket over the cap
    * restricts the pairing's x-side to its hub (min vec_id), so it emits
    * hub-anchored pairs only — linear, still cosine-VERIFIED, and a
    * subset of the exact output; buckets at or under the cap keep exact
    * all-pairs (spec-pinned in SemDedupCapSpec's pair-cap case). The
    * pairing is the [[Dedup.blockPairs]] kernel keyed on the bucket.
    */
  def nearDupPairs(embeddings: DataFrame, minCosScaled: Long, numPlanes: Int = 8,
      maxBucket: Option[Int] = None): DataFrame =
    graft.core.Graft.span("Similarity.nearDupPairs") {
      val b = embeddings.select(col("vec_id"), col("embedding"),
        lshBucket(col("embedding"), numPlanes).as("bucket"))
      Dedup.blockPairs(b, Seq("bucket"), "vec_id", maxBucket)
        .select(col("x.vec_id").as("v1"), col("y.vec_id").as("v2"),
          cosineScaled(col("x.embedding"), col("y.embedding")).as("cos_scaled"))
        .where(col("cos_scaled") >= minCosScaled)
    }
}
