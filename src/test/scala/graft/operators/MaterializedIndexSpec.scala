package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.{Graft, Tables}

/** The production shape of incremental admission: the corpus's locality
  * index (LSH band buckets) PERSISTED once, bucket-partition-friendly,
  * and a new shard probing the on-disk relation — no corpus text is
  * re-read, no index×index pair forms, and the candidate set is
  * IDENTICAL to the in-memory path (q601's construction).
  */
class MaterializedIndexSpec extends SparkSpec {

  test("shard probe over the persisted band index equals the in-memory path") {
    Graft.configure(spark)
    val base = Tables(spark, sfDir).documents.select("doc_id", "text")
    val index = base
    val shard = base.where(col("doc_id") % 29 === 0)
      .select((col("doc_id") + 100000).as("doc_id"),
        expr("substring(text, 21)").as("text"))

    // materialize the index ONCE: bands to parquet, partitioned by band
    // (at scale: bucketed/partitioned by (band, bucket range) so the
    // probe is a co-located join and reads only matched partitions)
    val dir = java.nio.file.Files.createTempDirectory("band_index").toString
    Dedup.lshBands(Dedup.minhashSignatures(index, "doc_id", "text"))
      .write.mode("overwrite").partitionBy("band").parquet(dir)
    val onDisk = spark.read.parquet(dir)

    // probe the on-disk index through the public API — only the shard's
    // signatures compute fresh
    val viaDisk = Dedup.incrementalCandidates(onDisk,
        Dedup.lshBands(Dedup.minhashSignatures(shard, "doc_id", "text")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val inMemory = Dedup.incrementalCandidates(
        Dedup.lshBands(Dedup.minhashSignatures(index, "doc_id", "text")),
        Dedup.lshBands(Dedup.minhashSignatures(shard, "doc_id", "text")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    assert(viaDisk == inMemory,
      s"disk-only=${(viaDisk -- inMemory).take(5)} mem-only=${(inMemory -- viaDisk).take(5)}")
    assert(viaDisk.nonEmpty)
    // and the probe plan never scans the corpus text: the on-disk side's
    // schema is (doc_id, bucket, band) only
    assert(onDisk.columns.toSet == Set("doc_id", "bucket", "band"))
  }

  test("appended index == from-scratch rebuild, via a partition-local parquet append") {
    Graft.configure(spark)
    val base = Tables(spark, sfDir).documents.select("doc_id", "text")
    val index = base
    val shard1 = base.where(col("doc_id") % 31 === 0)
      .select((col("doc_id") + 200000).as("doc_id"), col("text"))
    val shard2 = base.where(col("doc_id") % 29 === 0)
      .select((col("doc_id") + 100000).as("doc_id"),
        expr("substring(text, 21)").as("text"))

    val dir = java.nio.file.Files.createTempDirectory("band_index_app").toString
    Dedup.lshBands(Dedup.minhashSignatures(index, "doc_id", "text"))
      .write.mode("overwrite").partitionBy("band").parquet(dir)
    def files(): Set[String] = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
        .filter(_.toString.endsWith(".parquet")).map(_.toString).toSet
    }
    val before = files()

    // MAINTENANCE: shard1 admitted → its band rows APPEND in place —
    // new files land in matched band partitions, nothing is rewritten
    Dedup.lshBands(Dedup.minhashSignatures(shard1, "doc_id", "text"))
      .write.mode("append").partitionBy("band").parquet(dir)
    assert(before.subsetOf(files()),
      "a partition-local append must leave every existing index file in place")

    // the next shard probes the MAINTAINED on-disk index…
    val maintained = Dedup.incrementalCandidates(spark.read.parquet(dir),
        Dedup.lshBands(Dedup.minhashSignatures(shard2, "doc_id", "text")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // …and must see exactly what a from-scratch rebuild over
    // index ∪ shard1 would serve (bands are per-doc, so appendBands'
    // relation form is the same statement in memory)
    val rebuilt = Dedup.incrementalCandidates(
        Dedup.lshBands(Dedup.minhashSignatures(index.unionAll(shard1), "doc_id", "text")),
        Dedup.lshBands(Dedup.minhashSignatures(shard2, "doc_id", "text")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(maintained == rebuilt,
      s"maint-only=${(maintained -- rebuilt).take(5)} rebuild-only=${(rebuilt -- maintained).take(5)}")
    assert(maintained.nonEmpty)

    // the relation-form helper matches the disk path
    val viaHelper = Dedup.incrementalCandidates(
        Dedup.appendBands(
          Dedup.lshBands(Dedup.minhashSignatures(index, "doc_id", "text")),
          Dedup.lshBands(Dedup.minhashSignatures(shard1, "doc_id", "text"))),
        Dedup.lshBands(Dedup.minhashSignatures(shard2, "doc_id", "text")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaHelper == rebuilt)
  }
}
