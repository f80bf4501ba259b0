package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Bucketed co-located join: writing both sides bucketed on the join key
  * makes the equi-join shuffle-free — the plan must contain NO shuffle
  * exchange, and the join result must match the plain-parquet join. This
  * is the layout Dedup.dupSpanState's scaladoc prescribes for its
  * persisted gram state.
  */
class BucketedJoinSpec extends SparkSpec {

  /** Hash-bucket and sort `df` by `key` into catalog table `table`. */
  private def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet")
      .saveAsTable(table)

  test("join of two tables bucketed on the key plans without a shuffle") {
    val s = spark
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ path
    try {
      val li = s.read.parquet(s"$sfDir/lineitem.parquet")
        .select("l_orderkey", "l_quantity")
      val ord = s.read.parquet(s"$sfDir/orders.parquet")
        .select("o_orderkey", "o_totalprice")

      writeBucketed(li, "li_b", "l_orderkey", 8)
      writeBucketed(ord.withColumnRenamed("o_orderkey", "l_orderkey"),
        "ord_b", "l_orderkey", 8)

      val joined = s.table("li_b").join(s.table("ord_b"), "l_orderkey")
      val shuffles = joined.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec => e
      }
      assert(shuffles.isEmpty,
        s"expected shuffle-free bucketed join, found ${shuffles.size} exchanges")

      val expected = li
        .join(ord.withColumnRenamed("o_orderkey", "l_orderkey"), "l_orderkey")
        .count()
      assert(joined.count() == expected)
    } finally {
      s.sql("DROP TABLE IF EXISTS li_b")
      s.sql("DROP TABLE IF EXISTS ord_b")
      s.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }
}
