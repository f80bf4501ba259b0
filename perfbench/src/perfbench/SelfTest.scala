package perfbench

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Self-test of the benchmark at a tiny size: one seed gives
  * byte-identical inputs, each checker accepts a real output, and each
  * checker rejects a deliberately corrupted one (a repair statement
  * dropped, two components merged, an LSH candidate lost, a CSV row
  * dropped).
  */
object SelfTest {
  val Scale = 0.02

  def run(spark: SparkSession, o: Main.Opts): Boolean = {
    val root = s"${o.work}/selftest"
    Stats.deleteRecursively(new File(root))
    val results = Workload.names.flatMap { name =>
      val a = Workload(name, spark, o.seed, s"$root/$name/a", Scale)
      val b = Workload(name, spark, o.seed, s"$root/$name/b", Scale)
      a.setupFixture()
      b.setupFixture()
      a.expect()
      val out = s"$root/$name/out"
      val errors = a.check(a.run(Tracer.untraced(spark), out))
      errors.foreach(e => println(s"selftest: $name: $e"))
      Seq(
        s"$name: same seed gives byte-identical inputs" -> sameBytes(new File(s"$root/$name/a"), new File(s"$root/$name/b")),
        s"$name: checker accepts the real output" -> errors.isEmpty) ++
        corruptions(spark, a).zipWithIndex.map { case ((what, corrupt), i) =>
          // every corruption starts from a fresh real output
          val res = a.run(Tracer.untraced(spark), s"$out$i")
          s"$name: checker rejects $what" -> a.check(corrupt(res, s"$out$i")).nonEmpty
        }
    }
    results.foreach { case (what, pass) => println(s"selftest ${if (pass) "PASS" else "FAIL"}: $what") }
    Stats.deleteRecursively(new File(root))
    results.forall(_._2)
  }

  /** Deliberate corruptions of one workload's output, each with what it
    * simulates. A dedup output is corrupted consistently across stages,
    * so that only the check the corruption targets can catch it.
    */
  private def corruptions(spark: SparkSession, w: Workload): Seq[(String, (w.Out, String) => w.Out)] = w match {
    case v: VerifyWorkload => Seq("one dropped repair statement" -> { (res: w.Out, _: String) =>
      val r = res.asInstanceOf[v.Out]
      r.copy(stmts = r.stmts.drop(1)).asInstanceOf[w.Out]
    })
    case _: DedupWorkload => Seq(
      "two merged components" -> { (res: w.Out, out: String) =>
        val cc = spark.read.parquet(s"$out/cc").cache()
        val labels = cc.select("component").distinct().orderBy("component").limit(2).collect().map(_.getLong(0))
        require(labels.length == 2, "self-test corpus needs two components")
        replace(spark, out, "cc",
          cc.withColumn("component", when(col("component") === labels(1), labels(0)).otherwise(col("component"))))
        cc.unpersist()
        res
      },
      "one LSH candidate lost by every stage" -> { (res: w.Out, out: String) =>
        val pairs = spark.read.parquet(s"$out/pairs")
        val lost = pairs.orderBy("d1", "d2").head()
        def drop(df: DataFrame) = df.where(!(col("d1") === lost.getAs[Long]("d1") && col("d2") === lost.getAs[Long]("d2")))
        val kept = drop(pairs).collect().map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2")))
        val labels = Expect.components(kept.toSeq).toSeq
        replace(spark, out, "cand", drop(spark.read.parquet(s"$out/cand")))
        replace(spark, out, "pairs", drop(pairs))
        replace(spark, out, "cc", spark.createDataFrame(labels).toDF("doc_id", "component"))
        res
      })
    case _: MigrateWorkload => Seq("one dropped CSV row" -> { (res: w.Out, out: String) =>
      val part = new File(s"$out/csv").listFiles().filter(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".csv") && f.length() > 0).minBy(_.getName)
      val lines = Files.readAllLines(part.toPath)
      Files.write(part.toPath, lines.subList(0, lines.size - 1))
      new File(part.getParent, s".${part.getName}.crc").delete()
      res
    })
  }

  /** Overwrite the parquet table `out/name` with `df` (which may read it). */
  private def replace(spark: SparkSession, out: String, name: String, df: DataFrame): Unit = {
    df.write.mode("overwrite").parquet(s"$out/$name.new")
    Stats.deleteRecursively(new File(s"$out/$name"))
    new File(s"$out/$name.new").renameTo(new File(s"$out/$name"))
  }

  private def files(d: File): Seq[File] =
    if (d.isDirectory) Option(d.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap(files)
    else Seq(d).filter(f => f.getName.endsWith(".parquet"))

  /** Parquet part files pairwise equal, in part-number order. */
  private def sameBytes(a: File, b: File): Boolean = {
    val (fa, fb) = (files(a), files(b))
    fa.nonEmpty && fa.size == fb.size && fa.zip(fb).forall { case (x, y) =>
      java.util.Arrays.equals(Files.readAllBytes(x.toPath), Files.readAllBytes(y.toPath))
    }
  }
}
