package graft.ops

import java.io.File
import java.nio.file.Files

import graft.SparkSuiteBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `Graft.compactParquet`: it rewrites exactly the rows a parquet read
  * of its input sees, whatever wrote that input, and with `clusterBy`
  * its output is a function of the rows alone — contiguous key ranges
  * in file order, the same bytes however the JVM got there. */
class CompactParquetSpec extends SparkSuiteBase {
  import spark.implicits._

  private def tmp(name: String): String =
    Files.createTempDirectory(s"graft-compact-$name").toString

  private def parts(dir: String): Seq[File] =
    new File(dir).listFiles().toSeq
      .filter(f => f.isFile && f.getName.startsWith("part-"))
      .sortBy(_.getName)

  /** 3000 rows; `k` is null on every 7th row and ties often, so the
    * range bounds see nulls and the in-file order needs the
    * tie-breaks; `g` is a low-cardinality second cluster column. */
  private def rows: DataFrame =
    spark.range(3000).select(
      $"id",
      when($"id" % 7 === 0, lit(null)).otherwise(($"id" * 37) % 50).as("k"),
      ($"id" % 3).cast("string").as("g"),
      concat(lit("v"), ($"id" * 13 % 101).cast("string")).as("s"),
      ($"id" % 4).as("p"))

  private def sameRows(a: DataFrame, b: DataFrame): Unit = {
    val cols = a.columns.sorted.toSeq
    val l = a.select(cols.map(col): _*)
    val r = b.select(cols.map(col): _*)
    assert(l.count() == r.count(), s"row counts differ: ${l.count()} vs ${r.count()}")
    assert(l.exceptAll(r).isEmpty && r.exceptAll(l).isEmpty, "row sets differ")
  }

  test("compaction reads a single file, non-part- file names and hive partitions") {
    val one = tmp("one")
    rows.coalesce(1).write.mode("overwrite").parquet(one)
    val file = parts(one).head.getPath
    val out1 = tmp("one-out")
    graft.Graft.compactParquet(spark, file, out1, 1L << 30, Seq("k"))
    sameRows(rows, spark.read.parquet(out1))

    // a directory another writer filled: only one file is a part-
    val mixed = tmp("mixed")
    rows.repartition(4).write.mode("overwrite").parquet(mixed)
    parts(mixed).drop(1).zipWithIndex.foreach { case (f, i) =>
      assert(f.renameTo(new File(mixed, s"data_$i.parquet")))
    }
    val out2 = tmp("mixed-out")
    graft.Graft.compactParquet(spark, mixed, out2, 1L << 30, Seq("k"))
    sameRows(rows, spark.read.parquet(out2))

    // hive partitions keep their partition column
    val hive = tmp("hive")
    rows.write.mode("overwrite").partitionBy("p").parquet(hive)
    val out3 = tmp("hive-out")
    graft.Graft.compactParquet(spark, hive, out3, 1L << 30, Seq("k"))
    sameRows(rows, spark.read.parquet(out3))
  }

  test("clusterBy: files hold contiguous key ranges, nulls first, fully sorted within") {
    val in = tmp("range")
    rows.repartition(8).write.mode("overwrite").parquet(in)
    val bytes = parts(in).map(_.length).sum
    val out = tmp("range-out")
    val n = graft.Graft.compactParquet(spark, in, out, math.max(1L, bytes / 4),
      Seq("k", "g"))
    assert(n >= 4, s"expected several output files, got $n")
    assert(parts(out).length >= 2, s"placement left ${parts(out).length} files")
    // file order is partition order; concatenated, the files must be
    // the input in (k, g, remaining columns) order
    val key = Seq("k", "g", "id", "s", "p")
    val inFileOrder = parts(out).flatMap(f =>
      spark.read.parquet(f.getPath).select(key.map(col): _*).collect())
    val expected = rows.select(key.map(col): _*)
      .orderBy(key.map(col(_).asc_nulls_first): _*).collect().toSeq
    assert(inFileOrder == expected, "output files are not contiguous sorted ranges")
  }

  test("clusterBy: same rows in, same bytes out, whatever RDDs the JVM made before") {
    val in = tmp("stable")
    rows.repartition(8).write.mode("overwrite").parquet(in)
    val target = math.max(1L, parts(in).map(_.length).sum / 3)
    def compactOnce(): Seq[Seq[Byte]] = {
      val out = tmp("stable-out")
      graft.Graft.compactParquet(spark, in, out, target, Seq("k", "g"))
      parts(out).map(f => Files.readAllBytes(f.toPath).toSeq)
    }
    val first = compactOnce()
    (1 to 5).foreach(i => spark.sparkContext.parallelize(1 to i).count())
    val second = compactOnce()
    assert(first.length >= 2)
    assert(first == second, "compaction output bytes moved with the RDD history")
  }

  test("clusterBy with one output file: one file, sorted on the key") {
    val in = tmp("single")
    rows.repartition(4).write.mode("overwrite").parquet(in)
    val out = tmp("single-out")
    assert(graft.Graft.compactParquet(spark, in, out, 1L << 30, Seq("k")) == 1)
    assert(parts(out).length == 1)
    val ks = spark.read.parquet(parts(out).head.getPath).select($"k")
      .as[Option[Long]].collect().toSeq
    assert(ks == ks.sortBy(_.getOrElse(Long.MinValue)))
  }
}
