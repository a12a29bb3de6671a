package graft

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.functions.ZRankExpr
import graft.sources.{DeltaLog, Layout, Tables}

/** [[ZRankExpr]] — the compiled Z-order rank — against the interpreted
  * `size(filter(array(bounds), b => v >= b))` it replaced, kept here
  * only as the reference: same values on every edge of Spark's double
  * ordering, generated and interpreted, and the same OPTIMIZE ZORDER
  * file layout. */
class ZRankSpec extends SparkSpec {
  import spark.implicits._

  /** The replaced kernel: rank = #bounds <= value, by a higher-order
    * function over the bounds as literals. */
  private def referenceRank(c: Column, bounds: Seq[Double]): Column =
    size(filter(array(bounds.map(lit): _*), b => c.cast("double") >= b)).cast("long")

  /** The replaced zorderBy: one approxQuantile job per column, then
    * the reference rank. */
  private def referenceZorder(df: DataFrame, nFiles: Int, cols: Seq[String]): DataFrame = {
    val nb = 255
    Layout.zorderByRanks(df, nFiles, cols.map { c =>
      referenceRank(col(c), df.stat.approxQuantile(c,
        (1 to nb).map(_.toDouble / (nb + 1)).toArray, 0.01).toSeq)
    }, bits = 8)
  }

  private val values: Seq[Option[Double]] = None +: Seq(Double.NaN, 0.0, -0.0,
    Double.PositiveInfinity, Double.NegativeInfinity, -1e300, 1e300, -5.0, -4.9,
    1.0, 1.5, 2.5, 7.0, 7.5, Double.MinPositiveValue, -Double.MinPositiveValue,
    Double.MaxValue, -Double.MaxValue).map(Some(_))

  private val boundSets: Seq[Seq[Double]] = Seq(
    Seq(-5.0, -0.0, 0.0, 1.0, 1.0, 1.0, 2.5, 7.0), // duplicates, both zeros
    Seq(0.0, -0.0),                                 // equal under Spark's ordering
    Seq(Double.NegativeInfinity, 0.0, Double.PositiveInfinity),
    Seq(1.0, Double.NaN),                           // NaN sorts last
    Seq(3.0),
    Seq.empty,                                      // an all-null column's bounds
    (1 to 255).map(i => i * 0.5 - 60.0))

  /** Rows through a non-local relation, so the projection really runs
    * (ConvertToLocalRelation would fold it at plan time). */
  private def ranked(bounds: Seq[Double]): Seq[(Long, Long)] =
    spark.sparkContext.parallelize(values, 3).toDF("v")
      .select(ZRankExpr.zrank(col("v"), bounds), referenceRank(col("v"), bounds))
      .as[(Long, Long)].collect().toSeq

  private def withConfs[T](kv: (String, String)*)(f: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("ZRankExpr equals the reference rank on nulls, NaN, ±0.0, ±Infinity, outliers, duplicate and empty bounds") {
    for ((mode, wholeStage) <- Seq("CODEGEN_ONLY" -> "true", "NO_CODEGEN" -> "false")) {
      withConfs("spark.sql.codegen.factoryMode" -> mode,
        "spark.sql.codegen.wholeStage" -> wholeStage) {
        boundSets.foreach { bounds =>
          val rs = ranked(bounds)
          assert(rs.size === values.size)
          rs.zip(values).foreach { case ((got, want), v) =>
            assert(got === want, s"$mode v=$v bounds=$bounds")
          }
        }
      }
    }
    // the JVM kernel too, and null → 0 directly
    assert(ZRankExpr.rank(Array(-5.0, -0.0, 0.0, 1.0, 1.0), 1.0) === 5L)
    assert(ZRankExpr.rank(Array(1.0, 2.0), Double.NaN) === 2L)
    assert(ranked(Seq(-1.0)).head === (0L, 0L))
  }

  test("ZRankExpr generates code, and refuses decreasing bounds when the plan is built") {
    val gen = ZRankExpr(BoundReference(0, DoubleType, nullable = true), Seq(2.0, 5.0))
      .genCode(new CodegenContext).code.toString
    assert(gen.contains("ZRankExpr.rank("), gen)
    val df = spark.range(10).select(ZRankExpr.zrank(col("id"), Seq(2.0, 5.0)).as("r"))
    assert(df.as[Long].collect().toSeq === Seq(0L, 0L, 1L, 1L, 1L, 2L, 2L, 2L, 2L, 2L))
    val e = intercept[IllegalArgumentException](ZRankExpr.zrank(col("id"), Seq(2.0, 1.0)))
    assert(e.getMessage.contains("non-decreasing"))
    intercept[IllegalArgumentException](ZRankExpr.zrank(col("id"), Seq(Double.NaN, 1.0)))
  }

  test("one multi-column approxQuantile returns the per-column bounds") {
    val li = Tables.lineitem(spark, sf)
      .withColumn("nothing", lit(null).cast("double"))
      .withColumn("with_nan", when(col("l_linenumber") === 1, lit(Double.NaN))
        .otherwise(col("l_discount")))
    val cols = Seq("l_orderkey", "l_partkey", "l_quantity", "nothing", "with_nan")
    val probs = (1 to 255).map(_ / 256.0).toArray
    val multi = li.stat.approxQuantile(cols.toArray, probs, 0.01)
    cols.zip(multi).foreach { case (c, qs) =>
      assert(qs.toSeq === li.stat.approxQuantile(c, probs, 0.01).toSeq, c)
    }
    assert(multi(3).isEmpty) // all-null column: no bounds, every row ranks 0
  }

  test("OPTIMIZE ZORDER writes the same row sequence in each file as the reference kernel") {
    val t = Files.createTempDirectory("zrank-opt").toString + "/t"
    // distinct (a, b) pairs → distinct Z-values → a total order; a
    // null and a NaN ride along. At most 60 rows per input file: the
    // range partitioner then samples every row, so its split points
    // are fixed by the data alone
    val rows = (for (a <- 0 until 15; b <- 0 until 10) yield
      (a.toLong, if (a == 3 && b == 4) None else Some(b * 1.5 - 4.0), s"r$a-$b")) :+
      ((99L, Some(Double.NaN), "nan"))
    val input = rows.toDF("a", "b", "s")
    DeltaLog.write(spark, input.repartition(3), t)
    val before = DeltaLog.read(spark, t)
    val bytes = DeltaLog.snapshot(spark, t).files.map(_.size).sum
    val nFiles = 3
    val ref = Files.createTempDirectory("zrank-ref").toString + "/ref"
    referenceZorder(before, nFiles, Seq("a", "b")).write.parquet(ref)
    DeltaLog.optimize(spark, t, targetFileBytes = (bytes + nFiles - 1) / nFiles,
      zorderBy = Seq("a", "b"))

    def fileRows(paths: Seq[String]): Seq[Seq[String]] =
      paths.map(p => spark.read.parquet(p).select("s").as[String].collect().toSeq)
        .filter(_.nonEmpty)
    val got = fileRows(DeltaLog.snapshot(spark, t).files.map(_.path).sorted) // absolute
    val want = fileRows(new java.io.File(ref).listFiles().map(_.getPath)
      .filter(_.endsWith(".parquet")).sorted.toSeq)
    assert(got.size > 1, s"expected several files, got ${got.size}")
    assert(got === want)
    assert(got.flatten.sorted === rows.map(_._3).sorted)
  }
}
