package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Relational

/** Oracle-parity proof harness for the r18 long-cents rewrite of
  * agg_group (r17 VERDICT item 3): the rewrite is only admissible if
  * (1) the cents extraction ⌊x·100+0.5⌋ equals the decimal cast's
  *     cents on an EXHAUSTIVE range of 2-decimal doubles, including
  *     every .x5 boundary, negatives, and money-scale magnitudes;
  * (2) the actual data universe contains only such doubles (a 3-decimal
  *     value like 0.615 rounds differently under the two paths — the
  *     corpus audit makes that a checked contract, not an assumption);
  * (3) the full rewritten aggregation is bit-identical to the decimal
  *     reference on real data.
  */
class DecimalCentsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session
  import spark.implicits._

  /** The decimal path's cents: CAST(x AS DECIMAL(12,2)) · 100 — exact
    * integer, the per-row semantics of the pre-r18 aggregation. */
  private def decCents(c: org.apache.spark.sql.Column) =
    (c.cast(DecimalType(12, 2)) * 100).cast(LongType)

  test("cents == decimal cents on the exhaustive ±.x5 boundary range") {
    // every cent value in [-100.00, 100.00] — includes every half-up
    // boundary the decimal cast can see on 2-decimal input — plus
    // money-scale magnitudes around the corpus max (1e5) and beyond
    val ks = (-10000L to 10000L) ++
      (0L to 2000L).map(_ * 7919L + 10000000L) ++ // ~1e7–2.6e7 cents
      Seq(104999_91L, 499993_18L, 999999999_99L, -999999999_99L)
    val df = ks.toDF("k").select((col("k") / 100.0).as("x"))
    val mismatch = df.select(
        Relational.cents(col("x")).as("fast"), decCents(col("x")).as("ref"))
      .filter("fast != ref OR fast IS NULL").count()
    assert(mismatch === 0)
  }

  test("3-decimal inputs WOULD diverge — the corpus audit below is load-bearing") {
    // 0.145 stores as 0.14499999…: the decimal cast rounds its shortest
    // repr ("0.145") half-up to 0.15 while x·100 rounds to a double
    // strictly below 14.5, so the fast path floors to 14 — the two
    // paths differ, so 2-decimal purity of the data is a necessary
    // precondition, checked (not assumed) by the next test. (Not every
    // .xx5 value diverges — for many, the double multiply rounds back
    // up to exactly .5 — but these provably do.)
    val div = Seq(0.145, 1.005).toDF("x")
      .select(Relational.cents(col("x")).as("fast"), decCents(col("x")).as("ref"))
      .filter("fast != ref").count()
    assert(div === 2L)
  }

  test("corpus audit: every aggregated money/quantity column is pure 2-decimal") {
    val d = "/root/testdata/sf0.01"
    val li = Tables.lineitem(spark, d)
    val bad = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax").map { c =>
      li.select(Relational.cents(col(c)).as("fast"), decCents(col(c)).as("ref"))
        .filter("fast != ref").count()
    }.sum
    val badOrders = Tables.orders(spark, d)
      .select(Relational.cents(col("o_totalprice")).as("fast"),
        decCents(col("o_totalprice")).as("ref"))
      .filter("fast != ref").count()
    assert(bad + badOrders === 0L)
  }

  test("agg_group long-cents output is bit-identical to the decimal reference") {
    val d = "/root/testdata/sf0.01"
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .orderBy("l_returnflag", "l_linestatus")
      .collect().map(_.toSeq.map {
        case x: Double => java.lang.Double.doubleToLongBits(x).toString
        case x => String.valueOf(x)
      }.mkString("|")).toSeq
    val newRows = rows(Relational.queries("agg_group")(spark, d))
    val refRows = rows(Relational.aggGroupDecimalRef(spark, d))
    assert(newRows === refRows)
    // and on an adversarial fixture: sums crossing 2^53 in the x10000
    // domain (the double-division trap centsOutD exists to avoid)
    val big = (1 to 64).map(i => ("A", "F", 104999.91, 104999.91, 0.05))
      .toDF("l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice", "l_discount")
    big.createOrReplaceTempView("cents_big")
    val a = Relational.cents(col("l_extendedprice"))
    val sumNew = big.agg(
      ((sum(a * (lit(100L) - Relational.cents(col("l_discount"))))
        .cast(DecimalType(38, 0))) / lit(10000L)).cast("double")).head.getDouble(0)
    val sumRef = big.agg(
      sum(col("l_extendedprice").cast(DecimalType(12, 2)) *
        (lit(1).cast(DecimalType(3, 2)) - col("l_discount").cast(DecimalType(12, 2))))
        .cast("double")).head.getDouble(0)
    assert(java.lang.Double.doubleToLongBits(sumNew) ===
      java.lang.Double.doubleToLongBits(sumRef))
  }

  test("agg_group outside the long-cents envelope raises instead of wrapping") {
    // ten rows of 1e14 at no discount: each x10000 product (1e18) fits a
    // long, their sum (1e19) does not. The session pins ANSI mode, so the
    // SUM throws rather than returning a wrapped negative total.
    val d = java.nio.file.Files.createTempDirectory("graft_cents_overflow").toString
    Seq.fill(10)(("A", "F", 1.0, 1.0e14, 0.0))
      .toDF("l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice", "l_discount")
      .write.parquet(s"$d/lineitem.parquet")
    val e = intercept[Exception] {
      Relational.queries("agg_group")(spark, d).collect()
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[ArithmeticException]), e)
  }
}
