package graft.ccm

import java.lang.Double.doubleToRawLongBits
import java.sql.Timestamp

import graft.SparkTestBase
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.forAllNoShrink

/** ScalaCheck property: the CCM runner orders a series as Spark's own sort
  * does. A generated series, its rows shuffled over 1-4 input partitions,
  * must give through the API the raw bits [[CcmKernel]] gives on the same
  * series laid out by `orderBy` on its order columns; and two order values
  * that Spark's ordering ties must fail, naming the series.
  */
class OrderParitySpec extends SparkTestBase {

  private val spec = CcmSpec(embeddingDim = 2, numSamples = 3, seed = 11)
  private val libSizes = Seq(8, 16, 24)
  private val n = 32

  /** An order column kind: its fields, a generator of n order tuples that
    * are distinct under Spark's ordering, and named pairs of tuples it ties.
    */
  private final case class Kind(
      name: String, fields: Seq[StructField], values: Gen[Seq[Seq[Any]]], ties: Seq[(String, Seq[Any], Seq[Any])]
  )

  /** n distinct longs in a random spread, unordered. */
  private val distinctLongs: Gen[Seq[Long]] = for {
    base <- Gen.choose(-1000000000000L, 1000000000000L)
    gaps <- Gen.listOfN(n, Gen.choose(1L, 1000000000L))
  } yield gaps.scanLeft(base)(_ + _).tail

  /** Shifts [[distinctLongs]] past 1970 (the gaps add at most 3.2e10). */
  private val Epoch = 2000000000000L

  private def micros(m: Long): Timestamp = Timestamp.from(java.time.Instant.EPOCH.plus(m, java.time.temporal.ChronoUnit.MICROS))

  private val kinds = Seq(
    // one null at most: nulls sort first
    Kind(
      "long",
      Seq(StructField("ord", LongType)),
      for (ls <- distinctLongs; withNull <- Gen.oneOf(false, true))
        yield ls.map(Seq(_)).updated(0, Seq(if (withNull) null else ls.head)),
      Seq(("two nulls", Seq(null), Seq(null)))
    ),
    // -0.0 or 0.0 (not both), NaN and the infinities among finite values
    Kind(
      "double",
      Seq(StructField("ord", DoubleType)),
      for (ls <- distinctLongs; zero <- Gen.oneOf(0.0, -0.0))
        yield (ls.drop(4).map(_ / 1e6).filter(_ != 0.0) ++ Seq(zero, Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity))
          .padTo(n, 0.5e-7).map(Seq(_)),
      Seq(("-0.0 and 0.0", Seq(-0.0), Seq(0.0)), ("two NaNs", Seq(Double.NaN), Seq(Double.NaN)))
    ),
    // U+FF21 sorts after U+1F600 in UTF-16 but before it in UTF-8, Spark's order
    Kind(
      "string",
      Seq(StructField("ord", StringType)), {
        val alphabet = Seq("a", "\u00E9", "\uFF21", "\uD83D\uDE00")
        val words = for (i <- alphabet; j <- "" +: alphabet; k <- "" +: alphabet) yield i + j + k
        Gen.pick(n, words.distinct).map(_.toSeq.map(Seq(_)))
      },
      Seq(("two nulls", Seq(null), Seq(null)))
    ),
    Kind("timestamp", Seq(StructField("ts", TimestampType)), distinctLongs.map(_.map(m => Seq(micros(m + Epoch)))), Nil),
    // (ts, user_id) as ccm_wide folds users: ts repeats, the pair does not
    Kind(
      "(ts, user_id)",
      Seq(StructField("ts", TimestampType), StructField("user_id", LongType)),
      for (ts <- distinctLongs; users <- Gen.pick(n, for (t <- 0 until n / 4; u <- 0L until 8L) yield (t, u)))
        yield users.toSeq.map { case (t, u) => Seq(micros(ts(t) + Epoch), u) },
      Seq(("a repeated pair", Seq(micros(5L), 1L), Seq(micros(5L), 1L)))
    )
  )

  /** One generated case: the series key, the order tuple of each point,
    * the input's row order and its number of partitions.
    */
  private def caseGen(kind: Kind): Gen[(Long, Seq[Seq[Any]], Seq[Int], Int)] = for {
    key <- Gen.choose(-3L, 3L)
    values <- kind.values
    draws <- Gen.listOfN(n, Gen.choose(0L, Long.MaxValue))
    parts <- Gen.choose(1, 4)
  } yield (key, values, (0 until n).sortBy(draws), parts)

  private val (xs, ys) = Generators.coupledLogisticMaps(n, 0.3)

  /** Point i (x_i, y_i) at order values(i); rows fed in `rowOrder`. */
  private def input(kind: Kind, key: Long, values: Seq[Seq[Any]], rowOrder: Seq[Int], parts: Int): DataFrame = {
    val schema = StructType(Seq(StructField("skey", LongType), StructField("x", DoubleType), StructField("y", DoubleType)) ++ kind.fields)
    val rows = rowOrder.map(i => Row.fromSeq(Seq[Any](key, xs(i), ys(i)) ++ values(i)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), schema)
  }

  /** (direction, lib_size) -> raw bits of rho and slope, and convergent. */
  private def bits(rows: Seq[Row]): Map[(String, Int), (Long, Long, Boolean)] =
    rows.map { r =>
      (r.getAs[String]("direction"), r.getAs[Int]("lib_size")) ->
        (doubleToRawLongBits(r.getAs[Double]("rho")), doubleToRawLongBits(r.getAs[Double]("slope")), r.getAs[Boolean]("convergent"))
    }.toMap

  /** The kernel on the series in `orderBy`'s order, as result rows. */
  private def expected(df: DataFrame, order: Seq[String], key: Long): Map[(String, Int), (Long, Long, Boolean)] = {
    val sorted = df.orderBy(order.map(col): _*).select("x", "y").collect()
    val res = CcmKernel.bidirectional(sorted.map(_.getDouble(0)), sorted.map(_.getDouble(1)), spec.copy(libSizes = Some(libSizes)), key)
    Seq(Ccm.DirXCausesY -> res.xCausesY, Ccm.DirYCausesX -> res.yCausesX).flatMap { case (d, r) =>
      val slope = CcmLocal.olsSlope(r.results)
      r.results.map { case (l, rho) => (d, l) -> (doubleToRawLongBits(rho), doubleToRawLongBits(slope), r.convergent) }
    }.toMap
  }

  private def bidirectional(df: DataFrame, order: Seq[String]): Seq[Row] =
    Ccm.bidirectional(df, col("skey"), order, col("x"), col("y"), spec, libSizes).collect().toSeq

  private def check(p: Prop): Unit = {
    val r = Test.check(Test.Parameters.default.withMinSuccessfulTests(6).withWorkers(1), p)
    assert(r.passed, org.scalacheck.util.Pretty.pretty(r))
  }

  for (kind <- kinds) {
    val order = kind.fields.map(_.name)

    test(s"a ${kind.name} order places every point as Spark's sort does, bit for bit") {
      check(forAllNoShrink(caseGen(kind)) { case (key, values, rowOrder, parts) =>
        val df = input(kind, key, values, rowOrder, parts)
        val want = expected(df, order, key)
        assert(want.size == 2 * libSizes.size)
        assert(bits(bidirectional(df, order)) == want, s"Ccm.bidirectional, key $key")
        // perSeries reads a long `ord`
        if (kind.name == "long") assert(bits(Ccm.perSeries(df, spec, Some(libSizes)).toDF().collect().toSeq) == want)
        true
      })
    }

    for ((tie, a, b) <- kind.ties)
      test(s"a ${kind.name} order with $tie, tied by Spark's ordering, fails, naming the series") {
        check(forAllNoShrink(caseGen(kind), Gen.pick(2, 0 until n)) { case ((key, values, rowOrder, parts), at) =>
          val tied = values.updated(at(0), a).updated(at(1), b)
          val err = intercept[Exception](bidirectional(input(kind, key, tied, rowOrder, parts), order))
          val chain = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null).toSeq
          assert(
            chain.exists(t => t.isInstanceOf[IllegalArgumentException] && t.getMessage.contains(s"series $key repeats")),
            err.getMessage
          )
          true
        })
      }
  }
}
