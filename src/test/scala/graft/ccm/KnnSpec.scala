package graft.ccm

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.functions.ExactMath

/** The leave-one-out kNN primitive (graft.ccm.Knn) against a plain Scala
  * brute force: embedding, neighbor sets, distances and weights must agree
  * BIT for bit (same IEEE operations in the same order), including the
  * edge cases the EDM modules lean on — distance ties broken by idx,
  * self-exclusion, k at or past the library size, and a constant series.
  */
class KnnSpec extends SparkTestBase {

  /** (q_idx, l_idx, dist, w) for every kept neighbor, sorted. */
  private def bruteForce(v: Array[Double], e: Int, tau: Int, k: Int): Seq[(Long, Long, Double, Double)] = {
    val pts = (0 to v.length - 1 - (e - 1) * tau).map(i => (0 until e).map(j => v(i + j * tau)))
    pts.indices.flatMap { q =>
      val nn = pts.indices
        .filter(_ != q)
        .map { l =>
          val d = math.sqrt((0 until e).map(j => (pts(q)(j) - pts(l)(j)) * (pts(q)(j) - pts(l)(j))).reduce(_ + _))
          (d, l)
        }
        .sortBy(identity)
        .take(k)
      val dmin = nn.map(_._1).min
      nn.map { case (d, l) =>
        (q.toLong, l.toLong, d, if (d < 1e-12) 1.0 else ExactMath.exp((-d) / (dmin + 1e-8)))
      }
    }.sorted
  }

  private def engine(series: Map[Long, Array[Double]], e: Int, tau: Int, k: Int) = {
    import spark.implicits._
    val df = series.toSeq.flatMap { case (s, v) => v.indices.map(i => (s, i.toLong, v(i))) }.toDF("skey", "ord", "v")
    val emb = Knn.embed(df, Seq("skey"), Seq(col("ord")), col("v"), e, tau).filter(col(s"e${e - 1}").isNotNull)
    Knn
      .weighted(emb, Seq("skey"), e, k)
      .select("skey", "q_idx", "l_idx", "dist", "w")
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))))
      .groupMap(_._1)(_._2)
      .map { case (s, rows) => s -> rows.toSeq.sorted }
  }

  private def quantised(n: Int, seed: Int): Array[Double] = {
    val rng = new scala.util.Random(seed)
    Array.fill(n)(math.round(rng.nextDouble() * 10) / 10.0)
  }

  test("embed: dense idx from 0 and forward-lag coordinates; tail rows carry nulls") {
    import spark.implicits._
    val v = Array(1.0, 2.0, 3.0, 4.0, 5.0, 6.0)
    val df = v.indices.map(i => (7L, (100 - i).toLong, v(i))).toDF("skey", "ord", "v")
    // ord falls as i rises: in time order the series runs 6, 5, .., 1
    val got = Knn
      .embed(df, Seq("skey"), Seq(col("ord")), col("v"), 2, 2, Seq(("f", col("v") * 10, 1)))
      .orderBy("idx")
      .collect()
      .map(r => (r.getLong(1), Option(r.get(2)), Option(r.get(3)), Option(r.get(4))))
      .toSeq
    val rev = v.reverse
    val want = rev.indices.map { i =>
      def at(j: Int) = if (j < rev.length) Some(rev(j)) else None
      (i.toLong, at(i), at(i + 2), at(i + 1).map(_ * 10))
    }
    assert(got == want)
  }

  test("quantised series: ties resolve by (dist, idx), bit-identical to brute force") {
    val series = Map(1L -> quantised(40, 1), 2L -> quantised(33, 2), 3L -> quantised(25, 3))
    for ((e, tau) <- Seq((1, 1), (2, 1), (3, 2))) {
      val got = engine(series, e, tau, e + 1)
      series.foreach { case (s, v) =>
        val want = bruteForce(v, e, tau, e + 1)
        assert(got(s) == want, s"series $s E=$e tau=$tau")
      }
    }
  }

  test("leave-one-out: no self pair, and k >= rows - 1 keeps every other row") {
    val v = quantised(12, 9)
    val rows = v.length
    for (k <- Seq(rows - 1, rows, rows + 5)) {
      val got = engine(Map(1L -> v), 1, 1, k)(1L)
      assert(got.forall { case (q, l, _, _) => q != l })
      assert(got.groupBy(_._1).values.forall(_.size == rows - 1), s"k=$k")
      assert(got == bruteForce(v, 1, 1, k))
    }
  }

  test("constant series: every distance is 0 and every weight is 1") {
    val got = engine(Map(5L -> Array.fill(15)(0.3)), 2, 1, 3)(5L)
    assert(got.size == 14 * 3)
    assert(got.forall { case (_, _, d, w) => d == 0.0 && w == 1.0 })
    // all-tied: the neighbors are the 3 smallest other idx
    assert(got.filter(_._1 == 0L).map(_._2) == Seq(1L, 2L, 3L))
    assert(got.filter(_._1 == 2L).map(_._2) == Seq(0L, 1L, 3L))
  }

  test("guardedRho: Pearson rho at 6 dp, degenerate groups 0.0") {
    import spark.implicits._
    val a = Seq(1.0, 2.0, 4.0, 3.0, 7.0)
    val p = Seq(1.5, 1.9, 3.5, 3.8, 6.1)
    val rows = a.zip(p).map { case (x, y) => (1, x, y) } ++ // regular
      a.map(x => (2, x, 0.4)) ++ // zero predicted variance
      Seq((3, 1.0, 2.0)) // one row: null moments
    val got = Knn
      .guardedRho(rows.toDF("g", "a", "p").groupBy("g"), col("a"), col("p"), count(lit(1)).as("n"))
      .select("g", "n", "rho")
      .collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    val (ma, mp) = (a.sum / a.size, p.sum / p.size)
    val cov = a.zip(p).map { case (x, y) => (x - ma) * (y - mp) }.sum
    val r = cov / math.sqrt(a.map(x => (x - ma) * (x - ma)).sum * p.map(y => (y - mp) * (y - mp)).sum)
    assert(got(1)._1 == 5L && math.abs(got(1)._2 - r) < 1e-6)
    assert(got(1)._2 == BigDecimal(got(1)._2).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(got(2) == ((5L, 0.0)))
    assert(got(3) == ((1L, 0.0)))
  }
}
