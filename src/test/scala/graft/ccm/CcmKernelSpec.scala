package graft.ccm

import java.lang.Double.doubleToRawLongBits

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.{forAll, propBoolean}

/** Differential spec: the production [[CcmKernel]] against the brute-force
  * [[CcmLocal]] it replaces. Every rho must carry the same raw bits, every
  * `convergent` flag and every ladder must be equal.
  */
object CcmKernelSpec extends Properties("graft.ccm.CcmKernel") {

  private def sameBits(a: CcmLocal.BidirectionalResult, b: CcmLocal.BidirectionalResult): Prop = {
    def dir(name: String, x: CcmLocal.DirectionResult, y: CcmLocal.DirectionResult): Prop =
      (x.results.map(_._1) == y.results.map(_._1)) :| s"$name ladder ${x.results} vs ${y.results}" &&
        (x.results.map(r => doubleToRawLongBits(r._2)) == y.results.map(r => doubleToRawLongBits(r._2))) :|
        s"$name rho ${x.results} vs ${y.results}" &&
        (x.convergent == y.convergent) :| s"$name convergent ${x.convergent} vs ${y.convergent}"
    dir("x_causes_y", a.xCausesY, b.xCausesY) && dir("y_causes_x", a.yCausesX, b.yCausesX)
  }

  private def agrees(x: Array[Double], y: Array[Double], spec: CcmSpec, key: Long): Prop =
    sameBits(CcmKernel.bidirectional(x, y, spec, key), CcmLocal.bidirectional(x, y, spec, key)) :|
      s"spec=$spec key=$key x=${x.mkString(",")} y=${y.mkString(",")}"

  /** Coupled logistic maps, optionally quantised to 0.1 (distance ties) or
    * with runs of repeated points (exact hits, the weight-1.0 path).
    */
  private val seriesGen: Gen[(Array[Double], Array[Double])] = for {
    n <- Gen.frequency(1 -> Gen.choose(0, 6), 1 -> Gen.const(7), 6 -> Gen.choose(8, 40))
    coupling <- Gen.choose(0.0, 0.4)
    seed <- Gen.choose(0L, 10000L)
    shape <- Gen.oneOf("raw", "quantised", "duplicated", "constant")
  } yield {
    val (x, y) = Generators.coupledSeries(n, Generators.CoupledParams(coupling = coupling, seed = seed))
    def shaped(s: Array[Double]): Array[Double] = shape match {
      case "quantised"  => s.map(v => math.round(v * 10) / 10.0)
      case "duplicated" => s.indices.map(i => s(i - i % 3)).toArray
      case "constant"   => s.map(_ => 0.5)
      case _            => s
    }
    // a constant x against a varying y
    (shaped(x), if (shape == "constant") y else shaped(y))
  }

  private def specGen(n: Int): Gen[CcmSpec] = for {
    e <- Gen.oneOf(1, 2, 3)
    tau <- Gen.oneOf(1, 2)
    samples <- Gen.choose(1, 3)
    seed <- Gen.choose(0L, 1000L)
    ladder <- Gen.oneOf(
      Gen.const(None),
      Gen.const(Some(Seq(-1, 0, 1, 2, n - 2, n - 1, n, n + 3))),
      Gen.choose(1, 6).flatMap(Gen.listOfN(_, Gen.choose(-2, n + 2))).map(Some(_))
    )
    buckets <- Gen.oneOf(0, 0, 2, 3, 5)
    consecutive <- Gen.oneOf(false, false, true)
  } yield CcmSpec(
    embeddingDim = e,
    tau = tau,
    libSizes = ladder,
    numSamples = samples,
    seed = seed,
    knnBuckets = buckets,
    knnAutoFactor = 0,
    consecutive = consecutive
  )

  private val caseGen = for {
    (x, y) <- seriesGen
    spec <- specGen(x.length)
    key <- Gen.choose(-5L, 5L)
  } yield (x, y, spec, key)

  override def overrideParameters(p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(500)

  property("equals CcmLocal bit for bit on small series") = forAll(caseGen) { case (x, y, spec, key) =>
    agrees(x, y, spec, key)
  }

  property("equals CcmLocal bit for bit on a long series with several samples") = {
    // an auto ladder of 19 rungs over 598 rows, each sample walking its
    // rungs through one growing library per query
    val (x, y) = Generators.coupledSeries(600, Generators.CoupledParams(coupling = 0.2))
    val spec = CcmSpec(numSamples = 2)
    agrees(x, y, spec, 3L) && agrees(x, y, spec.copy(knnBuckets = 8, knnAutoFactor = 0), 3L)
  }
}
