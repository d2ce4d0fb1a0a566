package graft.ccm

/** G5/G6 demo surface (`sbt "runMain graft.ccm.CcmDemo"`): the reference's
  * `CoupledSeriesGenerator.run/1` walkthrough (reference
  * `lib/coupled_series_generator.ex:107-143`) — seeded generation, first-10
  * preview (G5 `print_series/1`), bidirectional CCM, expected-direction
  * commentary — on our seeded generator and the local kernel
  * (`Ccm.bidirectionalLocal`, the single-pair API), so it starts no Spark
  * session.
  */
object CcmDemo {

  /** G5: pretty-print the first 10 values + lengths of both series. */
  def printSeries(xs: Array[Double], ys: Array[Double]): Unit = {
    def fmt(a: Array[Double]) = a.take(10).map(v => f"$v%.4f").mkString("[", ", ", ", ...]")
    println(s"X series (${xs.length} points): ${fmt(xs)}")
    println(s"Y series (${ys.length} points): ${fmt(ys)}")
  }

  def main(args: Array[String]): Unit = {
    // seeded generation, the reference demo's coupling (X drives Y)
    val (xs, ys) = Generators.coupledSeries(200, Generators.CoupledParams(coupling = 0.4, noiseLevel = 0.02))
    printSeries(xs, ys)

    val result = Ccm.bidirectionalLocal(xs.toSeq, ys.toSeq, CcmSpec(numSamples = 25))
    def describe(name: String, d: CcmLocal.DirectionResult): Unit = {
      val curve = d.results.map { case (l, r) => f"$l->$r%.3f" }.mkString(", ")
      println(s"$name: convergent=${d.convergent}  skill curve: $curve")
    }
    describe("x_causes_y", result.xCausesY)
    describe("y_causes_x", result.yCausesX)
    // V1 convergence visualization (reference examples.livemd:80-99):
    // terminal chart here; CcmViz.convergenceSpecJson emits the livemd's
    // Vega-Lite document for notebook hosts
    val pts =
      result.xCausesY.results.map { case (l, r) => CcmViz.PlotPoint(l, r, "X → Y") } ++
        result.yCausesX.results.map { case (l, r) => CcmViz.PlotPoint(l, r, "Y → X") }
    println(CcmViz.asciiChart(pts))
    println("Expected: X causes Y should show convergence (skill rising with library size);")
    println("          Y causes X should not.")
    println("CCM_DEMO_DONE")
  }
}
