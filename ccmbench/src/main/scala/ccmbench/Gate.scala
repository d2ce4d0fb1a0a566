package ccmbench

import graft.ccm.{Ccm, CcmLocal}

/** Correctness gate: every call's rows against the executable spec
  * (`CcmLocal.bidirectional` on the same generated series), with the
  * tolerance `CcmPipelineSpec` uses.
  */
object Gate {
  val RhoTolerance = 1e-9

  def expected(w: Workload, s: Series): CcmLocal.BidirectionalResult =
    CcmLocal.bidirectional(s.x, s.y, w.pinned, s.skey)

  /** Why `rows` (one call's output for the series `keys`) is wrong; empty
    * when it is right. Every series must have exactly one row per
    * (direction, rung); the series in `spec` must also match it in rho
    * (within [[RhoTolerance]]) and `convergent`.
    */
  def mismatches(
      w: Workload,
      rows: Seq[Out],
      keys: Set[Long],
      spec: Map[Long, CcmLocal.BidirectionalResult]
  ): Seq[String] = {
    val bySeries = rows.groupBy(_.skey)
    val stray = (bySeries.keySet -- keys).toSeq.sorted.map(k => s"series $k is not in the input")
    val perSeries = keys.toSeq.sorted.flatMap { k =>
      val got = bySeries.getOrElse(k, Seq.empty)
      val count =
        if (got.size == 2 * w.ladder.size) Nil
        else Seq(s"series $k: ${got.size} rows, expected ${2 * w.ladder.size}")
      val values = spec.get(k).toSeq.flatMap { exp =>
        Seq(Ccm.DirXCausesY -> exp.xCausesY, Ccm.DirYCausesX -> exp.yCausesX).flatMap { case (dir, d) =>
          d.results.flatMap { case (l, rho) =>
            got.filter(r => r.direction == dir && r.libSize == l) match {
              case Seq(r) if !(math.abs(r.rho - rho) <= RhoTolerance) =>
                Seq(s"series $k $dir L=$l: rho ${r.rho}, spec $rho")
              case Seq(r) if r.convergent != d.convergent =>
                Seq(s"series $k $dir L=$l: convergent ${r.convergent}, spec ${d.convergent}")
              case Seq(_) => Nil
              case rs => Seq(s"series $k $dir L=$l: ${rs.size} rows")
            }
          }
        }
      }
      count ++ values
    }
    stray ++ perSeries
  }

  /** The spec's answer in the engine's row shape. */
  def asRows(s: Series, r: CcmLocal.BidirectionalResult): Seq[Out] =
    Seq(Ccm.DirXCausesY -> r.xCausesY, Ccm.DirYCausesX -> r.yCausesX).flatMap { case (dir, d) =>
      d.results.map { case (l, rho) => Out(s.skey, dir, l, rho, d.convergent) }
    }

  /** The gate must reject a wrong answer, or `failed = 0` means nothing:
    * on a tiny series, the spec's own rows pass, and a perturbed rho, a
    * dropped row and a flipped `convergent` each fail. Returns the problems.
    */
  def selfTest(): Seq[String] = {
    val w = Workload("self_test", 1, 40, graft.ccm.CcmSpec(numSamples = 3), perSeries = false, checked = 1)
    val s = Workloads.series(7L, 3L, w.points, 0L, Workloads.couplings(3))
    val exp = expected(w, s)
    val good = asRows(s, exp)
    val spec = Map(s.skey -> exp)
    def caught(rows: Seq[Out]) = mismatches(w, rows, Set(s.skey), spec).nonEmpty
    val perturbed = good.updated(1, good(1).copy(rho = good(1).rho + 1e-6))
    val flipped = good.updated(0, good(0).copy(convergent = !good(0).convergent))
    Seq(
      "the spec's own rows fail the gate" -> caught(good),
      "a rho perturbed by 1e-6 passes the gate" -> !caught(perturbed),
      "a dropped row passes the gate" -> !caught(good.tail),
      "a flipped convergent passes the gate" -> !caught(flipped),
      "a duplicated row passes the gate" -> !caught(good :+ good.head)
    ).collect { case (problem, true) => problem }
  }
}
