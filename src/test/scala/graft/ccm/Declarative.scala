package graft.ccm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The declarative CCM chain end to end — [[CcmPipeline.embeddedBoth]] →
  * [[CcmPipeline.ranked]] → [[CcmPipeline.skill]] →
  * [[CcmPipeline.convergence]], composed as the benchmark's layer run
  * composes it — with [[Ccm.bidirectional]]'s arguments and result
  * columns. [[Ccm.bidirectional]] runs the [[CcmLocal]] kernel, so specs
  * that hold the relational plan to values call this instead.
  */
object Declarative {

  def bidirectional(
      df: DataFrame,
      skey: Column,
      order: Seq[String],
      x: Column,
      y: Column,
      spec: CcmSpec,
      libSizes: Seq[Int]
  ): DataFrame = {
    val keys = Seq("skey", "direction")
    val emb = CcmPipeline.embeddedBoth(
      Ccm.wide(df, skey, order, x, y), Seq("skey"), order.map(col), col("x"), col("y"), spec.embeddingDim, spec.tau
    )
    val rk = CcmPipeline
      .ranked(emb, keys, spec.numSamples, spec.seed, col("skey"), spec.consecutive)
      .localCheckpoint()
    val sk = CcmPipeline
      .skill(rk, keys, libSizes, spec.numSamples, spec.embeddingDim, spec.knnBuckets, spec.knnAutoFactor,
        spec.reuseDistances, spec.fusedTopK)
      .localCheckpoint()
    sk.join(CcmPipeline.convergence(sk, keys), keys)
      .select("skey", "direction", "lib_size", "rho", "slope", "convergent")
  }
}
