package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.ccm.{Ccm, CcmPipeline}
import graft.contract.Tables
import java.nio.file.{Files, Paths}

/** Explain (and time) the PRE-checkpoint ranked-stage plan of the
  * declarative bidirectional CCM chain — the subtree inside the eager
  * `ranked(...).localCheckpoint()` that `Ccm.bidirectional` ran until
  * commit bb7fe5f, which PlanDump cannot see (it captures only the
  * post-checkpoint tail). Dumps BOTH embedding
  * forms so the round-17 structural claim is checkable from files:
  *
  *  - `legacy`  — the pre-r17 shape: one [[CcmPipeline.embedded]] branch
  *    per direction, unioned (two Sorts + two Window passes over the
  *    shared base; ReuseExchange dedupes only the exchange below them);
  *  - `shipped` — [[CcmPipeline.embeddedBoth]]: ONE window pass computing
  *    both directions' leads, split per direction by an in-stage explode.
  *
  * Usage: Test/runMain graft.tools.CcmStagePlan [sfDir] [outDir]
  * With outDir set, writes `<outDir>/ccm_ranked_stage_{legacy,shipped}.txt`
  * (e.g. plans/r17) and prints min-of-3 stage timings for both forms.
  */
object CcmStagePlan {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val outDir = args.lift(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // ccm_curve's input (CcmQueries.curveInput replicated: the per-user
    // lag series over events)
    val w = Window.partitionBy("user_id").orderBy("ts")
    val cin = Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("value").as("x"),
        lag(col("value"), 1).over(w).as("y"))
      .filter(col("y").isNotNull)
      .select(col("user_id").cast("long").as("skey"), col("x"), col("y"), col("ts"))

    // rankedLegacy replicates the retired two-branch union form as of
    // commit 5ed0106 (pre-embeddedBoth HEAD, round 16) — the historical
    // baseline the shipped/legacy plan diff compares against (ADVICE r17
    // item 2: if embedded()/ranked() drift, this stops representing that
    // baseline; check against 5ed0106 before trusting a new diff).
    def rankedLegacy(base: DataFrame, e: Int, tau: Int, samples: Int): DataFrame = {
      def oneDir(src: Column, tgt: Column, dir: String) =
        CcmPipeline.embedded(base, Seq("skey"), Seq(col("ts")), src, tgt, e, tau)
          .withColumn("direction", lit(dir))
      val emb = oneDir($"y", $"x", Ccm.DirXCausesY).unionByName(oneDir($"x", $"y", Ccm.DirYCausesX))
      CcmPipeline.ranked(emb, Seq("skey", "direction"), samples, 42L, col("skey"))
    }
    def rankedShipped(base: DataFrame, e: Int, tau: Int, samples: Int): DataFrame = {
      val emb = CcmPipeline.embeddedBoth(base, Seq("skey"), Seq(col("ts")), $"x", $"y", e, tau)
      CcmPipeline.ranked(emb, Seq("skey", "direction"), samples, 42L, col("skey"))
    }

    def report(tag: String, df: DataFrame): Unit = {
      val pl = df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
      outDir match {
        case Some(d) =>
          Files.createDirectories(Paths.get(d))
          Files.writeString(Paths.get(s"$d/ccm_ranked_stage_$tag.txt"), pl)
          println(s"[ccmstage] $tag plan -> $d/ccm_ranked_stage_$tag.txt")
        case None =>
          println(s"==== ranked-stage plan ($tag, pre-checkpoint) ====")
          println(pl)
      }
      println(s"[ccmstage] $tag Sort count: " + "(?m)^\\([0-9]+\\) Sort".r.findAllIn(pl).size)
      println(s"[ccmstage] $tag Window count: " + "(?m)^\\([0-9]+\\) Window".r.findAllIn(pl).size)
      println(s"[ccmstage] $tag Exchange count: " + "(?m)^\\([0-9]+\\) Exchange".r.findAllIn(pl).size)
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        df.queryExecution.toRdd.count()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[ccmstage] $tag ranked-stage min-of-3: ${times.min}%.3f s (${times.map(t => f"$t%.3f").mkString(", ")})")
    }

    report("legacy", rankedLegacy(cin, 2, 1, 2))
    report("shipped", rankedShipped(cin, 2, 1, 2))
    spark.stop()
  }
}
