package graft.tools

import graft.{BenchCanary, ExtraConf, SparkEntry}

/** Fresh-JVM sf1-baseline seeding (VERDICT r16 item 3).
  *
  * The r16 `ccm_wide` episode showed why ≥15 s sf1 seeds must come from
  * this protocol and not from in-session gate windows: the same binary
  * read 2.33x (tail of a 283-query min-of-3 session), 1.20x (fresh JVM)
  * and 0.95x (driver artifact) in one day — session-tail cold-plan and
  * bookkeeping state dominates min-of-1 windows at this cost class, and
  * every above-bar reading triggered a recurring manual adjudication.
  *
  * Protocol, per invocation (= ONE fresh JVM):
  *  1. the Bench session ([[ExtraConf.session]]: local[SPARK_GRAFT_CPUS],
  *     shuffle partitions = cpus, UTC, extra confs via
  *     SPARK_GRAFT_SPARK_CONF);
  *  2. generate-or-reuse the 10x replica with the shared content stamp;
  *  3. Bench's exact JIT warmup (ccm_curve + ccm_convergence at sf0.001);
  *  4. canary evidence: 3 scan-shuffle + 2 pair-join samples before, one
  *     of each after — the run is QUIET-certifiable iff the scan-shuffle
  *     min is at Bench's AbsQuietBaseSec level (<= 0.12 s) and the pair
  *     min <= 0.165 s, the same absolute criteria the gate verdicts use;
  *  5. each named query runs ONCE against the replica (the gate's own
  *     measurement: queryExecution.toRdd.count()), persistent RDDs freed
  *     between queries.
  *
  * Seed = per-query MIN over >= 3 invocations whose canary evidence was
  * quiet ("fresh-JVM min-of-3"); record the protocol next to the numbers
  * in BenchBaseline.sf1MinSec.
  *
  * Run: SPARK_GRAFT_CPUS=32 sbt -batch "runMain graft.tools.Sf1Seed q1 q2 ..."
  * (defaults to the >= 15 s panel entries when no args are given; the
  * literal arg ALL times every contract query).
  *
  * SPARK_GRAFT_SEED_DIR overrides the measurement input (skipping replica
  * generation) — with SPARK_GRAFT_MASTER this doubles as the one-pass
  * per-query timer for topology comparisons (VERDICT r16 item 5: the same
  * query panel timed under local[32] and local-cluster[2,16,16384] at
  * sf0.1, fresh JVM each, canary-stamped).
  */
object Sf1Seed {

  private val DefaultNames = Seq(
    "ccm_wide", "dedup_substring", "graph_hits", "graph_betweenness",
    "stream_session_builtin", "ann_recall_eval", "ccm_surrogate_fft"
  )

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = ExtraConf.session(defaultCpus = 32, appName = Some("graft-sf1-seed"))

    val dst = sys.env.get("SPARK_GRAFT_SEED_DIR") match {
      case Some(d) => d // measure this dir as-is (topology comparisons)
      case None =>
        val d = "/tmp/graft_bench_sf1"
        ScaleGen.ensureReplica(spark, sfDir, d, copies = 10)
        d
    }

    for (w <- Seq("ccm_curve", "ccm_convergence"))
      try SparkEntry.queries(w)(spark, "/root/testdata/sf0.001").queryExecution.toRdd.count()
      catch { case _: Throwable => () }
    BenchCanary.scanShuffleOnce(spark) // warm both canaries' codegen
    BenchCanary.pairJoinOnce(spark)

    val cB = (1 to 3).map(_ => BenchCanary.scanShuffleOnce(spark))
    val pB = (1 to 2).map(_ => BenchCanary.pairJoinOnce(spark))

    val names =
      if (args.toSeq == Seq("ALL")) SparkEntry.queries.keys.toSeq.sorted
      else if (args.nonEmpty) args.toSeq
      else DefaultNames
    val timed = names.map { name =>
      SparkEntry.queries.get(name) match {
        case None => name -> None
        case Some(fn) =>
          val t0 = System.nanoTime()
          val sec =
            try {
              fn(spark, dst).queryExecution.toRdd.count()
              Some((System.nanoTime() - t0) / 1e9)
            } catch {
              case e: Throwable =>
                System.err.println(s"[sf1seed] $name FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
                None
            }
          spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
          name -> sec
      }
    }
    val cA = BenchCanary.scanShuffleOnce(spark)
    val pA = BenchCanary.pairJoinOnce(spark)

    val canaryMin = (cB :+ cA).min
    val pairMin = (pB :+ pA).min
    // Bench's absolute quiet-host criteria (AbsQuietBaseSec / PairAbsQuietBaseSec)
    val quiet = canaryMin <= 0.12 && pairMin <= 0.165
    val qJson = timed
      .map { case (k, v) => "\"" + k + "\":" + v.map(s => f"$s%.3f").getOrElse("null") }
      .mkString("{", ",", "}")
    println(
      f"""SF1SEED {"queries":$qJson,"canary_min":$canaryMin%.3f,"canary_max":${(cB :+ cA).max}%.3f,"pair_min":$pairMin%.3f,"pair_max":${(pB :+ pA).max}%.3f,"quiet":$quiet,"sf":"$sfDir"}"""
    )
    spark.stop()
  }
}
