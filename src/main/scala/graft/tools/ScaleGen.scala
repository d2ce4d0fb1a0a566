package graft.tools

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Generate an ~sf1-equivalent dataset in a TEMP dir (never touches the
  * read-only /root/testdata) by deterministic 10x replication of sf0.1 —
  * the scale-measurement input for SCALE.md (VERDICT r7 item 2) and for
  * Bench's standing sf1 mini-gate (VERDICT r13 item 6). Run manually:
  *   sbt "runMain graft.tools.ScaleGen /root/testdata/sf0.1 /tmp/graft_sf1 10"
  *
  * Replication is distribution-preserving per family:
  *  - events / lineitem / orders / customer: key-offset copies (user,
  *    order, customer keys shifted per copy; part/supplier keys stay in
  *    the dim domain, and user offsets are multiples of 80·10⁵ so the
  *    wide-series foldings user_id % M land copies on the SAME folded
  *    series — per-series length genuinely scales 10x, as at a real sf1).
  *  - documents: per-copy word-SUBSTITUTION CIPHER over the corpus vocab
  *    (word w -> vocab[(idx(w) + 17k) mod V]). Within-copy structure —
  *    dup families, repetition, doc lengths in words — is preserved
  *    exactly; across copies texts share no vocabulary, so exact/near/
  *    substring dup rates scale like independent batches instead of
  *    exploding quadratically (10 verbatim twins per doc would be a
  *    different workload, not a bigger one).
  *  - embeddings: per-copy dimension permutation + sign flips (variance-
  *    preserving orthogonal maps), so marginals and within-copy
  *    neighborhood structure survive while cross-copy cosines are
  *    random.
  *  - region/nation/supplier/part: copied verbatim (dims stay sublinear
  *    in SF, exactly like TPC-H).
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("/tmp/graft_sf1")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = graft.ExtraConf.session(defaultCpus = 32, Some("scale-gen"))
    generate(spark, src, dst, copies)
    spark.stop()
  }

  /** Generate-or-reuse with a content stamp (shared by Bench's sf1 gate
    * and Sf1Seed so the two can never disagree about replica identity):
    * the marker file carries every input that changes the replica's
    * CONTENT — a degenerate-corpus run (SPARK_GRAFT_DEGENERATE=1, the
    * SCALE.md adversarial experiment) must not leave a cache a normal
    * run reuses.
    */
  def ensureReplica(spark: SparkSession, src: String, dst: String, copies: Int): Unit = {
    val marker = Paths.get(s"$dst/_GRAFT_SCALEGEN_OK")
    val degenerate = sys.env.get("SPARK_GRAFT_DEGENERATE").contains("1")
    val stamp = s"$src x$copies degenerate=$degenerate"
    if (!(Files.exists(marker) && Files.readString(marker) == stamp)) {
      generate(spark, src, dst, copies)
      Files.writeString(marker, stamp)
    }
    ()
  }

  /** Writes the replica under an EXISTING session — callable from Bench's
    * standing sf1 mini-gate as well as the manual main above.
    */
  def generate(spark: SparkSession, src: String, dst: String, copies: Int): Unit = {
    Files.createDirectories(Paths.get(dst))

    def copyDim(name: String): Unit =
      Files.copy(
        Paths.get(s"$src/$name.parquet"),
        Paths.get(s"$dst/$name.parquet"),
        StandardCopyOption.REPLACE_EXISTING
      )
    Seq("region", "nation", "supplier", "part").foreach(copyDim)

    def replicate(df: DataFrame)(shift: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until copies).map(k => shift(df, k)).reduce(_ unionByName _)

    // ---- events: user/event key offsets (8e6 is a multiple of every
    // fold modulus in the contract: 80, 40, 8, 5, 2) ----
    val ev = graft.contract.Tables.events(spark, src)
    replicate(ev) { (d, k) =>
      d.select(
        (col("event_id") + lit(k.toLong * 100000000L)).as("event_id"),
        col("ts"),
        (col("user_id") + lit(k.toLong * 8000000L)).as("user_id"),
        col("event_type"),
        col("value"),
        col("props")
      )
    }.repartition(32).write.mode("overwrite").parquet(s"$dst/events.parquet")

    // ---- TPC-H facts: order/customer key offsets; part/supp keys fixed ----
    val li = spark.read.parquet(s"$src/lineitem.parquet")
    replicate(li) { (d, k) =>
      d.withColumn("l_orderkey", col("l_orderkey") + lit(k.toLong * 1000000000L))
    }.repartition(32).write.mode("overwrite").parquet(s"$dst/lineitem.parquet")

    val ord = spark.read.parquet(s"$src/orders.parquet")
    replicate(ord) { (d, k) =>
      d.withColumn("o_orderkey", col("o_orderkey") + lit(k.toLong * 1000000000L))
        .withColumn("o_custkey", col("o_custkey") + lit(k.toLong * 10000000L))
    }.repartition(32).write.mode("overwrite").parquet(s"$dst/orders.parquet")

    val cust = spark.read.parquet(s"$src/customer.parquet")
    replicate(cust) { (d, k) =>
      d.withColumn("c_custkey", col("c_custkey") + lit(k.toLong * 10000000L))
    }.repartition(8).write.mode("overwrite").parquet(s"$dst/customer.parquet")

    // ---- documents: per-copy vocab substitution cipher ----
    val docs = spark.read.parquet(s"$src/documents.parquet")
    val vocab = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .distinct()
      .collect()
      .map(_.getString(0))
      .sorted
    val v = vocab.length
    replicate(docs) { (d, k) =>
      // Copy 0 is verbatim. Copies k > 0 get BOTH a substitution cipher
      // (so within-copy dup structure is preserved under a different word
      // distribution) AND a per-copy suffix tag making vocabularies truly
      // DISJOINT across copies. The r8 cipher alone cycled mod the 31-word
      // corpus vocab, so every copy shared the same 31 words and shingle
      // document frequencies grew with the copy count — at 100 copies the
      // lsh-quality prefix join's df² term exhausted 80 GB of spill. That
      // measured a DEGENERATE corpus (vocabulary pinned while text grows
      // 100x), not a bigger instance of the same one; real corpora grow
      // vocabulary with size, which the suffix tag models (SCALE.md
      // round-9 section records both readings).
      // SPARK_GRAFT_DEGENERATE=1 reproduces the r8 pinned-vocab cipher
      // (no suffix tag): text grows with copies while the vocabulary does
      // NOT — the adversarial stopword-corpus shape used to demonstrate
      // which eval forms survive it (SCALE.md round-9).
      val degenerate = sys.env.get("SPARK_GRAFT_DEGENERATE").contains("1")
      val mapped =
        if (k == 0) col("text")
        else {
          val mapping =
            vocab.indices.map { i =>
              val w = vocab((i + 17 * k) % v)
              vocab(i) -> (if (degenerate) w else s"${w}c$k")
            }.toMap
          val mapExpr = map(mapping.flatMap { case (a, b) => Seq(lit(a), lit(b)) }.toSeq: _*)
          array_join(
            transform(split(col("text"), " "), w => coalesce(element_at(mapExpr, w), w)),
            " "
          )
        }
      d.select(
        (col("doc_id") + lit(k.toLong * 1000000L)).as("doc_id"),
        mapped.as("text"),
        col("lang"),
        col("source")
      ).withColumn("n_chars", length(col("text")))
    }.repartition(16).write.mode("overwrite").parquet(s"$dst/documents.parquet")

    // ---- embeddings: per-copy permutation + sign flips ----
    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val dims = 64
    replicate(emb) { (d, k) =>
      val mapped =
        if (k == 0) col("embedding")
        else {
          val rng = new scala.util.Random(1000 + k)
          val perm = rng.shuffle((0 until dims).toVector)
          val sign = Vector.fill(dims)(if (rng.nextBoolean()) 1.0f else -1.0f)
          val terms = (0 until dims).map(i => lit(sign(i)) * col("embedding").getItem(perm(i)))
          array(terms: _*).cast("array<float>")
        }
      d.select(
        (col("vec_id") + lit(k.toLong * 1000000L)).as("vec_id"),
        mapped.as("embedding"),
        col("label")
      )
    }.repartition(8).write.mode("overwrite").parquet(s"$dst/embeddings.parquet")

    println(s"[scalegen] wrote ${copies}x $src -> $dst")
  }
}
