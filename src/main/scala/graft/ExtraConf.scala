package graft

import org.apache.spark.sql.SparkSession

/** Shared parser for the `SPARK_GRAFT_SPARK_CONF` lever (ADVICE r16: the
  * semicolon-split was copy-pasted in Verify, Bench, ClusterProbe and
  * RecoveryProbe — four chances to drift).
  *
  * Format: semicolon-separated `k=v` pairs
  * (`"spark.executor.memory=8g;spark.executor.extraClassPath=/x"`).
  * The value is everything after the FIRST `=`, so values may contain
  * `=` (e.g. `-Dfoo=bar` java options). LIMITATION, by design: values
  * must not contain `;` — a semicolon always splits pairs, so a
  * multi-flag `extraJavaOptions` with an embedded `;` would be silently
  * truncated at it. None of the confs this lever exists for (classpath,
  * memory, module-opens) need one; if that changes, switch the separator
  * rather than adding escaping here and in every runbook.
  */
object ExtraConf {

  /** (key, value) pairs from `raw`; malformed fragments (no `=`) are
    * dropped after trimming, matching the historical behavior.
    */
  def parse(raw: Option[String]): Seq[(String, String)] = raw.toSeq
    .flatMap(_.split(";"))
    .map(_.trim)
    .filter(_.contains("="))
    .map { kv => val i = kv.indexOf('='); (kv.take(i), kv.drop(i + 1)) }

  /** Pairs from the `SPARK_GRAFT_SPARK_CONF` environment variable. */
  def fromEnv: Seq[(String, String)] = parse(sys.env.get("SPARK_GRAFT_SPARK_CONF"))

  /** Fold the env pairs into a session builder ([[session]] and the
    * multi-executor probes).
    */
  def applyTo(builder: SparkSession.Builder): SparkSession.Builder =
    fromEnv.foldLeft(builder)((b, kv) => b.config(kv._1, kv._2))

  /** The session of every main that needs one (Bench, Verify, Sf1Seed,
    * ScaleGen, StreamDemo): master `SPARK_GRAFT_MASTER` (default
    * `local[cpus]`), shuffle partitions = cpus, where cpus is
    * `SPARK_GRAFT_CPUS` or `defaultCpus`; UTC session time zone, UI off,
    * the `SPARK_GRAFT_SPARK_CONF` pairs on top, and WARN logging.
    */
  def session(defaultCpus: Int, appName: Option[String] = None): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val builder = SparkSession.builder().master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
    val spark = applyTo(
      appName
        .fold(builder)(builder.appName)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
    ).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
