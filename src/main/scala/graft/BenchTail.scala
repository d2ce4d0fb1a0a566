package graft

/** The compact final stdout line of [[Bench]]. Harnesses that capture
  * only the last ~2000 chars of stdout parse a JSON body from them, so
  * this line must stay whole under that window with `"metric":"total"`
  * first.
  * Its fixed parts (canaries, 31 family subtotals, the top-10 queries) are
  * bounded; the name lists (failed, above-bar, unsettled requeues and the
  * sf1 panel's lists) are not, so [[line]] cuts every list to the largest
  * common length that keeps the line under [[MaxChars]]. A cut list ends
  * with a `"+K more"` entry; the full lists stay in the full line and in
  * bench_out.json.
  */
object BenchTail {
  val MaxChars = 1800

  /** The sf1 mini-gate's verdict-bearing facts: panel size vs measured
    * count, the loud lists, every entry above its 2x bar with its ratio
    * and quiet flag, and the panel's worst ratio.
    */
  final case class Sf1Summary(
      n: Int,
      measured: Int,
      skipped: Seq[String],
      failed: Seq[String],
      unknown: Seq[String],
      requeued: Seq[String],
      aboveBar: Seq[(String, Double, Boolean)],
      maxRatio: Double
  ) {
    def json(cap: Int): String = {
      val above = aboveBar.take(cap).map { case (k, r, q) =>
        "\"" + k + "\":" + f"""{"ratio":$r%.2f,"quiet":$q}"""
      } ++ (if (aboveBar.size > cap) Seq(s""""+${aboveBar.size - cap} more":{}""") else Nil)
      f"""{"n":$n,"measured":$measured,"skipped":${names(skipped, cap)},"failed":${names(failed, cap)},"unknown":${names(unknown, cap)},"requeued":${names(requeued, cap)},"above_bar":${above.mkString("{", ",", "}")},"max_ratio":$maxRatio%.2f}"""
    }
  }

  /** `xs` as a JSON string array of at most `cap` names, plus a
    * `"+K more"` entry when names were cut.
    */
  def names(xs: Seq[String], cap: Int): String =
    (xs.take(cap).map("\"" + _ + "\"") ++
      (if (xs.size > cap) Seq("\"+" + (xs.size - cap) + " more\"") else Nil)).mkString("[", ",", "]")

  /** The compact line. `head` is the fixed JSON members that open the
    * object (`"metric":...` first), `families`/`topQueries` rendered JSON
    * objects, `sf1` either the gate summary or a literal JSON value
    * (`null` when the gate is off, `"gate_failed"`).
    */
  def line(
      head: String,
      requeueUnsettled: Seq[String],
      aboveBarQuiet: Seq[String],
      failed: Seq[String],
      families: String,
      topQueries: String,
      sf: String,
      sf1: Either[String, Sf1Summary]
  ): String = {
    def render(cap: Int): String = {
      val sf1Json = sf1.fold(identity, _.json(cap))
      s"""{$head,"requeue_unsettled":${names(requeueUnsettled, cap)},"above_bar_quiet":${names(aboveBarQuiet, cap)},"failed":${names(failed, cap)},"families":$families,"top_queries":$topQueries,"sf":"$sf","sf1_subset":$sf1Json,"queries_in":"bench_out.json"}"""
    }
    val longest = (Seq(requeueUnsettled, aboveBarQuiet, failed) ++
      sf1.toOption.toSeq.flatMap(s => Seq(s.skipped, s.failed, s.unknown, s.requeued, s.aboveBar))).map(_.size).max
    (longest to 0 by -1).iterator.map(render).find(_.length < MaxChars).getOrElse(render(0))
  }
}
