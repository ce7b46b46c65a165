package graft.perfbench

/** Checks of the benchmark's own helpers. They run at the start of every
  * benchmark process and count as correctness checks; `SelfTest` can also
  * run them alone. */
object SelfTest {

  def run(): Seq[Check] = {
    val xs = (1 to 100).map(_.toDouble)
    val chain = Seq(("d", "c"), ("b", "a"), ("c", "b"))
    val star = Seq(("z", "m"), ("x", "m"), ("q", "m"))
    val shape = Inputs.AliasShape(hubLeaves = 50, chainLength = 20, stars = 30, starMin = 2, starMax = 9)
    def pageKey(seed: Long) = Inputs.pages(30, seed).map(p =>
      (p.page.url, new String(p.page.html, "UTF-8"), p.page.text, p.page.lang, p.long))
    Seq(
      Check.equal("selftest.tail_percentile_100_samples", Some(90), Stats.tailPercentile(100)),
      Check.equal("selftest.tail_percentile_99_samples", Some(89), Stats.tailPercentile(99)),
      Check.equal("selftest.tail_percentile_1000_samples", Some(99), Stats.tailPercentile(1000)),
      Check.equal("selftest.tail_percentile_11_samples", Some(9), Stats.tailPercentile(11)),
      Check.equal("selftest.tail_percentile_10_samples", None, Stats.tailPercentile(10)),
      Check.equal("selftest.p90_nearest_rank", 90.0, Stats.percentile(xs, 90)),
      Check.equal("selftest.median_even", 50.5, Stats.median(xs)),
      Check.equal("selftest.mean_type_median", 37.5,
        Stats.meanTypeMedian(Seq("a" -> 10.0, "b" -> 100.0, "a" -> 20.0, "b" -> 30.0, "a" -> 5.0))),
      Check.equal("selftest.mean_type_median_one_type", 50.5, Stats.meanTypeMedian(xs.map("x" -> _))),
      Check.equal("selftest.self_time_overlapping_children", 60L,
        Stats.selfTime(0, 100, Seq((10L, 30L), (20L, 40L), (15L, 25L), (90L, 120L)))),
      Check.equal("selftest.self_time_no_children", 100L, Stats.selfTime(0, 100, Nil)),
      Check.equal("selftest.self_time_child_outside", 100L, Stats.selfTime(0, 100, Seq((200L, 300L)))),
      Check.equal("selftest.union_find_chain",
        Map("a" -> "a", "b" -> "a", "c" -> "a", "d" -> "a"), Reference.components(chain)),
      Check.equal("selftest.union_find_star",
        Map("z" -> "m", "x" -> "m", "q" -> "m", "m" -> "m"), Reference.components(star)),
      Check.equal("selftest.union_find_two_components",
        Set("a", "m"), Reference.components(chain ++ star).values.toSet),
      Check.equal("selftest.long_pages_same_seed", pageKey(7), pageKey(7)),
      Check("selftest.long_pages_other_seed",
        if (pageKey(7).map(_._2) != pageKey(8).map(_._2)) None else Some("seeds 7 and 8 gave the same pages")),
      Check.equal("selftest.long_page_slots", Vector(9, 19, 29),
        Inputs.pages(30, 7).zipWithIndex.collect { case (p, j) if p.long => j }),
      Check.equal("selftest.alias_graph_same_seed",
        Inputs.aliasEdges(7, shape), Inputs.aliasEdges(7, shape)),
      Check("selftest.alias_graph_other_seed",
        if (Inputs.aliasEdges(7, shape) != Inputs.aliasEdges(8, shape)) None
        else Some("seeds 7 and 8 gave the same alias graph")),
      Check.equal("selftest.alias_graph_size_fixed",
        Inputs.aliasEdges(7, shape).size, Inputs.aliasEdges(8, shape).size))
  }

  def main(args: Array[String]): Unit = {
    val checks = run()
    checks.foreach(c => println(s"${if (c.error.isEmpty) "ok  " else "FAIL"} ${c.name}${c.error.fold("")(": " + _)}"))
    if (checks.exists(_.error.nonEmpty)) sys.exit(1)
  }
}
