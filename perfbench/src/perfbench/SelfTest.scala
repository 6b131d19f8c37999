package perfbench

/** Checks of the benchmark's own arithmetic, run by
  * `python3 perfbench/test_perfbench.py`. Exits 1 on the first failure.
  * With `--list-metrics` it prints the metric catalogue instead, one
  * `kind name unit` line each, for the test to compare with
  * BENCHMARK.json.
  */
object SelfTest {
  private var failures = 0

  private def check(name: String, cond: Boolean): Unit =
    if (!cond) { failures += 1; System.err.println(s"FAIL $name") }
    else println(s"ok   $name")

  private def close(a: Double, b: Double) = math.abs(a - b) < 1e-9

  def main(args: Array[String]): Unit = {
    if (args.sameElements(Array("--list-metrics"))) {
      Catalog.endToEnd.foreach { case (n, u) => println(s"end_to_end $n $u") }
      Catalog.perLayer.foreach { case (n, u) => println(s"per_layer $n $u") }
      sys.exit(0)
    }

    check("median odd", close(Stats.median(Seq(3.0, 1.0, 2.0)), 2.0))
    check("median even", close(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)), 2.5))

    val xs = (1 to 40).map(_.toDouble)
    // ten samples (31..40) lie beyond the 30th of 40: the 75th percentile
    check("tail of 40", Stats.tail(xs).contains((30.0, 75.0)))
    check("tail ignores order", Stats.tail(xs.reverse).contains((30.0, 75.0)))
    check("tail of 11 is the minimum", Stats.tail((1 to 11).map(_.toDouble)).contains((1.0, 100.0 / 11)))
    check("no tail from 10 samples", Stats.tail((1 to 10).map(_.toDouble)).isEmpty)
    check("tail of 200 is p95", Stats.tail((1 to 200).map(_.toDouble)).contains((190.0, 95.0)))

    check("union of disjoint", close(Stats.unionLength(Seq((0.0, 1.0), (2.0, 3.0))), 2.0))
    check("union of overlapping", close(Stats.unionLength(Seq((0.0, 2.0), (1.0, 3.0), (2.5, 2.7))), 3.0))
    check("union ignores empty", close(Stats.unionLength(Seq((5.0, 5.0), (4.0, 3.0))), 0.0))
    check("self time, no children", close(Stats.uncovered((0.0, 10.0), Nil), 10.0))
    check("self time, overlapping children",
      close(Stats.uncovered((0.0, 10.0), Seq((1.0, 4.0), (3.0, 5.0), (8.0, 9.0))), 5.0))
    check("self time clips children to the span",
      close(Stats.uncovered((2.0, 6.0), Seq((0.0, 3.0), (5.0, 12.0))), 2.0))

    check("valid names", Seq("setup_s", "codec.blocks.fsst", "search.search_src.p50_s", "9x")
      .forall(Stats.validName))
    check("invalid names", Seq("", "_x", ".x", "a b", "a/b", "x" * 65).forall(n => !Stats.validName(n)))
    val names = (Catalog.endToEnd ++ Catalog.perLayer).map(_._1)
    check("catalogue names are valid", names.forall(Stats.validName))
    check("catalogue names are unique", names.distinct.size == names.size)
    check("catalogue units are valid",
      (Catalog.endToEnd ++ Catalog.perLayer).forall(m => m._2.matches("[A-Za-z0-9_/%.-]{1,16}")))

    check("json escapes", Json.str("a\"b\\c\n") == "\"a\\\"b\\\\c\\n\"")
    check("json keeps every digit", Json.num(0.1 + 0.2) == "0.30000000000000004")
    check("json refuses NaN", scala.util.Try(Json.num(Double.NaN)).isFailure)

    if (failures > 0) { System.err.println(s"$failures check(s) failed"); sys.exit(1) }
  }
}
