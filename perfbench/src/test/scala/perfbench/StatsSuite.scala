package perfbench

class StatsSuite extends Suite {

  test("nearest-rank percentiles") {
    val xs = (1 to 10).map(_.toDouble)
    assert(Stats.median(xs) == 5.0)
    assert(Stats.percentile(xs, 90) == 9.0)
    assert(Stats.percentile(xs, 100) == 10.0)
    assert(Stats.percentile(Seq(3.0), 99) == 3.0)
  }

  test("the tail is the highest ladder percentile with ten samples beyond it") {
    val t1000 = Stats.tail((1 to 1000).map(_.toDouble))
    assert(t1000.percentile == 99 && t1000.samples == 1000 && t1000.beyond == 10)
    assert(t1000.value == 990.0)
    val t200 = Stats.tail((1 to 200).map(_.toDouble))
    assert(t200.percentile == 95 && t200.beyond == 10 && t200.value == 190.0)
    val t100 = Stats.tail((1 to 100).map(_.toDouble))
    assert(t100.percentile == 90 && t100.beyond == 10)
    val t40 = Stats.tail((1 to 40).map(_.toDouble))
    assert(t40.percentile == 75 && t40.beyond == 10 && t40.value == 30.0)
    val t39 = Stats.tail((1 to 39).map(_.toDouble))
    assert(t39.percentile == 50 && t39.samples == 39)
  }

  test("a sample too small for any tail reports the median and how thin it is") {
    val t = Stats.tail(Seq(4.0, 1.0, 3.0, 2.0))
    assert(t.percentile == 50 && t.value == 2.0 && t.samples == 4 && t.beyond == 2)
  }

  test("union length merges overlapping and touching intervals") {
    assert(Stats.unionLength(Nil) == 0)
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (15L, 20L))) == 20)
    assert(Stats.unionLength(Seq((30L, 40L), (0L, 10L), (2L, 3L))) == 20)
    assert(Stats.unionLength(Seq((5L, 5L), (7L, 6L))) == 0)
  }

  test("driver-only time is the window minus the union of its job intervals") {
    // jobs: [10,20) and [15,30) overlap; [50,60) straddles the window end
    val jobs = Seq((10L, 20L), (15L, 30L), (50L, 60L))
    assert(Stats.uncovered(0, 55, jobs) == 55 - 20 - 5)
    assert(Stats.uncovered(0, 100, Nil) == 100)
    assert(Stats.uncovered(12, 18, jobs) == 0)
  }

  test("span self time subtracts what its children cover") {
    val t = new Tracer
    t.span("outer", 0)(Thread.sleep(30))
    val outer = t.all.head
    t.add("spark.job", 0, outer.start, outer.start + 10)
    t.add("spark.job", 0, outer.start + 5, outer.start + 12)
    val self = t.selfTimes.toMap
    assert(self(t.all.head) == (outer.end - outer.start) - 12)
    assert(t.all.filter(_.name == "spark.job").forall(_.parent == outer.id))
  }
}
