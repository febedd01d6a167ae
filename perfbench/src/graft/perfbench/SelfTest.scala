package graft.perfbench

/** Checks of the benchmark's own arithmetic: the percentile rule, the
  * job-interval union behind `driver.gap_s`, the job attribution check
  * that makes `spark.job_s + driver.gap_s` equal op wall, the suite time
  * built from per-query medians, and the seed-to-order permutation. Exit code 0 when every check holds. */
object SelfTest {
  def run(): Int = {
    var failures = 0
    def check(what: String, ok: Boolean): Unit = {
      Log.err(s"${if (ok) "ok  " else "FAIL"} $what")
      if (!ok) failures += 1
    }
    val xs = (1 to 100).map(_.toDouble)
    check("p50 needs 20 samples", Stats.percentile(xs.take(19), 0.5).isEmpty &&
      Stats.percentile(xs.take(20), 0.5).contains(10.5))
    check("p90 needs 100 samples", Stats.percentile(xs.take(99), 0.9).isEmpty &&
      Stats.percentile(xs, 0.9).contains(90.0))
    check("p90 is a nearest-rank sample", Stats.percentile(xs.reverse :+ 1000.0, 0.9).contains(91.0))
    check("median of odd and even counts", Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0 &&
      Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)

    check("union of overlapping intervals", Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 25L)), 0, 100) == 20)
    check("union of nested intervals", Stats.unionLength(Seq((0L, 10L), (2L, 3L), (4L, 9L)), 0, 100) == 10)
    check("union of touching intervals", Stats.unionLength(Seq((0L, 5L), (5L, 10L)), 0, 100) == 10)
    check("union clipped to the op", Stats.unionLength(Seq((-5L, 5L), (8L, 30L)), 0, 10) == 7)
    check("union of nothing", Stats.unionLength(Nil, 0, 10) == 0)
    check("union in any input order", Stats.unionLength(Seq((20L, 25L), (5L, 15L), (0L, 10L)), 0, 100) == 20)

    val op = OpResult("7:q", "q", "M", "query", 1000, 2000, 1000000000L, Nil, ok = true)
    val own = op.id
    def job(id: Int, desc: String, start: Long, end: Long) = Tracer.JobRec(id, desc, start, end, Nil)
    val inside = Seq(job(1, own, 1000, 1500), job(2, own, 1600, 2000), job(3, "", 500, 900))
    check("attribution: jobs inside the op and others before it balance",
      Layers.attributionErrors(op, inside).isEmpty)
    check("attribution: a job that starts inside the op but is charged elsewhere fails",
      Layers.attributionErrors(op, inside :+ job(4, "", 1200, 1300)).length == 1)
    check("attribution: an own job that ends after the op fails",
      Layers.attributionErrors(op, inside :+ job(5, own, 1900, 2100)).length == 1)
    check("attribution: an own job that starts before the op fails",
      Layers.attributionErrors(op, inside :+ job(6, own, 900, 1100)).length == 1)

    def sample(name: String, s: Double) =
      OpResult(name, name, "M", "query", 0, 0, (s * 1e9).toLong, Nil, ok = true)
    val samples = Seq(sample("a", 1), sample("a", 9), sample("a", 2), sample("b", 4), sample("b", 6))
    check("suite time sums each query's median", Main.suiteS(Seq("a", "b"), samples) == 7.0)

    val p1 = Stats.permutation(45, 1)
    check("permutation holds every index once", p1.sorted == (0 until 45))
    check("same seed, same order", p1 == Stats.permutation(45, 1))
    check("another seed, another order", p1 != Stats.permutation(45, 2))
    check("permutation of 0 and 1 items", Stats.permutation(0, 5).isEmpty && Stats.permutation(1, 5) == Seq(0))
    Log.err(if (failures == 0) "self-test passed" else s"self-test: $failures checks failed")
    if (failures == 0) 0 else 1
  }
}
