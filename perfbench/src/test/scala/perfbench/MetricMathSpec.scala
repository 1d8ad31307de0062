package perfbench

import org.scalatest.funsuite.AnyFunSuite

class MetricMathSpec extends AnyFunSuite {

  private def close(a: Double, b: Double) = math.abs(a - b) < 1e-12

  test("median of odd and even samples, order-insensitive") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(7.0)) == 7.0)
    intercept[IllegalArgumentException](Stats.median(Nil))
  }

  test("quartiles match Python's statistics.quantiles(n=4)") {
    // expected values printed by Python 3.11 statistics.quantiles
    val cases = Seq(
      (1 to 10).map(_.toDouble) -> Seq(2.75, 5.5, 8.25),
      Seq(3.0, 1.0, 2.0) -> Seq(1.0, 2.0, 3.0),
      Seq(5.0, 1.0) -> Seq(0.0, 3.0, 6.0),
      Seq(0.9, 1.1, 1.0, 1.3, 0.95, 1.05, 1.2) -> Seq(0.95, 1.05, 1.2))
    cases.foreach { case (xs, want) =>
      val got = Stats.quantiles(xs, 4)
      assert(got.zip(want).forall { case (g, w) => close(g, w) }, s"$xs: $got != $want")
    }
  }

  test("F1 of keep decisions") {
    assert(Stats.f1(tp = 90, fp = 10, fn = 0) == 180.0 / 190)
    assert(Stats.f1(tp = 0, fp = 0, fn = 0) == 1.0)
    assert(Stats.f1(tp = 0, fp = 3, fn = 4) == 0.0)
    assert(Stats.f1(tp = 5, fp = 0, fn = 0) == 1.0)
  }

  test("covered time counts overlapping intervals once and clips to the window") {
    assert(Spans.coveredNs(0, 100, Nil) == 0)
    assert(Spans.coveredNs(0, 100, Seq((10L, 20L), (15L, 30L), (50L, 60L))) == 30)
    assert(Spans.coveredNs(0, 100, Seq((-50L, 10L), (90L, 200L))) == 20)
    assert(Spans.coveredNs(0, 100, Seq((10L, 90L), (20L, 30L))) == 80)
    assert(Spans.coveredNs(0, 100, Seq((150L, 200L))) == 0)
  }

  test("self time subtracts direct children only") {
    val root = Span("r", 1, 0, "rep", 0, 100)
    val a = Span("r", 2, 1, "resume.run", 10, 60)
    val b = Span("r", 3, 1, "resume.run", 50, 80) // overlaps a
    val job = Span("r", 4, 2, "job.commit", 20, 40) // grandchild of root
    val all = Seq(root, a, b, job)
    assert(Spans.selfNs(root, all) == 100 - 70)
    assert(Spans.selfNs(a, all) == 50 - 20)
    assert(Spans.selfNs(job, all) == 20)
    assert(Spans.selfByName(all)("resume.run") == 30 + 30)
  }

  test("tracer nests spans and publishes the open span") {
    val seen = scala.collection.mutable.ArrayBuffer[Long]()
    val tr = new Tracer("t", enabled = true, seen += _)
    tr.span("outer")(tr.span("inner")(()))
    val byName = tr.spans.map(s => s.name -> s).toMap
    assert(byName("inner").parent == byName("outer").id)
    assert(byName("outer").parent == 0L)
    assert(seen.toSeq == Seq(byName("outer").id, byName("inner").id, byName("outer").id, 0L))
    val off = new Tracer("t", enabled = false)
    assert(off.span("x")(42) == 42 && off.spans.isEmpty)
  }

  test("jobs split into commit, metrics, read and other") {
    def job(id: Int, span: Long, exec: Option[Long], stages: Int*) =
      JobRec(id, 0, 1, span, exec, stages)
    val jobs = Seq(
      job(1, 10, None, 1), // reader footer job under a resume span
      job(2, 10, Some(100), 2), // write's shuffle-map job
      job(3, 10, Some(100), 3), // write's result job
      job(4, 10, Some(101), 4), // metrics query
      job(5, 10, Some(101), 5),
      job(6, 20, Some(102), 6), // a query outside any resume span
      job(7, 20, None, 7))
    def task(stage: Int, out: Long) = TaskRec(stage, 1, 1, 0, 0, 0, 0, 0, out)
    val tasks = Seq(task(2, 0), task(3, 500), task(4, 0), task(6, 0))
    val c = JobClass.classify(jobs, tasks, resumeSpans = Set(10L))
    assert(c == Map(1 -> JobClass.Read, 2 -> JobClass.Commit, 3 -> JobClass.Commit,
      4 -> JobClass.Metrics, 5 -> JobClass.Metrics, 6 -> JobClass.Other, 7 -> JobClass.Other))
  }

  test("kernel gating follows the drop reason") {
    assert(!Kernel.reachesGrammar("boilerplate") && Kernel.reachesGrammar("grammar"))
    assert(Kernel.reachesGrammar(null) && Kernel.reachesGrammar("ppl"))
    assert(Kernel.reachesLangId("lang") && !Kernel.reachesLangId("grammar"))
    assert(Kernel.reachesLm(null) && Kernel.reachesLm("ppl") && !Kernel.reachesLm("lang"))
  }

  test("JSON writer escapes strings and writes non-finite numbers as null") {
    assert(Json.obj("a" -> 1.5, "b" -> "x\"y\n", "c" -> Double.NaN, "d" -> Seq(1, 2)) ==
      """{"a":1.5,"b":"x\"y\n","c":null,"d":[1,2]}""")
    assert(Json.obj("r" -> Json.Raw("{}")) == """{"r":{}}""")
  }
}
