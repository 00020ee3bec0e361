package perfbench

import org.scalatest.funsuite.AnyFunSuite

class LayersSpec extends AnyFunSuite {

  // one operation "a": built over [0, 1], executed over [1, 10]
  private val driver = Seq(
    Span("a", "", "a", "op", "a", 0, 10),
    Span("a/build", "a", "a", "build", "build", 0, 1),
    Span("a/execute", "a", "a", "execute", "execute", 1, 10))

  private def stage(id: Int, start: Double, end: Double) =
    StageRec(id, 0, start, end, new TaskSums)

  private def analyse(jobs: Seq[JobRec], stages: Seq[StageRec] = Nil) =
    Layers.analyse(4, driver, jobs, stages, Nil, Nil)

  test("jobs inside the operation that submitted them reconcile its wall time") {
    val l = analyse(Seq(JobRec(1, 2, 4, Seq(1), Some("a")), JobRec(2, 3, 5, Seq(2), Some("a"))),
      Seq(stage(1, 2, 4), stage(2, 3, 5)))
    assert(l.violations.isEmpty)
    assert(l.metrics("session.job_active_s") == 3.0)
    assert(l.metrics("session.idle_s") == 6.0)
    assert(l.reconcileErr == Seq(0.0))
    assert(l.spans.map(_.span).filter(_.layer == "job").forall(_.parent == "a/execute"))
  }

  test("jobs outside every operation and carrying none are ignored") {
    val l = analyse(Seq(JobRec(1, 12, 13, Seq(1), None)), Seq(stage(1, 12, 13)))
    assert(l.violations.isEmpty && l.metrics("session.jobs") == 0.0)
  }

  test("a job that outlives the operation that submitted it is a violation") {
    val l = analyse(Seq(JobRec(1, 9, 12, Seq(1), Some("a"))))
    assert(l.violations.size == 1 && l.violations.head.startsWith("job 1 of a"))
  }

  test("a job inside an operation that does not carry its id is a violation") {
    assert(analyse(Seq(JobRec(1, 5, 6, Nil, None))).violations.size == 1)
    assert(analyse(Seq(JobRec(1, 5, 6, Nil, Some("other")))).violations.size == 1)
  }

  test("a stage that ends after its job, or belongs to no job, is a violation") {
    val job = JobRec(1, 2, 4, Seq(1), Some("a"))
    assert(analyse(Seq(job), Seq(stage(1, 2, 5))).violations.size == 1)
    assert(analyse(Seq(job), Seq(stage(7, 2, 3))).violations.size == 1)
  }
}
