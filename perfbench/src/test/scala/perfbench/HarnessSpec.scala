package perfbench

import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite {

  test("a throwing operation counts as failed and leaves no timing") {
    val log = new OpLog
    assert(log.timed("ok", 10000)(1).map(_._1) === Some(1))
    assert(log.timed("broken", 10000)(throw new IllegalStateException("injected")).isEmpty)
    assert(log.attempted === 2)
    assert(log.failed === 1)
    assert(log.timings.map(_.name) === Seq("ok"))
    assert(log.errorList.exists(_.contains("injected")))
  }

  test("an operation past its limit is stopped, counts as failed and leaves no timing") {
    val log = new OpLog
    @volatile var stopped = false
    val r = log.timed("slow", 50, () => stopped = true) { Thread.sleep(300); "late" }
    assert(r.isEmpty)
    assert(stopped)
    assert(log.failed === 1)
    assert(log.timings.isEmpty)
  }

  test("a wrong answer withdraws the operation's timing") {
    val log = new OpLog
    val (_, t) = log.timed("q", 10000)("wrong answer").get
    log.reject(t, "digest mismatch")
    assert(log.failed === 1)
    assert(log.timings.isEmpty)
  }

  test("an injected failure raises the failed count and adds no timing to the metrics") {
    val healthy, injected = new OpLog
    Seq("a", "b", "c").foreach(n => healthy.timed(n, 10000)(Thread.sleep(5)))
    Seq("a", "b", "c").foreach(n => injected.timed(n, 10000) {
      if (n == "b") throw new RuntimeException("injected") else Thread.sleep(5)
    })
    assert(healthy.failed === 0)
    assert(injected.failed === 1 && injected.attempted === 3)
    assert(injected.timings.map(_.name) === Seq("a", "c"))
    val m = Harness.batchEndToEnd(injected, Seq(20.0), 300, 10000, 0.1, 1.0)
    // two good operations in 20 ms of passes
    assert(math.abs(m("goodput_rps") - 100.0) < 1e-9)
  }

  test("the serving schedule is drawn from the seed, covers every route and stays in its round") {
    val a = Serve.Mix.schedule(7, 2)
    assert(a === Serve.Mix.schedule(7, 2))
    assert(a.map(_._2) != Serve.Mix.schedule(8, 2).map(_._2))
    assert(a.map(_._1) === a.map(_._1).sorted)
    val roundNs = Serve.Mix.roundS * 1000000000L
    val (first, second) = a.partition(_._1 < roundNs)
    assert(first.size === second.size)
    assert(first.map(_._2.cls).toSet === Layers.serveRoutes.toSet)
    assert(a.forall { case (at, _) => at >= 0 && at < 2 * roundNs })
  }

  test("self time subtracts the part of a span its children cover, overlaps once") {
    val t = new Tracer(true)
    t.span("root") {
      t.span("a")(Thread.sleep(30))
      t.span("b")(Thread.sleep(30))
    }
    val spans = t.spans
    val self = t.selfNs
    val root = spans.find(_.name == "root").get
    val kids = spans.filter(_.parent == root.id)
    assert(kids.size === 2)
    assert(self(root.id) === root.durNs - kids.map(_.durNs).sum)
    assert(math.abs(Layers.coverage(kids) * 1e6 - kids.map(_.durNs).sum) < 1.0)
  }
}
