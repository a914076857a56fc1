package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

class BranchesSpec extends SparkSpec {

  test("results come back in input order, each branch on its own thread") {
    val started = new CountDownLatch(3)
    val out = Branches.run((0 until 3).map { i => () =>
      started.countDown()
      // every branch waits for the others: passes only if all run at once
      assert(started.await(30, TimeUnit.SECONDS))
      i * 10
    })
    assert(out == Seq(0, 10, 20))
    assert(Branches.run(Seq.empty[() => Int]).isEmpty)
  }

  test("the first failure in input order is rethrown after every branch ends") {
    val finished = new AtomicInteger()
    val err = intercept[IllegalStateException] {
      Branches.run(Seq(
        () => { Thread.sleep(200); finished.incrementAndGet() },
        () => throw new IllegalStateException("second"),
        () => throw new IllegalArgumentException("third")))
    }
    assert(err.getMessage == "second")
    assert(err.getSuppressed.map(_.getMessage).toSeq == Seq("third"))
    assert(finished.get == 1, "the slow branch had finished before the throw")
  }

  test("branches inherit the caller's job group") {
    val sc = spark.sparkContext
    sc.setJobGroup("branches-spec", "job group inheritance")
    try {
      val groups = Branches.run(Seq(
        () => sc.getLocalProperty("spark.jobGroup.id"),
        () => sc.getLocalProperty("spark.jobGroup.id")))
      assert(groups == Seq("branches-spec", "branches-spec"))
    } finally sc.clearJobGroup()
  }
}
