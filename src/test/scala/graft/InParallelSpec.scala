package graft

import graft.queries.PipelineQueries
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerTaskEnd, SparkListenerTaskStart}

class InParallelSpec extends SparkSpec {
  private def sc = spark.sparkContext

  // listener events arrive asynchronously: wait (bounded) for a condition
  private def await(cond: => Boolean, seconds: Double = 30): Boolean = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while (!cond && System.nanoTime() < deadline) Thread.sleep(10)
    cond
  }

  /** Runs `body` with live counts of the application's running jobs and tasks. */
  private def withRunning(body: (AtomicInteger, AtomicInteger) => Unit): Unit = {
    val (jobs, tasks) = (new AtomicInteger, new AtomicInteger)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.decrementAndGet()
      override def onTaskStart(e: SparkListenerTaskStart): Unit = tasks.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = tasks.decrementAndGet()
    }
    sc.addSparkListener(listener)
    try body(jobs, tasks) finally sc.removeSparkListener(listener)
  }

  /** inParallel whose `a` fails once `aFailsWhen` holds, while `b` runs
    * four 120 s tasks; returns whether `b` had returned by the rethrow. */
  private def failingA(aFailsWhen: => Boolean): Boolean = {
    @volatile var bReturned = false
    val e = intercept[IllegalStateException] {
      PipelineQueries.inParallel(spark, {
        await(aFailsWhen)
        throw new IllegalStateException("branch a failed")
      }, {
        try sc.parallelize(1 to 4, 4).map { i => Thread.sleep(120000); i }.count()
        finally bReturned = true
      })
    }
    assert(e.getMessage == "branch a failed")
    bReturned
  }

  test("inParallel: a failing first branch surfaces its exception only after the second branch's jobs are cancelled and awaited") {
    withRunning { (jobs, tasks) =>
      val t0 = System.nanoTime()
      assert(failingA(tasks.get == 4), "b must be awaited before a's exception is rethrown")
      assert(await(jobs.get == 0 && tasks.get == 0), "a job or task from b is still running")
      assert((System.nanoTime() - t0) / 1e9 < 60, "b's job ran to completion instead of being cancelled")
    }
  }

  test("inParallel: a failing as soon as b's job is submitted leaves no task of b running") {
    // the race the case above sidesteps: a task the scheduler launches
    // just after its job was cancelled escapes the cancel's kill
    withRunning { (jobs, tasks) =>
      for (rep <- 1 to 10) {
        assert(failingA(sc.statusTracker.getActiveJobIds.nonEmpty),
          s"rep $rep: b must be awaited before a's exception is rethrown")
        // a killed task ends within moments; an escaped one sleeps 120 s
        assert(await(jobs.get == 0 && tasks.get == 0, seconds = 5),
          s"rep $rep: ${tasks.get} task(s) of b still running after inParallel returned")
      }
    }
  }
}
