package graft

import graft.queries.PipelineQueries
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerTaskEnd, SparkListenerTaskStart}

class InParallelSpec extends SparkSpec {
  test("inParallel: a failing first branch surfaces its exception only after the second branch's jobs are cancelled and awaited") {
    val sc = spark.sparkContext
    val (jobs, tasks) = (new AtomicInteger, new AtomicInteger)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.decrementAndGet()
      override def onTaskStart(e: SparkListenerTaskStart): Unit = tasks.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = tasks.decrementAndGet()
    }
    // listener events arrive asynchronously: wait (bounded) for a condition
    def await(cond: => Boolean): Boolean = {
      val deadline = System.nanoTime() + 30e9.toLong
      while (!cond && System.nanoTime() < deadline) Thread.sleep(10)
      cond
    }
    sc.addSparkListener(listener)
    try {
      @volatile var bReturned = false
      val t0 = System.nanoTime()
      val e = intercept[IllegalStateException] {
        PipelineQueries.inParallel(spark, {
          // fail only once all four of b's tasks run: a task the scheduler
          // launches after its job was cancelled escapes the kill
          await(tasks.get == 4)
          throw new IllegalStateException("branch a failed")
        }, {
          try sc.parallelize(1 to 4, 4).map { i => Thread.sleep(120000); i }.count()
          finally bReturned = true
        })
      }
      assert(e.getMessage == "branch a failed")
      assert(bReturned, "b must be awaited before a's exception is rethrown")
      assert(await(jobs.get == 0 && tasks.get == 0), "a job or task from b is still running")
      assert((System.nanoTime() - t0) / 1e9 < 60, "b's job ran to completion instead of being cancelled")
    } finally sc.removeSparkListener(listener)
  }
}
