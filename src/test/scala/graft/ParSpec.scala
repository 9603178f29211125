package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{JobFailed, SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

class ParSpec extends SparkSpec {

  test("results come back in leg order") {
    assert(Par.eval(Seq(() => { Thread.sleep(200); 1 }, () => 2, () => 3)) == Seq(1, 2, 3))
  }

  test("a failing leg cancels its sibling's Spark job, and no leg outlives the call") {
    val sc = spark.sparkContext
    val started = new CountDownLatch(1)
    val failedJobs = new ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = started.countDown()
      override def onJobEnd(e: SparkListenerJobEnd): Unit = e.jobResult match {
        case _: JobFailed => failedJobs.add(e.jobId)
        case _ => ()
      }
    }
    val ended = new AtomicInteger()
    sc.addSparkListener(listener)
    try {
      val t0 = System.nanoTime()
      val e = intercept[IllegalStateException] {
        Par.eval[Long](Seq(
          () => // a job that runs for a minute unless its task is killed
            try sc.parallelize(Seq(1), 1).map { x =>
              val until = System.nanoTime() + TimeUnit.SECONDS.toNanos(60)
              while (!TaskContext.get().isInterrupted() && System.nanoTime() < until)
                Thread.sleep(20)
              x
            }.count()
            finally ended.incrementAndGet(),
          () => // fails once the sibling's job runs: after it in completion order
            try {
              assert(started.await(30, TimeUnit.SECONDS))
              throw new IllegalStateException("leg down")
            } finally ended.incrementAndGet()))
      }
      assert(e.getMessage == "leg down") // the first failure, not the cancellation
      assert(ended.get == 2, "a leg was still running after eval returned")
      assert(System.nanoTime() - t0 < TimeUnit.SECONDS.toNanos(45),
        "eval waited for the sibling's job to finish on its own")
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(30)
      while (failedJobs.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
      assert(!failedJobs.isEmpty, "the sibling's job was not cancelled")
    } finally sc.removeSparkListener(listener)
  }

  test("an interrupt of the caller stops the legs and is rethrown") {
    val ended = new AtomicInteger()
    val entered = new CountDownLatch(2)
    @volatile var thrown: Throwable = null
    val caller = new Thread(() =>
      try Par.eval[Unit](Seq.fill(2)(() =>
        try { entered.countDown(); Thread.sleep(60000) } finally ended.incrementAndGet()))
      catch { case e: Throwable => thrown = e })
    caller.setDaemon(true)
    caller.start()
    assert(entered.await(30, TimeUnit.SECONDS))
    caller.interrupt()
    caller.join(10000)
    assert(!caller.isAlive && thrown.isInstanceOf[InterruptedException])
    assert(ended.get == 2)
  }
}
