package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

class OverlapSpec extends SparkSpec {

  test("inParallel keeps item order") {
    assert(Overlap.inParallel(Seq(3, 1, 2), maxInFlight = 2) { i =>
      Thread.sleep(i * 50L); i * 10 } == Seq(30, 10, 20))
  }

  test("a failing item cancels its sibling's Spark job and rethrows at once") {
    val sc = spark.sparkContext
    val siblingRunning = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(p =>
            Option(p.getProperty("spark.job.tags")).exists(_.contains("graft-overlap-"))))
          siblingRunning.countDown()
    }
    sc.addSparkListener(listener)
    val siblingOutcome = new AtomicReference[Throwable]()
    val siblingDone = new CountDownLatch(1)
    val boom = new IllegalStateException("fit failed")
    try {
      val t0 = System.nanoTime()
      val thrown = intercept[IllegalStateException] {
        Overlap.inParallel(Seq("long", "fail")) {
          case "long" =>
            // a job whose tasks run until they are killed, 60 s at most
            try sc.parallelize(1 to 2, 2).map { x =>
                val tc = TaskContext.get()
                val end = System.nanoTime() + TimeUnit.SECONDS.toNanos(60)
                while (!tc.isInterrupted() && System.nanoTime() < end) Thread.sleep(20)
                x
              }.count()
            catch { case e: Throwable => siblingOutcome.set(e); throw e }
            finally siblingDone.countDown()
          case _ =>
            assert(siblingRunning.await(60, TimeUnit.SECONDS), "sibling job never started")
            throw boom
        }
      }
      val waitedS = (System.nanoTime() - t0) / 1e9
      assert(thrown eq boom)
      assert(waitedS < 30, s"rethrow waited $waitedS s")
      assert(siblingDone.await(30, TimeUnit.SECONDS), "sibling job was not cancelled")
      val outcome = siblingOutcome.get()
      assert(outcome != null && outcome.getMessage.toLowerCase.contains("cancel"),
        s"sibling ended with $outcome")
    } finally sc.removeSparkListener(listener)
  }
}
