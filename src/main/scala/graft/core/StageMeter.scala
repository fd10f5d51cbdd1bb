package graft.core

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.graft.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** A thunk's result with the Spark work it submitted: total and
  * largest-stage shuffle-write bytes, and the number of jobs started. */
final case class Metered[A](value: A, shuffleBytes: Long,
    maxStageShuffleBytes: Long, jobs: Int)

/** The one stage meter, shared by `Bench`, `ScaleBench` and the tests.
  *
  * Each call drains the listener bus, registers a fresh listener for
  * the duration of the thunk, drains again, and removes the listener in
  * `finally`. The leading drain keeps a previous action's late events
  * out of this reading; the trailing drain makes sure this thunk's own
  * trailing stage-completed events are counted. A per-call listener
  * needs no shared counter reset, so sequential readings are
  * independent. Work from every thread counts, including the pool
  * threads of [[Par]]. If the thunk throws, the exception propagates
  * and no reading is returned; callers that must record a failed run's
  * bytes catch inside the thunk. */
object StageMeter {
  def measure[A](spark: SparkSession)(f: => A): Metered[A] = {
    val total = new AtomicLong(0L)
    val maxStage = new AtomicLong(0L)
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val w = sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten
        total.addAndGet(w)
        maxStage.accumulateAndGet(w, math.max(_, _)): Unit
      }
    }
    val sc = spark.sparkContext
    ListenerBusAccess.waitUntilEmpty(sc)
    sc.addSparkListener(listener)
    try {
      val r = f
      ListenerBusAccess.waitUntilEmpty(sc)
      Metered(r, total.get, maxStage.get, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
