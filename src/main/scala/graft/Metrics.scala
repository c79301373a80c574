package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerStageCompleted,
  SparkListenerTaskEnd}

/** Job-scoped resource meter: total shuffle bytes written, how many
  * stages actually shuffled, and the largest single-task execution-
  * memory peak (the number that decides whether a task spills on a
  * real executor — per-task, because a cluster schedules tasks, not
  * stages, onto fixed-size executor slots). Also counts finished jobs
  * and stages, the summed stage wall time (submission to completion)
  * and the summed task GC time.
  *
  * Usage: `val m = Metrics.start(sc); ...run...; val r = m.stop()`.
  * The shuffle totals count EXECUTED stages only — a reused exchange
  * (skipped stage) adds nothing, so a pipeline that shares a shuffle
  * across consumers measures cheaper than one that repeats it, which
  * is exactly the property worth gating.
  */
object Metrics {
  final case class Snapshot(shuffleWriteBytes: Long, shuffleReadBytes: Long,
                            shuffleStages: Int, maxTaskPeakExecMem: Long,
                            jobs: Int, stages: Int, stageMs: Long, gcMs: Long)

  final class Meter private[Metrics] (sc: SparkContext) {
    private val wBytes = new AtomicLong(0L)
    private val rBytes = new AtomicLong(0L)
    private val shuffleStages = new AtomicInteger(0)
    private val peak = new AtomicLong(0L)
    private val jobs = new AtomicInteger(0)
    private val stages = new AtomicInteger(0)
    private val stageMs = new AtomicLong(0L)
    private val gcMs = new AtomicLong(0L)
    private val listener = new SparkListener {
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        jobs.incrementAndGet(); ()
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        stages.incrementAndGet()
        for (a <- i.completionTime; b <- i.submissionTime) stageMs.addAndGet(a - b)
        val m = i.taskMetrics
        if (m != null) {
          val w = m.shuffleWriteMetrics.bytesWritten
          val r = m.shuffleReadMetrics.totalBytesRead
          wBytes.addAndGet(w)
          rBytes.addAndGet(r)
          gcMs.addAndGet(m.jvmGCTime)
          if (w > 0) { shuffleStages.incrementAndGet(); () }
        }
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) peak.getAndUpdate(p => math.max(p, m.peakExecutionMemory))
        ()
      }
    }
    sc.addSparkListener(listener)

    def stop(): Snapshot = {
      // listener events post async; drain the bus before reading.
      // listenerBus is private[spark], so reach it reflectively (with
      // a settle-sleep fallback — this is a measurement utility, not
      // a correctness path)
      try {
        val m = sc.getClass.getMethod("listenerBus")
        val bus = m.invoke(sc)
        // some Spark versions expose only waitUntilEmpty(timeoutMillis)
        // — try both signatures before degrading to a fixed sleep that
        // can under-count stages on a loaded driver
        try { bus.getClass.getMethod("waitUntilEmpty").invoke(bus); () }
        catch { case _: NoSuchMethodException =>
          bus.getClass.getMethod("waitUntilEmpty", classOf[Long])
            .invoke(bus, java.lang.Long.valueOf(60000L))
          ()
        }
      } catch { case _: Throwable => Thread.sleep(500) }
      sc.removeSparkListener(listener)
      Snapshot(wBytes.get(), rBytes.get(), shuffleStages.get(), peak.get(),
        jobs.get(), stages.get(), stageMs.get(), gcMs.get())
    }
  }

  def start(sc: SparkContext): Meter = new Meter(sc)
}
