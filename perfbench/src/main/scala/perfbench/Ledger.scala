package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Records of one benchmark run, kept in memory and written out when the
  * run ends. Spans come from the benchmark's own code around calls into
  * graft; jobs, stages and trigger progress come from listeners the
  * benchmark registers on the session (traced runs only).
  *
  * Every time is epoch milliseconds, the clock Spark's listener events use.
  */
final class Ledger {
  val spans = ArrayBuffer.empty[Map[String, Any]]
  val progress = ArrayBuffer.empty[(String, String)] // (phase, progress json)
  val jobs = ArrayBuffer.empty[Map[String, Any]]
  val stages = ArrayBuffer.empty[Map[String, Any]]
  @volatile var phase = "setup"

  private val jobStart = scala.collection.concurrent.TrieMap.empty[Int, (Double, Map[String, Any])]
  private val stageTasks = scala.collection.concurrent.TrieMap.empty[Int, (Int, Long)]

  def now(): Double = System.nanoTime() / 1e6 + Ledger.offsetMs

  def add(key: String, layer: String, parent: String, start: Double, end: Double): Unit =
    synchronized {
      spans += Map("key" -> key, "layer" -> layer, "parent" -> parent,
        "start" -> start, "end" -> end)
    }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String): Any = p.flatMap(x => Option(x.getProperty(k))).orNull
      jobStart(e.jobId) = (e.time.toDouble, Map(
        "job" -> e.jobId, "stages" -> e.stageIds,
        "query_id" -> prop("sql.streaming.queryId"),
        "batch" -> prop("streaming.sql.batchId"),
        "group" -> prop("spark.jobGroup.id")))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobStart.remove(e.jobId).foreach { case (t0, m) =>
        Ledger.this.synchronized { jobs += m ++ Map("start" -> t0, "end" -> e.time.toDouble) }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val peak = Option(e.taskMetrics).map(_.peakExecutionMemory).getOrElse(0L)
      stageTasks.synchronized {
        val (n, mx) = stageTasks.getOrElse(e.stageId, (0, 0L))
        stageTasks(e.stageId) = (n + 1, math.max(mx, peak))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      val (n, peak) = stageTasks.remove(s.stageId).getOrElse((s.numTasks, 0L))
      val rdds = s.rddInfos.map(_.name).mkString(";")
      Ledger.this.synchronized {
        stages += Map(
          "stage" -> s.stageId, "rdds" -> rdds,
          "start" -> s.submissionTime.map(_.toDouble).getOrElse(0.0),
          "end" -> s.completionTime.map(_.toDouble).getOrElse(0.0),
          "tasks" -> n, "peak_task_bytes" -> peak,
          "shuffle_write_bytes" -> Option(s.taskMetrics).map(_.shuffleWriteMetrics.bytesWritten)
            .getOrElse(0L))
      }
    }
  }

  val queryListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Ledger.this.synchronized { progress += ((phase, e.progress.json)) }
  }
}

object Ledger {
  /** nanoTime → epoch-ms offset, fixed once so spans never go backwards. */
  private val offsetMs: Double = System.currentTimeMillis() - System.nanoTime() / 1e6
}
