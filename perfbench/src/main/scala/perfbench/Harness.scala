package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardOpenOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.{GraftSession, SparkEntry}
import graft.sources.LogSource
import graft.streaming.TailStream

/** The JVM side of the benchmark: runs one workload against graft's
  * public entry points and writes a raw run record (JSON) that
  * `run.py` checks and turns into metrics.
  *
  * {{{
  * Harness prepare --csv DIR --out DIR
  * Harness run --workload W --work DIR --data DIR --out FILE
  *             --cpus N --trace 0|1 --open-seconds S [--drain-only 1]
  *             [--window-s S --delay-s S --throttle N]   (tail workloads)
  *             [--queries k1,k2,...]                     (batch_sweep)
  * }}}
  */
object Harness {

  val EventPattern: String =
    """id=(?P<event_id__int>\d+) ts=(?P<ts__date>[0-9:\- ]+) user=(?P<user_id__int>\d+) """ +
      """type=(?P<etype__str>\S+) value=(?P<value__float>\S+) gen=(?P<gen_ms__int>\d+)"""
  val CustomerPattern: String =
    """user=(?P<user__int>\d+) name=(?P<name__str>\S+) segment=(?P<segment__str>\S+) """ +
      """ts=(?P<ts__date>[0-9:\- ]+) gen=(?P<gen_ms__int>\d+)"""
  val Filter = "etype <> 'view'"
  val FollowSql: String =
    "SELECT window_start, count(*) AS n, max(gen_ms) AS gen_max FROM t0 " +
      "GROUP BY window_start ORDER BY window_start"
  val SnapshotSql: String =
    "SELECT t0.window_start, count(t1.user) AS n, max(t0.gen_ms) AS gen_max " +
      "FROM t0 LEFT JOIN t1 ON t0.user_id = t1.user " +
      "GROUP BY t0.window_start ORDER BY t0.window_start"

  private val RawRow = """^(\d+), (\d+), (\d+)$""".r
  private val TableRow = """^\|\s*(\d+)\s*\|\s*(\d+)\s*\|\s*(\d+)\s*\|$""".r

  def main(argv: Array[String]): Unit = {
    val mode = argv.head
    val a = argv.tail.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val code =
      try {
        mode match {
          case "prepare" => prepare(a("csv"), a("out"))
          case "run"     => new Run(a).main()
        }
        0
      } catch {
        case e: Throwable => e.printStackTrace(); 1
      }
    System.exit(code)
  }

  // ------------------------------------------------------------- prepare

  private val tableSchemas = Map(
    "events" -> "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE",
    "customer" -> "c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, c_mktsegment STRING",
    "part" -> "p_partkey BIGINT, p_name STRING",
    "lineitem" -> "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, l_linenumber INT, l_quantity DOUBLE",
    "documents" -> "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")

  /** CSV tables from gen.py → one parquet per table, the layout
    * `SparkEntry.queries` reads. */
  def prepare(csvDir: String, out: String): Unit = {
    val spark = GraftSession.get()
    tableSchemas.foreach { case (t, schema) =>
      spark.read.option("header", "true")
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
        .schema(schema).csv(s"$csvDir/$t.csv")
        .coalesce(1).write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
    spark.stop()
  }

  /** One run of one workload. */
  final class Run(a: Map[String, String]) {
    val workload: String = a("workload")
    val work: String = a("work")
    val traced: Boolean = a.getOrElse("trace", "0") == "1"
    val cpus: String = a.getOrElse("cpus", "4")
    val drainOnly: Boolean = a.getOrElse("drain-only", "0") == "1"
    val ledger = new Ledger
    val rec = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    val ops = ArrayBuffer.empty[Map[String, Any]] // attempted operations
    val probes = ArrayBuffer.empty[Map[String, Any]]
    val emissions = ArrayBuffer.empty[Seq[Any]]   // [cb_ms, phase, window, n, gen_max]
    val sinkCalls = ArrayBuffer.empty[Map[String, Any]]
    var spark: SparkSession = _

    private def gcMs(): Long =
      ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

    def main(): Unit = {
      val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
      val setups = ArrayBuffer.empty[Double]
      val starts = ArrayBuffer.empty[Double]
      // set-up = session start plus warmup, several times; the first one
      // also pays JVM start and class loading
      val samples = if (drainOnly) 1 else 3
      for (i <- 0 until samples) {
        if (spark != null) spark.stop()
        val t0 = if (i == 0) jvmStart else ledger.now()
        val s0 = ledger.now()
        spark = GraftSession.get(cpus)
        starts += (ledger.now() - s0) / 1000
        warmup(i)
        setups += (ledger.now() - t0) / 1000
        ledger.add(s"setup:$i", "session", "workload", t0, ledger.now())
      }
      rec("setup_s") = setups
      rec("session_start_s") = starts
      spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
      if (traced) {
        spark.sparkContext.addSparkListener(ledger.sparkListener)
        spark.streams.addListener(ledger.queryListener)
      }
      val gc0 = gcMs()
      val w0 = ledger.now()
      workload match {
        case "tail_follow"   => tail(followStart)
        case "tail_snapshot" => tail(snapshotStart)
        case "batch_sweep"   => batch()
      }
      if (traced && !drainOnly) parseLayer()
      rec("gc_ms") = gcMs() - gc0
      ledger.add("workload", "harness", "", w0, ledger.now())
      if (workload == "tail_follow" && !drainOnly) probe()
      System.gc()
      rec("heap_live_mb") =
        ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
      spark.stop() // drains the listener bus into the ledger
      rec("ops") = ops
      rec("probes") = probes
      rec("emissions") = emissions
      rec("sink_calls") = sinkCalls
      val json = new ObjectMapper().registerModule(DefaultScalaModule)
      rec("progress") = ledger.progress.map { case (ph, js) =>
        Map("phase" -> ph, "p" -> json.readTree(js)) }
      rec("jobs") = ledger.jobs
      rec("stages") = ledger.stages
      rec("spans") = ledger.spans
      Files.write(Paths.get(a("out")), json.writeValueAsBytes(rec))
    }

    private def op(name: String)(body: => Unit): Unit = {
      val t0 = ledger.now()
      val err =
        try { body; None }
        catch { case e: Throwable => Some(firstLine(e)) }
      ops += Map("op" -> name, "ok" -> err.isEmpty, "error" -> err.orNull,
        "ms" -> (ledger.now() - t0))
    }

    private def firstLine(e: Throwable): String =
      s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".linesIterator.next()

    // ---------------------------------------------------------- tails

    /** Records every result row the tail runner emits, with the time
      * the sink callback saw it. Runs on the stream thread. */
    private def sink(kind: String)(s: String): Unit = {
      val t = ledger.now()
      val rowRe = if (kind == "raw") RawRow else TableRow
      val rows = s.linesIterator.collect { case rowRe(w, n, g) => (w.toLong, n.toLong, g.toLong) }.toSeq
      val props = spark.sparkContext
      val batch = props.getLocalProperty("streaming.sql.batchId")
      val qid = props.getLocalProperty("sql.streaming.queryId")
      val ph = ledger.phase
      emissions.synchronized {
        rows.foreach { case (w, n, g) => emissions += Seq(t, ph, w, n, g) }
        sinkCalls += Map("ms" -> t, "batch" -> batch, "query_id" -> qid,
          "bytes" -> s.getBytes(UTF_8).length, "rows" -> rows.size, "phase" -> ph)
      }
    }

    private def followCfg(file: String): TailStream.Config = TailStream.Config(
      dir = file, pattern = EventPattern, filter = Some(Filter),
      windowSizeSec = a("window-s").toLong, tsField = Some("ts"),
      watermarkDelay = s"${a("delay-s")} seconds", sql = Some(FollowSql),
      format = "raw", throttleMax = Some(a("throttle").toInt), follow = true)

    private def followStart(root: String, ck: String, trig: Trigger,
                            out: String => Unit): StreamingQuery =
      TailStream.run(spark, followCfg(s"$root/t0/events.log"), ck, out, trig)

    private def snapshotCfgs(root: String): Seq[TailStream.Config] = {
      val w = a("window-s").toLong
      val d = s"${a("delay-s")} seconds"
      Seq(
        TailStream.Config(dir = s"$root/t0", pattern = EventPattern, filter = Some(Filter),
          windowSizeSec = w, tsField = Some("ts"), watermarkDelay = d),
        TailStream.Config(dir = s"$root/t1", pattern = CustomerPattern,
          windowSizeSec = w, tsField = Some("ts"), watermarkDelay = d))
    }

    private def snapshotStart(root: String, ck: String, trig: Trigger,
                              out: String => Unit): StreamingQuery =
      TailStream.runMultiSnapshot(spark, snapshotCfgs(root), SnapshotSql, "table",
        ck, out, trig)

    private type Starter = (String, String, Trigger, String => Unit) => StreamingQuery

    private def sinkKind = if (workload == "tail_follow") "raw" else "table"

    private def waitFor(path: String, seconds: Double): Unit = {
      val end = System.nanoTime() + (seconds * 1e9).toLong
      while (!new File(path).exists()) {
        if (System.nanoTime() > end) sys.error(s"timed out waiting for $path")
        Thread.sleep(5)
      }
    }

    private def rows(q: StreamingQuery): Long = q.recentProgress.map(_.numInputRows).sum

    /** Drain the pre-written backlog with AvailableNow, then follow the
      * open-loop appends with back-to-back triggers until the
      * generator is done and everything it wrote is processed. */
    private def tail(start: Starter): Unit = {
      touch(s"$work/ready")
      waitFor(s"$work/backlog.done", 120)
      // the backlog is drained `drains` times from its start, each time on
      // a fresh checkpoint; the open loop resumes from the last drain's
      val drains = if (drainOnly) 1 else 3
      val times = ArrayBuffer.empty[Double]
      var drainRows = 0L
      var ck = ""
      for (i <- 0 until drains) {
        ck = s"$work/checkpoint$i"
        ledger.phase = if (i == drains - 1) "drain" else s"replay$i"
        op(ledger.phase) {
          val t0 = ledger.now()
          val q = start(work, ck, Trigger.AvailableNow(), sink(sinkKind))
          q.awaitTermination()
          times += (ledger.now() - t0) / 1000
          ledger.add(ledger.phase, "harness", "workload", t0, ledger.now())
          drainRows = rows(q)
        }
      }
      rec("drain_s") = times
      rec("drain_rows") = drainRows
      if (drainOnly) { touch(s"$work/go"); return }
      ledger.phase = "open"
      op("open_loop") {
        val q = start(work, ck, Trigger.ProcessingTime(0L), sink(sinkKind))
        try {
          q.processAllAvailable()
          val t0 = ledger.now()
          touch(s"$work/go")
          waitFor(s"$work/gen.json", a("open-seconds").toDouble + 60)
          val written = """"lines": (\d+)""".r
            .findFirstMatchIn(new String(Files.readAllBytes(Paths.get(s"$work/gen.json")), UTF_8))
            .map(_.group(1).toLong).getOrElse(0L)
          rec("backlog_lines_end") = written - drainRows - rows(q)
          q.processAllAvailable()
          ledger.add("open", "harness", "workload", t0, ledger.now())
        } finally q.stop()
      }
    }

    private def touch(path: String): Unit = {
      new File(path).getParentFile.mkdirs()
      Files.write(Paths.get(path), Array.emptyByteArray)
    }

    private def append(path: String, lines: Seq[String]): Unit = {
      new File(path).getParentFile.mkdirs()
      Files.write(Paths.get(path), lines.map(_ + "\n").mkString.getBytes(UTF_8),
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    }

    private val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
      .withZone(java.time.ZoneOffset.UTC)
    private def tsText(sec: Long) = fmt.format(java.time.Instant.ofEpochSecond(sec))
    private val types = Seq("signup", "click", "error", "view", "purchase")
    private def eventLine(i: Long, sec: Long): String =
      s"id=$i ts=${tsText(sec)} user=${i % 50} type=${types((i % 5).toInt)} value=${i % 97}.5 gen=0"
    private def customerLine(i: Long, sec: Long): String =
      s"user=${i % 50} name=Customer#$i segment=FURNITURE ts=${tsText(sec)} gen=0"

    /** Small input of the workload's own shape, run through the same
      * entry point, so the timed phases start with loaded classes and
      * generated code. */
    private def warmup(i: Int): Unit = {
      val root = s"$work/warm$i"
      val quiet: String => Unit = _ => ()
      workload match {
        case "batch_sweep" =>
          // no per-query warm pass: on the small tables it costs as much as
          // the timed pass (per-job overhead dominates) and did not change
          // the timed figures
          val lines = spark.range(2000).select(concat(lit("id="), col("id"),
            lit(" ts=2024-01-01 00:00:00 user=1 type=click value=1.5 gen=0")).as("value"))
          LogSource.parse(lines, EventPattern).write.format("noop").mode("overwrite").save()
        case w =>
          val base = 1704067200L
          // tail_snapshot fires one SQL job per closed window, so its
          // warm input spans a handful of windows only
          val n = if (w == "tail_follow") 20000L else 60L
          val ev = (0L until n).map(j => eventLine(j, base + j * 30))
          if (w == "tail_follow") append(s"$root/t0/events.log", ev)
          else {
            append(s"$root/t0/part-0.log", ev)
            append(s"$root/t1/part-0.log", (0L until n by 2).map(j => customerLine(j, base + j * 30)))
          }
          val start: Starter = if (w == "tail_follow") followStart else snapshotStart
          start(root, s"$root/checkpoint", Trigger.AvailableNow(), quiet).awaitTermination()
      }
    }

    // ---------------------------------------------------------- batch

    private def cleanup(gc: Boolean): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      // a GC lets the context cleaner drop the previous query's shuffle
      // files and broadcasts before the next one starts
      if (gc) { System.gc(); Thread.sleep(500) }
    }

    /** Every query of both sets once, in the seed's order, materialised
      * through the noop sink; the row count and an order-independent
      * hash ride along as observed metrics of the same pass. */
    private def batch(): Unit = {
      val dir = a("data")
      val results = scala.collection.mutable.LinkedHashMap.empty[String, Any]
      a("queries").split(",").foreach { k =>
        cleanup(gc = true)
        ledger.phase = s"query:$k"
        spark.sparkContext.setJobGroup(s"query:$k", k, interruptOnCancel = false)
        op(s"query:$k") {
          val t0 = ledger.now()
          val df = SparkEntry.queries(k)(spark, dir)
          val t1 = ledger.now()
          val ob = Observation(s"chk_$k")
          val h = xxhash64(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)
          df.observe(ob, count(lit(1)).as("n"), sum(h.cast("decimal(38,0)")).as("h"))
            .write.format("noop").mode("overwrite").save()
          val t2 = ledger.now()
          val m = ob.get
          val pinned = spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
          ledger.add(s"build:$k", "operators.build", s"query:$k", t0, t1)
          ledger.add(s"execute:$k", "operators.execute", s"query:$k", t1, t2)
          ledger.add(s"query:$k", "operators", "workload", t0, t2)
          results(k) = Map("s" -> (t2 - t0) / 1000, "build_ms" -> (t1 - t0),
            "rows" -> m("n"), "hash" -> Option(m("h")).map(_.toString).orNull,
            "pinned_mb" -> pinned / 1048576.0)
        }
        spark.sparkContext.clearJobGroup()
      }
      cleanup(gc = true)
      rec("queries") = results
    }

    // ---------------------------------------------------------- layers

    /** `LogSource.parse` alone over the workload's lines as a static
      * frame, noop write; median of three passes. */
    private def parseLayer(): Unit = {
      ledger.phase = "parse"
      val lines: DataFrame =
        if (workload == "batch_sweep")
          spark.read.parquet(s"${a("data")}/events.parquet").select(concat(
            lit("id="), col("event_id"),
            lit(" ts="), date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"),
            lit(" user="), col("user_id"), lit(" type="), col("event_type"),
            lit(" value="), col("value").cast("string"), lit(" gen=0")).as("value"))
        else spark.read.text(s"$work/t0")
      val total = lines.count()
      val runs = (0 until 3).map { i =>
        val ob = Observation(s"parse_$i")
        val t0 = ledger.now()
        LogSource.parse(lines, EventPattern).observe(ob, count(lit(1)).as("n"))
          .write.format("noop").mode("overwrite").save()
        val dt = ledger.now() - t0
        ledger.add(s"parse:$i", "sources.parse", "workload", t0, t0 + dt)
        (dt, ob.get("n").asInstanceOf[Long])
      }
      rec("parse") = Map("lines" -> total, "rows" -> runs.head._2,
        "ms" -> runs.map(_._1).sorted.apply(1))
    }

    // ---------------------------------------------------------- probes

    /** One small operation per tail_follow run for each known defect;
      * never timed. */
    private def probe(): Unit = {
      ledger.phase = "probe"
      val base = 1704067200L
      def attempt(name: String)(body: String => Unit): Unit = {
        val err =
          try { body(s"$work/probe-$name"); None }
          catch { case e: Throwable => Some(firstLine(e)) }
        probes += Map("probe" -> name, "ok" -> err.isEmpty, "error" -> err.orNull)
      }
      // a throttle on a complete-window runner must start and run
      attempt("snapshot_throttle") { root =>
        append(s"$root/t0/part-0.log", (0L until 40L).map(j => eventLine(j, base + j * 30)))
        append(s"$root/t1/part-0.log", (0L until 40L).map(j => customerLine(j, base + j * 30)))
        val cfgs = snapshotCfgs(root).map(_.copy(throttleMax = Some(5)))
        TailStream.runMultiSnapshot(spark, cfgs, SnapshotSql, "table",
          s"$root/checkpoint", _ => (), Trigger.AvailableNow()).awaitTermination()
      }
      // a row more than one period plus twice the delay behind the
      // newest event time must be dropped as late, not kill the query.
      // One line per trigger: the jump row moves the eviction watermark
      // to 940 s while the late-row filter still uses the previous
      // trigger's 40 s, so the 200 s row reaches the throttle's state
      // function.
      attempt("throttle_late_row") { root =>
        val lines = Seq(eventLine(0L, base + 100), eventLine(1L, base + 1000),
          eventLine(2L, base + 200))
        val file = s"$root/t0/events.log"
        append(file, lines)
        val cfg = followCfg(file).copy(windowSizeSec = 60L,
          watermarkDelay = "60 seconds", throttleMax = Some(5),
          followMaxBytes = Some(lines.map(_.length + 1).max.toLong))
        TailStream.run(spark, cfg, s"$root/checkpoint", _ => (),
          Trigger.AvailableNow()).awaitTermination()
      }
    }
  }
}
