package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec

class TailStreamSpec extends SparkSpec {

  /** Raw-format blocks now carry the reference's byte frame (header
    * line + 31-dash rule + ", "-joined cells — pinned by
    * TailAppGoldenSpec); these behavioral tests care about the DATA
    * rows, so strip the frame and re-tighten the separator.
    */
  private def rawRows(
      captured: java.util.concurrent.ConcurrentLinkedQueue[String]): Seq[String] =
    captured.toArray(Array.empty[String]).toSeq
      .flatMap(_.split("\n").drop(2))
      .filter(_.nonEmpty)
      .map(_.replace(", ", ","))


  private val pattern =
    """(?P<ts__date>\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}) (?P<level__str>\w+) (?P<ms__int>\d+)"""

  private def writeLog(dir: java.io.File, name: String, lines: String*): Unit =
    Files.write(new java.io.File(dir, name).toPath,
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))

  test("end-to-end: tail dir -> parse -> event-time window -> SQL -> formatter") {
    val dir = Files.createTempDirectory("graft-tail").toFile
    val ckpt = Files.createTempDirectory("graft-ckpt").toFile
    writeLog(dir, "a.log",
      "2024-01-01 00:00:10 INFO 5",
      "2024-01-01 00:00:20 WARN 9",
      "2024-01-01 00:01:10 INFO 3",
      "this line does not parse")
    writeLog(dir, "b.log",
      "2024-01-01 00:00:40 INFO 7")

    val captured = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val cfg = TailStream.Config(
      dir = dir.getAbsolutePath, pattern = pattern,
      filter = Some("level IN ('INFO','WARN')"),
      windowSizeSec = 60, tsField = Some("ts"), format = "raw",
      sql = Some("""SELECT window_start, count(*) AS n, sum(ms) AS total_ms
                    FROM t0 GROUP BY window_start ORDER BY window_start"""))
    val q = TailStream.run(spark, cfg, ckpt.getAbsolutePath,
      sink = s => captured.add(s), trigger = Trigger.AvailableNow())
    q.awaitTermination(60000)

    val out = rawRows(captured).sorted
    // window 00:00 has 3 rows (5+9+7ms), window 00:01 has 1 row (3ms)
    assert(out.toSeq == Seq("1704067200,3,21", "1704067260,1,3"), out.toSeq.toString)
  }

  test("do_not_tail=false seeks to end: pre-existing files are skipped") {
    // the reference's default tail -f semantics: content already in the
    // directory at stream start never enters the pipeline; only files
    // modified after the cutoff are read. Pinned via tailSince so the
    // test is deterministic: a.log is backdated before the cutoff,
    // b.log touched after it.
    val dir = Files.createTempDirectory("graft-seek").toFile
    val ckpt = Files.createTempDirectory("graft-seek-ckpt").toFile
    writeLog(dir, "a.log", "2024-01-01 00:00:10 INFO 5")
    val cutoff = System.currentTimeMillis()
    Files.setLastModifiedTime(new java.io.File(dir, "a.log").toPath,
      java.nio.file.attribute.FileTime.fromMillis(cutoff - 60000))
    writeLog(dir, "b.log", "2024-01-01 00:00:20 WARN 9")
    Files.setLastModifiedTime(new java.io.File(dir, "b.log").toPath,
      java.nio.file.attribute.FileTime.fromMillis(cutoff + 1000))

    val captured = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val cfg = TailStream.Config(
      dir = dir.getAbsolutePath, pattern = pattern,
      windowSizeSec = 60, tsField = Some("ts"), format = "raw",
      doNotTail = false, tailSince = Some(cutoff),
      sql = Some("""SELECT window_start, count(*) AS n, sum(ms) AS total_ms
                    FROM t0 GROUP BY window_start ORDER BY window_start"""))
    val q = TailStream.run(spark, cfg, ckpt.getAbsolutePath,
      sink = s => captured.add(s), trigger = Trigger.AvailableNow())
    q.awaitTermination(60000)

    val out = rawRows(captured).toSeq
    // only b.log's row: 1 row, 9ms — a.log predates the tail cutoff
    assert(out == Seq("1704067200,1,9"), out.toString)
  }

  test("config throttle admits at most N rows per event-time period, across batches") {
    // the reference's per-source throttle wired through Config: 4 rows
    // land in one 60s period split over TWO micro-batches (separate
    // runs); max 2 admitted total — the second batch's rows find the
    // period's budget already spent in state.
    val dir = Files.createTempDirectory("graft-thr").toFile
    val ckpt = Files.createTempDirectory("graft-thr-ckpt").toFile
    val cfg = TailStream.Config(
      dir = dir.getAbsolutePath, pattern = pattern,
      windowSizeSec = 60, tsField = Some("ts"), watermarkDelay = "0 seconds",
      format = "raw", throttleMax = Some(2),
      sql = Some("SELECT count(*) AS n, sum(ms) AS total_ms FROM t0"))
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def runOnce(): Unit = {
      val q = TailStream.run(spark, cfg, ckpt.getAbsolutePath,
        sink = s => captured.add(s), trigger = Trigger.AvailableNow())
      q.awaitTermination(60000)
    }
    writeLog(dir, "a.log",
      "2024-01-01 00:00:10 INFO 1",
      "2024-01-01 00:00:20 INFO 2")
    runOnce()
    writeLog(dir, "b.log",
      "2024-01-01 00:00:30 INFO 4",
      "2024-01-01 00:00:40 INFO 8")
    runOnce()
    val counts = rawRows(captured)
    // batch 1 admits both rows (1+2=3ms); batch 2 admits nothing
    assert(counts.head == "2,3", counts.toString)
    assert(counts.tail.forall(c => c.split(",", -1)(0) == "0"), counts.toString)
  }

  test("throttle drops a row late past the watermark instead of failing the query") {
    // one line per trigger at 100 s, 1000 s, 200 s (60 s period, 60 s
    // delay): the 1000 s row moves the watermark to 940 s, so the 200 s
    // row's period [180 s, 240 s) timed out long ago — its count is gone
    // and the row must be discarded, not crash the state function
    val f = Files.createTempFile("graft-late", ".log").toFile
    val ckpt = Files.createTempDirectory("graft-late-ckpt").toFile
    val lines = Seq(
      "2024-01-01 00:01:40 INFO 1",
      "2024-01-01 00:16:40 INFO 2",
      "2024-01-01 00:03:20 INFO 3")
    Files.write(f.toPath, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    val cfg = TailStream.Config(
      dir = f.getAbsolutePath, pattern = pattern, follow = true,
      followMaxBytes = Some(lines.map(_.length + 1).max.toLong),
      windowSizeSec = 60, tsField = Some("ts"), watermarkDelay = "60 seconds",
      throttleMax = Some(5), format = "raw",
      sql = Some("SELECT ms FROM t0 ORDER BY ms"))
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val q = TailStream.run(spark, cfg, ckpt.getAbsolutePath,
      sink = s => captured.add(s), trigger = Trigger.AvailableNow())
    q.awaitTermination(60000)
    assert(q.exception.isEmpty, q.exception.toString)
    val out = rawRows(captured).toSeq
    assert(out == Seq("1", "2"), out.toString)
  }

  test("runMulti applies each source's own throttle (config not dropped in N-source mode)") {
    // two sources, each with throttleMax=1 and two rows in the same
    // 60s period: each source must admit exactly ONE row — the
    // per-source throttle config has to survive the union into t0/t1
    val dirs = (0 to 1).map(_ => Files.createTempDirectory("graft-mthr").toFile)
    val ckpt = Files.createTempDirectory("graft-mthr-ckpt").toFile
    writeLog(dirs(0), "a.log",
      "2024-01-01 00:00:10 INFO 1",
      "2024-01-01 00:00:20 INFO 2")
    writeLog(dirs(1), "b.log",
      "2024-01-01 00:00:30 WARN 4",
      "2024-01-01 00:00:40 WARN 8")
    val cfgs = (0 to 1).map(i => TailStream.Config(
      dir = dirs(i).getAbsolutePath, pattern = pattern,
      windowSizeSec = 60, tsField = Some("ts"), watermarkDelay = "0 seconds",
      throttleMax = Some(1)))
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val q = TailStream.start(spark, cfgs,
      sql = """SELECT 't0' AS src, count(*) AS n FROM t0
               UNION ALL SELECT 't1', count(*) FROM t1 ORDER BY src""",
      format = "raw", checkpointDir = ckpt.getAbsolutePath,
      sink = s => captured.add(s), trigger = Trigger.AvailableNow())
    q.awaitTermination(60000)
    val out = rawRows(captured).toSeq
    // first fire: exactly one row admitted per source; any later fires
    // (the stateful operators' final flush batch) must be empty
    assert(out.take(2) == Seq("t0,1", "t1,1"), out.toString)
    assert(out.drop(2).forall(c => c.split(",", -1)(1) == "0"), out.toString)
  }

  test("runMulti honors per-source seek-to-end (doNotTail=false skips pre-existing files)") {
    // source 0 tails from its cutoff (its pre-existing file is
    // skipped); source 1 processes from the start — mixed per-source
    // seek config inside one multi-source stream
    val dirs = (0 to 1).map(_ => Files.createTempDirectory("graft-mseek").toFile)
    val ckpt = Files.createTempDirectory("graft-mseek-ckpt").toFile
    val cutoff = System.currentTimeMillis()
    writeLog(dirs(0), "old.log", "2024-01-01 00:00:10 INFO 5")
    Files.setLastModifiedTime(new java.io.File(dirs(0), "old.log").toPath,
      java.nio.file.attribute.FileTime.fromMillis(cutoff - 60000))
    writeLog(dirs(1), "keep.log", "2024-01-01 00:00:20 WARN 9")
    val cfgs = Seq(
      TailStream.Config(dir = dirs(0).getAbsolutePath, pattern = pattern,
        windowSizeSec = 60, tsField = Some("ts"),
        doNotTail = false, tailSince = Some(cutoff)),
      TailStream.Config(dir = dirs(1).getAbsolutePath, pattern = pattern,
        windowSizeSec = 60, tsField = Some("ts")))
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val q = TailStream.start(spark, cfgs,
      sql = """SELECT 't0' AS src, count(*) AS n FROM t0
               UNION ALL SELECT 't1', count(*) FROM t1 ORDER BY src""",
      format = "raw", checkpointDir = ckpt.getAbsolutePath,
      sink = s => captured.add(s), trigger = Trigger.AvailableNow())
    q.awaitTermination(60000)
    val out = rawRows(captured).toSeq
    assert(out == Seq("t0,0", "t1,1"), out.toString)
  }

  test("two tailed sources join per window like the reference's t0 JOIN t1") {
    val dirL = Files.createTempDirectory("graft-jl").toFile
    val dirR = Files.createTempDirectory("graft-jr").toFile
    val ckpt = Files.createTempDirectory("graft-jckpt").toFile
    writeLog(dirL, "l.log",
      "2024-01-01 00:00:10 INFO 5",
      "2024-01-01 00:00:20 WARN 9",
      "2024-01-01 00:01:10 INFO 3") // window 00:01 has no right match
    val patternR =
      """(?P<ts__date>\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}) (?P<level__str>\w+) code=(?P<code__int>\d+)"""
    writeLog(dirR, "r.log",
      "2024-01-01 00:00:30 INFO code=200",
      "2024-01-01 00:00:40 ERROR code=500")

    val captured = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val cfgL = TailStream.Config(dir = dirL.getAbsolutePath, pattern = pattern,
      windowSizeSec = 60, tsField = Some("ts"))
    val cfgR = TailStream.Config(dir = dirR.getAbsolutePath, pattern = patternR,
      windowSizeSec = 60, tsField = Some("ts"))
    val q = TailStream.start(spark, Seq(cfgL, cfgR), join = Some(Seq("level")),
      sql = """SELECT window_start, level, ms, code_1 FROM t0
               ORDER BY window_start, level, ms""",
      format = "raw", checkpointDir = ckpt.getAbsolutePath,
      sink = s => captured.add(s), trigger = Trigger.AvailableNow())
    q.awaitTermination(60000)

    val out = rawRows(captured).sorted
    // only the 00:00 window's INFO rows co-occur on both sides
    assert(out.toSeq == Seq("1704067200,INFO,5,200"), out.toSeq.toString)
  }

  test("tailed stream joins a static dim table (broadcast, no stream state)") {
    val dir = Files.createTempDirectory("graft-ss").toFile
    val ckpt = Files.createTempDirectory("graft-ss-ckpt").toFile
    writeLog(dir, "a.log",
      "2024-01-01 00:00:10 INFO 5",
      "2024-01-01 00:00:20 TRACE 9") // TRACE has no dim row -> dropped
    val s = spark
    import s.implicits._
    val dim = Seq(("INFO", 1), ("WARN", 2), ("ERROR", 3)).toDF("level", "severity")

    val cfg = TailStream.Config(dir = dir.getAbsolutePath, pattern = pattern,
      windowSizeSec = 60, tsField = Some("ts"))
    val joined = TailStream.parsed(spark, cfg)
      .join(org.apache.spark.sql.functions.broadcast(dim), "level")
    assert(joined.isStreaming)
    val q = joined.writeStream.format("memory").queryName("ss_join")
      .option("checkpointLocation", ckpt.getAbsolutePath)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val out = spark.table("ss_join").select("level", "ms", "severity")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
    assert(out.toSeq == Seq(("INFO", 5L, 1)))
  }

  test("restart from checkpoint processes only files added since the last run") {
    val dir = Files.createTempDirectory("graft-resume").toFile
    val ckpt = Files.createTempDirectory("graft-resume-ckpt").toFile
    val cfg = TailStream.Config(dir = dir.getAbsolutePath, pattern = pattern,
      windowSizeSec = 60, tsField = Some("ts"), format = "raw",
      sql = Some("SELECT level, ms FROM t0 ORDER BY ms"))

    writeLog(dir, "a.log", "2024-01-01 00:00:10 INFO 5")
    val captured1 = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val q1 = TailStream.run(spark, cfg, ckpt.getAbsolutePath,
      sink = s => captured1.add(s), trigger = Trigger.AvailableNow())
    q1.awaitTermination(60000)
    assert(String.join("\n", captured1).contains("INFO, 5"))

    // new file appears between runs; the old one must NOT be reprocessed
    writeLog(dir, "b.log", "2024-01-01 00:00:20 WARN 9")
    val captured2 = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val q2 = TailStream.run(spark, cfg, ckpt.getAbsolutePath,
      sink = s => captured2.add(s), trigger = Trigger.AvailableNow())
    q2.awaitTermination(60000)
    val out2 = String.join("\n", captured2)
    assert(out2.contains("WARN, 9"), out2)
    assert(!out2.contains("INFO, 5"), "checkpoint resume must not reprocess: " + out2)
  }

  test("runSnapshot fires once per complete window even when its rows span batches") {
    // Rows of window 00:00 arrive in TWO separate runs (separate
    // micro-batches): the incremental run() would report the window
    // twice, partially; runSnapshot must hold it open until the
    // watermark passes the window end, then fire exactly once with all
    // rows. Run 3 only flushes the last window via a later timestamp.
    val dir = Files.createTempDirectory("graft-snap").toFile
    val ckpt = Files.createTempDirectory("graft-snap-ckpt").toFile
    val cfg = TailStream.Config(
      dir = dir.getAbsolutePath, pattern = pattern,
      windowSizeSec = 60, tsField = Some("ts"), watermarkDelay = "0 seconds",
      format = "raw",
      sql = Some("""SELECT window_start, count(*) AS n, sum(ms) AS total_ms
                    FROM t0 GROUP BY window_start ORDER BY window_start"""))
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def runOnce(): Unit = {
      val q = TailStream.start(spark, Seq(cfg), cfg.sql.get, cfg.format, ckpt.getAbsolutePath,
        sink = s => captured.add(s), trigger = Trigger.AvailableNow(), snapshot = true, shards = 4)
      q.awaitTermination(60000)
    }
    writeLog(dir, "a.log", "2024-01-01 00:00:10 INFO 5")
    runOnce()
    writeLog(dir, "b.log", // completes window 00:00, opens 00:01
      "2024-01-01 00:00:20 WARN 9",
      "2024-01-01 00:01:10 INFO 3")
    runOnce()
    writeLog(dir, "c.log", "2024-01-01 00:30:00 INFO 1") // flushes 00:01
    runOnce()

    val out = rawRows(captured).toSeq
    // exactly one COMPLETE fire per closed window — no partials
    assert(out == Seq("1704067200,2,14", "1704067260,1,3"), out.toString)
  }

  test("snapshot SQL with HAVING is a streaming rate alert: only breaching windows fire") {
    // the r14_rate_alert semantics on the live path: per complete
    // window, compute the ERROR share and emit only windows over the
    // threshold — quiet windows produce no output at all.
    val dir = Files.createTempDirectory("graft-alert").toFile
    val ckpt = Files.createTempDirectory("graft-alert-ckpt").toFile
    val cfg = TailStream.Config(
      dir = dir.getAbsolutePath, pattern = pattern,
      windowSizeSec = 60, tsField = Some("ts"), watermarkDelay = "0 seconds",
      format = "raw",
      sql = Some("""SELECT window_start, count(*) AS n
                    FROM t0 GROUP BY window_start
                    HAVING sum(CASE WHEN level = 'ERROR' THEN 1 ELSE 0 END) * 2 > count(*)
                    ORDER BY window_start"""))
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    writeLog(dir, "a.log",
      "2024-01-01 00:00:10 ERROR 5", // window 00:00: 2/3 errors -> alert
      "2024-01-01 00:00:20 ERROR 9",
      "2024-01-01 00:00:30 INFO 1",
      "2024-01-01 00:01:10 ERROR 3", // window 00:01: 1/3 errors -> quiet
      "2024-01-01 00:01:20 INFO 2",
      "2024-01-01 00:01:30 INFO 2",
      "2024-01-01 00:30:00 INFO 1") // flushes both windows
    val q = TailStream.start(spark, Seq(cfg), cfg.sql.get, cfg.format, ckpt.getAbsolutePath,
      sink = s => captured.add(s), trigger = Trigger.AvailableNow(), snapshot = true, shards = 4)
    q.awaitTermination(60000)
    val out = rawRows(captured).toSeq
    assert(out == Seq("1704067200,3"), out.toString)
  }

  test("runJoinSnapshot fires per-window join SQL once, complete") {
    val dirL = Files.createTempDirectory("graft-jsl").toFile
    val dirR = Files.createTempDirectory("graft-jsr").toFile
    val ckpt = Files.createTempDirectory("graft-js-ckpt").toFile
    val patternR =
      """(?P<ts__date>\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}) (?P<level__str>\w+) code=(?P<code__int>\d+)"""
    val cfgL = TailStream.Config(dir = dirL.getAbsolutePath, pattern = pattern,
      windowSizeSec = 60, tsField = Some("ts"), watermarkDelay = "0 seconds")
    val cfgR = TailStream.Config(dir = dirR.getAbsolutePath, pattern = patternR,
      windowSizeSec = 60, tsField = Some("ts"), watermarkDelay = "0 seconds")
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def runOnce(): Unit = {
      val q = TailStream.start(spark, Seq(cfgL, cfgR), join = Some(Seq("level")), snapshot = true,
        sql = """SELECT window_start, level, ms, code_1 FROM t0
                 ORDER BY window_start, level, ms""",
        format = "raw", checkpointDir = ckpt.getAbsolutePath,
        sink = s => captured.add(s), trigger = Trigger.AvailableNow(), shards = 4)
      q.awaitTermination(60000)
    }
    // the two sides of the 00:00 INFO match arrive in separate runs
    writeLog(dirL, "l.log",
      "2024-01-01 00:00:10 INFO 5",
      "2024-01-01 00:00:20 WARN 9")
    runOnce()
    writeLog(dirR, "r.log",
      "2024-01-01 00:00:30 INFO code=200",
      "2024-01-01 00:00:40 ERROR code=500")
    runOnce()
    // both sides far ahead so watermark (min of sides) passes 00:01
    writeLog(dirL, "l2.log", "2024-01-01 00:30:00 INFO 1")
    writeLog(dirR, "r2.log", "2024-01-01 00:30:00 INFO code=204")
    runOnce()
    val out = rawRows(captured).toSeq
    assert(out == Seq("1704067200,INFO,5,200"), out.toString)
  }

  test("runMulti registers N tailed sources as t0..tN for one SQL") {
    // three sources, three different schemas, one SQL joining all of
    // them inside the window — the reference's __tname multi-table form
    val dirs = (0 to 2).map(_ => Files.createTempDirectory("graft-multi").toFile)
    val ckpt = Files.createTempDirectory("graft-multi-ckpt").toFile
    writeLog(dirs(0), "a.log",
      "2024-01-01 00:00:10 INFO 5",
      "2024-01-01 00:00:20 WARN 9")
    val patternB =
      """(?P<ts__date>\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}) (?P<level__str>\w+) code=(?P<code__int>\d+)"""
    writeLog(dirs(1), "b.log", "2024-01-01 00:00:30 INFO code=200")
    val patternC =
      """(?P<ts__date>\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}) (?P<level__str>\w+) host=(?P<host__str>\S+)"""
    writeLog(dirs(2), "c.log", "2024-01-01 00:00:40 INFO host=web1")

    val cfgs = Seq(
      TailStream.Config(dir = dirs(0).getAbsolutePath, pattern = pattern,
        windowSizeSec = 60, tsField = Some("ts")),
      TailStream.Config(dir = dirs(1).getAbsolutePath, pattern = patternB,
        windowSizeSec = 60, tsField = Some("ts")),
      TailStream.Config(dir = dirs(2).getAbsolutePath, pattern = patternC,
        windowSizeSec = 60, tsField = Some("ts")))
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val q = TailStream.start(spark, cfgs,
      sql = """SELECT t0.window_start, t0.level, t0.ms, t1.code, t2.host
               FROM t0 JOIN t1 ON t0.window_start = t1.window_start
                        AND t0.level = t1.level
                       JOIN t2 ON t0.window_start = t2.window_start
                        AND t0.level = t2.level
               ORDER BY t0.ms""",
      format = "raw", checkpointDir = ckpt.getAbsolutePath,
      sink = s => captured.add(s), trigger = Trigger.AvailableNow())
    q.awaitTermination(60000)
    val out = rawRows(captured).toSeq
    // only the INFO rows co-occur across all three tables in window 00:00
    assert(out == Seq("1704067200,INFO,5,200,web1"), out.toString)
  }

  test("runSnapshot handles SLIDING windows: each row lands complete in every window") {
    val dir = Files.createTempDirectory("graft-slide").toFile
    val ckpt = Files.createTempDirectory("graft-slide-ckpt").toFile
    val cfg = TailStream.Config(
      dir = dir.getAbsolutePath, pattern = pattern,
      windowSizeSec = 60, slideSec = Some(30),
      tsField = Some("ts"), watermarkDelay = "0 seconds", format = "raw",
      sql = Some("""SELECT window_start, count(*) AS n, sum(ms) AS total_ms
                    FROM t0 GROUP BY window_start ORDER BY window_start"""))
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def runOnce(): Unit = {
      val q = TailStream.start(spark, Seq(cfg), cfg.sql.get, cfg.format, ckpt.getAbsolutePath,
        sink = s => captured.add(s), trigger = Trigger.AvailableNow(), snapshot = true, shards = 4)
      q.awaitTermination(60000)
    }
    // 00:00:40 belongs to windows [23:59:30,00:00:30)? no — to
    // [00:00:00,00:01:00) and [00:00:30,00:01:30); 00:00:10 to
    // [23:59:30,00:00:30) and [00:00:00,00:01:00)
    writeLog(dir, "a.log",
      "2024-01-01 00:00:10 INFO 5",
      "2024-01-01 00:00:40 WARN 9")
    runOnce()
    writeLog(dir, "b.log", "2024-01-01 00:30:00 INFO 1") // flush
    runOnce()
    val out = rawRows(captured).toSeq
    // window starts: 23:59:30 (row 10s only), 00:00:00 (both), 00:00:30
    // (row 40s only) — every window fires once, complete
    assert(out == Seq("1704067170,1,5", "1704067200,2,14", "1704067230,1,9"),
      out.toString)
  }

  test("runMultiSnapshot fires once per window across N sources") {
    val dirs = (0 to 1).map(_ => Files.createTempDirectory("graft-msnap").toFile)
    val ckpt = Files.createTempDirectory("graft-msnap-ckpt").toFile
    val patternB =
      """(?P<ts__date>\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}) (?P<level__str>\w+) code=(?P<code__int>\d+)"""
    val cfgs = Seq(
      TailStream.Config(dir = dirs(0).getAbsolutePath, pattern = pattern,
        windowSizeSec = 60, tsField = Some("ts"), watermarkDelay = "0 seconds"),
      TailStream.Config(dir = dirs(1).getAbsolutePath, pattern = patternB,
        windowSizeSec = 60, tsField = Some("ts"), watermarkDelay = "0 seconds"))
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def runOnce(): Unit = {
      val q = TailStream.runMultiSnapshot(spark, cfgs,
        sql = """SELECT t0.window_start, t0.level, t0.ms, t1.code FROM t0
                 JOIN t1 ON t0.level = t1.level ORDER BY t0.ms""",
        format = "raw", checkpointDir = ckpt.getAbsolutePath,
        sink = s => captured.add(s), trigger = Trigger.AvailableNow(), shards = 4)
      q.awaitTermination(60000)
    }
    // the two sides of the window-00:00 match arrive in SEPARATE runs
    writeLog(dirs(0), "a.log", "2024-01-01 00:00:10 INFO 5")
    runOnce()
    writeLog(dirs(1), "b.log", "2024-01-01 00:00:30 INFO code=200")
    runOnce()
    // advance both sources' watermark past the window
    writeLog(dirs(0), "a2.log", "2024-01-01 00:30:00 WARN 1")
    writeLog(dirs(1), "b2.log", "2024-01-01 00:30:00 WARN code=500")
    runOnce()
    val out = rawRows(captured).toSeq
    assert(out == Seq("1704067200,INFO,5,200"), out.toString)
  }

  test("processing-time windows apply when no ts field is configured") {
    // the reference's idx_of_ts_field < 0 default: window over arrival time
    val s = spark
    import s.implicits._
    val cfg = TailStream.Config(dir = "unused", pattern = pattern,
      windowSizeSec = 60, tsField = None)
    val out = TailStream.windowed(Seq(("INFO", 5L)).toDF("level", "ms"), cfg)
    assert(out.columns.contains("window"))
    val w = out.select("window.start", "window.end").head()
    assert(w.getTimestamp(1).getTime - w.getTimestamp(0).getTime == 60000L)
  }

  test("JSONL tail: streamed split file equals the batch parse (r17)") {
    // r16 verdict task 6: JSONL landed batch-only; the reference's
    // whole point is tailing. Follow a GROWING .jsonl by byte offset,
    // parse each batch under the r41 explicit-schema corrupt
    // accounting, and pin stream ≡ batch on the full file — including
    // a malformed line appended mid-stream that must surface in
    // _corrupt, not vanish.
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val dir = Files.createTempDirectory("graft-jsonl-tail").toFile
    val f = new java.io.File(dir, "dump.jsonl")
    Files.write(f.toPath, Seq(
      """{"id": 1, "text": "alpha"}""",
      """{"id": 2, "text": "beta"}""").mkString("", "\n", "\n").getBytes("UTF-8"))
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("text", StringType)))
    def key(r: org.apache.spark.sql.Row) =
      (if (r.isNullAt(0)) -1L else r.getLong(0),
        Option(r.getString(1)).getOrElse(""),
        Option(r.getString(2)).getOrElse(""))
    val q = graft.sources.Jsonl.follow(spark, f.getAbsolutePath, schema)
      .writeStream.format("memory").queryName("jsonl_tail")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("jsonl_tail").count() == 2L, "prefix rows")
      Files.write(f.toPath, Seq(
        """{broken""",
        """{"id": 3, "text": "gamma"}""").mkString("", "\n", "\n").getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.APPEND)
      q.processAllAvailable()
      val streamed = spark.table("jsonl_tail").collect().map(key).toSet
      val batch = graft.sources.Jsonl.parse(
          spark.read.text(f.getAbsolutePath), schema)
        .collect().map(key).toSet
      assert(streamed == batch, s"streamed=$streamed batch=$batch")
      assert(streamed.exists(_._3 == "{broken"), "corrupt line must surface")
      assert(streamed.map(_._1) == Set(-1L, 1L, 2L, 3L))
    } finally q.stop()
  }
}
