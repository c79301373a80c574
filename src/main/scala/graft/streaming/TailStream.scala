package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.Throttle
import graft.sinks.Formatters
import graft.sources.LogSource

/** The reference's whole pipeline (sql/squeryer.go:370-430) as one
  * Structured Streaming builder:
  *
  * {{{
  * tail(dir) -> regex parse -> filter -> throttle -> window
  *   -> arbitrary SQL over the window -> stdout formatter
  * }}}
  *
  * Mapping to Spark primitives:
  *  - tail -f / ReOpen     -> FileStreamSource on a directory (new
  *    data arrives as new files; checkpointed, replayable)
  *  - throttle             -> maxFilesPerTrigger (bounds each batch)
  *  - tumbling/sliding     -> window(ts, size, slide) + watermark
  *    (event time), or window over the ingest timestamp
  *    (processing time, reference default when idx_of_ts_field < 0)
  *  - per-window SQL       -> foreachBatch: register the rows as views
  *    t0..tN, run the user's SQL — per micro-batch, or once per closed
  *    window (the reference's in-mem engine fire, except distributed);
  *    [[start]] is the one runner for every source shape and mode
  *  - sink table/raw/rawv  -> Formatters over the (small) SQL result
  *
  * State at 100 TB: the watermark bounds window state; the shuffle is
  * on (window, keys) only; parsing stays a narrow map on the source.
  *
  * Delivery semantics: the SOURCE side is exactly-once (checkpointed
  * file offsets; a restarted query never re-reads processed files),
  * but the stdout-style `sink` callback runs inside foreachBatch and
  * is therefore at-least-once under failure/retry — a batch that
  * crashes after printing re-prints on restart. Sinks needing
  * exactly-once should write through an idempotent/transactional
  * target (e.g. overwrite-by-batchId parquet) instead of a console
  * formatter, exactly as with any Spark foreachBatch sink.
  */
object TailStream {

  final case class Config(
      dir: String,
      pattern: String,
      filter: Option[String] = None,
      maxFilesPerTrigger: Option[Int] = None,
      windowSizeSec: Long = 60L,
      slideSec: Option[Long] = None,
      tsField: Option[String] = None, // event-time column; None => processing time
      watermarkDelay: String = "10 minutes",
      sql: Option[String] = None,     // runs per window-fire over view t0
      format: String = "table",
      // the reference's do_not_tail (config.yaml): true = process files
      // already in the dir (this API's historical behavior, so the
      // default); false = the reference's default tail -f seek-to-end —
      // only files modified after the stream starts are read.
      doNotTail: Boolean = true,
      // pin the seek-to-end cutoff (epoch ms) instead of "stream start";
      // None + doNotTail=false resolves to the wall clock at plan time
      tailSince: Option[Long] = None,
      // the reference's per-source row throttle (squeryer.go:352): at
      // most N rows admitted per period, overflow discarded, counted
      // exactly across micro-batches. Event-time based: requires
      // tsField. periodSec defaults to the window size.
      throttleMax: Option[Int] = None,
      throttlePeriodSec: Option[Long] = None,
      // true = `dir` is ONE growing file, followed by byte offset
      // (LogSource.followFile) — the reference's same-file tail -f.
      // doNotTail=false then means byte-level seek-to-end, and
      // followMaxBytes bounds each micro-batch.
      follow: Boolean = false,
      followMaxBytes: Option[Long] = None)

  /** The SQL a run fires when none is given: one row count per window. */
  val DefaultSql: String =
    "SELECT window_start, window_end, count(*) AS n FROM t0 GROUP BY 1, 2 ORDER BY 1"

  /** source → parse → filter → throttle, as an unbounded DataFrame.
    * `tname` tags every row for the multi-source union in [[start]] —
    * the tag rides through the throttle, which keeps the full row
    * schema.
    */
  def parsed(spark: SparkSession, cfg: Config,
             tname: Option[String] = None): DataFrame = {
    val base = if (cfg.follow) {
      LogSource.followFile(spark, cfg.dir, cfg.pattern, cfg.filter,
        tname = tname, seekToEnd = !cfg.doNotTail,
        maxBytesPerTrigger = cfg.followMaxBytes)
    } else {
      val sinceMs =
        if (cfg.doNotTail) None
        else Some(cfg.tailSince.getOrElse(System.currentTimeMillis()))
      LogSource.stream(spark, cfg.dir, cfg.pattern, cfg.filter,
        cfg.maxFilesPerTrigger, tname = tname, sinceMs = sinceMs)
    }
    cfg.throttleMax match {
      case Some(n) =>
        val ts = cfg.tsField.getOrElse(sys.error(
          "throttle needs ts_field: admissions are counted per event-time period"))
        Throttle.streaming(base, ts, cfg.throttlePeriodSec.getOrElse(cfg.windowSizeSec),
          n, cfg.watermarkDelay)
      case None => base
    }
  }

  /** Add the window column: event time (with watermark) if tsField is
    * set, else processing time — the reference's
    * `idx_of_ts_field < 0` default (squeryer.go:181).
    */
  def windowed(df: DataFrame, cfg: Config): DataFrame = {
    val size = s"${cfg.windowSizeSec} seconds"
    val slide = s"${cfg.slideSec.getOrElse(cfg.windowSizeSec)} seconds"
    cfg.tsField match {
      case Some(ts) =>
        df.withWatermark(ts, cfg.watermarkDelay)
          .withColumn("window", window(col(ts), size, slide))
      case None =>
        df.withColumn("_proc_ts", current_timestamp())
          .withColumn("window", window(col("_proc_ts"), size, slide))
          .drop("_proc_ts")
    }
  }

  /** The reference's multi-file SQL (JOIN across t0..tN inside one
    * window snapshot, squeryer.go:228) in its Spark-native form: a
    * watermarked stream-stream join. Each source parses and windows
    * independently; joining on (window, keys) matches exactly the rows
    * a per-window snapshot engine would co-locate. Watermarks bound
    * both sides' join state, so at 100 TB each executor holds one
    * window's worth of keys — not the stream history.
    *
    * Right-side columns (other than the join columns) are suffixed
    * `_1`, mirroring the reference's t1 naming, so the flat result
    * view has unique names for downstream SQL.
    */
  private def joinedStreams(spark: SparkSession, left: Config, right: Config,
                            keys: Seq[String]): DataFrame = {
    // Event time is mandatory here: without watermarks the join state
    // grows forever, and processing-time windows would only match rows
    // that happen to be picked up in the same wall-clock window.
    require(left.tsField.isDefined && right.tsField.isDefined,
      "joinedStreams needs tsField on both sources (stream-stream joins " +
        "require watermarked event time)")
    // After windowing, both the raw ts and the window column carry the
    // event-time watermark tag; a stream-stream join allows only one
    // event-time column per side, so the raw ts is dropped — `window`
    // IS the reference's per-snapshot time key.
    val l = windowed(parsed(spark, left), left)
      .drop(left.tsField.toSeq: _*)
    val r0 = windowed(parsed(spark, right), right)
      .drop(right.tsField.toSeq: _*)
    val joinCols = "window" +: keys
    val r = r0.columns.foldLeft(r0)((df, c) =>
      if (joinCols.contains(c)) df else df.withColumnRenamed(c, s"${c}_1"))
    l.join(r, joinCols)
  }

  /** A view each SQL fire registers: the rows tagged `tname` (None =
    * all rows), restricted to `cols` plus the flattened window bounds.
    */
  private case class View(name: String, tname: Option[String], cols: Seq[String])

  /** Flattens the `window` struct to window_start/window_end epoch
    * seconds and registers every view over the flat rows.
    */
  private def registerViews(rows: DataFrame, views: Seq[View]): Unit = {
    val flat = rows
      .withColumn("window_start", unix_timestamp(col("window.start")))
      .withColumn("window_end", unix_timestamp(col("window.end")))
    views.foreach { v =>
      v.tname.map(t => flat.filter(col("_tname") === t)).getOrElse(flat)
        .select((v.cols :+ "window_start" :+ "window_end").map(col): _*)
        .createOrReplaceTempView(v.name)
    }
  }

  /** The whole pipeline: `sources` tail, parse, filter, throttle and
    * window, then `sql` runs over them and its result goes to `sink`
    * formatted as table/raw/rawv. The runner varies along two axes.
    *
    * Source shape:
    *  - one source is view `t0`;
    *  - N sources are views t0..tN (the reference's __tname multi-table
    *    form, squeryer.go:429): each parses with a `_tname` tag, the
    *    streams union by name (missing columns null-filled), window
    *    once, and each view is split back out by tag, restricted to its
    *    own columns. The window/slide/watermark settings of the FIRST
    *    source govern all of them (the reference's WindowCfg is
    *    likewise global); each source keeps its own pattern, filter,
    *    throttle, seek-to-end and tsField name. One union stream means
    *    one checkpoint and one trigger clock for all tails;
    *  - `join = Some(keys)` takes exactly two sources and registers
    *    their watermarked stream-stream join on (window, keys) as the
    *    single view `t0`, right-side columns suffixed `_1`.
    *
    * Mode:
    *  - incremental (`snapshot = false`): the SQL fires once per
    *    micro-batch over that batch's rows, so a window spanning
    *    several batches is previewed per batch — a low-latency tail;
    *  - snapshot (`snapshot = true`, needs tsField): rows are packed
    *    per (window, shard) under the event-time watermark, and in
    *    APPEND mode a group only reaches foreachBatch once the
    *    watermark passes the window end. The SQL then fires exactly
    *    once per closed window over its full contents — the
    *    reference's per-window in-mem engine fire, made distributed.
    *    Buffering a window's rows is inherent to arbitrary SQL over
    *    the complete window; here the buffer lives in the state store,
    *    sharded `shards` ways so no single task holds a hot window.
    *
    * `checkpointDir` makes the stream restartable (the reference's
    * seek-to-end tail has no such guarantee — this is strictly
    * stronger).
    */
  def start(spark: SparkSession, sources: Seq[Config], sql: String, format: String,
            checkpointDir: String,
            sink: String => Unit = s => if (s.nonEmpty) println(s),
            trigger: Trigger = Trigger.ProcessingTime("5 seconds"),
            snapshot: Boolean = false, join: Option[Seq[String]] = None,
            shards: Int = 32): StreamingQuery = {
    require(sources.nonEmpty, "start needs at least one source")
    require(join.isEmpty || sources.size == 2, "join needs exactly two sources")
    require(!snapshot || sources.forall(_.tsField.isDefined),
      "snapshot needs tsField on every source: fire-once-per-complete-window " +
        "is defined by the event-time watermark")
    val (stream, views) = join match {
      case Some(keys) =>
        val joined = joinedStreams(spark, sources(0), sources(1), keys)
        (joined, Seq(View("t0", None, joined.columns.filterNot(_ == "window").toSeq)))
      case None =>
        // a tag only when there is something to split: one source keeps
        // the untagged plan (and its state schema and checkpoints)
        val tag = (i: Int) => if (sources.size > 1) Some(s"t$i") else None
        val parts = sources.zipWithIndex.map { case (c, i) =>
          windowed(parsed(spark, c, tag(i)), sources.head.copy(tsField = c.tsField))
        }
        (parts.reduce(_.unionByName(_, allowMissingColumns = true)),
          parts.zipWithIndex.map { case (p, i) =>
            View(s"t$i", tag(i), p.columns.filterNot(c => c == "window" || c == "_tname").toSeq)
          })
    }
    def fire(rows: DataFrame): Unit = {
      registerViews(rows, views)
      sink(Formatters.format(rows.sparkSession.sql(sql), format, Some(sql)))
    }
    val dataCols = stream.columns.filterNot(_ == "window").map(col).toSeq
    val out =
      if (!snapshot) stream
      else stream
        .groupBy(col("window"), pmod(xxhash64(dataCols: _*), lit(shards)).as("_shard"))
        .agg(collect_list(struct(dataCols: _*)).as("_rows"))
    out.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!snapshot) fire(batch)
        else {
          val rows = batch.select(col("window"), explode(col("_rows")).as("_r"))
            .select("window", "_r.*").persist()
          try {
            // one SQL fire per closed window, in window order; the set of
            // windows closing per trigger is small (trigger/slide bounded)
            val wins = rows.select("window.start", "window.end").distinct().collect()
              .map(r => (r.getTimestamp(0), r.getTimestamp(1)))
              .sortBy { case (s, e) => (s.getTime, e.getTime) }
            wins.foreach { case (s, e) =>
              fire(rows.filter(col("window.start") === s && col("window.end") === e))
            }
          } finally { rows.unpersist(); () }
        }
      }
      .start()
  }

  /** One tailed source, incremental mode, with the source's own SQL
    * (default [[DefaultSql]]) and format. A forward to [[start]], kept
    * with this signature because the benchmark harness calls it.
    */
  def run(spark: SparkSession, cfg: Config, checkpointDir: String,
          sink: String => Unit = s => if (s.nonEmpty) println(s),
          trigger: Trigger = Trigger.ProcessingTime("5 seconds")): StreamingQuery =
    start(spark, Seq(cfg), cfg.sql.getOrElse(DefaultSql), cfg.format, checkpointDir,
      sink, trigger)

  /** N tailed sources as views t0..tN, snapshot mode. A forward to
    * [[start]], kept with this signature because the benchmark harness
    * calls it.
    */
  def runMultiSnapshot(spark: SparkSession, cfgs: Seq[Config], sql: String,
                       format: String, checkpointDir: String,
                       sink: String => Unit = s => if (s.nonEmpty) println(s),
                       trigger: Trigger = Trigger.ProcessingTime("5 seconds"),
                       shards: Int = 32): StreamingQuery =
    start(spark, cfgs, sql, format, checkpointDir, sink, trigger, snapshot = true,
      shards = shards)
}
