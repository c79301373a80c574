package graft

import org.apache.spark.sql.SparkSession

/** Session factory with scale-appropriate defaults.
  *
  * Local runs use local[N]; on a real cluster the same settings apply
  * except master/shuffle partitions, which the deployer overrides.
  * AQE stays on everywhere: it re-plans skewed joins and coalesces
  * shuffle partitions at runtime, which is exactly what a 100 TB run
  * needs when static sizing is wrong.
  */
object GraftSession {
  def builder(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      : SparkSession.Builder = {
    // SPARK_GRAFT_MASTER=local-cluster[2,8,3072] runs any graft
    // session — including the whole test suite — across REAL executor
    // JVMs; executors need the compiled classes and the JDK17 module
    // opens on their own command lines (sbt-side settings don't
    // propagate to processes the Worker launches)
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val b0 = SparkSession
      .builder()
      .master(master)
    val b =
      if (master.startsWith("local-cluster")) b0
        .config("spark.executor.extraClassPath",
          Seq("target/scala-2.13/classes", "target/scala-2.13/test-classes")
            .map(p => new java.io.File(p).getAbsolutePath).mkString(":"))
        .config("spark.executor.extraJavaOptions",
          org.apache.spark.launcher.JavaModuleOptions.defaultModuleOptions())
      else b0
    b
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // parquet timestamps with isAdjustedToUTC=false read as plain
      // TIMESTAMP (UTC session), not TIMESTAMP_NTZ: the raw µs value
      // then equals DuckDB's epoch_us over the same file, and ops like
      // unix_micros/LTZ comparisons keep working regardless of how the
      // writer flagged the column
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.parquet.filterPushdown", "true")
      // CBO on as the engine default: path-based reads keep their
      // size-only estimates (no stats to consume), but any table
      // registered through sources/CatalogStats plans from row
      // counts + NDVs — and the regime is uniform across a session
      // rather than flipping when a stats-backed query runs first
      .config("spark.sql.cbo.enabled", "true")
      .config("spark.sql.cbo.joinReorder.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", s"${64 * 1024 * 1024}")
      // reclaim reliable-checkpoint files (Caching.sealOver) when the
      // sealed result is GC'd; default false leaks one rdd-* dir per seal
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.ui.enabled", "false")
  }

  def get(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")): SparkSession = {
    val s = builder(cpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Raises two benign, per-object WARN floods to ERROR for long
    * multi-query runs (Bench, Probe).
    *
    * Cleanup between queries unpersists localCheckpointed RDDs; Spark
    * warns per RDD that the truncated lineage cannot recompute
    * (intended — sealed results are never reused across queries), and
    * ~4 lines × 92 queries would flood the driver's captured tail.
    *
    * "WindowExec: No Partition Defined" fires on the repo's global
    * windows, every one of which is bounded by contract (audited:
    * per-partition prefix rows, <=4096 md5 buckets, score/path
    * histograms, top-R vocab, |sources| totals — the bound is stated
    * in a comment at each site, and PlanSpec pins the shapes). On a
    * 100x-scale log the warning would cry wolf for frames of a few
    * thousand rows; corpus-sized windows are designed out, not
    * silenced — new operators must keep stating their bound.
    */
  def quietLogs(): Unit =
    for (logger <- Seq("org.apache.spark.rdd", "org.apache.spark.sql.execution.window"))
      org.apache.logging.log4j.core.config.Configurator.setLevel(
        logger, org.apache.logging.log4j.Level.ERROR)

  /** Standard table loader: one parquet per table, as in TESTDATA.md. */
  def table(spark: SparkSession, dir: String, name: String) =
    spark.read.parquet(s"$dir/$name.parquet")
}
