package graft

import java.io.File
import java.nio.file.Files
import java.util.Locale

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._

import graft.SparkEntry.AnnRankings
import graft.operators.{Caching, Dedup, Similarity}

/** Dev probe: one tool for the measurements behind timing claims, plan
  * pairs, accuracy gates and scale findings. Each mode is a function
  * of a session, so specs drive it on the shared test session; `main`
  * only parses arguments and owns the session (cores from
  * SPARK_GRAFT_CPUS).
  *
  * Usage: runMain graft.Probe <mode> ...
  *  - `time <dir>[,<dir2>] <target|key=value>...` — per target and dir,
  *    Bench's warm run + 3 measured runs (same window and cleanup),
  *    then one counted run (jobs, stages, stage and GC time, shuffle
  *    bytes) as a JSON line; `key=value` sets a session conf first;
  *    with dir2, the dir2/dir ratio and per-document µs. A target is a
  *    [[SparkEntry.queries]] key or `d24_allpairs_full`.
  *  - `plan <tag> <suffix> <dir> <query>...` — pre-seal formatted plans
  *    to plans/<tag>/<query>_<suffix>.txt.
  *  - `gates <dir>...` — the recalls and coverage behind the
  *    s02/s03/s12/s13/s26/s06 gate thresholds, MinHash and SimHash
  *    banding parity.
  *  - `chain <dir>...` — the end-to-end dedup chain, timed per step,
  *    connected-components rounds logged.
  *  - `warc [dir] [minGzMB]` — builds one big .warc.gz and scans it,
  *    sampling peak heap.
  */
object Probe {
  private val usage = "usage: Probe time <dir>[,<dir2>] <target|key=value>... | " +
    "plan <tag> <suffix> <dir> <query>... | gates <dir>... | chain <dir>... | warc [dir] [minGzMB]"

  def main(args: Array[String]): Unit = {
    val mode: SparkSession => Unit = args.toSeq match {
      case Seq("time", dirs, rest @ _*) if rest.nonEmpty =>
        s => { time(s, dirs.split(",").toSeq, rest); () }
      case Seq("plan", tag, suffix, dir, names @ _*) if names.nonEmpty =>
        s => { plan(s, new File("plans", tag), suffix, dir, names); () }
      case Seq("gates", dirs @ _*) if dirs.nonEmpty => gates(_, dirs)
      case Seq("chain", dirs @ _*) if dirs.nonEmpty => chain(_, dirs)
      case Seq("warc", rest @ _*) if rest.length <= 2 =>
        warc(_, new File(rest.headOption.getOrElse("/tmp/graft_bigwarc")),
          rest.lift(1).fold(520)(_.toInt))
      case _ => throw new IllegalArgumentException(usage)
    }
    val spark = GraftSession.get()
    GraftSession.quietLogs()
    try mode(spark) finally spark.stop()
  }

  private def num(v: Double): String = "%.3f".formatLocal(Locale.ROOT, v)

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def target(spark: SparkSession, name: String, dir: String): () => DataFrame =
    if (name == "d24_allpairs_full")
      // the d24b production configuration on the FULL documents table
      // (the query-form entries cap at 500 docs for the oracle, and a
      // capped input cannot scale); guard raised to 256x because a
      // Gen10x dup-mode corpus carries ~91x docs of true candidate
      // mass by construction — legitimate work here, exactly what
      // d24b's 64x cap correctly refuses on an organic corpus
      () => Dedup.allPairsJaccard(
        spark.read.parquet(s"$dir/documents.parquet").select(col("doc_id"), col("text")),
        "doc_id", "text", tau = 0.8, shingleN = 3, maxCandidateFactor = Some(256.0))
    else {
      val q = SparkEntry.queries.getOrElse(name,
        throw new IllegalArgumentException(s"unknown target $name"))
      () => q(spark, dir)
    }

  /** The `time` mode. Returns the sorted measured runs per (target,
    * dir), target-major. Conf overrides stay set on `spark`. */
  def time(spark: SparkSession, dirs: Seq[String], args: Seq[String]): Seq[Seq[Double]] = {
    require(dirs.size == 1 || dirs.size == 2, s"time takes one or two dirs, got $dirs")
    val (confs, targets) = args.partition(_.contains("="))
    confs.foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      spark.conf.set(k, v)
      println(s"[conf] $k=$v")
    }
    targets.flatMap { name =>
      val runs = dirs.map { dir =>
        val mk = target(spark, name, dir)
        val ts = Bench.measure(spark)(noop(mk()))
        val meter = Metrics.start(spark.sparkContext)
        Bench.timed(spark)(noop(mk()))
        val m = meter.stop()
        println(s"""{"target":"$name","dir":"$dir","runs":[${ts.map(num).mkString(",")}],""" +
          s""""median":${num(ts(1))},"jobs":${m.jobs},"stages":${m.stages},""" +
          s""""stage_s":${num(m.stageMs / 1e3)},"shuffle_mb":${num(m.shuffleWriteBytes / 1e6)},""" +
          s""""gc_s":${num(m.gcMs / 1e3)}}""")
        ts
      }
      if (dirs.size == 2) {
        val perDocUs = dirs.zip(runs).map { case (dir, ts) =>
          ts(1) * 1e6 / spark.read.parquet(s"$dir/documents.parquet").count()
        }
        println(s"""{"target":"$name","ratio":${num(runs(1)(1) / runs(0)(1))},""" +
          s""""per_doc_us":[${perDocUs.map(num).mkString(",")}]}""")
      }
      runs
    }
  }

  /** The `plan` mode: writes each query's formatted plan, built with
    * every seal a pass-through, to `outDir/<query>_<suffix>.txt`. */
  def plan(spark: SparkSession, outDir: File, suffix: String, dir: String,
           names: Seq[String]): Seq[File] = {
    outDir.mkdirs()
    names.map { name =>
      val txt = Caching.withoutSeal(
        SparkEntry.queries(name)(spark, dir).queryExecution.explainString(FormattedMode))
      val f = new File(outDir, s"${name}_$suffix.txt")
      Files.write(f.toPath, txt.getBytes("UTF-8"))
      println(s"[plan] wrote $f (${txt.length} chars)")
      Bench.cleanup(spark)
      f
    }
  }

  /** The `gates` mode. Runs [[SparkEntry.AnnRankings]], the SAME
    * parameter block the shipped gates use, so it cannot measure a
    * different configuration than the driver gates ship. Per dir:
    *  - s02/s03/s12/s13 micro (pooled), macro (per-query mean) and min
    *    per-query recall@10 vs the brute-force ranking on the same
    *    preprocessed vectors;
    *  - s26 store-served == end-to-end ivfPqTopK, and its recall;
    *  - s06 coverage of the exact cosine>=0.45 pair set on the bounded
    *    audit slice (vec_id < 1000, d05's slice);
    *  - MinHash banding parity with exhaustive jaccard>=0.5 and SimHash
    *    banding parity with exhaustive hamming<=3.
    */
  def gates(spark: SparkSession, dirs: Seq[String]): Unit = for (sf <- dirs) {
    def sets(df: DataFrame): Map[Long, Set[Long]] =
      df.select(col("query_id").cast("long"), col("neighbor_id").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def pairs(df: DataFrame): Set[(Long, Long)] =
      df.select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // denominators come from the exact ranking itself (|queries| x k),
    // not a literal — an AnnRankings batch/k change must not silently
    // mis-scale the recall the gate thresholds trust
    def rep(name: String, ap: Map[Long, Set[Long]], ex: Map[Long, Set[Long]]): String = {
      val ks = ex.keys.toSeq.sorted
      val hits = ks.map(k => (ap.getOrElse(k, Set.empty) intersect ex(k)).size)
      val per = ks.zip(hits).map { case (k, h) => h.toDouble / ex(k).size }
      val micro = hits.sum.toDouble / ex.values.map(_.size).sum
      f"$name micro=$micro%.3f macro=${per.sum / per.size}%.3f min=${per.min}%.2f " +
        s"per=${per.map(p => f"$p%.1f").mkString(",")}"
    }
    val emb = AnnRankings.emb(spark, sf)
    val eN = AnnRankings.embNorm(spark, sf)
    val brute = sets(AnnRankings.brute(emb))
    val bruteN = sets(AnnRankings.brute(eN))
    val cb = AnnRankings.codebook(eN)
    println(s"GATES sf=$sf " + rep("s02_ann_lsh", sets(AnnRankings.lsh(emb)), brute))
    println(s"GATES sf=$sf " + rep("s03_ann_ivf", sets(AnnRankings.ivf(emb)), brute))
    println(s"GATES sf=$sf " + rep("s12_ivf_pq", sets(AnnRankings.ivfPq(eN, cb)), bruteN))
    println(s"GATES sf=$sf " +
      rep("s13_ivf_pq_residual", sets(AnnRankings.ivfPqResidual(eN)), bruteN))

    // s26 equality vs end-to-end ivfPqTopK (same codebook, refine=1)
    def rows(df: DataFrame) = df
      .select(col("query_id").cast("long"), col("neighbor_id").cast("long"),
        col("rank").cast("long"), col("adc_dist"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val served = rows(AnnRankings.annIndexServed(eN, cb))
    val e2eRows = rows(AnnRankings.ivfPq(eN, cb, refine = 1))
    println(s"GATES sf=$sf s26 store==e2e: ${served == e2eRows} " +
      s"(served=${served.size} e2e=${e2eRows.size}) " + rep("recall_vs_bruteN",
        served.groupBy(_._1).view.mapValues(_.map(_._2)).toMap, bruteN))

    // s06 coverage on the d05 audit slice
    val exactCos = pairs(Similarity.cosinePairs(emb.filter(col("vec_id") < 1000),
      "vec_id", "embedding", 0.45))
    val lshCos = pairs(AnnRankings.cosineLshPairs(emb))
    val cov = if (exactCos.isEmpty) 1.0
      else (exactCos intersect lshCos).size.toDouble / exactCos.size
    println(f"GATES sf=$sf s06 slice_exact=${exactCos.size} lsh_total=${lshCos.size} coverage=$cov%.3f")

    // minhash dedup parity: the banded pipeline must find EXACTLY the
    // exhaustive jaccard>=0.5 pairs (recall via banding, precision via
    // the verify step) — the same gate as MinHashRecallSpec, full corpus
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val exact = pairs(Dedup.jaccardPairs(Dedup.shingles(docs, "doc_id", "text", 3), 0.5))
    val banded = pairs(Dedup.minHashLsh(docs, "doc_id", "text",
      shingleN = 3, numHashes = 32, bands = 8, threshold = 0.5))
    println(s"MINHASH sf=$sf exhaustive=${exact.size} lsh=${banded.size} " +
      s"missed=${(exact -- banded).size} spurious=${(banded -- exact).size} " +
      s"parity=${exact == banded}")

    // simhash completeness: pigeonhole banding must equal the
    // exhaustive hamming<=3 pair set (SimHashCompletenessSpec's gate,
    // full corpus). The exhaustive side is O(n^2/2) popcounts — past
    // 10k docs the check runs on a deterministic ~4k-doc sample. A
    // sampled pass is a SPOT CHECK (a violation between a kept and a
    // dropped doc is invisible), not a full-corpus proof; the
    // structural guarantee is the pigeonhole argument itself, proved
    // full-corpus by the spec at <=10k docs.
    val nDocs = docs.count()
    val (simDocs, simTag) =
      if (nDocs <= 10000) (docs, "full")
      else {
        val keep1In = math.max(1L, nDocs / 4000L)
        (docs.filter(pmod(xxhash64(col("doc_id")), lit(keep1In)) === 0),
          s"sampled-1/$keep1In")
      }
    val sig = Dedup.simHash(simDocs, "doc_id", "text").persist()
    val viaBands = pairs(Dedup.simHashPairs(sig, maxDist = 3))
    val a = sig.select(col("id").as("id1"), col("simhash").as("s1"))
    val b = sig.select(col("id").as("id2"), col("simhash").as("s2"))
    val exhaustive = pairs(a.join(b, col("id1") < col("id2"))
      .filter(bit_count(col("s1").bitwiseXOR(col("s2"))) <= 3))
    sig.unpersist()
    println(s"SIMHASH sf=$sf ($simTag) exhaustive=${exhaustive.size} " +
      s"banded=${viaBands.size} parity=${exhaustive == viaBands}" +
      (if (simTag != "full") " (sampled spot-check, not a full-corpus proof)" else ""))
  }

  /** The `chain` mode: shingle → minhash banding → candidates →
    * jaccard verify → connected components → keeper resolve, timed per
    * step, with the star-alternation rounds logged.
    *
    * Two Gen10x corpora decompose a scale claim (dup mode conflates
    * output mass with scan cost):
    *  - unique mode: pair mass grows ~linearly with docs, so the
    *    per-DOC cost of the signature/banding scan path is the reading;
    *  - dup mode: every doc gains exact duplicates → ~C(copies,2)·
    *    clusters candidate pairs, forcing the distributed
    *    large-star/small-star CC path at real mass — wall here is
    *    pair-mass-dominated by construction; the gates are convergence
    *    in O(log n) logged rounds and per-PAIR cost.
    */
  def chain(spark: SparkSession, dirs: Seq[String]): Unit = for (dir <- dirs) {
    println(s"[chain] === $dir ===")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text")).persist()
    val nDocs = docs.count()
    def step[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[chain] $label%-18s ${(System.nanoTime() - t0) / 1e9}%8.2fs")
      r
    }
    val total0 = System.nanoTime()
    // each step times its operator's construction too: the sealing
    // operators run their jobs eagerly there, not at the count
    // signatures -> banding -> candidate verify (the d02 production
    // parameters)
    val (pairs, nPairs) = step("pairs_verify") {
      val p = Dedup.minHashLsh(docs, "doc_id", "text",
        shingleN = 3, numHashes = 32, bands = 8, threshold = 0.5)
      (p, p.count())
    }
    // >2^20 pairs takes the distributed star path, rounds logged
    val (comp, nNodes) = step("connected_comp") {
      val c = Dedup.connectedComponents(pairs,
        onRound = (i, edges) => println(f"[chain]   star round $i: $edges%d edges"))
      (c, c.count())
    }
    // keeper resolve — min id per component survives
    val survivors = step("resolve") {
      val keep = comp.groupBy(col("component")).agg(min(col("id")).as("_k"))
        .select(col("_k").as("doc_id"))
      val dupIds = comp.select(col("id").as("doc_id"))
        .join(keep, Seq("doc_id"), "left_anti")
      docs.join(dupIds, Seq("doc_id"), "left_anti").count()
    }
    val wall = (System.nanoTime() - total0) / 1e9
    println(f"[chain] TOTAL $wall%.2fs docs=$nDocs pairs=$nPairs " +
      f"nodes_in_pairs=$nNodes survivors=$survivors " +
      f"per_doc_ms=${wall * 1000 / nDocs}%.3f" +
      (if (nPairs > 0) f" per_pair_us=${wall * 1e6 / nPairs}%.1f" else ""))
    Bench.cleanup(spark)
    System.gc()
  }

  /** The `warc` mode: a single ≥minGzMB .warc.gz archive (the deployed
    * Common Crawl file shape) must scan with bounded task memory,
    * because Warc.fileRows is a lazy per-record iterator over an
    * executor-side FS stream. Run it with a SMALL heap
    * (`SPARK_DRIVER_MEM=1g`): a reader that materializes the file array
    * plus the decoded rows cannot complete there, so an OOM is a loud
    * FAIL; a sampler thread reports the peak used heap across the scan.
    * Prints one JSON line.
    */
  def warc(spark: SparkSession, dir: File, minGzMB: Int): Unit = {
    val f = new File(dir, "big.warc.gz")
    val floor = minGzMB.toLong * 1024 * 1024
    // built once, idempotent across runs: 1 MiB INCOMPRESSIBLE payloads
    // (seeded PRNG), each its own gzip member, until the compressed
    // file crosses the floor — random bytes keep gz size ~= raw size
    if (!f.exists() || f.length() < floor) {
      dir.mkdirs()
      val out = new java.io.BufferedOutputStream(new java.io.FileOutputStream(f), 1 << 20)
      val rnd = new java.util.Random(42)
      val payload = new Array[Byte](1 << 20)
      var written = 0L
      var i = 0
      try while (written < floor) {
        rnd.nextBytes(payload)
        val rec = sources.Warc.recordGz(s"http://big.example/doc/$i",
          "2024-01-01T00:00:00Z", s"<urn:big:$i>", payload, "application/octet-stream")
        out.write(rec)
        written += rec.length
        i += 1
      } finally out.close()
      System.err.println(s"[warc] built $f: ${f.length()} bytes, $i records")
    }
    val rt = Runtime.getRuntime
    def used: Long = rt.totalMemory() - rt.freeMemory()
    val peak = new java.util.concurrent.atomic.AtomicLong(0L)
    @volatile var sampling = true
    val sampler = new Thread(() => while (sampling) {
      peak.accumulateAndGet(used, (a: Long, b: Long) => math.max(a, b))
      Thread.sleep(20)
    })
    System.gc(); Thread.sleep(200)
    val base = used
    sampler.setDaemon(true); sampler.start()
    def scan(): (Long, Long, Double) = {
      val t0 = System.nanoTime()
      val r = sources.Warc.read(spark, dir.getAbsolutePath)
        .agg(count(lit(1)), sum(col("content_length")),
          count(when(col("warc_type") === "(corrupt)", 1)))
        .head()
      val dt = (System.nanoTime() - t0) / 1e9
      require(r.getLong(2) == 0L, "corrupt rows in the big archive scan")
      (r.getLong(0), r.getLong(1), dt)
    }
    val (n1, bytes1, warm) = scan()
    val (n2, bytes2, timed) = scan()
    require(n1 == n2 && bytes1 == bytes2, "non-deterministic scan")
    sampling = false
    val mb = 1024 * 1024
    println(s"""{"probe":"warc_big_archive","gz_bytes":${f.length()},""" +
      s""""n_records":$n1,"payload_bytes":$bytes1,"sec_warm":${num(warm)},"sec":${num(timed)},""" +
      s""""xmx_mb":${rt.maxMemory() / mb},"baseline_heap_mb":${base / mb},""" +
      s""""peak_heap_mb":${peak.get() / mb}}""")
  }
}
