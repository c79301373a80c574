package graft

import org.apache.spark.sql.execution.LogicalRDD

import graft.operators.Caching

/** The Probe modes, driven as functions on the shared session. */
class ProbeSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("plan writes the pre-seal lineage, and seals work again afterwards") {
    val out = java.nio.file.Files.createTempDirectory("graft-probe-plan").toFile
    val Seq(f) = Probe.plan(spark, out, "after", dir, Seq("q38_pagerank"))
    assert(f == new java.io.File(out, "q38_pagerank_after.txt") && f.isFile)
    val txt = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    assert(txt.contains("Exchange"), txt)
    assert(!txt.contains("Scan ExistingRDD"), txt)
    val resealed = Caching.sealOver(spark.range(5).toDF("id"))
    assert(resealed.queryExecution.logical.isInstanceOf[LogicalRDD])
  }

  test("time returns three positive timings and leaves nothing persisted") {
    val Seq(ts) = Probe.time(spark, Seq(dir), Seq("q01_agg"))
    assert(ts.size == 3 && ts.forall(_ > 0), ts)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }
}
