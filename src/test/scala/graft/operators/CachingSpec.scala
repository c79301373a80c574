package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

import graft.SparkSpec

class CachingSpec extends SparkSpec {

  test("sealOver without a checkpoint dir: local checkpoint, inputs unpersisted") {
    val cached = spark.range(100).toDF("id").persist()
    val out = Caching.sealOver(cached.filter("id < 7"), cached)
    assert(out.count() == 7)
    assert(cached.storageLevel == StorageLevel.NONE, "input must be unpersisted")
  }

  test("sealOver with a checkpoint dir set: RELIABLE checkpoint on the checkpoint FS") {
    val dir = java.nio.file.Files.createTempDirectory("graft-seal-ckpt")
    spark.sparkContext.setCheckpointDir(dir.toString)
    try {
      val cached = spark.range(100).toDF("id").persist()
      val out = Caching.sealOver(cached.filter("id >= 90"), cached)
      assert(out.count() == 10)
      assert(cached.storageLevel == StorageLevel.NONE)
      // reliable checkpoint = the sealed result was written to the
      // checkpoint filesystem, so executor loss cannot invalidate it
      def rddDirs(p: java.io.File): Seq[java.io.File] =
        Option(p.listFiles()).getOrElse(Array.empty).toSeq.flatMap { f =>
          (if (f.isDirectory) rddDirs(f) else Nil) ++
            (if (f.getName.startsWith("rdd-")) Seq(f) else Nil)
        }
      assert(rddDirs(dir.toFile).nonEmpty,
        s"expected rdd-* checkpoint data under $dir")
    } finally spark.sparkContext.setCheckpointDir(null)
  }

  private def isSealed(df: DataFrame): Boolean =
    df.queryExecution.logical.isInstanceOf[LogicalRDD]

  test("sealOver ignores the graft.seal.skip system property: it still checkpoints") {
    System.setProperty("graft.seal.skip", "1")
    try {
      val cached = spark.range(100).toDF("id").persist()
      val out = Caching.sealOver(cached.filter("id < 7"), cached)
      assert(isSealed(out), out.queryExecution.logical.toString)
      assert(out.count() == 7)
    } finally { System.clearProperty("graft.seal.skip"); () }
  }

  test("withoutSeal: sealOver returns the unsealed plan and unpersists the inputs") {
    val cached = spark.range(100).toDF("id").persist()
    val result = cached.filter("id < 7")
    val out = Caching.withoutSeal(Caching.sealOver(result, cached))
    assert(out eq result)
    assert(!isSealed(out))
    assert(cached.storageLevel == StorageLevel.NONE, "input must be unpersisted")
    assert(isSealed(Caching.sealOver(spark.range(3).toDF("id"))), "the scope must end with the block")
  }
}
