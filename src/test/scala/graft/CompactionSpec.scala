package graft

import graft.etl.Compaction
import org.scalatest.matchers.should.Matchers._

class CompactionSpec extends SparkSpec {

  private def tmp(name: String): String = {
    val base = java.nio.file.Paths.get(SparkSpec.scratch("spec"))
    java.nio.file.Files.createDirectories(base)
    java.nio.file.Files.createTempDirectory(base, s"graft_$name").toString
  }

  test("compaction reduces file count to the size plan and preserves row content exactly") {
    // fragment: 40 small files, the accreted-ingest shape
    val frag = tmp("frag")
    val ev = Tables.events(spark, sf("sf0.001"))
    ev.repartition(40).write.mode("overwrite").parquet(frag)
    val srcFiles = new java.io.File(frag).listFiles()
      .count(_.getName.endsWith(".parquet"))
    srcFiles shouldBe 40

    val out = tmp("compacted")
    val totalBytes = new java.io.File(frag).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    val target = totalBytes / 4 // plan ~4-5 output files
    val (before, after) = Compaction.compact(spark, frag, out, target)
    before shouldBe 40
    after shouldBe Compaction.plannedFileCount(frag, target)
    after should be < 8
    after should be >= 4

    // content identical as a multiset (order may legitimately change)
    val a = spark.read.parquet(frag)
    val b = spark.read.parquet(out)
    b.count() shouldBe a.count()
    Compaction.checksum(b) shouldBe Compaction.checksum(a)
  }

  test("compact refuses in-place rewrites") {
    val d = tmp("inplace")
    intercept[IllegalArgumentException] {
      Compaction.compact(spark, d, d, 1000L)
    }
  }
}
