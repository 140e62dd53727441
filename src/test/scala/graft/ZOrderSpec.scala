package graft

import graft.etl.ZOrder
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers._

class ZOrderSpec extends SparkSpec {

  private def tmp(name: String): String = {
    val base = java.nio.file.Paths.get(SparkSpec.scratch("spec"))
    java.nio.file.Files.createDirectories(base)
    java.nio.file.Files.createTempDirectory(base, s"graft_$name").toString
  }

  test("zvalue interleaves bits exactly (reference Morton implementation)") {
    import spark.implicits._
    def morton(x: Int, y: Int): Long = {
      var z = 0L
      for (i <- 0 until 16)
        z |= (((x >> i) & 1).toLong << (2 * i)) |
             (((y >> i) & 1).toLong << (2 * i + 1))
      z
    }
    val cases = Seq((0, 0), (1, 0), (0, 1), (3, 5), (65535, 0),
                    (0, 65535), (65535, 65535), (12345, 54321))
    val got = cases.toDF("x", "y")
      .select(ZOrder.zvalue(col("x"), col("y")).as("z"))
      .collect().map(_.getLong(0)).toSeq
    got shouldBe cases.map { case (x, y) => morton(x, y) }
  }

  test("z-ordered layout: a box query intersects a small fraction of file boxes") {
    import spark.implicits._
    // 256x256 grid of points, both dims uniform — the worst case for a
    // single-column sort (second dim spans the full range in every file)
    val pts = (for (x <- 0 until 256; y <- 0 until 256) yield (x, y))
      .toDF("x", "y")
    val nFiles = 16

    // repartitionByRange picks its boundaries from a SAMPLE whose seed
    // derives from the RDD id — i.e. from how many RDDs earlier suites
    // happened to create. With the default 100 samples/partition the
    // boundary quality is seed-dependent and an unlucky suite order can
    // smear one z-file across several z-quadrants (observed: zHits ==
    // lHits == 4 in-suite, green standalone). Dense sampling makes the
    // boundaries near-exact quantiles regardless of seed; restored after.
    val sampleKey = "spark.sql.execution.rangeExchange.sampleSizePerPartition"
    val prevSample = spark.conf.get(sampleKey)
    spark.conf.set(sampleKey, "20000")
    val (zBoxes, lBoxes) = try {
      val zdir = tmp("zorder")
      ZOrder.writeZOrdered(spark, pts, "x", "y", nFiles, zdir)
      val zB = ZOrder.fileBoxes(spark, zdir, "x", "y").collect()
        .map(r => (r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4)))
      zB.length shouldBe nFiles

      val ldir = tmp("linear")
      pts.repartitionByRange(nFiles, col("x")).sortWithinPartitions(col("x"))
        .write.mode("overwrite").parquet(ldir)
      val lB = ZOrder.fileBoxes(spark, ldir, "x", "y").collect()
        .map(r => (r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4)))
      (zB, lB)
    } finally spark.conf.set(sampleKey, prevSample)

    // box query on BOTH dims: x in [0,63], y in [0,63] (1/16 of space)
    def hits(boxes: Seq[(Int, Int, Int, Int)]): Int =
      boxes.count { case (x0, x1, y0, y1) =>
        x0 <= 63 && x1 >= 0 && y0 <= 63 && y1 >= 0 }
    // z-order: the query box touches few file boxes; linear layout on x
    // cannot prune on y at all, so every x-overlapping file hits
    val zHits = hits(zBoxes.toSeq)
    val lHits = hits(lBoxes.toSeq)
    withClue(s"z=$zHits linear=$lHits of $nFiles:") {
      zHits should be < lHits
      zHits should be <= nFiles / 4
    }

    // and a y-ONLY predicate prunes too (impossible under x-sort)
    def hitsY(boxes: Seq[(Int, Int, Int, Int)]): Int =
      boxes.count { case (_, _, y0, y1) => y0 <= 31 && y1 >= 0 }
    withClue(s"y-only: z=${hitsY(zBoxes.toSeq)} linear=${hitsY(lBoxes.toSeq)}:") {
      hitsY(zBoxes.toSeq) should be < hitsY(lBoxes.toSeq)
    }
  }
}
