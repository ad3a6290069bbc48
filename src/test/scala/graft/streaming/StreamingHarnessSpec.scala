package graft.streaming

import java.io.RandomAccessFile
import java.nio.file.{Files, Path}

import graft.SparkSpec

/** Pins [[StreamingHarness.adaptiveStatePartitions]]: one state partition
  * per 8 MiB of input, at least 1, at most 16× the session width. Inputs
  * are sparse files (`setLength`), so nothing large is written. */
class StreamingHarnessSpec extends SparkSpec {

  private def sparse(dir: Path, name: String, bytes: Long): String = {
    val f = dir.resolve(name).toFile
    val raf = new RandomAccessFile(f, "rw")
    try raf.setLength(bytes) finally raf.close()
    f.getPath
  }

  private def partitions(paths: Seq[String]): Int = {
    val confs = StreamingHarness.adaptiveStatePartitions(spark, paths)
    assert(confs.map(_._1) == Seq("spark.sql.shuffle.partitions"))
    confs.head._2.toInt
  }

  private val MiB = 1L << 20

  test("tiny input gets one state partition") {
    val dir = Files.createTempDirectory("graft-state-tiny")
    assert(partitions(Seq(sparse(dir, "a.parquet", 1024))) == 1)
    assert(partitions(Nil) == 1)
  }

  test("20 MiB of input gets three state partitions") {
    val dir = Files.createTempDirectory("graft-state-20m")
    assert(partitions(Seq(sparse(dir, "a.parquet", 20 * MiB))) == 3)
  }

  test("the count is capped at 16x the session's shuffle partitions") {
    val cap = 16 * spark.sessionState.conf.numShufflePartitions
    // A directory input counts every file under it.
    val dir = Files.createTempDirectory("graft-state-cap")
    Files.createDirectory(dir.resolve("sub"))
    val half = (cap + 4) * 8 * MiB / 2
    sparse(dir, "a.parquet", half)
    sparse(dir.resolve("sub"), "b.parquet", half)
    assert(partitions(Seq(dir.toString)) == cap)
    val under = sparse(dir, "under.parquet", (cap - 2) * 8 * MiB)
    assert(partitions(Seq(under)) == cap - 1)
  }
}
