package graft

import graft.sources.ParquetCompactor

class ParquetCompactorSpec extends SparkSpec {
  import spark.implicits._

  private def partFiles(dir: String): Seq[java.io.File] = {
    val f = new java.io.File(dir)
    if (!f.exists()) Seq.empty
    else f.listFiles().toSeq.filter(_.getName.startsWith("part-"))
  }

  test("compaction folds sliver files into sized files, content identical") {
    val dir = tempDir("graft-compact") + "/corpus"
    // 8 micro-batch appends at 4 partitions each → a pile of sliver files
    (0 until 8).foreach { b =>
      (0 until 100).map(i => (b * 100L + i, s"doc $b-$i text"))
        .toDF("doc_id", "text").repartition(4)
        .write.mode("append").parquet(dir)
    }
    val before = partFiles(dir).size
    assert(before >= 16, s"appends should fragment, got $before files")
    val want = spark.read.parquet(dir).collect().map(_.toSeq).toSet

    val gen1 = ParquetCompactor.compact(spark, dir, targetBytes = 1L << 30)
    assert(ParquetCompactor.currentDir(spark, dir) == gen1)
    assert(partFiles(gen1).size < before / 4, "compaction must merge files")
    assert(ParquetCompactor.read(spark, dir).collect().map(_.toSeq).toSet == want)

    // a second round swaps generations and GCs the old one
    val gen2 = ParquetCompactor.compact(spark, dir, targetBytes = 1L << 30)
    assert(gen2 != gen1 && !new java.io.File(gen1).exists(), "old generation GC'd")
    assert(ParquetCompactor.read(spark, dir).collect().map(_.toSeq).toSet == want)
    // the live append dir itself is never deleted (a sink may still write)
    assert(new java.io.File(dir).exists())
  }

  test("compactPartitionInPlace: folds one closed partition, content identical") {
    import spark.implicits._
    val root = tempDir("graft-inplace")
    val part = s"$root/day=2024-01-01"
    (0 until 3).foreach { i =>
      Seq((i * 10L, s"row$i")).toDF("id", "v").repartition(1)
        .write.mode("append").parquet(part)
    }
    def files = new java.io.File(part).listFiles().count(_.getName.startsWith("part-"))
    assert(files == 3)
    val want = spark.read.parquet(part).collect().map(_.toSeq).toSet
    ParquetCompactor.compactPartitionInPlace(spark, part, s"$root/_tmp")
    assert(files == 1, "slivers folded to one file")
    assert(spark.read.parquet(part).collect().map(_.toSeq).toSet == want)
    // idempotent second run (single file: rewrites to one file again)
    ParquetCompactor.compactPartitionInPlace(spark, part, s"$root/_tmp")
    assert(spark.read.parquet(part).collect().map(_.toSeq).toSet == want)
  }
}
