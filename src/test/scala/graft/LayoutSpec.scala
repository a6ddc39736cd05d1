package graft

import org.apache.spark.sql.functions._

import graft.functions.ZOrder
import graft.operators.Layout

class LayoutSpec extends SparkSpec {
  import spark.implicits._

  test("morton16 column matches the scalar reference on random lanes") {
    val rnd = new scala.util.Random(3)
    val vals = Seq.fill(200)((rnd.nextInt(65536), rnd.nextInt(65536)))
    val got = vals.toDF("a", "b")
      .select(ZOrder.morton16(col("a"), col("b")).as("z")).as[Long].collect().toSeq
    assert(got == vals.map { case (a, b) => ZOrder.mortonRef(a, b) })
  }

  test("morton16 nests: quad prefix = interleaved top bits") {
    // top 2 key bits = (b15, a15): the first curve split is on b, then a
    assert(ZOrder.mortonRef(0x8000, 0) == (1L << 30))
    assert(ZOrder.mortonRef(0, 0x8000) == (1L << 31))
    assert(ZOrder.mortonRef(0xFFFF, 0xFFFF) == 0xFFFFFFFFL)
  }

  test("z-order layout prunes both dimensions; a linear sort prunes one") {
    val rnd = new scala.util.Random(9)
    val df = Seq.fill(20000)((rnd.nextInt(10000).toLong, rnd.nextInt(10000).toLong))
      .toDF("x", "y")
    val base = tempDir("graft-layout")
    Layout.zorderWrite(df, "x", "y", s"$base/z", 32)
    Layout.linearWrite(df, "x", s"$base/l", 32)

    val xbox = (0L, 624L, 0L, 9999L)   // x-only slice (~1/16 of x)
    val ybox = (0L, 9999L, 0L, 624L)   // y-only slice
    val both = (0L, 624L, 0L, 624L)    // corner box

    def stats(path: String, b: (Long, Long, Long, Long)) =
      Layout.pruningStats(spark, path, "x", "y", b._1, b._2, b._3, b._4)

    val (zt, zx) = stats(s"$base/z", xbox)
    val (_, zy) = stats(s"$base/z", ybox)
    val (_, zb) = stats(s"$base/z", both)
    val (lt, lx) = stats(s"$base/l", xbox)
    val (_, ly) = stats(s"$base/l", ybox)

    assert(zt == 32 && lt == 32)
    assert(lx <= 4, s"linear layout should prune its own axis hard, read $lx")
    assert(ly == lt, s"linear layout cannot prune the other axis, read $ly")
    assert(zx <= zt / 2, s"z-order should prune on x, read $zx of $zt")
    assert(zy <= zt / 2, s"z-order should prune on y, read $zy of $zt")
    assert(zb <= zt / 4, s"z-order corner box should prune hardest, read $zb")
    assert(zb <= zx && zb <= zy)
  }

  test("zorderWrite round-trips rows unchanged and handles constant dims") {
    val df = Seq((1L, 5L), (2L, 5L), (3L, 5L)).toDF("x", "y")
    val p = tempDir("graft-layout2") + "/c"
    Layout.zorderWrite(df, "x", "y", p, 2) // y is constant → lane 0
    val back = spark.read.parquet(p).as[(Long, Long)].collect().toSet
    assert(back == Set((1L, 5L), (2L, 5L), (3L, 5L)))
  }

  test("q_zorder_stats leaves no layout dirs behind in the temp dir") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def zorderDirs() =
      Option(tmp.list()).toSeq.flatten.filter(_.startsWith("graft-zorder")).toSet
    val before = zorderDirs()
    val rows = SparkEntry.queries("q_zorder_stats")(spark, "/root/testdata/sf0.001").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("linear", "zorder"))
    val leaked = zorderDirs() -- before
    assert(leaked.isEmpty, s"q_zorder_stats leaked $leaked")
  }
}
