package graft

import org.apache.spark.sql.functions._

import graft.functions.{CmsImpl, CmsOps}
import graft.operators.Analytics

class CmsOpsSpec extends SparkSpec {
  import spark.implicits._

  // skewed corpus: term t_i appears i times per source, across 3 sources
  private def items = (for {
    src <- Seq("a", "b", "c")
    i <- 1 to 20
    _ <- 1 to i
  } yield (src, s"t_$i")).toDF("src", "term")

  private def exactCounts = items.groupBy("src", "term").count()
    .as[(String, String, Long)].collect()
    .map { case (s, t, c) => (s, t) -> c }.toMap

  test("estimates never underestimate and respect the e/width bound") {
    val sketches = Analytics.freqSketchTable(items, "term", Seq("src"))
    val probes = (1 to 20).map(i => s"t_$i") :+ "absent_term"
    val est = Analytics.freqFromSketches(sketches, Seq("src"), probes)
      .select("src", "term", "est_count", "n_rows")
      .as[(String, String, Long, Long)].collect()
    assert(est.length == 3 * 21)
    val exact = exactCounts
    est.foreach { case (src, term, e, n) =>
      val truth = exact.getOrElse((src, term), 0L)
      assert(e >= truth, s"CMS underestimated ($src,$term): $e < $truth")
      // ε = e/width; at width=1024 and n=210 the slack is < 1 — estimates
      // must be exact here, which also pins the hash plumbing
      val slack = math.ceil(math.E / CmsOps.DefaultWidth * n).toLong
      assert(e <= truth + slack, s"($src,$term): $e > $truth + $slack")
    }
    // the absent probe is 0 for every source at this width
    assert(est.filter(_._2 == "absent_term").forall(_._3 == 0L))
  }

  test("sketch is partition-invariant and slicing-invariant, byte-identical") {
    def build(df: org.apache.spark.sql.DataFrame): Array[Byte] =
      df.agg(CmsOps.cmsAgg($"term").as("sk")).as[Array[Byte]].head()
    val onePass = build(items)
    assert(java.util.Arrays.equals(onePass, build(items.repartition(7))))
    // 3-way slice, sketch each, union the stored sketches
    val sliced = (0 until 3).map(i => items.where(pmod(xxhash64($"term"), lit(3)) === i))
      .map(build).toDF("sk")
      .agg(CmsOps.cmsUnionAgg($"sk").as("sk")).as[Array[Byte]].head()
    assert(java.util.Arrays.equals(onePass, sliced),
      "element-wise-sum merge must be byte-identical to the one-pass build")
    // pairwise union2 agrees with the aggregate union
    val parts = (0 until 2).map(i => items.where(pmod(xxhash64($"term"), lit(2)) === i)).map(build)
    val viaUnion2 = Seq((parts(0), parts(1))).toDF("a", "b")
      .select(CmsOps.cmsUnion2($"a", $"b").as("sk")).as[Array[Byte]].head()
    assert(java.util.Arrays.equals(onePass, viaUnion2))
  }

  test("cmsTotal reads the stream length; empty input estimates zero") {
    val sk = items.agg(CmsOps.cmsAgg($"term").as("sk"))
    assert(sk.select(CmsOps.cmsTotal($"sk")).as[Long].head() == items.count())
    val empty = items.where(lit(false)).agg(CmsOps.cmsAgg($"term").as("sk"))
    assert(empty.select(CmsOps.cmsTotal($"sk")).as[Long].head() == 0L)
    assert(empty.select(CmsOps.cmsEstimate($"sk", lit("t_5"))).as[Long].head() == 0L)
  }

  test("null items are skipped") {
    val withNulls = Seq(Some("x"), None, Some("x"), None).toDF("term")
    val sk = withNulls.agg(CmsOps.cmsAgg($"term").as("sk"))
    assert(sk.select(CmsOps.cmsTotal($"sk")).as[Long].head() == 2L)
    assert(sk.select(CmsOps.cmsEstimate($"sk", lit("x"))).as[Long].head() == 2L)
  }

  test("shape mismatch is rejected loudly") {
    val a = CmsImpl.empty(4, 1024); val b = CmsImpl.empty(4, 512)
    intercept[IllegalArgumentException](CmsImpl.mergeInto(a, b))
  }

  test("maintained CMS store converges byte-identically to the one-shot table") {
    val viewDir = tempDir("graft-cms-store") + "/view"
    (0 until 3).foreach { i =>
      graft.streaming.ViewMaintenance.mergeFreqSketchesBatch(spark,
        items.where(pmod(xxhash64($"term"), lit(3)) === i),
        viewDir, itemCol = "term", byCols = Seq("src"), numBuckets = 4, version = i.toLong)
    }
    val served = graft.streaming.ViewMaintenance.readViewOr(spark, viewDir,
        Analytics.freqSketchTable(items, "term", Seq("src")))
      .select("src", "sketch", "n_rows")
      .as[(String, Array[Byte], Long)].collect().map { case (s, b, n) => s -> ((b.toSeq, n)) }.toMap
    val oneShot = Analytics.freqSketchTable(items, "term", Seq("src"))
      .select("src", "sketch", "n_rows")
      .as[(String, Array[Byte], Long)].collect().map { case (s, b, n) => s -> ((b.toSeq, n)) }.toMap
    assert(served == oneShot, "sliced merges through the store must equal the batch build")
    // replaying a committed batch is a no-op
    graft.streaming.ViewMaintenance.mergeFreqSketchesBatch(spark,
      items.where(pmod(xxhash64($"term"), lit(3)) === 2),
      viewDir, itemCol = "term", byCols = Seq("src"), numBuckets = 4, version = 2L)
    val replayed = graft.streaming.ViewMaintenance.readViewOr(spark, viewDir,
        Analytics.freqSketchTable(items, "term", Seq("src")))
      .select("src", "sketch", "n_rows")
      .as[(String, Array[Byte], Long)].collect().map { case (s, b, n) => s -> ((b.toSeq, n)) }.toMap
    assert(replayed == oneShot)
  }
}
