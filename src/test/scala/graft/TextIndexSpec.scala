package graft

import org.apache.spark.sql.functions._

import graft.operators.{TextIndex, TextMetrics}

class TextIndexSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  private def freshIndex(numBuckets: Int = 16): String = {
    val dir = tempDir("graft-text-index")
    TextIndex.buildTextIndex(docs, dir, numBuckets)
    dir
  }

  test("index-served BM25 is identical to the one-shot operator") {
    val dir = freshIndex()
    val terms = Seq("dup", "spark", "merge")
    val oneShot = TextMetrics.bm25TopK(docs, terms)
      .as[(Long, Double, Long)].collect().toSeq
    val served = TextIndex.bm25FromIndex(spark, dir, terms)
      .as[(Long, Double, Long)].collect().toSeq
    assert(served == oneShot)
    assert(served.nonEmpty, "testdata must exercise the query")
  }

  test("query scan prunes to the query terms' tb partitions") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      import org.apache.spark.sql.execution.FileSourceScanExec
      val dir = freshIndex()
      val q = TextIndex.bm25FromIndex(spark, dir, Seq("dup", "spark"))
      val scans = q.queryExecution.executedPlan.collect { case s: FileSourceScanExec => s }
      val postingScans = scans.filter(_.relation.location.rootPaths.exists(_.toString.contains("postings")))
      assert(postingScans.nonEmpty, "expected a postings scan")
      assert(postingScans.forall(_.partitionFilters.nonEmpty),
        "tb partition pruning must reach the postings scan")
      // and the term filter pushes into the scan
      assert(postingScans.forall(_.dataFilters.nonEmpty),
        "term filter must reach the postings scan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("absent terms contribute nothing; all-absent query returns empty") {
    val dir = freshIndex()
    val some = TextIndex.bm25FromIndex(spark, dir, Seq("dup", "zzzznotaword"))
      .as[(Long, Double, Long)].collect()
    val base = TextIndex.bm25FromIndex(spark, dir, Seq("dup"))
      .as[(Long, Double, Long)].collect()
    assert(some.toSeq == base.toSeq, "an absent term must not perturb scores")
    assert(TextIndex.bm25FromIndex(spark, dir, Seq("zzzznotaword")).collect().isEmpty)
  }

  test("stats survive the store: n and avgdl come from the build corpus") {
    val dir = freshIndex()
    val stats = spark.read.parquet(s"$dir/stats")
      .select("n_docs", "total_len").as[(Long, Long)].head()
    assert(stats._1 == docs.count())
    val totLen = docs.select(sum(size(split(col("text"), " ")).cast("long")))
      .as[Long].head()
    assert(stats._2 == totLen)
  }

  test("incremental append: build+appends == one-shot over the union, replays are no-ops") {
    val dir = tempDir("graft-text-append")
    TextIndex.buildTextIndex(docs.where($"doc_id" % 3 === 0), dir, 16)
    TextIndex.appendTextBatch(docs.where($"doc_id" % 3 === 1), dir, batchId = 1L)
    TextIndex.appendTextBatch(docs.where($"doc_id" % 3 === 2), dir, batchId = 2L)
    // a replayed batch overwrites itself (dynamic partition overwrite)
    TextIndex.appendTextBatch(docs.where($"doc_id" % 3 === 2), dir, batchId = 2L)
    val oneShot = freshIndex()
    val terms = Seq("dup", "spark", "merge")
    assert(TextIndex.bm25FromIndex(spark, dir, terms)
        .as[(Long, Double, Long)].collect().toSeq ==
      TextIndex.bm25FromIndex(spark, oneShot, terms)
        .as[(Long, Double, Long)].collect().toSeq)
    // phrase search sees docs from every batch
    assert(TextIndex.phraseDocsFromIndex(spark, dir, Seq("scan", "filter"))
        .as[(Long, Long)].collect().toMap ==
      TextIndex.phraseDocsFromIndex(spark, oneShot, Seq("scan", "filter"))
        .as[(Long, Long)].collect().toMap)
    // summed stats equal the one-shot build's
    def stats(d: String) = spark.read.parquet(s"$d/stats")
      .agg(sum("n_docs"), sum("total_len")).as[(Long, Long)].head()
    assert(stats(dir) == stats(oneShot))
  }

  test("compaction folds closed generations, replays no-op, appends continue, rebuild resets") {
    val dir = tempDir("graft-text-compact")
    TextIndex.buildTextIndex(docs.where($"doc_id" % 3 === 0), dir, 16)
    TextIndex.appendTextBatch(docs.where($"doc_id" % 3 === 1), dir, batchId = 1L)
    val terms = Seq("dup", "spark", "merge")
    val before = TextIndex.bm25FromIndex(spark, dir, terms)
      .as[(Long, Double, Long)].collect().toSeq
    val gen = TextIndex.compactIndex(spark, dir, beforeBatch = 2L)
    // queries resolve the pointer to the new generation, results unchanged
    assert(TextIndex.bm25FromIndex(spark, dir, terms)
      .as[(Long, Double, Long)].collect().toSeq == before)
    // every closed b= ingest generation folded to one
    val bVals = spark.read.parquet(gen).select("b").distinct().as[Long].collect().toSeq
    assert(bVals == Seq(0L), s"expected one folded generation, got $bVals")
    // a REPLAY of a folded batch must no-op (its content is already in
    // b=0 — re-landing would duplicate postings and double tf/df)
    TextIndex.appendTextBatch(docs.where($"doc_id" % 3 === 1), dir, batchId = 1L)
    assert(TextIndex.bm25FromIndex(spark, dir, terms)
      .as[(Long, Double, Long)].collect().toSeq == before,
      "replayed folded batch must not change the index")
    // appends at/above the watermark land and are served
    TextIndex.appendTextBatch(docs.where($"doc_id" % 3 === 2), dir, batchId = 2L)
    val full = freshIndex()
    assert(TextIndex.bm25FromIndex(spark, dir, terms)
        .as[(Long, Double, Long)].collect().toSeq ==
      TextIndex.bm25FromIndex(spark, full, terms)
        .as[(Long, Double, Long)].collect().toSeq)
    // a second round GCs the previous generation dir
    val gen2 = TextIndex.compactIndex(spark, dir, beforeBatch = 3L)
    assert(!new java.io.File(gen).exists(), "previous generation must be GC'd")
    assert(new java.io.File(gen2).exists())
    // a REBUILD over the compacted dir resets the pointer + watermark:
    // queries must see the fresh build, and batch 1 appends again
    TextIndex.buildTextIndex(docs.where($"doc_id" % 3 === 0), dir, 16)
    TextIndex.appendTextBatch(docs.where($"doc_id" % 3 === 1), dir, batchId = 1L)
    assert(TextIndex.bm25FromIndex(spark, dir, terms)
      .as[(Long, Double, Long)].collect().toSeq == before,
      "rebuild must serve the fresh store, not the stale compacted generation")
  }

  test("empty corpus builds an empty but queryable index") {
    val dir = tempDir("graft-text-index-empty")
    TextIndex.buildTextIndex(docs.where(lit(false)), dir, 8)
    assert(TextIndex.bm25FromIndex(spark, dir, Seq("dup")).collect().isEmpty)
    assert(TextIndex.phraseDocsFromIndex(spark, dir, Seq("a", "b"))
      .collect().isEmpty)
  }

  test("phrase search: positional intersection on a hand corpus, overlaps counted") {
    val hand = Seq(
      (1L, "a b c a b"),     // "a b" at 0 and 3 → 2 occurrences
      (2L, "b a b a"),       // "a b" at 1 → 1
      (3L, "a c b"),         // terms present, never adjacent → absent
      (4L, "x x x"),         // repeated-term phrase territory
      (5L, "b b a")          // "a b" absent ("b" precedes)
    ).toDF("doc_id", "text")
    val dir = tempDir("graft-phrase")
    TextIndex.buildTextIndex(hand, dir, 8)
    val ab = TextIndex.phraseDocsFromIndex(spark, dir, Seq("a", "b"))
      .as[(Long, Long)].collect().toMap
    assert(ab == Map(1L -> 2L, 2L -> 1L))
    // repeated-term phrase: "x x" in "x x x" occurs at 0 and 1 (overlapping)
    val xx = TextIndex.phraseDocsFromIndex(spark, dir, Seq("x", "x"))
      .as[(Long, Long)].collect().toMap
    assert(xx == Map(4L -> 2L))
    // three-term phrase crosses two join steps
    val abc = TextIndex.phraseDocsFromIndex(spark, dir, Seq("a", "b", "c"))
      .as[(Long, Long)].collect().toMap
    assert(abc == Map(1L -> 1L))
    // absent phrase → empty
    assert(TextIndex.phraseDocsFromIndex(spark, dir, Seq("c", "a", "q"))
      .collect().isEmpty)
  }

  test("proximity search: |p-q| <= window pair counts, window edges exact") {
    val hand = Seq(
      (1L, "a x x x b"),        // distance 4
      (2L, "a b"),              // distance 1
      (3L, "b x x x x x a"),    // distance 6 (order-free)
      (4L, "a x b x a"),        // pairs: (0,2)=2, (4,2)=2 → 2 pairs at w=2
      (5L, "a a a")             // termB absent
    ).toDF("doc_id", "text")
    val dir = tempDir("graft-prox")
    TextIndex.buildTextIndex(hand, dir, 8)
    def near(w: Int) = TextIndex.proximityDocsFromIndex(spark, dir, "a", "b", w)
      .as[(Long, Long)].collect().toMap
    assert(near(4) == Map(1L -> 1L, 2L -> 1L, 4L -> 2L))
    assert(near(6) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 2L))
    assert(near(3) == Map(2L -> 1L, 4L -> 2L))
    assert(near(1) == Map(2L -> 1L, 4L -> 0L).filter(_._2 > 0))
  }

  test("phrase search on testdata matches a brute-force token scan") {
    val dir = freshIndex()
    val served = TextIndex.phraseDocsFromIndex(spark, dir, Seq("scan", "filter"))
      .as[(Long, Long)].collect().toMap
    val brute = docs.select(col("doc_id"), split(col("text"), " ").as("t"))
      .as[(Long, Seq[String])].collect()
      .map { case (id, t) => id -> t.sliding(2).count(_ == Seq("scan", "filter")) }
      .filter(_._2 > 0).toMap
    assert(served == brute.map { case (k, v) => k -> v.toLong })
    assert(served.nonEmpty, "testdata must exercise the phrase")
  }

  test("boolean query: must/should/mustNot set semantics vs brute force; edges") {
    val dir = freshIndex()
    val got = TextIndex.booleanDocsFromIndex(spark, dir,
        must = Seq("scan", "filter"), should = Seq("merge", "window"),
        mustNot = Seq("dup"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_should")).toMap
    // brute force over the same tokenization
    val toks = docs.collect().map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[String]("text").split(" ").toSet).toMap
    val expect = toks.collect {
      case (id, ts) if ts("scan") && ts("filter") && !ts("dup") =>
        id -> Seq("merge", "window").count(ts).toLong
    }
    assert(got == expect)
    // pure-OR: must empty -> any should match qualifies
    val or = TextIndex.booleanDocsFromIndex(spark, dir,
        must = Nil, should = Seq("merge", "window"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_should")).toMap
    val orExpect = toks.collect {
      case (id, ts) if ts("merge") || ts("window") =>
        id -> Seq("merge", "window").count(ts).toLong
    }
    assert(or == orExpect)
    assert(or.values.forall(_ >= 1L))
    // a term in both must and mustNot rejects; no terms at all rejects
    intercept[IllegalArgumentException] {
      TextIndex.booleanDocsFromIndex(spark, dir, Seq("scan"), Nil, Seq("scan"))
    }
    intercept[IllegalArgumentException] {
      TextIndex.booleanDocsFromIndex(spark, dir, Nil, Nil, Seq("dup"))
    }
    // empty index: schema-stable empty
    val emptyDir = tempDir("graft-text-bool")
    TextIndex.buildTextIndex(docs.where(org.apache.spark.sql.functions.lit(false)), emptyDir, 8)
    val e = TextIndex.booleanDocsFromIndex(spark, emptyDir, Seq("scan"))
    assert(e.collect().isEmpty)
    assert(e.columns.toSeq == Seq("doc_id", "n_should"))
  }
}
