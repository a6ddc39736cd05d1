package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog and runs far away into the green forest tonight"
  private val nearDup = base.replace("green", "dark") // 1-word change
  private val unrelated =
    "completely different content about spark sql engines processing huge datasets with shuffles and joins all day"

  private def docs = Seq(
    (0L, base, "s0"), (1L, nearDup, "s0"), (2L, unrelated, "s0"),
    (3L, base, "s1") // exact duplicate of 0
  ).toDF("doc_id", "text", "source")

  test("exact dedup keeps smallest id and counts copies") {
    val r = Dedup.exact(docs).collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(r(0L) == 2L) // base text appears twice (doc 0 + doc 3)
    assert(r(1L) == 1L && r(2L) == 1L)
    assert(!r.contains(3L)) // canonical representative is min id
  }

  test("hash-keyed exact dedup matches the text-keyed form") {
    val a = Dedup.exact(docs).collect().map(_.toSeq).toSeq
    val b = Dedup.exactByHash(docs).collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("minhash LSH finds near and exact duplicates, not unrelated pairs") {
    val pairs = Dedup.minhashLsh(docs, jaccardThreshold = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 3L))) // exact dup: jaccard 1.0
    assert(pairs.contains((0L, 1L))) // near dup: 1-word change over 3-shingles
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L)) // unrelated never pairs
  }

  test("minhash candidates agree with brute-force jaccard at the threshold") {
    // brute force over all pairs via the exposed shingle/jaccard kernel
    val brute = Dedup.ngramJaccardPairs(docs.withColumn("source", lit("all")), threshold = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashLsh(docs, jaccardThreshold = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(lsh == brute) // at 0.5 with 16 bands × 2 rows, recall ≈ 1 here
  }

  test("simhash: near-identical docs collide within hamming 3, unrelated don't") {
    val r = Dedup.simhashDedup(docs, maxHamming = 3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(r.contains((0L, 3L))) // identical text → hamming 0
    assert(!r.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("exact cross-engine minhash/simhash: same planted verdicts as the xxhash64 natives") {
    // the md5-56 editions behind q_dedup_minhash/q_dedup_simhash must
    // recover the same planted near-dup structure as the native scale path
    val mh = Dedup.minhashLshExact(docs, jaccardThreshold = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(mh.contains((0L, 3L)) && mh.contains((0L, 1L)))
    assert(!mh.exists(p => p._1 == 2L || p._2 == 2L))
    assert(mh == Dedup.minhashLsh(docs, jaccardThreshold = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet)
    // exact-dup pair carries jaccard exactly 1.0
    val j = Dedup.minhashLshExact(docs).where($"doc_a" === 0L && $"doc_b" === 3L)
      .select("jaccard").as[Double].head()
    assert(j == 1.0)
    val sh = Dedup.simhashDedupExact(docs, maxHamming = 3)
      .select("doc_a", "doc_b", "hamming").as[(Long, Long, Int)].collect()
    assert(sh.exists(r => r._1 == 0L && r._2 == 3L && r._3 == 0)) // identical → 0
    assert(!sh.exists(r => r._1 == 2L || r._2 == 2L))
    // sub-3-token docs: no grams, no signature, no pairs — never a throw
    val tiny = Seq((0L, "a b", "s0"), (1L, "a b", "s0")).toDF("doc_id", "text", "source")
    assert(Dedup.minhashLshExact(tiny).count() == 0)
    // simhash still pairs them (word-level, no 3-gram minimum)
    assert(Dedup.simhashDedupExact(tiny).count() == 1)
  }

  test("hot-band cap valve: oversized buckets drop whole, distinct pairs survive (r11 verdict)") {
    // 8 copies of a boilerplate doc land every one of their band/chunk
    // buckets over a cap of 5 → all boilerplate pairs VANISH; the distinct
    // surviving duplicate pair (0,1) keeps its own 2-member buckets. The
    // valve is cap-sound: pairs only vanish (capped ⊆ uncapped), never
    // appear. All four banded detectors share the same valve.
    val boiler = "all rights reserved copyright notice terms of service apply " +
      "to this page content provided as is without warranty of any kind"
    val corpus = (Seq((0L, base, "s0"), (1L, base, "s0")) ++
      (10L to 17L).map(i => (i, boiler, "s0"))).toDF("doc_id", "text", "source")
    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val runs: Seq[(String, Int => Set[(Long, Long)])] = Seq(
      "minhashLsh" -> (c => pairSet(Dedup.minhashLsh(corpus, bucketCap = c))),
      "minhashLshExact" -> (c => pairSet(Dedup.minhashLshExact(corpus, bucketCap = c))),
      "simhashDedup" -> (c => pairSet(Dedup.simhashDedup(corpus, bucketCap = c))),
      "simhashDedupExact" -> (c => pairSet(Dedup.simhashDedupExact(corpus, bucketCap = c))))
    for ((name, run) <- runs) {
      val uncapped = run(10000)
      val capped = run(5)
      assert(uncapped.contains((10L, 11L)), s"$name: boilerplate pairs exist uncapped")
      assert(capped.contains((0L, 1L)), s"$name: the distinct dup pair survives the cap")
      assert(capped.forall(p => !(p._1 >= 10L && p._2 >= 10L)),
        s"$name: every hot-bucket boilerplate pair vanished")
      assert(capped.subsetOf(uncapped), s"$name: cap-sound — pairs only vanish")
    }
  }

  test("simhash signature is deterministic and exactly 0 hamming for equal text") {
    val sigs = docs.select($"doc_id", Dedup.simhash64($"text").as("sig"))
      .as[(Long, Long)].collect().toMap
    assert(sigs(0L) == sigs(3L))
    assert(sigs(0L) != sigs(2L))
  }

  test("native affine-mod-P kernel == decimal spelling == BigInteger (r12)") {
    // the exact-minhash hot path runs (g·a+b) mod (2^61−1) on the long
    // kernel; the ORACLE still computes the decimal/HUGEINT spelling, so
    // the two must agree bit-for-bit on every real gram key and on the
    // operand envelope's edges
    val real = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val coeffs = Dedup.minhashExactCoeffs(16)
    def mismatches(df: org.apache.spark.sql.DataFrame): Seq[Long] = {
      val checks = coeffs.zipWithIndex.map { case ((a, b), j) =>
        sum(when(graft.functions.HashConv.affineModP(col("g"), a, b) =!=
          Dedup.minhashExactAffineRef(col("g"), a, b), 1L).otherwise(0L)).as(s"m$j")
      }
      val row = df.agg(checks.head, checks.tail: _*).collect()(0)
      (0 until 16).map(row.getLong)
    }
    // real 56-bit keys off the same md5Long56 convention gramKeys uses
    val grams = real.select(graft.functions.HashConv.md5Long56(col("text")).as("g"))
    assert(mismatches(grams).forall(_ == 0L), "kernel diverged on real md5-56 keys")
    val edges = Seq(0L, 1L, 2L, (1L << 56) - 1L, (1L << 60) + 12345L,
      (1L << 61) - 2L).toDF("g")
    assert(mismatches(edges).forall(_ == 0L), "kernel diverged on envelope edges")
    // scalar parity with BigInteger on the same edges (independent of Spark)
    val P = BigInt(Dedup.MinhashExactP)
    for (g <- Seq(0L, 1L, (1L << 56) - 1L, (1L << 61) - 2L); (a, b) <- coeffs) {
      val want = ((BigInt(g) * a + b) mod P).toLong
      assert(graft.functions.AffineModPImpl.eval(g, a, b) === want, s"g=$g a=$a b=$b")
    }
  }

  test("ngram jaccard default run is non-trivial on driver testdata") {
    val real = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val pairs = Dedup.ngramJaccardPairs(real)
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect()
    // the recorded correctness run must prove something: dozens of pairs,
    // every one genuinely over the threshold
    assert(pairs.length >= 20, s"expected >=20 pairs at sf0.01, got ${pairs.length}")
    assert(pairs.forall(_._3 >= 0.02))
  }

  test("prefix-indexed pairs equal the all-block-pairs formulation on real data") {
    val real = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    for (t <- Seq(0.02, 0.1, 0.5); byFreq <- Seq(false, true)) {
      val indexed = Dedup.ngramJaccardPairsIndexed(real, t, orderByFrequency = byFreq)
        .collect().map(_.toSeq).toSeq
      val allPairs = Dedup.ngramJaccardPairsBalanced(real, t)
        .collect().map(_.toSeq).toSeq
      assert(indexed == allPairs, s"threshold $t byFreq $byFreq")
    }
  }

  test("frequency-ordered prefixes never admit more candidates than hash order") {
    val real = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    for (t <- Seq(0.1, 0.3)) {
      val hashOrder = Dedup.prefixIndexCandidateCount(real, t, orderByFrequency = false)
      val freqOrder = Dedup.prefixIndexCandidateCount(real, t, orderByFrequency = true)
      info(s"t=$t candidates: hash-order=$hashOrder freq-order=$freqOrder")
      assert(freqOrder <= hashOrder)
    }
  }

  test("ppjoin pruning is sound: never drops a pair at or above the threshold") {
    val real = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    // score ALL within-source pairs with no pruning, then check every pair
    // the filter would drop is genuinely below the threshold
    val sh = real.select($"doc_id", $"source",
      graft.functions.TextHashes.shingleHashes($"text").as("sh"))
    val all = sh.as("a").join(sh.as("b"),
        $"a.source" === $"b.source" && $"a.doc_id" < $"b.doc_id")
      .select(
        graft.functions.SetOps.jaccardSorted($"a.sh", $"b.sh").as("jaccard"),
        Dedup.ppjoinSurvives($"a.sh", $"b.sh", 0.02).as("survives"))
      .as[(Double, Boolean)].collect()
    val dropped = all.filter(!_._2)
    assert(dropped.nonEmpty, "filter should prune something on real data")
    assert(dropped.forall(_._1 < 0.02), "pruned pair must be below threshold")
    info(s"pairs=${all.length} pruned=${dropped.length} " +
      f"(${100.0 * dropped.length / all.length}%.1f%%)")
  }

  test("native simhash expression matches the HOF reference bit-for-bit") {
    val both = docs.select(
      Dedup.simhash64($"text").as("native"),
      Dedup.simhash64Reference($"text").as("ref")
    ).as[(Long, Long)].collect()
    both.foreach { case (n, r) => assert(n == r) }
  }

  test("decontaminate flags planted train/eval overlap, ignores train-internal dups") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val train = Seq(
      (1L, base),                                   // contaminated: eval 101 is a near-copy
      (2L, base),                                   // train-internal dup of 1 — must NOT be flagged by itself
      (3L, "completely different words about spark catalyst optimizer rules engine")
    ).toDF("doc_id", "text")
    val eval = Seq(
      (101L, base + " extra"),                      // near-copy of train 1/2
      (102L, "unrelated benchmark question answer pairs for evaluation only here")
    ).toDF("doc_id", "text")
    val r = Dedup.decontaminate(train, eval, threshold = 0.5)
      .as[(Long, Long, Double, Long)].collect().map(t => t._1 -> t).toMap
    // both near-copies of the eval doc are flagged, with 101 as evidence
    assert(r.keySet == Set(1L, 2L))
    assert(r(1L)._2 == 101L && r(1L)._3 >= 0.5 && r(1L)._4 == 1L)
    assert(r(2L)._2 == 101L)
    // the clean doc is absent — and nothing was flagged against eval 102
    assert(!r.contains(3L))
  }

  test("dupClusters: chain, star, and pair components each take their min id") {
    // chain 1-2-3-4 (diameter 3: needs >1 propagation round), star 10←{11,12,13},
    // isolated pair (20,21); 99 appears in no pair → absent from output
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (10L, 12L), (10L, 13L),
      (20L, 21L)
    ).toDF("doc_a", "doc_b")
    val r = Dedup.dupClusters(pairs).as[(Long, Long)].collect().toMap
    assert(r == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L,
      20L -> 20L, 21L -> 20L))
  }

  test("dupClusters: long path converges (propagation reaches the far end)") {
    // path 0-1-2-…-12: min label 0 must travel 12 hops
    val pairs = (0L until 12L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val r = Dedup.dupClusters(pairs).as[(Long, Long)].collect()
    assert(r.length == 13 && r.forall(_._2 == 0L))
  }

  test("dupClusters: a path deeper than maxIters fails loud, naming the budget") {
    // path 0-1-…-29: label 0 needs 29 rounds to reach the far end, so a
    // 25-round budget would leave a partial clustering (several
    // cluster_ids on one connected path)
    val pairs = (0L until 29L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val err = intercept[RuntimeException](
      Dedup.dupClusters(pairs, maxIters = 25).collect())
    assert(err.getMessage.contains("maxIters=25"), err.getMessage)
  }

  test("dupClusters over global near-dup pairs groups the testdata duplicates") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val pairs = Dedup.ngramJaccardPairsIndexed(docs, threshold = 0.5, blockBySource = false)
    val clusters = Dedup.dupClusters(pairs).as[(Long, Long)].collect()
    val nPairs = pairs.count()
    assert(nPairs > 0, "testdata must contain near-dup pairs at 0.5")
    // every paired doc is labeled; labels are cluster-minimal (a cluster id
    // is itself a member with that label)
    val labels = clusters.toMap
    assert(clusters.nonEmpty)
    clusters.foreach { case (_, c) => assert(labels(c) == c, s"cluster id $c must be its own root") }
    // each pair's two docs share a cluster (edges never straddle clusters)
    pairs.select("doc_a", "doc_b").as[(Long, Long)].collect().foreach { case (a, b) =>
      assert(labels(a) == labels(b), s"pair ($a,$b) split across clusters")
    }
  }

  test("paragraph dedup: first occurrence wins, docs reassemble in order") {
    val docs = Seq(
      (0L, "alpha\n\nboiler\n\nomega"),
      (1L, "boiler\n\nbravo\n\nboiler"), // cross-doc dup + within-doc repeat
      (2L, "alpha\n\nboiler"),           // entirely previously-seen → empty
      (3L, "charlie")                    // single paragraph, untouched
    ).toDF("doc_id", "text")
    val r = graft.operators.Dedup.paragraphDedup(docs)
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(r == Seq(
      (0L, "alpha\n\nboiler\n\nomega", 3L, 3L),
      (1L, "bravo", 3L, 1L), // both boiler copies lost to doc 0
      (2L, "", 2L, 0L),      // row kept, text emptied
      (3L, "charlie", 1L, 1L)))
  }

  private def substrDocs = Seq(
    (0L, "a b c d e f"),       // canonical for every gram it contains
    (1L, "a b c d e f"),       // exact copy → fully removed
    (2L, "x y z a b c q"),     // shares one 3-gram with doc 0
    (3L, "p q"),               // shorter than k → untouched
    (4L, "m n o m n o"),       // within-doc repeat: second span removed
    (5L, "u v w x y r1"),      // }
    (6L, "s1 u v w x y")       // } share a 5-token run, k=3
  ).toDF("doc_id", "text")

  test("substring dedup: first occurrence wins at k-gram granularity") {
    val r = Dedup.substringDedup(substrDocs, k = 3)
      .as[(Long, String, Long)].collect().toSeq
    assert(r == Seq(
      (0L, "a b c d e f", 0L),   // canonical doc untouched
      (1L, "", 6L),              // exact copy fully covered
      (2L, "x y z q", 3L),       // only the shared "a b c" span removed
      (3L, "p q", 0L),           // below k, no grams
      (4L, "m n o", 3L),         // within-doc repeat collapsed
      (5L, "u v w x y r1", 0L),  // canonical side of the shared run
      (6L, "s1", 5L)))           // whole 5-token run covered by 3 overlapping grams
  }

  test("substring dedup: hash-keyed scale twin matches the string-keyed form") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val a = Dedup.substringDedup(docs).collect().map(_.toSeq).toSeq
    val b = Dedup.substringDedupByHash(docs).collect().map(_.toSeq).toSeq
    assert(a == b)
    assert(a.exists(_(2).asInstanceOf[Long] > 0L), "corpus must exercise removal")
  }

  test("substring dedup: invariant under repartitioning") {
    val a = Dedup.substringDedup(substrDocs, k = 3).collect().map(_.toSeq).toSeq
    val b = Dedup.substringDedup(substrDocs.repartition(7), k = 3).collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("band-hash store: exact dups always flagged, near-dups caught, disjoint docs pass") {
    import org.apache.spark.sql.functions._
    val longText = (1 to 60).map(i => s"token$i").mkString(" ")
    val nearText = ((1 to 59).map(i => s"token$i") :+ "tokenX").mkString(" ")
    val otherText = (1 to 60).map(i => s"zzz$i").mkString(" ")
    val history = Seq((1L, longText), (2L, otherText)).toDF("doc_id", "text")
    val probe = Seq(
      (10L, longText),   // exact dup of folded content → all bands collide
      (11L, nearText),   // near-dup → most bands collide
      (12L, (1 to 60).map(i => s"qqq$i").mkString(" "))) // disjoint vocab
      .toDF("doc_id", "text")
    val viewDir = tempDir("graft-band-store") + "/view"
    graft.streaming.ViewMaintenance.mergeBandHashesBatch(spark, history, viewDir,
      numBuckets = 4, version = 0L)
    val seen = graft.streaming.ViewMaintenance.readView(spark, viewDir)
    val verdicts = graft.streaming.ViewMaintenance.nearDupAgainstSeen(probe, seen)
      .as[(Long, Boolean)].collect().toMap
    assert(verdicts(10L), "exact duplicate must be flagged (all bands collide)")
    assert(verdicts(11L), "59/60-token near-dup must be flagged")
    assert(!verdicts(12L), "disjoint-vocabulary doc must pass the gate")
    assert(verdicts.size == 3, "every probe doc gets a verdict")
  }

  test("band-hash store: slicing-invariant and replay no-op (inherited from the seen store)") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def gateAfter(slices: Seq[org.apache.spark.sql.DataFrame]): Map[Long, Boolean] = {
      val dir = tempDir("graft-band-slice") + "/view"
      slices.zipWithIndex.foreach { case (s, i) =>
        graft.streaming.ViewMaintenance.mergeBandHashesBatch(spark, s, dir,
          numBuckets = 4, version = i.toLong)
      }
      graft.streaming.ViewMaintenance.nearDupAgainstSeen(
          docs.where(col("doc_id") % 3 === 2),
          graft.streaming.ViewMaintenance.readView(spark, dir))
        .as[(Long, Boolean)].collect().toMap
    }
    val history = docs.where(col("doc_id") % 3 < 2)
    val bySplit = gateAfter(Seq(docs.where(col("doc_id") % 3 === 0),
      docs.where(col("doc_id") % 3 === 1)))
    val oneShot = gateAfter(Seq(history))
    // replaying a committed version is a no-op
    val replayDir = tempDir("graft-band-replay") + "/view"
    graft.streaming.ViewMaintenance.mergeBandHashesBatch(spark, history, replayDir,
      numBuckets = 4, version = 0L)
    graft.streaming.ViewMaintenance.mergeBandHashesBatch(spark, history, replayDir,
      numBuckets = 4, version = 0L)
    val replayed = graft.streaming.ViewMaintenance.nearDupAgainstSeen(
        docs.where(col("doc_id") % 3 === 2),
        graft.streaming.ViewMaintenance.readView(spark, replayDir))
      .as[(Long, Boolean)].collect().toMap
    assert(bySplit == oneShot, "band store must be slicing-invariant")
    assert(replayed == oneShot)
    assert(bySplit.nonEmpty)
  }

  test("snapshotDiff: classifies added/removed/changed, drops unchanged by default") {
    val oldSnap = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma")).toDF("doc_id", "text")
    val newSnap = Seq((2L, "beta"), (3L, "gamma v2"), (4L, "delta")).toDF("doc_id", "text")
    val diff = Dedup.snapshotDiff(oldSnap, newSnap)
      .select("doc_id", "status").as[(Long, String)].collect().toMap
    assert(diff == Map(1L -> "removed", 3L -> "changed", 4L -> "added"))
    val full = Dedup.snapshotDiff(oldSnap, newSnap, keepUnchanged = true)
      .select("doc_id", "status").as[(Long, String)].collect().toMap
    assert(full(2L) == "unchanged" && full.size == 4)
    // hashes ride the output for audit: changed rows show both sides
    val changed = Dedup.snapshotDiff(oldSnap, newSnap)
      .where($"status" === "changed").collect().head
    assert(changed.getAs[String]("old_hash") != changed.getAs[String]("new_hash"))
  }

  test("snapshotDiff: null content is a value, not row absence") {
    val oldSnap = Seq((1L, Option("x")), (2L, Option.empty[String]), (3L, Option.empty[String]))
      .toDF("doc_id", "text")
    val newSnap = Seq((1L, Option.empty[String]), (2L, Option.empty[String]), (4L, Option("y")))
      .toDF("doc_id", "text")
    val full = Dedup.snapshotDiff(oldSnap, newSnap, keepUnchanged = true)
      .select("doc_id", "status").as[(Long, String)].collect().toMap
    assert(full == Map(
      1L -> "changed",   // x → null is a content change, NOT a removal
      2L -> "unchanged", // null == null (null-safe compare)
      3L -> "removed",   // genuinely absent from new
      4L -> "added"))
  }

  test("editDistancePairs: blocked candidates, exact distances, cap throws") {
    val df = Seq(
      (1L, "red widget", "b1"),
      (2L, "red widgets", "b1"),  // dist 1 within block
      (3L, "red widget", "b2"),   // identical text, DIFFERENT block → no pair
      (4L, "blue bolt", "b1"),    // dist > 2 from the widgets
      (5L, "red widget", "b1")    // exact dup of 1 within block
    ).toDF("id", "name", "brand")
    val r = graft.operators.Dedup.editDistancePairs(df, "id", "name", "brand")
      .select("key_a", "key_b", "dist").as[(Long, Long, Long)].collect().toSet
    assert(r == Set((1L, 2L, 1L), (1L, 5L, 0L), (2L, 5L, 1L)))
    // kitten/sitting = the textbook distance 3 (caught at maxDist = 3)
    val kd = graft.operators.Dedup.editDistancePairs(
      Seq((1L, "kitten", "x"), (2L, "sitting", "x")).toDF("id", "name", "brand"),
      "id", "name", "brand", maxDist = 3)
      .select("dist").as[Long].collect().toSeq
    assert(kd == Seq(3L))
    // block cap is loud
    val mega = (1 to 30).map(i => (i.toLong, s"n$i", "hot")).toDF("id", "name", "brand")
    assertThrows[RuntimeException] {
      graft.operators.Dedup.editDistancePairs(mega, "id", "name", "brand",
        blockCap = 10).collect()
    }
    // repartition invariance; empty totality
    val rep = graft.operators.Dedup.editDistancePairs(df.repartition(7),
      "id", "name", "brand").select("key_a", "key_b", "dist")
      .as[(Long, Long, Long)].collect().toSet
    assert(rep == r)
    assert(graft.operators.Dedup.editDistancePairs(df.limit(0),
      "id", "name", "brand").count() == 0)
  }

  test("editDistancePairs: multi-pass blocking composes as union+distinct for recall") {
    import org.apache.spark.sql.functions.{col, split}
    // 1 and 2 are near-dups in DIFFERENT brands: brand blocking misses
    // them; a second pass blocked on the first name token catches them
    val df = Seq(
      (1L, "red widget", "b1"),
      (2L, "red widgets", "b2"),
      (3L, "red widget", "b1"),  // same-brand exact dup (pass 1 finds it)
      (4L, "blue bolt", "b2")
    ).toDF("id", "name", "brand")
    val pass1 = graft.operators.Dedup.editDistancePairs(df, "id", "name", "brand")
      .select("key_a", "key_b")
    val byTok = df.withColumn("tok1", split(col("name"), " ")(0))
    val pass2 = graft.operators.Dedup.editDistancePairs(byTok, "id", "name", "tok1")
      .select("key_a", "key_b")
    import spark.implicits._
    assert(pass1.as[(Long, Long)].collect().toSet == Set((1L, 3L)))
    val both = pass1.unionByName(pass2).distinct()
      .as[(Long, Long)].collect().toSet
    assert(both == Set((1L, 3L), (1L, 2L), (2L, 3L)))
  }

  test("containmentPairs: snippet-in-article asymmetry, exact dup, cap soundness") {
    import org.apache.spark.sql.functions.col
    // doc 2 = doc 1 verbatim + a long unrelated tail: Jaccard is low but
    // containment(1 ⊂ 2) = 1.0 — the case the symmetric family misses
    val snippet = "alpha beta gamma delta epsilon zeta"
    val tail = (1 to 30).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, snippet),
      (2L, s"$snippet $tail"),
      (3L, snippet),          // exact dup of 1 → containment 1.0 both ways
      (4L, "totally different words here now"),
      (5L, "ab")              // under n tokens → no grams, inert
    ).toDF("doc_id", "text")
    val r = graft.operators.Dedup.containmentPairs(docs, tau = 0.8).collect()
      .map(x => (x.getLong(0), x.getLong(1)) ->
        (x.getAs[Double]("containment_a"), x.getAs[Double]("containment_b"))).toMap
    assert(r.keySet == Set((1L, 2L), (1L, 3L), (2L, 3L)))
    assert(r((1L, 2L))._1 == 1.0 && r((1L, 2L))._2 < 0.2) // asymmetric
    assert(r((1L, 3L)) == ((1.0, 1.0)))                   // exact dup
    // jaccard of (1,2) is small: 4 shared grams / 34 union — the pair the
    // containment measure exists for
    val shared = graft.operators.Dedup.containmentPairs(docs, tau = 0.8)
      .where(col("doc_a") === 1L && col("doc_b") === 2L)
      .select("shared", "size_b").as[(Long, Long)].head()
    assert(shared._1.toDouble / (shared._2 + 4 - shared._1) < 0.15)
    // dfCap drops the shared grams (snippet grams have df 3 here) →
    // containment under-estimates → pairs vanish, never appear falsely
    assert(graft.operators.Dedup.containmentPairs(docs, tau = 0.8, dfCap = 2)
      .count() == 0)
    // repartition invariance; empty totality
    val rep = graft.operators.Dedup.containmentPairs(docs.repartition(7), tau = 0.8)
      .collect().map(_.getLong(0)).toSeq
    assert(rep.length == 3)
    assert(graft.operators.Dedup.containmentPairs(docs.limit(0)).count() == 0)
  }

  test("canonicalDocs: longest member wins, doc_id tie-break, singletons self-canonical") {
    val docs = Seq(
      (1L, "a", 10L), (2L, "b", 30L), (3L, "c", 30L), // cluster A: 2 wins (tie 30, min id)
      (4L, "d", 99L),                                 // cluster B alone in clusters frame
      (5L, "e", 7L))                                  // not clustered → self
      .toDF("doc_id", "text", "n_chars")
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L))
      .toDF("doc_id", "cluster_id")
    val r = graft.operators.Dedup.canonicalDocs(docs, clusters)
      .as[(Long, Long, Long, Boolean)].collect().toSeq
    assert(r == Seq(
      (1L, 1L, 2L, false),
      (2L, 1L, 2L, true),
      (3L, 1L, 2L, false),
      (4L, 4L, 4L, true),
      (5L, 5L, 5L, true)))
    // exactly one canonical per cluster; every doc covered
    assert(r.filter(_._4).map(_._2).distinct.size == r.map(_._2).distinct.size)
    assert(graft.operators.Dedup.canonicalDocs(docs.limit(0),
      clusters.limit(0)).count() == 0)
  }

  test("pairSetMetrics: hand-computed agreement; duplicate pairs collapse; empty edges") {
    import graft.operators.Dedup
    def r12(x: Double) = BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
    // A = {(1,2),(1,3),(2,3)}, B = {(1,2),(4,5)} → common {(1,2)}
    val a = Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 2L)) // dup row collapses
      .toDF("doc_a", "doc_b")
    val b = Seq((1L, 2L), (4L, 5L)).toDF("doc_a", "doc_b")
    val m = Dedup.pairSetMetrics(a, b).collect().head
    assert(m.getAs[Long]("n_a") == 3L && m.getAs[Long]("n_b") == 2L)
    assert(m.getAs[Long]("n_common") == 1L)
    assert(m.getAs[Double]("jaccard") == r12(1.0 / 4.0))
    assert(m.getAs[Double]("share_a_in_b") == r12(1.0 / 3.0))
    assert(m.getAs[Double]("share_b_in_a") == r12(0.5))
    // one empty side: directional share NULL over the empty denominator
    val e = Dedup.pairSetMetrics(a, b.limit(0)).collect().head
    assert(e.getAs[Long]("n_b") == 0L && e.getAs[Long]("n_common") == 0L)
    assert(e.getAs[Double]("jaccard") == 0.0)
    assert(e.isNullAt(e.fieldIndex("share_b_in_a")))
    // both empty: the 1-row zero report with all-null ratios
    val z = Dedup.pairSetMetrics(a.limit(0), b.limit(0)).collect().head
    assert(z.getAs[Long]("n_a") == 0L && z.isNullAt(z.fieldIndex("jaccard")))
  }
}
