package graft

import graft.operators.Ann
import org.apache.spark.sql.functions._

class AnnSpec extends SparkSpec {
  import spark.implicits._

  // 4-dim unit-ish vectors: ids 0-1 are queries (numQueries=2), 2+ base.
  private def vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
    (1L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
    (2L, Array(1.0f, 0.1f, 0.0f, 0.0f)), // closest to q0
    (3L, Array(0.9f, 0.5f, 0.0f, 0.0f)),
    (4L, Array(0.0f, 1.0f, 0.1f, 0.0f)), // closest to q1
    (5L, Array(-1.0f, 0.0f, 0.0f, 0.0f)) // anti-parallel to q0
  ).toDF("vec_id", "embedding")

  test("brute-force top-k ranks by exact cosine") {
    val r = Ann.bruteForceTopK(vecs, numQueries = 2, k = 2)
      .select("qid", "rk", "nid").as[(Long, Long, Long)].collect()
      .map { case (q, rk, n) => (q, rk.toInt) -> n }.toMap
    assert(r((0L, 1)) == 2L) // cos ≈ 0.995
    assert(r((0L, 2)) == 3L) // cos ≈ 0.874
    assert(r((1L, 1)) == 4L)
  }

  test("cosine values are exact for hand-checkable cases") {
    val r = Ann.bruteForceTopK(vecs, numQueries = 2, k = 4)
      .where($"qid" === 0L && $"nid" === 5L).select("cosine").as[Double].collect()
    assert(r.length == 1 && math.abs(r(0) - (-1.0)) < 1e-9)
  }

  test("lsh top-k returns only same-bucket candidates, ranked identically") {
    // bucket key of q0 and its near-identical copy must collide
    val near = Seq((6L, Array(1.0f, 0.001f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val all = vecs.unionAll(near)
    val lsh = Ann.lshTopK(all, dim = 4, bits = 4, numQueries = 2, k = 3)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    assert(lsh.contains((0L, 6L))) // near-identical vector lands in q0's bucket
    // every LSH result must appear in the brute-force full ranking
    val brute = Ann.bruteForceTopK(all, numQueries = 2, k = 100)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(brute))
  }

  test("ivf probes the right lists: clustered queries recover brute-force top-1") {
    // three tight clusters on orthogonal axes; queries 0-1 sit in clusters
    def v(x: Float, y: Float, z: Float, w: Float) = Array(x, y, z, w)
    val all = Seq(
      (0L, v(1.0f, 0.02f, 0f, 0f)), // query in cluster X
      (1L, v(0f, 0.02f, 1.0f, 0f)), // query in cluster Z
      (2L, v(1.0f, 0f, 0f, 0f)), (3L, v(0.99f, 0.05f, 0f, 0f)), (4L, v(0.98f, -0.03f, 0f, 0f)),
      (5L, v(0f, 1.0f, 0f, 0f)), (6L, v(0.03f, 0.99f, 0f, 0f)),
      (7L, v(0f, 0f, 1.0f, 0f)), (8L, v(0f, 0.04f, 0.99f, 0f)), (9L, v(0.01f, 0f, 0.97f, 0f))
    ).toDF("vec_id", "embedding")
    val ivf = Ann.ivfTopK(all, numCentroids = 6, nprobe = 2, numQueries = 2, k = 2)
      .select("qid", "rk", "nid").as[(Long, Long, Long)].collect()
      .map { case (q, rk, n) => (q, rk.toInt) -> n }.toMap
    val brute = Ann.bruteForceTopK(all, numQueries = 2, k = 2)
      .select("qid", "rk", "nid").as[(Long, Long, Long)].collect()
      .map { case (q, rk, n) => (q, rk.toInt) -> n }.toMap
    assert(ivf((0L, 1)) == brute((0L, 1))) // nearest neighbor recovered
    assert(ivf((1L, 1)) == brute((1L, 1)))
  }

  test("embedding near-dup finds the duplicated vector pair, not unrelated ones") {
    val withDup = vecs.unionAll(Seq((10L, Array(1.0f, 0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding"))
    val pairs = Ann.embeddingNearDupPairs(withDup, dim = 4, bits = 4, threshold = 0.99)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 10L))) // identical direction → cosine 1.0
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L)) // anti-parallel never pairs
  }

  test("embedding near-dup hot-bucket cap drops degenerate buckets, keeps the rest") {
    // 40 identical vectors land every one of their keys in the same
    // bucket per table — the degenerate mass-duplicate shape that would
    // quadratically explode one reducer at scale. With the cap below
    // their count, their pairs are dropped ENTIRELY (every table's bucket
    // is equally degenerate — there is no alternate route), while an
    // unrelated pair in healthy buckets must still be found.
    val mass = (0L until 40L).map(i => (i, Array(1.0f, 0.0f, 0.0f, 0.0f)))
    val pairA = Seq((100L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (101L, Array(0.0f, 1.0f, 0.0f, 0.0f)))
    val df = (mass ++ pairA).toDF("vec_id", "embedding")
    val capped = Ann.embeddingNearDupPairs(df, dim = 4, bits = 4, threshold = 0.99,
        bucketCap = 10)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(capped.contains((100L, 101L)), "healthy buckets must survive the cap")
    assert(!capped.exists(p => p._1 < 40L && p._2 < 40L),
      "degenerate-bucket pairs must be dropped by the cap")
    // with the cap above the bucket size, the same mass pairs ARE emitted
    val uncapped = Ann.embeddingNearDupPairs(df, dim = 4, bits = 4, threshold = 0.99,
        bucketCap = 10000)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(uncapped.contains((0L, 1L)))
  }

  test("embedding near-dup emits real pairs on testdata with default params") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val pairs = Ann.embeddingNearDupPairs(emb)
      .select("vec_a", "vec_b", "cosine").as[(Long, Long, Double)].collect()
    // the recorded query must prove something: non-trivial output...
    assert(pairs.nonEmpty, "default params must emit pairs on driver testdata")
    // ...with perfect precision (candidates are scored exactly, so every
    // emitted pair genuinely clears the threshold)
    assert(pairs.forall(_._3 >= 0.4))
    // and each emitted pair matches the brute-force cosine for those ids
    val ids = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    val vecsById = emb.where($"vec_id".isInCollection(ids))
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect().toMap
    pairs.foreach { case (a, b, cos) =>
      val (va, vb) = (vecsById(a).map(_.toDouble), vecsById(b).map(_.toDouble))
      val brute = va.zip(vb).map { case (x, y) => x * y }.sum /
        (math.sqrt(va.map(x => x * x).sum) * math.sqrt(vb.map(x => x * x).sum))
      assert(math.abs(brute - cos) < 1e-9, s"pair ($a,$b) cosine mismatch")
    }
  }

  test("k-means refinement improves IVF recall over first-N seeds at equal nprobe") {
    // 6 TIGHT clusters on orthogonal axes (dim 8), 8 vectors each, ids
    // ordered so the first-N seed centroids ALL land in cluster 0 — the
    // worst case: a foreign cluster's members pick among near-identical
    // cluster-0 seeds by jitter noise, scattering each cluster across many
    // inverted lists, so nprobe=1 sees only a fraction of it
    val rng = new scala.util.Random(7)
    def axis(a: Int): Array[Float] = Array.tabulate(8)(d => if (d == a) 1f else 0f)
    def jitter(v: Array[Float]): Array[Float] =
      v.map(x => x + (rng.nextFloat() - 0.5f) * 0.02f)
    // queries 0-5: one per cluster; base 6..53: cluster = (id-6)/8 so the
    // first 6 base vectors (the seeds at numCentroids=6) are all cluster 0
    val rows = (0 until 6).map(q => (q.toLong, jitter(axis(q)))) ++
      (0 until 48).map(i => (6L + i, jitter(axis(i / 8))))
    val emb = rows.toDF("vec_id", "embedding")

    def recall(kmeansIters: Int): Double = {
      val brute = Ann.bruteForceTopK(emb, numQueries = 6, k = 5)
        .select("qid", "nid").as[(Long, Long)].collect().groupBy(_._1)
        .view.mapValues(_.map(_._2).toSet).toMap
      val ivf = Ann.ivfTopK(emb, numCentroids = 6, nprobe = 1, numQueries = 6,
        k = 5, kmeansIters = kmeansIters)
        .select("qid", "nid").as[(Long, Long)].collect().groupBy(_._1)
        .view.mapValues(_.map(_._2).toSet).toMap
      brute.map { case (q, b) =>
        ivf.getOrElse(q, Set.empty).intersect(b).size.toDouble / b.size
      }.sum / brute.size
    }
    val seedRecall = recall(0)
    val kmeansRecall = recall(5)
    info(f"recall@5 nprobe=1: seed=$seedRecall%.2f kmeans=$kmeansRecall%.2f")
    assert(kmeansRecall > seedRecall, "refined centroids must beat first-N seeds")
    assert(kmeansRecall >= 0.9, f"clustered data should be near-fully recovered, got $kmeansRecall%.2f")
  }

  test("trained centroids are deterministic across runs") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val base = emb.select($"vec_id".as("nid"), $"embedding".as("ne"),
      Ann.norm($"embedding").as("nn")).where($"nn" > 0)
    def train() = Ann.kmeansCentroids(base, 8, 3)
      .select("cid", "ce").as[(Long, Array[Float])].collect()
      .map { case (c, v) => c -> v.toSeq }.toMap
    assert(train() == train())
  }

  test("near-dup candidate generation shuffles ids only, never embeddings") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val plan = Ann.embeddingNearDupPairs(vecs, dim = 4, bits = 4).queryExecution.optimizedPlan
    val bucketJoins = plan.collect {
      case j: Join if j.condition.exists(_.references.exists(_.name == "bucket")) => j
    }
    assert(bucketJoins.nonEmpty, "expected a bucket-keyed candidate join")
    bucketJoins.foreach { j =>
      val carried = (j.left.output ++ j.right.output).map(_.name).toSet
      assert(!carried.contains("embedding") && !carried.contains("nrm"),
        s"bucket join must carry (vec_id, bucket) only, got $carried")
    }
  }

  /** AQE wraps executedPlan in AdaptiveSparkPlanExec — a LEAF node, so
    * collect() over it silently matches nothing and a plan assert passes
    * vacuously. Physical-plan asserts run with AQE off.
    */
  private def withoutAqe[A](body: => A): A = {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try body finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("ivf assignment is map-side: zero exchanges, argmax matches driver math")(withoutAqe {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val base = emb.select($"vec_id".as("nid"), $"embedding".as("ne"),
      Ann.norm($"embedding").as("nn")).where($"nn" > 0)
    val cents = Ann.collectCentroids(base.orderBy("nid").limit(8)
      .select($"nid".as("cid"), $"ne".as("ce"), $"nn".as("cn")))
    val assigned = Ann.assignToCentroids(base, cents)
    val exchanges = assigned.queryExecution.executedPlan.collect {
      case e: ShuffleExchangeExec => e
    }
    assert(assigned.queryExecution.executedPlan.collectLeaves().nonEmpty)
    assert(exchanges.isEmpty, "assignment must not shuffle the corpus")
    // cross-check every assignment against driver-side argmax (same
    // left-to-right double accumulation, same round-then-tie-break)
    val centsD = cents.map { case (cid, ce, cn) => (cid, ce.map(_.toDouble), cn) }
    val got = assigned.select("nid", "cid").as[(Long, Long)].collect().toMap
    val rows = base.select("nid", "ne", "nn").as[(Long, Array[Float], Double)].collect()
    rows.foreach { case (nid, ne, nn) =>
      val best = centsD.map { case (cid, ce, cn) =>
        val dot = ne.map(_.toDouble).zip(ce).map { case (x, y) => x * y }.sum
        (BigDecimal(dot / (nn * cn)).setScale(12, BigDecimal.RoundingMode.HALF_UP), -cid)
      }.max
      assert(got(nid) == -best._2, s"nid $nid assigned ${got(nid)}, expected ${-best._2}")
    }
  })

  test("ivf index: materialized store reproduces the inline path, scan prunes to probed cids")(withoutAqe {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dir = tempDir("graft-ivf-index")
    Ann.buildIvfIndex(emb, dir, numCentroids = 8, numQueries = 5)
    // queries as a local relation: every FILE scan in the plan must then
    // belong to the index store — the base table is never touched
    val queries = emb.where($"vec_id" < 5)
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect().toSeq
      .toDF("vec_id", "embedding")
    val fromIndex = Ann.ivfTopKFromIndex(queries, dir, nprobe = 4, k = 5)
    val inline = Ann.ivfTopK(emb, numCentroids = 8, nprobe = 4, numQueries = 5, k = 5)
    assert(fromIndex.as[(Long, Long, Double, Long)].collect().toSeq ==
      inline.as[(Long, Long, Double, Long)].collect().toSeq)
    val scans = fromIndex.queryExecution.executedPlan.collect { case s: FileSourceScanExec => s }
    assert(scans.forall(_.relation.location.rootPaths.forall(_.toString.contains(dir))),
      "index query must read only the index store")
    val listScans = scans.filter(_.relation.location.rootPaths.exists(_.toString.contains("lists")))
    assert(listScans.nonEmpty)
    assert(listScans.forall(_.partitionFilters.nonEmpty),
      "probed-cid partition pruning must reach the list scan")
  })

  test("multiprobe lsh: margin-guided flips recover boundary neighbors") {
    // jittered clusters wide enough that true neighbors often flip ONE
    // sign bit: single-probe misses them, probing the lowest-|margin|
    // flipped buckets recovers them (measured on this seed:
    // single 0.33 → multiprobe(+4) 1.00; +4 ≈ +8, i.e. the LOW-margin
    // flips carry the recall — the multiprobe thesis)
    val rng = new scala.util.Random(3)
    val dim = 16
    def vec() = Array.fill(dim)(rng.nextFloat() - 0.5f)
    def jit(v: Array[Float]) = v.map(x => x + (rng.nextFloat() - 0.5f) * 0.5f)
    val qs = (0 until 3).map(_ => vec())
    val emb = (qs.zipWithIndex.map { case (v, i) => (i.toLong, v) } ++
      (0 until 60).map(i => (3L + i, jit(qs(i % 3))))).toDF("vec_id", "embedding")
    val brute = Ann.bruteForceTopK(emb, numQueries = 3, k = 5)
      .select("qid", "nid").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def recallOf(df: org.apache.spark.sql.DataFrame): Double =
      brute.map { case (q, b) =>
        df.select("qid", "nid").as[(Long, Long)].collect()
          .filter(_._1 == q).map(_._2).toSet.intersect(b).size.toDouble / b.size
      }.sum / brute.size
    val single = recallOf(Ann.lshTopK(emb, dim = dim, bits = 8, numQueries = 3, k = 5))
    val multi = recallOf(Ann.lshTopKMultiprobe(emb, dim = dim, bits = 8, numQueries = 3, k = 5))
    info(f"recall@5: single-probe=$single%.2f multiprobe(+4)=$multi%.2f")
    assert(multi > single, "boundary neighbors must be recovered by the flips")
    assert(multi >= 0.9, f"low-margin probes should recover nearly all, got $multi%.2f")
    // and single-probe candidates are always a subset (own bucket probed)
    val multiAll = Ann.lshTopKMultiprobe(emb, dim = dim, bits = 8, numQueries = 3, k = 1000)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val singleAll = Ann.lshTopK(emb, dim = dim, bits = 8, numQueries = 3, k = 1000)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    assert(singleAll.subsetOf(multiAll), "own bucket is always probed")
  }

  test("zero-norm vectors are excluded before scoring (no NaN in rankings)") {
    val withZero = vecs.unionAll(Seq((7L, Array(0.0f, 0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding"))
    val r = Ann.bruteForceTopK(withZero, numQueries = 2, k = 10)
      .select("nid", "cosine").as[(Long, Double)].collect()
    assert(!r.map(_._1).contains(7L), "zero-norm base vector must not rank")
    assert(r.forall(!_._2.isNaN))
    val lsh = Ann.lshTopK(withZero, dim = 4, bits = 4, numQueries = 2, k = 10)
      .select("cosine").as[Double].collect()
    assert(lsh.forall(!_.isNaN))
  }

  test("lsh bucket key is deterministic across evaluations") {
    val k1 = vecs.select(Ann.lshKey($"embedding", 4, 8).as("b")).as[String].collect()
    val k2 = vecs.select(Ann.lshKey($"embedding", 4, 8).as("b")).as[String].collect()
    assert(k1.toSeq == k2.toSeq)
  }

  test("ivf incremental append == one-shot build over the union (frozen seeds)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.where($"vec_id" < 5)
    val dirA = tempDir("ivf-oneshot")
    val dirB = tempDir("ivf-incr")
    // one-shot over everything; seed centroids = first 16 base vectors
    Ann.buildIvfIndex(emb, dirA, numCentroids = 16, numQueries = 5)
    // incremental: build on an id prefix (contains the same 16 seeds),
    // then append the rest in two batches encoded with the FROZEN centroids
    Ann.buildIvfIndex(emb.where($"vec_id" < 200), dirB, numCentroids = 16, numQueries = 5)
    Ann.appendIvfBatch(emb.where($"vec_id" >= 200 && $"vec_id" < 350), dirB, batchId = 1L)
    Ann.appendIvfBatch(emb.where($"vec_id" >= 350), dirB, batchId = 2L)
    val a = Ann.ivfTopKFromIndex(queries, dirA).collect().map(_.toSeq).toSeq
    val b = Ann.ivfTopKFromIndex(queries, dirB).collect().map(_.toSeq).toSeq
    assert(a == b, "incrementally-maintained index must answer like the one-shot build")
    // replayed batch overwrites itself: content unchanged
    Ann.appendIvfBatch(emb.where($"vec_id" >= 350), dirB, batchId = 2L)
    val c = Ann.ivfTopKFromIndex(queries, dirB).collect().map(_.toSeq).toSeq
    assert(c == b, "at-least-once delivery must stay exactly-once content")
    val n = spark.read.parquet(s"$dirB/lists").count()
    assert(n == spark.read.parquet(s"$dirA/lists").count(), "no duplicate rows after replay")
    // compaction folds the closed b= generations; queries flip to the new
    // generation and answer identically
    val gen = Ann.compactIvfIndex(spark, dirB, beforeBatch = 3L)
    assert(Ann.ivfTopKFromIndex(queries, dirB).collect().map(_.toSeq).toSeq == b)
    assert(spark.read.parquet(gen).select("b").distinct().as[Long].collect().toSeq == Seq(0L))
    // a replay of a FOLDED batch no-ops (its rows are already in b=0)
    Ann.appendIvfBatch(emb.where($"vec_id" >= 350), dirB, batchId = 2L)
    assert(Ann.ivfTopKFromIndex(queries, dirB).collect().map(_.toSeq).toSeq == b)
    assert(graft.sources.ParquetCompactor.read(spark, s"$dirB/lists").count() ==
      spark.read.parquet(s"$dirA/lists").count(),
      "replayed folded batch must not duplicate list rows")
  }

  test("drift-gated maintenance: undrifted appends keep frozen centroids, drift rebuilds atomically") {
    import graft.sources.ParquetCompactor
    val dir = tempDir("ivf-drift") + "/idx"
    def mk(ids: Range, shift: Float) = ids.map { i =>
      // jitter keyed on i % 20 so every batch draws the SAME distribution
      // (an id-proportional term would smuggle drift into the id range);
      // the tiny dim-7 term makes every id's vector UNIQUE (self-hit
      // assertions) while moving the mean far less than tau
      (i.toLong, Array.tabulate(8)(d =>
        shift + (if (d == i % 8) 1.0f else 0.0f) + 0.01f * (i % 20) +
          (if (d == 7) 0.001f * i else 0.0f)))
    }.toDF("vec_id", "embedding")
    Ann.buildIvfIndex(mk(0 until 40, 0f), dir, numCentroids = 4, numQueries = 0)
    val cents0 = spark.read.parquet(s"$dir/centroids")
      .collect().map(_.toSeq).toSet
    // UNDRIFTED batch (same distribution, new ids): append path, centroids
    // frozen, the new vectors become queryable
    val a1 = Ann.maintainIvfIndexWithDrift(mk(100 until 120, 0f), dir,
      batchId = 1L, tau = 1.0)
    assert(a1 == "appended")
    assert(ParquetCompactor.currentDir(spark, dir) == dir, "no root flip on append")
    assert(spark.read.parquet(s"$dir/centroids").collect().map(_.toSeq).toSet
      == cents0, "append must keep the frozen centroids")
    val q = mk(100 until 101, 0f).select("vec_id", "embedding")
    val hit1 = Ann.ivfTopKFromIndex(q, dir, nprobe = 4, k = 1)
      .select("nid").as[Long].head()
    assert(hit1 == 100L, "appended vector must be its own nearest neighbor")
    // DRIFTED batch (+5 on every component, shift_l2 ≈ 14 >> tau):
    // retrain + rebuild into a fresh root, pointer flip — readers resolve
    // the new (centroids, lists) pair together
    val a2 = Ann.maintainIvfIndexWithDrift(mk(200 until 240, 5f), dir,
      batchId = 2L, tau = 1.0)
    assert(a2 == "rebuilt")
    val root2 = ParquetCompactor.currentDir(spark, dir)
    assert(root2 != dir, "rebuild must flip the index-root pointer")
    assert(spark.read.parquet(s"$root2/centroids").collect().map(_.toSeq).toSet
      != cents0, "rebuild must retrain centroids")
    // the rebuilt index holds the FULL corpus: old + appended + drifted
    val n = ParquetCompactor.read(spark, s"$root2/lists").count()
    assert(n == 40L + 20L + 40L, s"rebuilt corpus rows: $n")
    // queries keep working through the SAME dir handle, old and new alike
    assert(Ann.ivfTopKFromIndex(q, dir, nprobe = 4, k = 1)
      .select("nid").as[Long].head() == 100L)
    val qNew = mk(200 until 201, 5f).select("vec_id", "embedding")
    assert(Ann.ivfTopKFromIndex(qNew, dir, nprobe = 4, k = 1)
      .select("nid").as[Long].head() == 200L)
    // at-least-once REPLAY of the rebuilt batch: the new root's fold
    // watermark detects it up front (re-measuring drift against the
    // post-rebuild BLEND could verdict differently than the original
    // run) — a no-op, never a duplicate or a second rebuild
    val a3 = Ann.maintainIvfIndexWithDrift(mk(200 until 240, 5f), dir,
      batchId = 2L, tau = 1.0)
    assert(a3 == "replay")
    assert(ParquetCompactor.currentDir(spark, dir) == root2,
      "replay must not flip the root again")
    assert(ParquetCompactor.read(spark, s"$root2/lists").count() == n,
      "replayed rebuilt batch must not duplicate list rows")
    // empty batches never touch the store
    assert(Ann.maintainIvfIndexWithDrift(mk(0 until 0, 0f), dir,
      batchId = 3L, tau = 1.0) == "empty")
    // DEFERRED GC: a second rebuild retains the JUST-superseded root (an
    // in-flight reader that resolved it before the flip must finish its
    // scan); the generation BEFORE it is the one GC'd — verified across a
    // third rebuild
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val a4 = Ann.maintainIvfIndexWithDrift(mk(300 until 340, 10f), dir,
      batchId = 4L, tau = 1.0)
    assert(a4 == "rebuilt")
    val root3 = ParquetCompactor.currentDir(spark, dir)
    assert(root3 != root2)
    assert(fs.exists(new org.apache.hadoop.fs.Path(root2)),
      "just-superseded root must survive one generation for in-flight readers")
    val a5 = Ann.maintainIvfIndexWithDrift(mk(400 until 440, 20f), dir,
      batchId = 5L, tau = 1.0)
    assert(a5 == "rebuilt")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root2)),
      "generation N-2 is GC'd on the following rebuild")
    assert(fs.exists(new org.apache.hadoop.fs.Path(root3)),
      "generation N-1 is retained")
  }

  test("ivfTopKFromIndex excludeSelf: self filtered BEFORE ranking under cosine ties") {
    val dir = tempDir("ivf-self") + "/idx"
    // 8 identical vectors: every pair ties at cosine 1.0, ties break on
    // smaller nid — so query id 7's self-hit ranks LAST and a post-rank
    // filter over k results would never drop it (the q_graph_ann defect:
    // k+1-then-filter overshoots to k+1 neighbors when the self falls
    // outside the top k)
    val vecs = (0L until 8L).map(i => (i, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    Ann.buildIvfIndex(vecs, dir, numCentroids = 1, numQueries = 0)
    val q = vecs.where($"vec_id" === 7L)
    val got = Ann.ivfTopKFromIndex(q, dir, nprobe = 1, k = 5, excludeSelf = true)
      .select("nid", "rk").as[(Long, Long)].collect().sortBy(_._2)
    assert(got.map(_._1).toSeq == Seq(0L, 1L, 2L, 3L, 4L),
      s"expected the 5 smallest non-self ids, got ${got.mkString(",")}")
    assert(got.map(_._2).toSeq == Seq(1L, 2L, 3L, 4L, 5L),
      "ranks re-number after the exclusion (1..k, not 2..k+1)")
    // default keeps the legacy contract: self ranks among its ties
    val raw = Ann.ivfTopKFromIndex(q, dir, nprobe = 1, k = 8)
      .select("nid").as[Long].collect()
    assert(raw.contains(7L))
  }

  private def semDocs = Seq(
    (0L, Array(1.0f, 0.01f, 0.0f, 0.0f)),  // } planted group: pairwise cos > 0.99
    (1L, Array(0.99f, 0.02f, 0.0f, 0.0f)), // }
    (2L, Array(1.0f, -0.01f, 0.0f, 0.0f)), // }
    (3L, Array(0.0f, 1.0f, 0.02f, 0.0f)),  // } second group
    (4L, Array(0.01f, 0.99f, 0.0f, 0.0f)), // }
    (5L, Array(0.0f, 0.0f, 1.0f, 0.0f)),   // singleton
    (6L, Array(0.7f, 0.7f, 0.0f, 0.0f)),   // between groups, under tau with both
    (7L, Array(0.0f, 0.0f, 0.0f, 0.0f))    // zero-norm: scores with nobody
  ).toDF("vec_id", "embedding")

  test("semantic dedup: planted groups keep exactly their min-id representative") {
    val r = Ann.semanticDedup(semDocs, numCentroids = 3, tau = 0.9, kmeansIters = 3)
      .as[(Long, Long, Boolean)].collect().toSeq
    assert(r == Seq(
      (0L, 0L, true), (1L, 0L, false), (2L, 0L, false),
      (3L, 3L, true), (4L, 3L, false),
      (5L, 5L, true), (6L, 6L, true), (7L, 7L, true)))
  }

  test("semantic dedup: invariant under repartitioning") {
    val a = Ann.semanticDedup(semDocs, numCentroids = 3, tau = 0.9, kmeansIters = 3)
      .collect().map(_.toSeq).toSeq
    val b = Ann.semanticDedup(semDocs.repartition(5), numCentroids = 3, tau = 0.9, kmeansIters = 3)
      .collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("semantic dedup: hot-cluster cap drops degenerate clusters, not the verdict frame") {
    // 30 identical vectors: one cluster of 30 → 435 pairs; cap 5 drops the
    // cluster from pairing, but every vector still gets a keep verdict.
    val mass = (0L until 30L).map(i => (i, Array(1.0f, 0.0f, 0.0f, 0.0f)))
    val df = mass.toDF("vec_id", "embedding")
    val r = Ann.semanticDedup(df, numCentroids = 2, tau = 0.9, kmeansIters = 1, clusterCap = 5)
      .as[(Long, Long, Boolean)].collect()
    assert(r.length == 30 && r.forall(_._3), "capped cluster pairs with nobody → all keep")
    val uncapped = Ann.semanticDedup(df, numCentroids = 2, tau = 0.9, kmeansIters = 1)
      .as[(Long, Long, Boolean)].collect()
    assert(uncapped.count(_._3) == 1, "without the cap the mass collapses to one representative")
  }

  test("knnGraph: every node's exact top-k, no self edges, matches per-query brute force") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .where($"vec_id" < 40)
    val g = Ann.knnGraph(emb, k = 3)
      .as[(Long, Long, Double, Long)].collect()
    val nodes = emb.count()
    assert(g.length == nodes * 3)
    assert(g.forall { case (q, n, _, _) => q != n }, "no self edges")
    // per node: rank order is cosine desc, ranks are 1..k
    g.groupBy(_._1).foreach { case (q, rows) =>
      val sorted = rows.sortBy(_._4)
      assert(sorted.map(_._4).toSeq == Seq(1L, 2L, 3L))
      assert(sorted.map(-_._3).toSeq == sorted.map(-_._3).sorted.toSeq, s"rank order broken for $q")
    }
    // spot-check node 7 against an independent driver-side brute force
    val vecs = emb.as[(Long, Array[Float], Int)].collect().map { case (id, e, _) => id -> e }.toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
      dot / (na * nb)
    }
    val expected = vecs.filter(_._1 != 7L)
      .map { case (id, e) => (BigDecimal(cos(vecs(7L), e)).setScale(12, BigDecimal.RoundingMode.HALF_UP), id) }
      .toSeq.sortBy { case (c, id) => (-c, id) }.take(3).map(_._2)
    assert(g.filter(_._1 == 7L).sortBy(_._4).map(_._2).toSeq == expected)
  }

  test("labelPropagation: one seed per planted cluster labels the whole cluster; seeds clamp") {
    // two tight clusters; one seed each — with k smaller than cluster
    // size, every node's neighbors are same-cluster, so the seed's label
    // floods exactly its own cluster
    def v(axis: Int, j: Float): Array[Float] = {
      val a = Array.fill(4)(0.0f); a(axis) = 1.0f; a(3) = j; a
    }
    val emb = (
      (0 until 6).map(i => (i.toLong, v(0, 0.01f * i))) ++
      (6 until 12).map(i => (i.toLong, v(1, 0.01f * i)))
    ).toDF("vec_id", "embedding")
    val seeds = Seq((0L, "en"), (6L, "de")).toDF("vec_id", "label")
    val r = Ann.labelPropagation(emb, seeds, k = 3, iters = 4)
      .as[(Long, String, Boolean)].collect()
    assert(r.length == 12)
    r.foreach { case (id, label, isSeed) =>
      assert(label == (if (id < 6) "en" else "de"), s"vec $id")
      assert(isSeed == (id == 0L || id == 6L))
    }
    // a seed surrounded by the other cluster's flood never flips
    val flipped = Ann.labelPropagation(emb,
      Seq((0L, "en"), (1L, "en"), (2L, "en"), (3L, "en"), (4L, "en"),
        (5L, "de")).toDF("vec_id", "label"), k = 3, iters = 4)
      .as[(Long, String, Boolean)].collect().map(x => x._1 -> x._2).toMap
    assert(flipped(5L) == "de") // clamped despite 5 "en" neighbors
    // deterministic under repartition; knob-independent; empty totality
    val rep = Ann.labelPropagation(emb.repartition(5), seeds, k = 3, iters = 4)
      .as[(Long, String, Boolean)].collect().toSeq
    assert(rep == r.toSeq)
    val ck = tempDir("graft-lp-ck")
    val knob = Ann.labelPropagation(emb, seeds, k = 3, iters = 4,
      checkpointDir = Some(ck), checkpointEvery = 2)
      .as[(Long, String, Boolean)].collect().toSeq
    assert(knob == r.toSeq)
    assert(Ann.labelPropagation(emb.limit(0), seeds).count() == 0)
  }

  test("contrastivePairs: planted clusters split into same-cluster positives and cross-cluster hard negatives") {
    // two tight clusters on orthogonal axes with a small jitter dim: same-
    // cluster cosine ≈ 1 (positives), cross-cluster ≈ 0+ε (the negatives —
    // and top-k picks the LEAST orthogonal ones, i.e. the hard ones)
    def v(axis: Int, j: Float): Array[Float] = {
      val a = Array.fill(4)(0.0f); a(axis) = 1.0f; a(3) = j; a
    }
    val emb = (
      (0 until 4).map(i => (i.toLong, v(0, 0.01f * i))) ++
      (4 until 8).map(i => (i.toLong, v(1, 0.01f * i)))
    ).toDF("vec_id", "embedding")
    val r = Ann.contrastivePairs(emb, k = 3, tau = 0.9)
      .as[(Long, Long, Double, Long, String)].collect()
    val byRole = r.groupBy(_._5)
    // every anchor's positives are exactly its 3 same-cluster peers
    byRole("pos").groupBy(_._1).foreach { case (q, rows) =>
      val cluster = if (q < 4) (0L until 4L) else (4L until 8L)
      assert(rows.map(_._2).toSet == (cluster.toSet - q), s"pos of $q")
      assert(rows.forall(_._3 >= 0.9))
    }
    // negatives are cross-cluster only, below the band, k-capped
    byRole("neg").groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.length == 3)
      assert(rows.forall(x => (x._2 < 4) != (q < 4)), s"neg of $q crosses clusters")
      assert(rows.forall(_._3 < 0.9))
    }
    // roles never overlap; deterministic under repartition; empty total
    val keys = r.map(x => (x._1, x._2, x._5))
    assert(keys.distinct.length == keys.length)
    val rep = Ann.contrastivePairs(emb.repartition(5), k = 3, tau = 0.9)
      .as[(Long, Long, Double, Long, String)].collect()
    assert(rep.toSeq == r.toSeq)
    assert(Ann.contrastivePairs(emb.limit(0)).count() == 0)
  }

  test("knnGraph maxId caps the node set on BOTH sides") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val g = Ann.knnGraph(emb, k = 2, maxId = 20L)
      .select("qid", "nid").as[(Long, Long)].collect()
    assert(g.forall { case (q, n) => q < 20L && n < 20L })
  }

  test("knnGraphLsh: high recall on clustered data, exact output invariants") {
    // 6 tight clusters — true neighbors share sign buckets with high
    // probability across 8 tables, so the approximate graph should
    // recover nearly all exact edges
    val rng = new scala.util.Random(11)
    val dim = 16
    def axis(a: Int) = Array.tabulate(dim)(d => if (d == a % dim) 1f else 0f)
    def jit(v: Array[Float]) = v.map(x => x + (rng.nextFloat() - 0.5f) * 0.05f)
    val emb = (0 until 60).map(i => (i.toLong, jit(axis(i % 6)))).toDF("vec_id", "embedding")
    val exact = Ann.knnGraph(emb, k = 3)
      .select("qid", "nid").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val approx = Ann.knnGraphLsh(emb, dim = dim, bits = 6, numTables = 8, k = 3)
      .select("qid", "nid").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recall = exact.map { case (q, t) =>
      approx.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size }.sum / exact.size
    info(f"kNN-graph recall@3 on planted clusters: $recall%.2f")
    assert(recall >= 0.9, f"clustered neighbors should be recovered, got $recall%.2f")
    // invariants are exact regardless of recall
    val rows = Ann.knnGraphLsh(emb, dim = dim, bits = 6, numTables = 8, k = 3)
      .as[(Long, Long, Double, Long)].collect()
    assert(rows.forall { case (q, n, _, _) => q != n })
    rows.groupBy(_._1).foreach { case (_, g) =>
      assert(g.length <= 3)
      assert(g.sortBy(_._4).map(_._4).toSeq == (1L to g.length).toSeq)
    }
    // every scored pair feeds BOTH endpoints' candidate lists (symmetry of
    // candidate generation, not of the final top-k)
    val pairs = rows.map { case (q, n, _, _) => (q, n) }.toSet
    assert(pairs.nonEmpty)
  }

  test("knnGraphLsh is deterministic under repartitioning") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def run(df: org.apache.spark.sql.DataFrame) =
      Ann.knnGraphLsh(df, dim = 64, bits = 8, numTables = 4, k = 3)
        .collect().map(_.toSeq).toSeq
    assert(run(emb) == run(emb.repartition(7)))
  }

  test("randomProject: deterministic, map-only, JL distortion within tolerance") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .where($"vec_id" < 200)
    def run() = Ann.randomProject(emb, dim = 64, outDim = 32, seed = 7L)
      .select($"vec_id", $"rp").as[(Long, Array[Float])].collect().sortBy(_._1)
    val a = run(); val b = run()
    assert(a.map(_._2.toSeq).toSeq == b.map(_._2.toSeq).toSeq) // same seed, same matrix
    val c = Ann.randomProject(emb, dim = 64, outDim = 32, seed = 8L)
      .select($"vec_id", $"rp").as[(Long, Array[Float])].collect().sortBy(_._1)
    assert(a.map(_._2.toSeq).toSeq != c.map(_._2.toSeq).toSeq) // different seed differs
    // map-only: no exchange in the plan
    val plan = Ann.randomProject(emb, dim = 64, outDim = 32)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"projection must not shuffle:\n$plan")
    // JL distortion: squared distances preserved within a loose factor on
    // average (m=32 is small; the spec checks the estimator is unbiased-ish,
    // not a tight per-pair bound)
    def d2(x: Array[Float], y: Array[Float]) =
      x.zip(y).map { case (u, v) => (u - v).toDouble * (u - v) }.sum
    val orig = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .where($"vec_id" < 200).select($"vec_id", $"embedding")
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    val ratios = (0 until 50).flatMap { i =>
      val (x, px) = (orig(i)._2, a(i)._2)
      val (y, py) = (orig(i + 50)._2, a(i + 50)._2)
      // skip near-identical pairs (planted near-dups): a ~0/~0 ratio is
      // numerically meaningless, not a distortion signal
      if (d2(x, y) < 0.01) None else Some(d2(px, py) / d2(x, y))
    }
    assert(ratios.size >= 20, "too few well-separated probe pairs")
    val mean = ratios.sum / ratios.size
    info(f"JL mean distance ratio at m=32: $mean%.3f")
    assert(mean > 0.7 && mean < 1.3, f"distance estimator biased: $mean%.3f")
    assert(ratios.forall(r => r > 0.2 && r < 3.0), "catastrophic per-pair distortion")
  }

  test("randomProject feeds the ANN stack: projected top-k recalls planted clusters") {
    val rng = new scala.util.Random(3)
    val dim = 64
    def axis(a: Int) = Array.tabulate(dim)(d => if (d == a % 8) 1f else 0f)
    def jit(v: Array[Float]) = v.map(x => x + (rng.nextFloat() - 0.5f) * 0.05f)
    val emb = (0 until 80).map(i => (i.toLong, jit(axis(i % 8)))).toDF("vec_id", "embedding")
    // within a cluster all ~10 mates tie at cos≈1, so EXACT top-3 identity
    // is not preserved by any projection (nor meaningful) — what JL must
    // preserve is cluster MEMBERSHIP of the neighbors
    val proj = Ann.randomProject(emb, dim = dim, outDim = 16)
      .select($"vec_id", $"rp".as("embedding"))
    val got = Ann.bruteForceTopK(proj, numQueries = 8, k = 3)
      .select("qid", "nid").as[(Long, Long)].collect()
    val sameCluster = got.count { case (q, n) => q % 8 == n % 8 }.toDouble / got.length
    info(f"projected same-cluster neighbor share@3: $sameCluster%.2f")
    assert(got.length == 8 * 3)
    assert(sameCluster >= 0.9,
      f"projection should keep neighbors within their cluster: $sameCluster%.2f")
  }

  test("kCenterSample: one pick per planted cluster before any duplication") {
    // 4 tight clusters of 5 vectors each: the first 4 picks must cover all
    // 4 clusters (greedy farthest-point picks the farthest cluster first)
    val rng = new scala.util.Random(5)
    val dim = 16
    def axis(a: Int) = Array.tabulate(dim)(d => if (d == a) 1f else 0f)
    def jit(v: Array[Float]) = v.map(x => x + (rng.nextFloat() - 0.5f) * 0.02f)
    val emb = (0 until 20).map(i => (i.toLong, jit(axis(i % 4)))).toDF("vec_id", "embedding")
    val picks = Ann.kCenterSample(emb, k = 4)
      .select("rank", "vec_id").as[(Long, Long)].collect().sortBy(_._1)
    assert(picks.length == 4)
    assert(picks.map(_._2 % 4).toSet.size == 4, s"picks ${picks.toSeq} miss a cluster")
    // gap sequence is non-decreasing (coverage tightens) once picks start
    val gaps = Ann.kCenterSample(emb, k = 8)
      .select("gap_cosine").as[Option[Double]].collect().flatten
    assert(gaps.toSeq == gaps.sorted.toSeq, s"gap sequence not monotone: ${gaps.toSeq}")
  }

  test("kCenterSample: deterministic, knob-independent, total on edge cases") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .where($"vec_id" < 100)
    def run(df: org.apache.spark.sql.DataFrame) =
      Ann.kCenterSample(df, k = 6).collect().map(_.toSeq).toSeq
    assert(run(emb) == run(emb.repartition(7)))
    val dir = tempDir("graft-kcenter-ck")
    assert(Ann.kCenterSample(emb, k = 6, checkpointDir = Some(dir), checkpointEvery = 2)
      .collect().map(_.toSeq).toSeq == run(emb))
    // k larger than the corpus: returns everything, then stops
    val tiny = Seq((1L, Array(1f, 0f)), (2L, Array(0f, 1f))).toDF("vec_id", "embedding")
    assert(Ann.kCenterSample(tiny, k = 10).count() == 2)
    // empty corpus is total
    assert(Ann.kCenterSample(tiny.where(lit(false)), k = 3).count() == 0)
  }

  // ---- outlierScores ----

  test("outlierScores: a planted anti-cluster vector is flagged; det under repartition; totality") {
    // 40 vectors tightly around +e1 (tiny deterministic jitter), one at -e1:
    // the centroid sits near +e1, so the planted vector's distance ~2 while
    // the cluster sits near 0 -> z far above 3
    val dim = 8
    val rows = (0L until 40L).map { i =>
      val v = Array.fill(dim)(0.0f)
      v(0) = 1.0f
      v(1 + (i % (dim - 1)).toInt) = 0.01f * ((i % 5) + 1)
      (i, v)
    } :+ (99L, { val v = Array.fill(dim)(0.0f); v(0) = -1.0f; v })
    val df = rows.toDF("vec_id", "embedding")
    val r = Ann.outlierScores(df).collect()
      .map(x => x.getLong(0) -> ((x.getDouble(1),
        if (x.isNullAt(2)) None else Some(x.getDouble(2)), x.getBoolean(3)))).toMap
    assert(r.size == 41)
    assert(r(99L)._3, s"planted outlier not flagged: ${r(99L)}")
    assert(r.filter(_._1 != 99L).values.forall(!_._3),
      "cluster members must not be flagged")
    // z-scores are centered: the flagged vector's z dominates
    assert(r(99L)._2.get > 3.0 && r(99L)._1 > 1.5)
    val r2 = Ann.outlierScores(df.repartition(7)).collect()
      .map(x => x.getLong(0) -> ((x.getDouble(1),
        if (x.isNullAt(2)) None else Some(x.getDouble(2)), x.getBoolean(3)))).toMap
    assert(r2 == r)
    // zero-norm vectors are excluded; all-identical corpus -> std 0 -> z
    // null, nothing flagged; empty corpus is total
    val withZero = rows :+ (500L, Array.fill(dim)(0.0f))
    assert(!Ann.outlierScores(withZero.toDF("vec_id", "embedding"))
      .collect().map(_.getLong(0)).contains(500L))
    val same = (0L until 5L).map(i => (i, Array.fill(dim)(0.5f))).toDF("vec_id", "embedding")
    val rs = Ann.outlierScores(same).collect()
    assert(rs.length == 5 && rs.forall(x => x.isNullAt(2) && !x.getBoolean(3)))
    assert(Ann.outlierScores(df.limit(0)).count() == 0)
  }

  test("standardizeEmbeddings: hand z-scores, constant dim NULL, determinism, totality") {
    // dim 0 holds 1,2,3 (exact at the 2^-20 grain): z = ±√(3/2), 0;
    // dim 1 is constant -> σ=0 -> NULL
    val df = Seq(
      (0L, Array(1.0f, 5.0f), 0),
      (1L, Array(2.0f, 5.0f), 0),
      (2L, Array(3.0f, 5.0f), 0)).toDF("vec_id", "embedding", "label")
    val got = Ann.standardizeEmbeddings(df).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    val z = BigDecimal(3.0 / math.sqrt(6.0))
      .setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got == Map(
      (0L, 0L) -> Some(-z), (1L, 0L) -> Some(0.0), (2L, 0L) -> Some(z),
      (0L, 1L) -> None, (1L, 1L) -> None, (2L, 1L) -> None))
    // non-grid floats: still bit-deterministic under repartition (the
    // floor(x·2^20) quantization is exact double arithmetic)
    val rng = new scala.util.Random(3)
    val big = (0L until 50L).map(i =>
      (i, Array.fill(4)(rng.nextFloat() * 2 - 1), 0))
      .toDF("vec_id", "embedding", "label")
    val a = Ann.standardizeEmbeddings(big).collect().toSeq
    val b = Ann.standardizeEmbeddings(big.repartition(7)).collect().toSeq
    assert(a == b)
    assert(Ann.standardizeEmbeddings(df.limit(0)).count() == 0)
  }

  test("embeddingDrift: hand L2 shift, top dim, one-sided NULL, zero drift, determinism, empty") {
    def df(rows: Seq[(String, Array[Double])]) =
      rows.toDF("src", "embedding")
    val old = df(Seq(
      ("a", Array(1.0, 2.0)), ("a", Array(3.0, 4.0)),
      ("b", Array(5.0, 5.0)),            // one-sided: only in old
      ("c", Array(1.5, -2.25))))
    val neu = df(Seq(
      ("a", Array(2.0, 2.0)), ("a", Array(4.0, 6.0)),
      ("c", Array(1.5, -2.25))))         // identical -> zero drift
    val got = Ann.embeddingDrift(old, neu, "src")
      .as[(String, Option[Long], Option[Long], Option[Double], Option[Long])]
      .collect().map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // group a: mean moves (2,3) -> (3,4): shift = sqrt(1+1) = sqrt(2)
    val sqrt2 = BigDecimal(math.sqrt(2.0))
      .setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got("a") == ((Some(2L), Some(2L), Some(sqrt2), Some(0L))),
      s"got ${got("a")}")
    // one-sided group: NULL shift (the ksDrift rule), never a fake 0/inf
    assert(got("b") == ((Some(1L), None, None, None)))
    // identical snapshots: exactly 0 shift, top dim = smallest (tie rule)
    assert(got("c") == ((Some(1L), Some(1L), Some(0.0), Some(0L))))
    // partitioning must not change the exact sums
    val rep = Ann.embeddingDrift(old.repartition(7), neu.repartition(5), "src")
      .collect().toSeq
    assert(rep == Ann.embeddingDrift(old, neu, "src").collect().toSeq)
    // empty totality: both sides empty -> no rows
    assert(Ann.embeddingDrift(old.limit(0), neu.limit(0), "src").count() == 0)
  }

  test("embeddingDrift: out-of-envelope cells fail LOUDLY, never silently null") {
    // xq = floor(1e12·2²⁰) ≈ 1.05e18 per row: s_new·n_old − s_old·n_new
    // lands ≈ −2.5e19, past the decimal(19,0) envelope — the non-ANSI
    // cast used to NULL the cell silently (understating shift_l2) while
    // the DuckDB oracle errors; both sides must now be loud
    val old4 = Seq.fill(4)(("a", Seq(1e12f))).toDF("src", "embedding")
    val new3 = Seq.fill(3)(("a", Seq(-1e12f))).toDF("src", "embedding")
    val ex = intercept[Throwable] {
      Ann.embeddingDrift(old4, new3, "src").collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("envelope")),
      s"expected the envelope raise, got: ${messages(ex)}")
    // in-envelope behavior unchanged: the one-sided NULL rule still holds
    val tiny = Seq(("b", Seq(0.5f))).toDF("src", "embedding")
    val rep = Ann.embeddingDrift(tiny, tiny.limit(0), "src").collect()
    assert(rep.length == 1 && rep(0).isNullAt(rep(0).fieldIndex("shift_l2")))
  }

  test("graph→walks→SGNS→IVF end-to-end: two-clique recovery through the stored index") {
    import graft.operators.{Graph, Node2Vec}
    import org.apache.spark.sql.expressions.Window
    // the Node2VecSpec planted graph: two directed 4-cliques, one bridge
    val clique1 = for (a <- 0L to 3L; b <- 0L to 3L if a != b) yield (a, b)
    val clique2 = for (a <- 10L to 13L; b <- 10L to 13L if a != b) yield (a, b)
    val edges = (clique1 ++ clique2 :+ ((3L, 10L))).toDF("src", "dst")
    val emb = Node2Vec.trainSgns(
      Node2Vec.walkPairs(
        Graph.randomWalks(edges, walksPerNode = 6, length = 8), window = 3),
      dim = 8, epochs = 15, lr = 0.5)
    // every node is base AND query (numQueries=0): dense vec_ids in node
    // order, self lands at rank 1 with cosine 1 and is excluded below;
    // the ANN stack stores float vectors — cast at the index boundary
    val ids = emb.select(
      (row_number().over(Window.orderBy("node")) - 1).cast("long").as("vec_id"),
      col("node"), col("embedding").cast("array<float>").as("embedding"))
    val dir = tempDir("graft-graph-ann")
    Ann.buildIvfIndex(ids.select("vec_id", "embedding"), dir,
      numCentroids = 4, numQueries = 0)
    val queries = ids.select("vec_id", "embedding")
    val byId = ids.select("vec_id", "node").as[(Long, Long)].collect().toMap
    def clique(n: Long) = if (n <= 3L) 1 else 2
    val hits = Ann.ivfTopKFromIndex(queries, dir, nprobe = 2, k = 4)
      .as[(Long, Long, Double, Long)].collect()
      .map { case (q, n, c, rk) => (byId(q), byId(n), c, rk) }
      .filter { case (q, n, _, _) => q != n } // drop the self hit
    assert(hits.nonEmpty)
    // recovery gate: for INTERIOR queries (the bridge endpoints 3 and 10
    // straddle the communities by construction), same-clique neighbors
    // dominate the index's answers
    val interior = hits.filter { case (q, _, _, _) => q != 3L && q != 10L }
    val same = interior.count { case (q, n, _, _) => clique(q) == clique(n) }
    assert(same.toDouble / interior.length > 0.5,
      s"same-clique fraction ${same.toDouble / interior.length} over ${interior.length} interior hits")
    // the index path agrees with brute force on the SAME embeddings at
    // full probe width (nprobe = numCentroids ⇒ no pruning loss)
    val full = Ann.ivfTopKFromIndex(queries, dir, nprobe = 4, k = 4)
      .as[(Long, Long, Double, Long)].collect().toSeq
    // rank the full-probe result against a driver-side exact cosine
    val vecsById = ids.select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect().toMap
      .map { case (k, v) => k -> v.map(_.toDouble) }
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(y => y * y).sum))
    }
    full.groupBy(_._1).foreach { case (q, rows) =>
      val got = rows.sortBy(_._4).map(_._2)
      val want = vecsById.keys.filter(_ != q).toSeq
        .map(n => (BigDecimal(cos(vecsById(q), vecsById(n)))
          .setScale(12, BigDecimal.RoundingMode.HALF_UP), n))
        .sortBy { case (c, n) => (-c, n) }.map(_._2)
      // rank 1 is the self hit (cosine 1); the rest must follow exact order
      assert(got.head == q, s"query $q: rank-1 must be self, got ${got.head}")
      assert(got.tail == want.take(got.tail.size),
        s"query $q: index order ${got.tail} vs exact ${want.take(got.tail.size)}")
    }
  }
}
