package graft

import graft.streaming.ViewMaintenance
import graft.streaming.ViewMaintenance.{mergeTrustBatch, readView}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

case class TrustEv(hash: String, user: String, can_send_to: String, limit: Long)

class ViewMaintenanceSpec extends SparkSpec {
  import spark.implicits._

  private def viewState(viewDir: String): Set[(String, String, Long, Long)] =
    readView(spark, viewDir)
      .select("user", "can_send_to", "limit", "history_count")
      .as[(String, String, Long, Long)].collect().toSet

  test("trust view merges micro-batch deltas: latest wins, history accumulates") {
    implicit val sqlCtx = spark.sqlContext
    val viewDir = tempDir("graft-trustview") + "/view"
    val ckpt = tempDir("graft-trustview-ckpt")

    val mem = MemoryStream[TrustEv]
    val q = ViewMaintenance.startTrustView(mem.toDF(), viewDir, ckpt)

    mem.addData(
      TrustEv("0xa1", "u1", "v1", 50L),
      TrustEv("0xa2", "u2", "v1", 100L))
    q.processAllAvailable()
    assert(viewState(viewDir) == Set(("u1", "v1", 50L, 1L), ("u2", "v1", 100L, 1L)))

    // batch 2: update u1's edge + a brand-new edge
    mem.addData(
      TrustEv("0xa3", "u1", "v1", 75L),
      TrustEv("0xa4", "u3", "v2", 10L))
    q.processAllAvailable()
    q.stop()
    assert(viewState(viewDir) == Set(
      ("u1", "v1", 75L, 2L), // updated limit, accumulated history
      ("u2", "v1", 100L, 1L), // untouched edge preserved
      ("u3", "v2", 10L, 1L))) // new edge
  }

  test("a batch touching one key writes one bucket into the new generation") {
    val viewDir = tempDir("graft-bucketed") + "/view"
    // seed: 32 users spread over the bucket space
    val seed = (1 to 32).map(i => TrustEv(f"0xs$i%02d", s"u$i", "v", 10L))
    mergeTrustBatch(spark, seed.toDF, viewDir, numBuckets = 16)

    def fileState(): Map[String, Long] = {
      val root = new java.io.File(viewDir)
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(root).filter(_.getName.startsWith("part-"))
        .map(f => f.getPath.stripPrefix(viewDir) -> f.lastModified()).toMap
    }
    val before = fileState()
    val bucketsSeeded = before.keys.map(_.split("/")(3)).toSet
    assert(bucketsSeeded.size > 1, s"seed must span several buckets, got $bucketsSeeded")

    mergeTrustBatch(spark, Seq(TrustEv("0xzz", "u1", "v", 99L)).toDF, viewDir, numBuckets = 16)

    val after = fileState()
    // every seed-generation file is untouched (generations are immutable)…
    assert(before.forall { case (k, ts) => after.get(k).contains(ts) },
      "previous generation must not be rewritten")
    // …and the new generation holds exactly the one touched bucket
    val newGenBuckets = (after.keySet -- before.keySet).map(_.split("/")(3)).toSet
    assert(newGenBuckets.size == 1, s"expected 1 bucket in new gen, got $newGenBuckets")
    // and the merge is still correct: u1 updated, everyone else intact
    val v = readView(spark, viewDir)
      .select("user", "limit", "history_count")
      .as[(String, Long, Long)].collect().map { case (u, l, h) => u -> (l, h) }.toMap
    assert(v("u1") == (99L, 2L) && v("u2") == (10L, 1L) && v.size == 32)
  }

  test("a crash before manifest commit leaves the torn generation invisible") {
    val viewDir = tempDir("graft-torn") + "/view"
    mergeTrustBatch(spark, Seq(TrustEv("0xa1", "u1", "v1", 10L)).toDF, viewDir, version = 0L)
    val preCrash = viewState(viewDir)

    // simulate a merge of batch 1 that died between its generation write
    // and its manifest rename: data exists under g=1, no manifest-1
    Seq(TrustEv("0xkill", "u1", "v1", 99L)).toDF
      .groupBy("user", "can_send_to")
      .agg(max("limit").as("limit"), count(lit(1)).as("history_count"),
        max("hash").as("last_change"))
      .withColumn("bucket", lit(3))
      .write.parquet(s"$viewDir/data/g=1")
    assert(viewState(viewDir) == preCrash, "torn generation must be invisible")

    // the replayed batch commits cleanly over the torn dir, exactly once
    mergeTrustBatch(spark, Seq(TrustEv("0xa2", "u1", "v1", 99L)).toDF, viewDir, version = 1L)
    assert(viewState(viewDir) == Set(("u1", "v1", 99L, 2L)))
  }

  test("conditional-PUT committer: same end-to-end view state as rename") {
    import graft.streaming.ConditionalPutCommitter
    val viewDir = tempDir("graft-casview") + "/view"
    mergeTrustBatch(spark, Seq(TrustEv("0xa1", "u1", "v1", 10L)).toDF, viewDir,
      version = 0L, committer = ConditionalPutCommitter)
    mergeTrustBatch(spark, Seq(TrustEv("0xa2", "u1", "v1", 50L),
      TrustEv("0xa3", "u2", "v1", 80L)).toDF, viewDir,
      version = 1L, committer = ConditionalPutCommitter)
    assert(viewState(viewDir) == Set(("u1", "v1", 50L, 2L), ("u2", "v1", 80L, 1L)))
    // replay of batch 1 is a no-op under the CAS committer too
    mergeTrustBatch(spark, Seq(TrustEv("0xa2", "u1", "v1", 50L),
      TrustEv("0xa3", "u2", "v1", 80L)).toDF, viewDir,
      version = 1L, committer = ConditionalPutCommitter)
    assert(viewState(viewDir) == Set(("u1", "v1", 50L, 2L), ("u2", "v1", 80L, 1L)))
  }

  test("lost manifest race: loser returns without corrupting the winner's commit") {
    import graft.streaming.{ConditionalPutCommitter, RenameCommitter}
    import org.apache.hadoop.fs.{FileSystem, Path}
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    for (committer <- Seq(RenameCommitter, ConditionalPutCommitter)) {
      val viewDir = tempDir("graft-race") + "/view"
      mergeTrustBatch(spark, Seq(TrustEv("0xa1", "u1", "v1", 10L)).toDF, viewDir,
        version = 0L, committer = committer)
      // a "winner" (zombie twin of batch 1) publishes manifest-1 directly
      val winner = "batch 1\n" +
        ViewMaintenance.readManifest(spark, viewDir)._3.toSeq.sorted
          .map { case (b, g) => s"$b $g" }.mkString("\n")
      assert(committer.commit(fs, viewDir, 1L, winner))
      // the loser's merge of batch 1 hits the occupied version: commit
      // must return false and the merge must degrade to a silent no-op
      assert(!committer.commit(fs, viewDir, 1L, "batch 1\nrogue"))
      mergeTrustBatch(spark, Seq(TrustEv("0xa2", "u1", "v1", 99L)).toDF, viewDir,
        version = 1L, committer = committer)
      // winner's manifest content survived (not the loser's rogue write)
      val in = fs.open(new Path(s"$viewDir/manifest-1"))
      val content = try scala.io.Source.fromInputStream(in).mkString finally in.close()
      assert(content == winner, s"winner's manifest must survive under $committer")
      // replay of the lost batch is the documented no-op path
      mergeTrustBatch(spark, Seq(TrustEv("0xa2", "u1", "v1", 99L)).toDF, viewDir,
        version = 1L, committer = committer)
      assert(viewState(viewDir) == Set(("u1", "v1", 10L, 1L)),
        "view reflects the winner's committed state only")
    }
  }

  test("a merge whose commit loses the race leaves the view untouched") {
    import graft.streaming.{ManifestCommitter, RenameCommitter}
    val viewDir = tempDir("graft-loser") + "/view"
    mergeTrustBatch(spark, Seq(TrustEv("0xa1", "u1", "v1", 10L)).toDF, viewDir, version = 0L)
    val before = viewState(viewDir)
    // a committer that always loses simulates the CAS precondition failing
    // mid-merge: the generation was written but must stay unpublished
    object AlwaysLoses extends ManifestCommitter {
      def commit(fs: org.apache.hadoop.fs.FileSystem, viewDir: String,
                 version: Long, content: String): Boolean = false
    }
    mergeTrustBatch(spark, Seq(TrustEv("0xa2", "u1", "v1", 99L)).toDF, viewDir,
      version = 1L, committer = AlwaysLoses)
    assert(viewState(viewDir) == before, "unpublished generation must be invisible")
    // the writer recovers on the next (re)delivery with a working committer
    mergeTrustBatch(spark, Seq(TrustEv("0xa2", "u1", "v1", 99L)).toDF, viewDir,
      version = 1L, committer = RenameCommitter)
    assert(viewState(viewDir) == Set(("u1", "v1", 99L, 2L)))
  }

  test("compaction folds the view into one generation, content unchanged") {
    val viewDir = tempDir("graft-compact") + "/view"
    // 6 single-key batches → mapping spread over up to 6 generations
    (1 to 6).foreach { i =>
      mergeTrustBatch(spark, Seq(TrustEv(f"0x$i%02d", s"u$i", "v", i.toLong)).toDF,
        viewDir, numBuckets = 8, version = i.toLong, maxGenerations = 100)
    }
    val before = viewState(viewDir)
    val (_, _, mapping) = ViewMaintenance.readManifest(spark, viewDir)
    assert(mapping.values.toSet.size > 1, "setup must fragment generations")

    ViewMaintenance.compact(spark, viewDir)
    assert(viewState(viewDir) == before, "compaction must not change content")
    val (_, lastBatch, after) = ViewMaintenance.readManifest(spark, viewDir)
    assert(after.values.toSet.size == 1, "one generation after compaction")
    assert(lastBatch == 6L, "batch header carries over (replay detection intact)")
    // old generation dirs are GC'd
    val gens = new java.io.File(s"$viewDir/data").listFiles().map(_.getName).toSet
    assert(gens.size == 1, s"unreferenced generations must be deleted, got $gens")
    // and the stream continues cleanly after compaction
    mergeTrustBatch(spark, Seq(TrustEv("0xzz", "u1", "v", 99L)).toDF,
      viewDir, numBuckets = 8, version = 7L)
    assert(viewState(viewDir).contains(("u1", "v", 99L, 2L)))
  }

  test("auto-compaction triggers when generations exceed the bound") {
    val viewDir = tempDir("graft-autocompact") + "/view"
    (1 to 5).foreach { i =>
      mergeTrustBatch(spark, Seq(TrustEv(f"0x$i%02d", s"u$i", "v", i.toLong)).toDF,
        viewDir, numBuckets = 8, version = i.toLong, maxGenerations = 2)
    }
    val (_, _, mapping) = ViewMaintenance.readManifest(spark, viewDir)
    assert(mapping.values.toSet.size <= 2 + 1,
      s"auto-compaction must bound fragmentation, got ${mapping.values.toSet}")
    assert(viewState(viewDir).map(t => (t._1, t._3)) ==
      Set(("u1", 1L), ("u2", 2L), ("u3", 3L), ("u4", 4L), ("u5", 5L)))
  }

  test("balances maintenance: sliced micro-batches converge to the batch recompute") {
    implicit val sqlCtx = spark.sqlContext
    val viewDir = tempDir("graft-balview") + "/view"
    val ckpt = tempDir("graft-balview-ckpt")
    val all = Seq(
      ("0xa1", "tokA", "u1", "u2", 100L),
      ("0xa2", "tokA", "u2", "u3", 30L),
      ("0xa3", "tokB", "u1", "u3", 10L),
      ("0xa4", "tokA", "u3", "u1", 5L),
      ("0xa5", "tokB", "u3", "u1", 7L),
      ("0xa6", "tokA", "u2", "u2", 9L) // self transfer: net zero, hash still advances
    )
    val mem = MemoryStream[(String, String, String, String, Long)]
    val q = ViewMaintenance.startBalancesView(
      mem.toDF().toDF("hash", "token", "from", "to", "value"), viewDir, ckpt)
    // three uneven slices
    mem.addData(all(0), all(1)); q.processAllAvailable()
    mem.addData(all(2)); q.processAllAvailable()
    mem.addData(all(3), all(4), all(5)); q.processAllAvailable()
    q.stop()
    val maintained = readView(spark, viewDir)
      .select(col("safe_address"), col("token"),
        col("balance").cast("double").as("balance"), col("last_change_at"))
      .as[(String, String, Double, String)].collect().toSet
    val recompute = graft.operators.CirclesViews.balancesBySafeAndToken(
        all.toDF("hash", "token", "from", "to", "value"))
      .select("safe_address", "token", "balance", "last_change_at")
      .as[(String, String, Double, String)].collect().toSet
    assert(maintained == recompute, "incremental view must equal the batch recompute")
    // replay of a committed batch id is a no-op for the additive merge too
    ViewMaintenance.mergeBalancesBatch(spark,
      Seq(all(2)).toDF("hash", "token", "from", "to", "value"), viewDir, version = 1L)
    val replayed = readView(spark, viewDir)
      .select(col("safe_address"), col("token"), col("balance").cast("double"), col("last_change_at"))
      .as[(String, String, Double, String)].collect().toSet
    assert(replayed == recompute, "replay must not double-add")
  }

  test("append-only timeline: incremental batches == one-shot, replay overwrites itself") {
    import graft.operators.ReceiptClassifier
    val ev = Seq(
      (1L, 1L, "purchase", """{"k":5}"""),  // person token → CRC transfer (ledger only)
      (2L, 2L, "click", """{"k":6}"""),     // hub transfer 'out'
      (3L, 3L, "signup", """{"k":7}"""),    // trust 'in' (trustee (7·3+13)%150=34 unregistered)
      (4L, 4L, "view", """{"k":8}"""),      // org signup self row
      (5L, 5L, "error", """{"k":9}"""),     // odd → EOA eth transfer 'out'
      (6L, 21L, "error", """{"k":1}"""),    // even → safe eth to (13·21+29)%150 = user 2 → 'in'
      (10L, 5L, "purchase", """{"k":2}"""), // %5 == 0 by a person → CrcMinting
      (8L, 8L, "click", """{"k":3}"""),     // second hub transfer
      (7L, 3L, "purchase", """{"k":4}""")   // org's token is non-CRC → Erc20Transfer 'out'
    ).toDF("event_id", "user_id", "event_type", "props")
    val receipts = ReceiptClassifier.demoReceipts(ev)
    val registry = ReceiptClassifier.demoSignups(ev)
    val dir = tempDir("graft-timeline") + "/view"
    val b1 = receipts.where(col("event_id") % 2 === 1)
    val b2 = receipts.where(col("event_id") % 2 === 0)
    ViewMaintenance.appendBatch(ViewMaintenance.timelineOfBatch(b1, registry), dir, 0L)
    ViewMaintenance.appendBatch(ViewMaintenance.timelineOfBatch(b2, registry), dir, 1L)
    def state() = ViewMaintenance.readAppendView(spark, dir)
      .as[(String, String, String, String, String, String)].collect().toSet
    val oneShot = ViewMaintenance.timelineOfBatch(receipts, registry)
      .as[(String, String, String, String, String, String)].collect().toSet
    assert(state() == oneShot && oneShot.nonEmpty)
    // every leg family made it through the incremental path
    assert(oneShot.map(_._2) == Set("CrcSignup", "CrcTrust", "CrcHubTransfer",
      "CrcMinting", "EthTransfer", "Erc20Transfer", "GnosisSafeEthTransfer"))
    // a replayed batch overwrites its own partition: content unchanged
    ViewMaintenance.appendBatch(ViewMaintenance.timelineOfBatch(b1, registry), dir, 0L)
    assert(state() == oneShot)
  }

  test("streaming ledger view: sliced stream == batch ledger over all transfers") {
    implicit val sqlCtx = spark.sqlContext
    val signups = Seq(("0xs1", "u1", "tokA"), ("0xs2", "u2", "tokB"))
      .toDF("hash", "user", "token")
    val all = Seq(
      ("0xa1", "tokA", "u1", "u2", 100L),
      ("0xa2", "tokB", "u2", "u3", 30L),
      ("0xa3", "tokC", "u1", "u3", 10L), // non-CRC: no ledger rows
      ("0xa4", "tokA", "u3", "u1", 5L)
    )
    val dir = tempDir("graft-ledgerview") + "/view"
    val ckpt = tempDir("graft-ledgerview-ckpt")
    val mem = MemoryStream[(String, String, String, String, Long)]
    val q = ViewMaintenance.startLedgerView(
      mem.toDF().toDF("hash", "token", "from", "to", "value"), () => signups, dir, ckpt)
    mem.addData(all(0), all(1)); q.processAllAvailable()
    mem.addData(all(2), all(3)); q.processAllAvailable()
    q.stop()
    val streamed = ViewMaintenance.readAppendView(spark, dir)
      .as[(String, String, Double, String, String, String, String)].collect().toSet
    val batch = graft.operators.CirclesViews.ledger(
        all.toDF("hash", "token", "from", "to", "value"), signups)
      .as[(String, String, Double, String, String, String, String)].collect().toSet
    assert(streamed == batch && batch.nonEmpty)
  }

  test("replaying a committed batch version is a detected no-op") {
    val viewDir = tempDir("graft-replay") + "/view"
    mergeTrustBatch(spark, Seq(TrustEv("0xa1", "u1", "v1", 10L)).toDF, viewDir, version = 0L)
    val batch1 = Seq(TrustEv("0xa2", "u1", "v1", 50L)).toDF
    mergeTrustBatch(spark, batch1, viewDir, version = 1L)
    mergeTrustBatch(spark, batch1, viewDir, version = 1L) // crash-after-commit replay
    // history_count would be 3 if the replay re-merged
    assert(viewState(viewDir) == Set(("u1", "v1", 50L, 2L)))
  }

  test("sketch view: sliced micro-batches converge to the batch sketch table") {
    val viewDir = tempDir("graft-sketchview") + "/view"
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .withColumn("day", col("ts").cast("date"))
      .persist()
    (0 until 3).foreach { i =>
      ViewMaintenance.mergeSketchesBatch(spark,
        ev.where(pmod(col("event_id"), lit(3)) === i),
        viewDir, keyCol = "user_id", byCols = Seq("event_type", "day"),
        numBuckets = 8, version = i.toLong)
    }
    ev.unpersist()
    val served = graft.operators.Analytics.distinctFromSketches(
        readView(spark, viewDir).drop("bucket"), Seq("event_type"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val direct = graft.operators.Analytics.distinctFromSketches(
        graft.operators.Analytics.hllSketchTable(ev, "user_id", Seq("event_type", "day")),
        Seq("event_type"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(served.keySet == direct.keySet)
    direct.foreach { case (t, (est, nRows)) =>
      assert(served(t)._2 == nRows, s"$t: row counts must be EXACT")
      // union of sliced partials vs one-shot: same registers up to
      // sparse/dense transitions → estimates within the 2% convention
      assert(math.abs(served(t)._1 - est).toDouble / math.max(est, 1) < 0.02, s"$t")
    }
    // replaying a committed version is a no-op (row counts would double)
    ViewMaintenance.mergeSketchesBatch(spark, ev, viewDir,
      keyCol = "user_id", byCols = Seq("event_type", "day"),
      numBuckets = 8, version = 2L)
    val again = graft.operators.Analytics.distinctFromSketches(
        readView(spark, viewDir).drop("bucket"), Seq("event_type"))
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    direct.foreach { case (t, (_, nRows)) => assert(again(t) == nRows) }
  }

  test("quantile sketch view: sliced merges are BYTE-IDENTICAL to the batch build") {
    val viewDir = tempDir("graft-qsketchview") + "/view"
    val docs = Tables.documents(spark, "/root/testdata/sf0.001").persist()
    (0 until 3).foreach { i =>
      ViewMaintenance.mergeQuantileSketchesBatch(spark,
        docs.where(pmod(col("doc_id"), lit(3)) === i),
        viewDir, keyCol = "doc_id", valueCol = "n_chars",
        byCols = Seq("source", "lang"), numBuckets = 8, version = i.toLong)
    }
    val served = readView(spark, viewDir).drop("bucket")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getAs[Array[Byte]]("sketch").toSeq, r.getLong(3)))).toMap
    val direct = graft.operators.Analytics
      .quantileSketchTable(docs, "doc_id", "n_chars", Seq("source", "lang"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getAs[Array[Byte]]("sketch").toSeq, r.getLong(3)))).toMap
    docs.unpersist()
    // bottom-k is an exact semilattice: slicing can't drift the ARTIFACT,
    // not just the estimate — byte equality, the strongest convergence
    assert(served == direct)
    // replay of a committed version stays a no-op
    ViewMaintenance.mergeQuantileSketchesBatch(spark, docs, viewDir,
      keyCol = "doc_id", valueCol = "n_chars", byCols = Seq("source", "lang"),
      numBuckets = 8, version = 2L)
    val again = readView(spark, viewDir).drop("bucket")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getAs[Array[Byte]]("sketch").toSeq, r.getLong(3)))).toMap
    assert(again == direct)
  }

  test("SCD view: sliced out-of-order micro-batches converge to the batch SCD") {
    val viewDir = tempDir("graft-scdview") + "/view"
    val evs = Seq(
      ("0xa1", "u1", "v1", 50L, 1L), ("0xa2", "u1", "v1", 50L, 2L),
      ("0xa3", "u1", "v1", 80L, 3L), ("0xa5", "u1", "v1", 0L, 5L),
      ("0xa4", "u2", "v2", 30L, 4L), ("0xa6", "u2", "v2", 30L, 6L),
      ("0xa7", "u3", "v3", 10L, 7L)
    ).toDF("hash", "user", "can_send_to", "limit", "number")
    // slice by hash → block numbers interleave ACROSS batches (late data)
    (0 until 3).foreach { i =>
      ViewMaintenance.mergeTrustScdBatch(spark,
        evs.where(pmod(xxhash64(col("hash")), lit(3)) === i),
        viewDir, numBuckets = 8, version = i)
    }
    def served = ViewMaintenance.readTrustScdView(spark, viewDir)
      .select("user", "can_send_to", "limit", "valid_from", "valid_to")
      .as[(String, String, Long, Long, Option[Long])].collect().toSet
    val batch = graft.operators.CirclesViews.trustHistoryScd(
      evs.select("hash", "user", "can_send_to", "limit"),
      evs.select("hash", "number"))
      .as[(String, String, Long, Long, Option[Long])].collect().toSet
    assert(served == batch, "incremental SCD must equal the one-shot build")
    assert(batch.contains(("u1", "v1", 80L, 3L, Some(5L)))) // non-trivial case
    // replay of a committed batch stays a no-op
    ViewMaintenance.mergeTrustScdBatch(spark,
      evs.where(pmod(xxhash64(col("hash")), lit(3)) === 2),
      viewDir, numBuckets = 8, version = 2L)
    assert(served == batch)
  }

  test("streaming SCD view: out-of-order stream == one-shot SCD build") {
    implicit val sqlCtx = spark.sqlContext
    val evs = Seq( // (hash, user, can_send_to, limit, number)
      ("0xc1", "u1", "v1", 50L, 1L), ("0xc3", "u1", "v1", 50L, 3L),
      ("0xc2", "u1", "v1", 80L, 2L), // arrives in the SECOND micro-batch
      ("0xc4", "u2", "v2", 30L, 4L))
    val dir = tempDir("graft-scdstream") + "/view"
    val ckpt = tempDir("graft-scdstream-ckpt")
    val mem = MemoryStream[(String, String, String, Long, Long)]
    val q = ViewMaintenance.startTrustScdView(
      mem.toDF().toDF("hash", "user", "can_send_to", "limit", "number"),
      dir, ckpt, numBuckets = 8)
    mem.addData(evs(0), evs(1)); q.processAllAvailable()
    mem.addData(evs(2), evs(3)); q.processAllAvailable()
    q.stop()
    val streamed = ViewMaintenance.readTrustScdView(spark, dir)
      .select("user", "can_send_to", "limit", "valid_from", "valid_to")
      .as[(String, String, Long, Long, Option[Long])].collect().toSet
    val batch = graft.operators.CirclesViews.trustHistoryScd(
      evs.toDF("hash", "user", "can_send_to", "limit", "number")
        .select("hash", "user", "can_send_to", "limit"),
      evs.toDF("hash", "user", "can_send_to", "limit", "number")
        .select("hash", "number"))
      .as[(String, String, Long, Long, Option[Long])].collect().toSet
    assert(streamed == batch && batch.size == 4) // the late 80@2 split 50@1/50@3
  }

  test("SCD view: late event splitting a collapsed re-state run is exact") {
    // THE case a collapsed store cannot recover: 50@1 and 50@3 merge first
    // (one interval if collapsed), then 80@2 arrives late and must split
    // them into 50@[1,2) / 80@[2,3) / 50@[3,∞). The uncollapsed store
    // retains the 50@3 event, so the late merge re-derives it exactly.
    val viewDir = tempDir("graft-scdlate") + "/view"
    val early = Seq(("0xb1", "u1", "v1", 50L, 1L), ("0xb3", "u1", "v1", 50L, 3L))
      .toDF("hash", "user", "can_send_to", "limit", "number")
    val late = Seq(("0xb2", "u1", "v1", 80L, 2L))
      .toDF("hash", "user", "can_send_to", "limit", "number")
    ViewMaintenance.mergeTrustScdBatch(spark, early, viewDir, numBuckets = 8, version = 0L)
    ViewMaintenance.mergeTrustScdBatch(spark, late, viewDir, numBuckets = 8, version = 1L)
    val served = ViewMaintenance.readTrustScdView(spark, viewDir)
      .select("user", "can_send_to", "limit", "valid_from", "valid_to")
      .as[(String, String, Long, Long, Option[Long])].collect().toSet
    assert(served == Set(
      ("u1", "v1", 50L, 1L, Some(2L)),
      ("u1", "v1", 80L, 2L, Some(3L)),
      ("u1", "v1", 50L, 3L, None)))
  }

  test("SCD compaction: finalized re-states drop, served view invariant, late merges stay exact") {
    val viewDir = tempDir("graft-scdcompact") + "/view"
    val evs = Seq( // u1: 50@1, 50@2 (re-state), 80@4, 80@6 (re-state)
      ("0xd1", "u1", "v1", 50L, 1L), ("0xd2", "u1", "v1", 50L, 2L),
      ("0xd4", "u1", "v1", 80L, 4L), ("0xd6", "u1", "v1", 80L, 6L))
      .toDF("hash", "user", "can_send_to", "limit", "number")
    ViewMaintenance.mergeTrustScdBatch(spark, evs, viewDir, numBuckets = 8, version = 0L)
    def stored = readView(spark, viewDir).count()
    def served = ViewMaintenance.readTrustScdView(spark, viewDir)
      .select("user", "can_send_to", "limit", "valid_from", "valid_to")
      .as[(String, String, Long, Long, Option[Long])].collect().toSet
    assert(stored == 4) // uncollapsed: every event kept
    val beforeCompact = served
    // horizon 5: the 50@2 re-state is final and drops; 80@6 (>= 5) is kept
    // even though it re-states, because a late event could still split it
    ViewMaintenance.compactTrustScdStore(spark, viewDir, safeBelow = 5L)
    assert(stored == 3, "exactly the finalized re-state must drop")
    assert(served == beforeCompact, "compaction must not change the served view")
    // a late event ABOVE the horizon still splits the kept re-state run
    ViewMaintenance.mergeTrustScdBatch(spark,
      Seq(("0xd5", "u1", "v1", 99L, 5L))
        .toDF("hash", "user", "can_send_to", "limit", "number"),
      viewDir, numBuckets = 8, version = 1L)
    assert(served == Set(
      ("u1", "v1", 50L, 1L, Some(4L)),
      ("u1", "v1", 80L, 4L, Some(5L)),
      ("u1", "v1", 99L, 5L, Some(6L)),
      ("u1", "v1", 80L, 6L, None)))
  }

  test("deleteKeys erases subjects, rewrites only their buckets, counts rows") {
    val viewDir = tempDir("graft-erasure") + "/view"
    val seed = (1 to 32).map(i => TrustEv(f"0xs$i%02d", s"u$i", "v", 10L))
    mergeTrustBatch(spark, seed.toDF, viewDir, numBuckets = 16)
    def fileState(): Map[String, Long] = {
      val root = new java.io.File(viewDir)
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(root).filter(_.getName.startsWith("part-"))
        .map(f => f.getPath.stripPrefix(viewDir) -> f.lastModified()).toMap
    }
    val before = fileState()
    val deleted = ViewMaintenance.deleteKeys(spark, viewDir, "user",
      Seq("u1", "u17"), numBuckets = 16)
    assert(deleted == 2L)
    val users = readView(spark, viewDir).select("user").as[String].collect().toSet
    assert(!users.contains("u1") && !users.contains("u17") && users.size == 30)
    // surviving generations are immutable: no pre-existing file rewritten
    // in place (referenced ones keep their mtimes; the erased buckets'
    // old files may be GC'd)
    val after = fileState()
    assert(before.forall { case (k, ts) => after.get(k).forall(_ == ts) },
      "no existing file may be rewritten in place")
    // erasure is idempotent and counts zero the second time
    assert(ViewMaintenance.deleteKeys(spark, viewDir, "user",
      Seq("u1", "u17"), numBuckets = 16) == 0L)
  }

  test("deleteKeys: full-bucket erasure unmaps the bucket; unknown key no-ops") {
    val viewDir = tempDir("graft-erasure2") + "/view"
    mergeTrustBatch(spark, Seq(TrustEv("0xa1", "solo", "v", 10L)).toDF, viewDir,
      numBuckets = 4)
    assert(ViewMaintenance.deleteKeys(spark, viewDir, "user", Seq("ghost"),
      numBuckets = 4) == 0L)
    assert(viewState(viewDir) == Set(("solo", "v", 10L, 1L)))
    assert(ViewMaintenance.deleteKeys(spark, viewDir, "user", Seq("solo"),
      numBuckets = 4) == 1L)
    assert(readView(spark, viewDir).count() == 0L)
    assert(ViewMaintenance.readManifest(spark, viewDir)._3.isEmpty,
      "a fully-erased bucket must leave the manifest mapping")
    // the store keeps accepting merges after a total erasure
    mergeTrustBatch(spark, Seq(TrustEv("0xa2", "u9", "v", 5L)).toDF, viewDir,
      numBuckets = 4)
    assert(viewState(viewDir) == Set(("u9", "v", 5L, 1L)))
  }

  test("deleteKeys: a lost manifest race publishes nothing") {
    import graft.streaming.{ManifestCommitter, RenameCommitter}
    val viewDir = tempDir("graft-erasure3") + "/view"
    mergeTrustBatch(spark, Seq(TrustEv("0xa1", "u1", "v", 10L),
      TrustEv("0xa2", "u2", "v", 20L)).toDF, viewDir, numBuckets = 4)
    val before = viewState(viewDir)
    object AlwaysLoses extends ManifestCommitter {
      def commit(fs: org.apache.hadoop.fs.FileSystem, viewDir: String,
                 version: Long, content: String): Boolean = false
    }
    assert(ViewMaintenance.deleteKeys(spark, viewDir, "user", Seq("u1"),
      numBuckets = 4, committer = AlwaysLoses) == 0L)
    assert(viewState(viewDir) == before, "lost race must leave the view intact")
    // retry with a working committer succeeds
    assert(ViewMaintenance.deleteKeys(spark, viewDir, "user", Seq("u1"),
      numBuckets = 4, committer = RenameCommitter) == 1L)
    assert(viewState(viewDir) == Set(("u2", "v", 20L, 1L)))
  }

  test("seen-hash store: slicing-independent set union, replay no-op, gate == anti-join") {
    val docs = Seq(
      (1L, "alpha"), (2L, "beta"), (3L, "alpha"),   // 3 duplicates 1
      (4L, "gamma"), (5L, "delta"), (6L, "beta"),   // 6 duplicates 2
      (7L, "epsilon"), (8L, "gamma"), (9L, "zeta"), // 8 duplicates 4
      (10L, "epsilon"), (11L, "eta"), (12L, "eta")
    ).toDF("doc_id", "text")
    def hashes(df: org.apache.spark.sql.DataFrame) =
      df.select(xxhash64(col("text")).as("h"))
    def seenSet(dir: String): Set[Long] =
      readView(spark, dir).select("h").as[Long].collect().toSet

    // two different slicings converge to the same stored set
    val d1 = tempDir("graft-seen1") + "/view"
    (0 until 3).foreach { i =>
      ViewMaintenance.mergeSeenHashesBatch(spark,
        hashes(docs.where(col("doc_id") % 3 === i)), d1,
        numBuckets = 4, version = i.toLong)
    }
    val d2 = tempDir("graft-seen2") + "/view"
    ViewMaintenance.mergeSeenHashesBatch(spark, hashes(docs), d2, numBuckets = 4)
    assert(seenSet(d1) == seenSet(d2), "slicing must not change the union")
    assert(seenSet(d1) == hashes(docs).distinct().as[Long].collect().toSet)

    // a committed-version replay is a no-op
    val before = seenSet(d1)
    ViewMaintenance.mergeSeenHashesBatch(spark,
      hashes(docs.where(col("doc_id") % 3 === 1)), d1,
      numBuckets = 4, version = 1L)
    assert(seenSet(d1) == before)

    // the gate: new docs of a candidate batch == text-level anti-join with
    // exact-dedup's min-id keep rule
    val store = tempDir("graft-seen3") + "/view"
    ViewMaintenance.mergeSeenHashesBatch(spark,
      hashes(docs.where(col("doc_id") <= 6)), store, numBuckets = 4)
    val cand = docs.where(col("doc_id") > 6)
    val served = ViewMaintenance.newDocsAgainstSeen(cand,
        readView(spark, store))
      .as[Long].collect().toSet
    // seen texts: alpha beta gamma delta; candidates 7..12 →
    // epsilon(7, dup 10 dropped), zeta(9), eta(11, dup 12 dropped);
    // 8=gamma already seen
    assert(served == Set(7L, 9L, 11L))
  }

  test("seen-hash store: streaming maintenance converges to the batch union") {
    implicit val sqlCtx = spark.sqlContext
    val viewDir = tempDir("graft-seenstream") + "/view"
    val ckpt = tempDir("graft-seenstream-ckpt")
    val mem = MemoryStream[Long]
    val q = ViewMaintenance.startSeenHashView(
      mem.toDF().select(xxhash64(col("value").cast("string")).as("h")),
      viewDir, ckpt, numBuckets = 4)
    mem.addData(1L, 2L, 3L)
    q.processAllAvailable()
    mem.addData(3L, 4L) // overlap folds away
    q.processAllAvailable()
    q.stop()
    val stored = readView(spark, viewDir).select("h").as[Long].collect().toSet
    val oneShot = Seq(1L, 2L, 3L, 4L).toDF("value")
      .select(xxhash64(col("value").cast("string")).as("h"))
      .as[Long].collect().toSet
    assert(stored == oneShot)
  }

  private def dayEvents(rows: (Long, String, String)*) = {
    import java.sql.Timestamp
    rows.map { case (id, day, t) =>
      (id, Timestamp.valueOf(s"$day 10:00:00"), id % 10, t, 1.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
  }

  test("day-count store: sliced merges converge to the one-shot aggregate; replay no-op") {
    val viewDir = tempDir("graft-daycounts") + "/view"
    val ev = dayEvents(
      (1L, "2024-01-01", "a"), (2L, "2024-01-01", "a"), (3L, "2024-01-02", "a"),
      (4L, "2024-01-01", "b"), (5L, "2024-01-02", "b"), (6L, "2024-01-02", "b"))
    // three overlapping-day slices by event id
    (0 until 3).foreach { i =>
      ViewMaintenance.mergeDayCountsBatch(spark,
        ev.where(col("event_id") % 3 === i), viewDir,
        numBuckets = 4, version = i.toLong)
    }
    def served = readView(spark, viewDir)
      .select(col("event_type"), col("day").cast("string"), col("n"))
      .as[(String, String, Long)].collect().toSet
    val oneShot = ViewMaintenance.dayCountsDelta(ev)
      .select(col("event_type"), col("day").cast("string"), col("n"))
      .as[(String, String, Long)].collect().toSet
    assert(served == oneShot)
    // replay of a committed version is a detected no-op (counts would double)
    ViewMaintenance.mergeDayCountsBatch(spark,
      ev.where(col("event_id") % 3 === 1), viewDir, numBuckets = 4, version = 1L)
    assert(served == oneShot)
    // trending served from the store == trending over raw events
    val fromStore = graft.operators.Behavior.trendingFromCounts(
        readView(spark, viewDir))
      .select(col("event_type"), col("day").cast("string"), col("n"),
        col("baseline"), col("lift"), col("trending"))
      .collect().map(_.toString).toSeq
    val fromRaw = graft.operators.Behavior.trendingEvents(ev)
      .select(col("event_type"), col("day").cast("string"), col("n"),
        col("baseline"), col("lift"), col("trending"))
      .collect().map(_.toString).toSeq
    assert(fromStore == fromRaw)
    // CUSUM served from the same store == CUSUM over raw events (day keys
    // converted to the detector's epoch-ms timeline on both paths)
    val cusumStore = graft.operators.Behavior.cusumFromCounts(
        readView(spark, viewDir).select(col("event_type"),
          graft.operators.StateOps.epochMs(col("day").cast("timestamp")).as("day"),
          col("n")))
      .collect().map(_.toString).toSeq
    val cusumRaw = graft.operators.Behavior.cusumFromCounts(
        ev.groupBy(col("event_type"),
          graft.operators.StateOps.epochMs(col("ts").cast("date").cast("timestamp")).as("day"))
          .agg(count(lit(1)).as("n")))
      .collect().map(_.toString).toSeq
    assert(cusumStore == cusumRaw && cusumStore.nonEmpty)
  }

  test("rfm rollup store: sliced merges converge bit-for-bit; serve scores match batch") {
    val viewDir = tempDir("graft-rfm") + "/view"
    val orders = Seq(
      (1L, 1L, "O", 500.0, "2024-01-01 00:00:00"),
      (2L, 1L, "O", 250.5, "2024-02-01 00:00:00"),
      (3L, 2L, "O", 400.0, "2024-01-02 00:00:00"),
      (4L, 3L, "O", 300.0, "2024-01-03 00:00:00"),
      (5L, 3L, "O", 100.0, "2023-12-01 00:00:00"),
      (6L, 4L, "O", 200.0, "2024-01-04 00:00:00"))
      .map { case (ok, ck, st, tp, d) =>
        (ok, ck, st, tp, java.sql.Timestamp.valueOf(d), "1-URGENT") }
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    // three overlapping slices by order key — a customer's orders split
    // ACROSS merges, so all three merge laws (greatest/add/decimal-add) fire
    (0 until 3).foreach { i =>
      ViewMaintenance.mergeRfmRollupBatch(spark,
        orders.where(col("o_orderkey") % 3 === i), viewDir,
        numBuckets = 4, version = i.toLong)
    }
    def served = readView(spark, viewDir)
      .select(col("custkey"), col("recency_us"), col("frequency"),
        col("monetary_d").cast("string"))
      .as[(Long, Long, Long, String)].collect().toSet
    val oneShot = ViewMaintenance.rfmRollupDelta(orders)
      .select(col("custkey"), col("recency_us"), col("frequency"),
        col("monetary_d").cast("string"))
      .as[(Long, Long, Long, String)].collect().toSet
    assert(served == oneShot)
    // replay of a committed version is a detected no-op (sums would double)
    ViewMaintenance.mergeRfmRollupBatch(spark,
      orders.where(col("o_orderkey") % 3 === 1), viewDir,
      numBuckets = 4, version = 1L)
    assert(served == oneShot)
    // scores off the store == scores off raw orders, row for row
    val fromStore = graft.operators.Behavior.rfmFromRollup(
        readView(spark, viewDir).select(col("custkey"), col("recency_us"),
          col("frequency"), col("monetary_d").cast("double").as("monetary")))
      .collect().map(_.toString).toSeq
    val fromRaw = graft.operators.Behavior.rfmSegments(orders)
      .collect().map(_.toString).toSeq
    assert(fromStore == fromRaw && fromStore.nonEmpty)
  }

  test("day-count store: streaming maintenance converges to the batch rollup") {
    implicit val sqlCtx = spark.sqlContext
    val viewDir = tempDir("graft-daystream") + "/view"
    val ckpt = tempDir("graft-daystream-ckpt")
    val mem = MemoryStream[(Long, String, String)]
    val toEv = (df: org.apache.spark.sql.DataFrame) => df
      .select(col("_1").as("event_id"),
        to_timestamp(concat(col("_2"), lit(" 10:00:00"))).as("ts"),
        col("_3").as("event_type"))
    val q = ViewMaintenance.startDayCountsView(
      toEv(mem.toDF()), viewDir, ckpt, numBuckets = 4)
    mem.addData((1L, "2024-01-01", "a"), (2L, "2024-01-01", "a"))
    q.processAllAvailable()
    mem.addData((3L, "2024-01-01", "a"), (4L, "2024-01-02", "b"))
    q.processAllAvailable()
    q.stop()
    val stored = readView(spark, viewDir)
      .select(col("event_type"), col("day").cast("string"), col("n"))
      .as[(String, String, Long)].collect().toSet
    assert(stored == Set(("a", "2024-01-01", 3L), ("b", "2024-01-02", 1L)))
  }
}
