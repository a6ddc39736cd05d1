package graft

import graft.streaming.CorpusPipeline
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

class CorpusPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  case class Doc(doc_id: Long, text: String, source: String, ingest_ts: Timestamp)

  // 25 distinct 4-char words: passes every default curate rule
  private def goodText(tag: String): String =
    (1 to 25).map(i => f"$tag%s${i}%02d").mkString(" ")

  test("curate matches the batch quality+repetition filter composition") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val got = CorpusPipeline.curate(docs)
      .select("doc_id", "keep", "reason")
      .as[(Long, Boolean, String)].collect().map { case (id, k, r) => id -> ((k, r)) }.toMap
    val qf = graft.operators.TextMetrics.qualityFilter(docs)
      .as[(Long, Boolean, String)].collect().map { case (id, k, r) => id -> ((k, r)) }.toMap
    val rf = graft.operators.TextMetrics.repetitionFilter(docs)
      .as[(Long, Boolean, String)].collect().map { case (id, k, r) => id -> ((k, r)) }.toMap
    assert(got.keySet == qf.keySet)
    got.foreach { case (id, (keep, reason)) =>
      assert(keep == (qf(id)._1 && rf(id)._1), s"doc $id keep")
      val want = if (!qf(id)._1) qf(id)._2 else rf(id)._2
      assert(reason == want, s"doc $id reason")
    }
    assert(got.values.exists(_._1) && got.values.exists(!_._1)) // both branches real
  }

  test("streaming dedup drops cross-batch duplicates, re-admits after eviction") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Doc]
    val q = CorpusPipeline.dedupKept(CorpusPipeline.curate(mem.toDF()))
      .select("doc_id", "text")
      .writeStream.format("memory").queryName("corpus").outputMode("append").start()

    val t1 = goodText("aa")
    mem.addData(
      Doc(0L, t1, "src0", ts("2024-01-01 10:00:00")),
      Doc(1L, "too short", "src0", ts("2024-01-01 10:00:01"))) // curated out
    q.processAllAvailable()
    mem.addData(
      Doc(2L, t1, "src1", ts("2024-01-01 10:30:00")),           // dup of doc 0
      Doc(3L, goodText("bb"), "src1", ts("2024-01-01 10:30:01")))
    q.processAllAvailable()
    assert(spark.table("corpus").select("doc_id").as[Long].collect().toSet
      == Set(0L, 3L))

    // advance the watermark far past t1's state lifetime (1h delay): the
    // key is evicted, so a very late duplicate re-enters — the documented
    // bound of watermarked dedup (the batch sweep is the ground truth)
    mem.addData(Doc(4L, goodText("cc"), "src2", ts("2024-01-01 20:00:00")))
    q.processAllAvailable()
    mem.addData(Doc(5L, t1, "src2", ts("2024-01-01 20:00:01")))
    q.processAllAvailable()
    q.stop()
    assert(spark.table("corpus").select("doc_id").as[Long].collect().toSet
      == Set(0L, 3L, 4L, 5L))
  }

  test("rolling per-source stats count arrivals, kept docs and kept tokens") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Doc]
    val q = CorpusPipeline.sourceStats(CorpusPipeline.curate(mem.toDF()))
      .writeStream.format("memory").queryName("stats").outputMode("complete").start()
    mem.addData(
      Doc(0L, goodText("aa"), "src0", ts("2024-01-01 10:00:00")),
      Doc(1L, "too short", "src0", ts("2024-01-01 10:10:00")),
      Doc(2L, goodText("bb"), "src1", ts("2024-01-01 10:20:00")))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("stats")
      .select("source", "docs", "kept", "kept_tokens")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(got == Set(("src0", 2L, 1L, 25L), ("src1", 1L, 1L, 25L)))
  }

  case class DriftDoc(doc_id: Long, source: String, n_chars: Long, ingest_ts: Timestamp)

  test("driftStats: each window's PSI equals the batch psiDrift row exactly") {
    implicit val sqlCtx = spark.sqlContext
    // reference profile: s0 short docs, s1 long docs
    val reference = Seq(
      ("s0", 50L), ("s0", 60L), ("s0", 250L), ("s0", 70L),
      ("s1", 900L), ("s1", 950L), ("s1", 1100L)
    ).toDF("source", "n_chars")
    val mem = MemoryStream[DriftDoc]
    val q = CorpusPipeline.driftStats(mem.toDF(), reference)
      .writeStream.format("memory").queryName("drift").outputMode("complete").start()
    // window 1: s0 tracks its reference shape; window 2: s0 shifts long;
    // s9 never existed in the reference
    val w1 = Seq(
      DriftDoc(1L, "s0", 55L, ts("2024-01-01 10:00:00")),
      DriftDoc(2L, "s0", 65L, ts("2024-01-01 10:10:00")),
      DriftDoc(3L, "s0", 260L, ts("2024-01-01 10:20:00")),
      DriftDoc(4L, "s0", 75L, ts("2024-01-01 10:30:00")))
    val w2 = Seq(
      DriftDoc(5L, "s0", 950L, ts("2024-01-01 11:00:00")),
      DriftDoc(6L, "s0", 990L, ts("2024-01-01 11:10:00")),
      DriftDoc(7L, "s9", 10L, ts("2024-01-01 11:20:00")))
    mem.addData(w1: _*)
    q.processAllAvailable()
    mem.addData(w2: _*)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("drift")
      .select("source", "window_start", "psi", "n_new", "n_ref")
      .as[(String, Timestamp, Double, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    assert(got.size == 3)
    // batch twin per window: psiDrift(reference, windowDocs)
    def batchPsi(windowDocs: Seq[DriftDoc]): Map[String, Double] =
      graft.operators.Profiler.psiDrift(reference,
        windowDocs.map(d => (d.source, d.n_chars)).toDF("source", "n_chars"),
        "n_chars", "source")
        .as[(String, Double, Long, Long)].collect().map(r => r._1 -> r._2).toMap
    val b1 = batchPsi(w1); val b2 = batchPsi(w2)
    assert(got(("s0", ts("2024-01-01 10:00:00")))._1 == b1("s0"))
    assert(got(("s0", ts("2024-01-01 11:00:00")))._1 == b2("s0"))
    assert(got(("s9", ts("2024-01-01 11:00:00")))._1 == b2("s9"))
    // the tracking window is quiet, the shifted one alarms
    assert(got(("s0", ts("2024-01-01 10:00:00")))._1 < 0.1)
    assert(got(("s0", ts("2024-01-01 11:00:00")))._1 > 0.25)
    // totals: n_new counts the window, n_ref the static profile (0 for s9)
    assert(got(("s0", ts("2024-01-01 10:00:00")))._2 == 4L)
    assert(got(("s0", ts("2024-01-01 10:00:00")))._3 == 4L)
    assert(got(("s9", ts("2024-01-01 11:00:00")))._3 == 0L)
  }

  case class EmbDoc(doc_id: Long, source: String, embedding: Seq[Float],
                    ingest_ts: Timestamp)

  test("embeddingDriftStats: each window's row equals the batch embeddingDrift row exactly") {
    implicit val sqlCtx = spark.sqlContext
    // reference profile: s0 vectors near e0, s1 vectors near e1
    val reference = Seq(
      ("s0", Seq(1.0f, 0.1f, 0.0f)), ("s0", Seq(0.9f, 0.2f, 0.1f)),
      ("s0", Seq(1.1f, 0.0f, 0.0f)),
      ("s1", Seq(0.0f, 1.0f, 0.3f)), ("s1", Seq(0.1f, 0.9f, 0.2f))
    ).toDF("source", "embedding")
    val mem = MemoryStream[EmbDoc]
    val q = CorpusPipeline.embeddingDriftStats(mem.toDF(), reference, dim = 3)
      .writeStream.format("memory").queryName("edrift").outputMode("complete").start()
    // window 1: s0 tracks its reference; window 2: s0 walks to -e0,
    // s9 never existed in the reference (one-sided NULL rule)
    val w1 = Seq(
      EmbDoc(1L, "s0", Seq(1.0f, 0.1f, 0.05f), ts("2024-01-01 10:00:00")),
      EmbDoc(2L, "s0", Seq(0.95f, 0.15f, 0.0f), ts("2024-01-01 10:20:00")))
    val w2 = Seq(
      EmbDoc(3L, "s0", Seq(-1.0f, 0.8f, 0.9f), ts("2024-01-01 11:00:00")),
      EmbDoc(4L, "s0", Seq(-0.9f, 0.9f, 1.0f), ts("2024-01-01 11:10:00")),
      EmbDoc(5L, "s9", Seq(0.5f, 0.5f, 0.5f), ts("2024-01-01 11:20:00")))
    mem.addData(w1: _*)
    q.processAllAvailable()
    mem.addData(w2: _*)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("edrift")
      .select("source", "window_start", "n_old", "n_new", "shift_l2", "top_shift_dim")
      .as[(String, Timestamp, Option[Long], Long, Option[Double], Option[Long])]
      .collect().map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6))).toMap
    assert(got.size == 3)
    // batch twin per window: embeddingDrift(referenceGroup, windowDocs)
    def batchRow(windowDocs: Seq[EmbDoc]): Map[String, (Option[Long], Option[Long], Option[Double], Option[Long])] =
      graft.operators.Ann.embeddingDrift(reference,
        windowDocs.map(d => (d.source, d.embedding)).toDF("source", "embedding"),
        "source")
        .as[(String, Option[Long], Option[Long], Option[Double], Option[Long])]
        .collect().map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    val b1 = batchRow(w1); val b2 = batchRow(w2)
    // bit-equal rows: same n, same round-12 shift, same argmax dim
    assert(got(("s0", ts("2024-01-01 10:00:00"))) ==
      ((b1("s0")._1, b1("s0")._2.get, b1("s0")._3, b1("s0")._4)))
    assert(got(("s0", ts("2024-01-01 11:00:00"))) ==
      ((b2("s0")._1, b2("s0")._2.get, b2("s0")._3, b2("s0")._4)))
    // the tracking window is quiet, the walked one alarms
    assert(got(("s0", ts("2024-01-01 10:00:00")))._3.get < 0.2)
    assert(got(("s0", ts("2024-01-01 11:00:00")))._3.get > 1.0)
    // one-sided group: NULL shift, NULL top dim — batch rule, streamed
    val s9 = got(("s9", ts("2024-01-01 11:00:00")))
    assert(s9._1.isEmpty && s9._3.isEmpty && s9._4.isEmpty && s9._2 == 1L)
  }

  case class EmbDoc1(doc_id: Long, source: String, embedding: Seq[Float],
                     ingest_ts: Timestamp)

  test("embeddingDriftStats: dim=1 analyzes and runs (greatest() needs two args)") {
    implicit val sqlCtx = spark.sqlContext
    val reference = Seq(("s0", Seq(1.0f)), ("s0", Seq(1.2f))).toDF("source", "embedding")
    val mem = MemoryStream[EmbDoc1]
    // the dim=1 argmax is trivially dim 0 — the regression was an
    // ANALYSIS-time failure (greatest() rejects a single argument), so
    // starting + draining the stream is the essential assertion
    val q = CorpusPipeline.embeddingDriftStats(mem.toDF(), reference, dim = 1)
      .writeStream.format("memory").queryName("edrift1").outputMode("complete").start()
    mem.addData(EmbDoc1(1L, "s0", Seq(-1.0f), ts("2024-01-01 10:00:00")))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("edrift1")
      .select("source", "shift_l2", "top_shift_dim")
      .as[(String, Option[Double], Option[Long])].collect()
    assert(got.length == 1)
    assert(got.head._2.exists(_ > 0.5), s"1-dim shift must register: ${got.head}")
    assert(got.head._3.contains(0L), "argmax over one dim is dim 0")
  }

  test("video corpus stream: real MJPEG AVIs curate, near-dups drop by frame dHash, replay no-ops") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.ViewMaintenance
    val base = tempDir("graft-video-corpus")
    val (corpusDir, storeDir, ckpt) = (s"$base/corpus", s"$base/sigs", s"$base/ckpt")

    // v1: 3-frame MJPEG AVI; v4: garbage payload (quarantine);
    // v2: v1's frames RE-ENCODED at q0.7 — different bytes, same footage;
    // v3: unrelated frames; v5: re-encode of v3 arriving in v3's OWN batch
    val v1 = TestMedia.mjpegAvi(0 until 3, 0.9f)
    val v2 = TestMedia.mjpegAvi(0 until 3, 0.7f)
    val v3 = TestMedia.mjpegAvi(10 until 13, 0.9f)
    val v5 = TestMedia.mjpegAvi(10 until 13, 0.7f)
    val v4 = Array.tabulate[Byte](64)(i => (i * 7).toByte)

    val mem = MemoryStream[Media]
    val q = CorpusPipeline.startVideoCorpus(mem.toDF(), corpusDir, storeDir, ckpt)
    mem.addData(
      Media(1L, "video", v1, ts("2024-01-01 10:00:00")),
      Media(4L, "video", v4, ts("2024-01-01 10:00:01")))
    q.processAllAvailable()
    mem.addData(
      Media(2L, "video", v2, ts("2024-01-01 10:30:00")),
      Media(3L, "video", v3, ts("2024-01-01 10:30:01")),
      Media(5L, "video", v5, ts("2024-01-01 10:30:02")))
    q.processAllAvailable()
    q.stop()

    def corpus() = ViewMaintenance.readAppendView(spark, corpusDir)
      .select("media_id", "keep", "reason", "n_frames")
      .as[(Long, Boolean, String, Option[Int])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val got = corpus()
    assert(got.keySet == Set(1L, 2L, 3L, 4L, 5L))
    assert(got(1L) == ((true, "ok", Some(3))))
    // undecodable payload is audited, not silently vanished
    assert(got(4L)._1 == false && got(4L)._2 == "undecodable")
    // the re-encoded copy of batch-1 footage drops against the HISTORY
    // store — no byte matches, the frame dHashes carry it
    assert(got(2L) == ((false, "near_dup_store", Some(3))))
    // unrelated footage is kept; its within-batch re-encode drops by the
    // batch-pair rule (later id loses)
    assert(got(3L) == ((true, "ok", Some(3))))
    assert(got(5L) == ((false, "near_dup_batch", Some(3))))
    // only KEPT videos' sigs fold into the history store: v1+v3 frames
    val storedSigs = ViewMaintenance.readView(spark, storeDir)
      .select("h").as[Long].collect().toSet
    val expectSigs = CorpusPipeline.videoSignatures(
      Seq(Media(1L, "video", v1, ts("2024-01-01 10:00:00")),
        Media(3L, "video", v3, ts("2024-01-01 10:30:01"))).toDF())
      .select("dhash").as[Long].collect().toSet
    assert(storedSigs == expectSigs)
    // replay of an already-committed batch is a detected no-op: neither
    // the corpus partition nor the store changes (the at-least-once
    // foreachBatch contract)
    val batch2 = Seq(
      Media(2L, "video", v2, ts("2024-01-01 10:30:00")),
      Media(3L, "video", v3, ts("2024-01-01 10:30:01")),
      Media(5L, "video", v5, ts("2024-01-01 10:30:02"))).toDF()
    CorpusPipeline.mergeVideoCorpusBatch(spark, batch2, corpusDir, storeDir,
      batchId = 1L)
    assert(corpus() == got)
    assert(ViewMaintenance.readView(spark, storeDir)
      .select("h").as[Long].collect().toSet == expectSigs)
  }

  test("image corpus stream: cross-FORMAT re-encodes drop by dHash, replay no-ops") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.ViewMaintenance
    val base = tempDir("graft-image-corpus")
    val (corpusDir, storeDir, ckpt) = (s"$base/corpus", s"$base/sigs", s"$base/ckpt")
    def rgbOf(img: java.awt.image.BufferedImage): Array[Byte] =
      Array.tabulate[Byte](img.getWidth * img.getHeight * 3) { i =>
        ((img.getRGB((i / 3) % img.getWidth, (i / 3) / img.getWidth)
          >> ((2 - i % 3) * 8)) & 0xff).toByte
      }
    def ppmOf(img: java.awt.image.BufferedImage): Array[Byte] =
      s"P6\n${img.getWidth} ${img.getHeight}\n255\n".getBytes("US-ASCII") ++ rgbOf(img)
    def imgFmt(img: java.awt.image.BufferedImage, fmt: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, bos); bos.toByteArray
    }
    // i1: PPM original; i2: the SAME pixels as lossy JPEG (cross-format,
    // zero byte overlap); i3: unrelated image as PNG; i5: i3's pixels as
    // BMP in i3's OWN batch; i4: garbage (quarantine)
    val f0 = TestMedia.frame(0, 64, 48)
    val f10 = TestMedia.frame(10, 64, 48)
    val i1 = ppmOf(f0)
    val i2 = TestMedia.jpegBytes(f0, 0.9f)
    val i3 = imgFmt(f10, "png")
    val i5 = imgFmt(f10, "bmp")
    val i4 = Array.tabulate[Byte](64)(i => (i * 7).toByte)

    val mem = MemoryStream[Media]
    val q = CorpusPipeline.startImageCorpus(mem.toDF(), corpusDir, storeDir, ckpt)
    mem.addData(
      Media(1L, "image", i1, ts("2024-01-01 10:00:00")),
      Media(4L, "image", i4, ts("2024-01-01 10:00:01")))
    q.processAllAvailable()
    mem.addData(
      Media(2L, "image", i2, ts("2024-01-01 10:30:00")),
      Media(3L, "image", i3, ts("2024-01-01 10:30:01")),
      Media(5L, "image", i5, ts("2024-01-01 10:30:02")))
    q.processAllAvailable()
    q.stop()

    def corpus() = ViewMaintenance.readAppendView(spark, corpusDir)
      .select("media_id", "keep", "reason")
      .as[(Long, Boolean, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val got = corpus()
    assert(got.keySet == Set(1L, 2L, 3L, 4L, 5L))
    assert(got(1L) == ((true, "ok")))
    assert(got(4L) == ((false, "undecodable")))
    // the JPEG re-encode of stored PPM pixels drops against the HISTORY —
    // different container, different bytes, the dHash carries it
    assert(got(2L) == ((false, "near_dup_store")))
    // unrelated PNG kept (the decodePng front door); its BMP twin drops
    // within-batch (keep-min)
    assert(got(3L) == ((true, "ok")))
    assert(got(5L) == ((false, "near_dup_batch")))
    // store holds exactly the kept images' sigs
    val stored = ViewMaintenance.readView(spark, storeDir)
      .select("h").as[Long].collect().toSet
    val expect = graft.multimodal.BinaryPipeline.imageHashes(
      Seq((1L, "image", i1), (3L, "image", i3)).toDF("media_id", "modality", "payload"))
      .select("dhash").as[Long].collect().toSet
    assert(stored == expect)
    // committed-batch replay is a detected no-op
    CorpusPipeline.mergeImageCorpusBatch(spark,
      Seq(Media(2L, "image", i2, ts("2024-01-01 10:30:00")),
        Media(3L, "image", i3, ts("2024-01-01 10:30:01")),
        Media(5L, "image", i5, ts("2024-01-01 10:30:02"))).toDF(),
      corpusDir, storeDir, batchId = 1L)
    assert(corpus() == got)
    // the yield audit reads straight off the verdict rows: per-batch
    // per-reason counts, kept only under "ok"
    val audit = CorpusPipeline.corpusAudit(spark, corpusDir)
      .as[(Long, String, Long, Long)].collect().toSet
    assert(audit == Set(
      (0L, "ok", 1L, 1L), (0L, "undecodable", 1L, 0L),
      (1L, "near_dup_store", 1L, 0L), (1L, "near_dup_batch", 1L, 0L),
      (1L, "ok", 1L, 1L)))
  }

  test("audio corpus stream: requantized cross-batch copies drop by window print, replay no-ops") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.ViewMaintenance
    val base = tempDir("graft-audio-corpus")
    val (corpusDir, storeDir, ckpt) = (s"$base/corpus", s"$base/prints", s"$base/ckpt")

    // a1: PCM16 take; a2: the SAME take REQUANTIZED to PCM8 — zero byte
    // overlap, same audio; a3: unrelated take; a5: a3's PCM8 requantization
    // arriving in a3's OWN batch; a4: garbage payload (quarantine)
    val take0 = TestMedia.toneTake(0)
    val take5 = TestMedia.toneTake(5)
    val a1 = TestMedia.wav16(take0)
    val a2 = TestMedia.wav8(take0)
    val a3 = TestMedia.wav16(take5)
    val a5 = TestMedia.wav8(take5)
    val a4 = Array.tabulate[Byte](64)(i => (i * 7).toByte)
    assert(!a1.sameElements(a2)) // the copy shares no payload bytes shape

    val mem = MemoryStream[Media]
    val q = CorpusPipeline.startAudioCorpus(mem.toDF(), corpusDir, storeDir, ckpt)
    mem.addData(
      Media(1L, "audio", a1, ts("2024-01-01 10:00:00")),
      Media(4L, "audio", a4, ts("2024-01-01 10:00:01")))
    q.processAllAvailable()
    mem.addData(
      Media(2L, "audio", a2, ts("2024-01-01 10:30:00")),
      Media(3L, "audio", a3, ts("2024-01-01 10:30:01")),
      Media(5L, "audio", a5, ts("2024-01-01 10:30:02")))
    q.processAllAvailable()
    q.stop()

    def corpus() = ViewMaintenance.readAppendView(spark, corpusDir)
      .select("media_id", "keep", "reason", "n_windows")
      .as[(Long, Boolean, String, Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val got = corpus()
    assert(got.keySet == Set(1L, 2L, 3L, 4L, 5L))
    assert(got(1L) == ((true, "ok", Some(4L)))) // 1s @ 250ms windows
    // undecodable payload is audited, not silently vanished
    assert(got(4L)._1 == false && got(4L)._2 == "undecodable")
    // the requantized copy of batch-1 material drops against the HISTORY
    // store — no byte matches, the Haitsma–Kalker prints carry it
    assert(got(2L) == ((false, "near_dup_store", Some(4L))))
    // unrelated take is kept; its within-batch requantization drops by
    // the batch-pair rule (later id loses)
    assert(got(3L) == ((true, "ok", Some(4L))))
    assert(got(5L) == ((false, "near_dup_batch", Some(4L))))
    // the store holds EXACTLY the kept clips' distinct prints: a1 + a3
    val storedPrints = ViewMaintenance.readView(spark, storeDir)
      .select("h").as[Long].collect().toSet
    val expectPrints = CorpusPipeline.audioSignatures(
      Seq(Media(1L, "audio", a1, ts("2024-01-01 10:00:00")),
        Media(3L, "audio", a3, ts("2024-01-01 10:30:01"))).toDF())
      .select("fp").as[Long].collect().toSet
    assert(storedPrints == expectPrints)
    // replay of an already-committed batch is a detected no-op
    val batch2 = Seq(
      Media(2L, "audio", a2, ts("2024-01-01 10:30:00")),
      Media(3L, "audio", a3, ts("2024-01-01 10:30:01")),
      Media(5L, "audio", a5, ts("2024-01-01 10:30:02"))).toDF()
    CorpusPipeline.mergeAudioCorpusBatch(spark, batch2, corpusDir, storeDir,
      batchId = 1L)
    assert(corpus() == got)
    assert(ViewMaintenance.readView(spark, storeDir)
      .select("h").as[Long].collect().toSet == expectPrints)
  }
}
