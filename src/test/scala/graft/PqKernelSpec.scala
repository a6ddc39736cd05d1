package graft

import graft.functions.PqOps
import graft.operators.Pq
import org.apache.spark.sql.functions._

/** Parity pins for the fused PQ code-assignment kernel against the
  * `greatest`-tree Column reference spelling it replaced
  * ([[Pq.codeArrayRef]] / [[Pq.residualCodeArrayRef]]) — same argmax, same
  * tie-break, same arithmetic to the bit, on corpus rows AND the hostile
  * envelope (short/empty vectors, NaN/Inf elements, exact ties).
  */
class PqKernelSpec extends SparkSpec {
  import spark.implicits._

  private def normSqD(v: Array[Float]): Double = {
    var s = 0.0d; var i = 0
    while (i < v.length) { s += v(i).toDouble * v(i); i += 1 }
    s
  }

  private def offsetsOf(cb: Seq[Seq[Array[Float]]]): Seq[Array[Double]] =
    cb.map(_.map(normSqD).toArray)

  test("fused pqCodes equals the greatest-tree reference on corpus rows") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cb = Pq.trainCodebooks(emb.where($"vec_id" >= 5), 64, 8, 16, 2)
    val both = emb.select(
        PqOps.pqCodes($"embedding", cb, 8, offsetsOf(cb)).as("k"),
        Pq.codeArrayRef($"embedding", 64, cb).as("r"))
      .as[(Seq[Int], Seq[Int])].collect()
    assert(both.nonEmpty)
    both.foreach { case (k, r) => assert(k == r, s"kernel=$k ref=$r") }
  }

  test("fused pqCodes hostile envelope: short/empty vectors, NaN/Inf, exact ties") {
    // m=2, subDim=2, ksub=3; centroids 1 and 2 of subspace 0 are
    // IDENTICAL → a guaranteed score tie that must break to the lower ci
    // in both spellings
    val cb: Seq[Seq[Array[Float]]] = Seq(
      Seq(Array(1f, 0f), Array(0.5f, 0.5f), Array(0.5f, 0.5f)),
      Seq(Array(0f, 0f), Array(-1f, 2f), Array(3f, -4f)))
    val rows: Seq[Array[java.lang.Float]] = Seq(
      Array[java.lang.Float](1f, 2f, 3f, 4f),        // full length
      Array[java.lang.Float](1f, 2f, 3f),            // short: subspace 1 truncated
      Array[java.lang.Float](5f),                    // shorter than one subspace
      Array.empty[java.lang.Float],                  // empty → offset-only argmax
      Array[java.lang.Float](0f, 0f, 0f, 0f),        // zero vector → tie on subspace 0
      Array[java.lang.Float](Float.NaN, 1f, 2f, 3f), // NaN score → NaN greatest
      Array[java.lang.Float](Float.PositiveInfinity, 1f, 2f, Float.NegativeInfinity))
    val df = rows.map(Tuple1(_)).toDF("e")
      .select(col("e").cast("array<float>").as("e"))
    val both = df.select(
        PqOps.pqCodes($"e", cb, 2, offsetsOf(cb)).as("k"),
        Pq.codeArrayRef($"e", 4, cb).as("r"))
      .as[(Seq[Int], Seq[Int])].collect()
    assert(both.length == rows.length)
    both.foreach { case (k, r) => assert(k == r, s"kernel=$k ref=$r") }
    // null embedding → kernel NULL (the reference spelling degenerates to
    // an all-null score tie there; the arm is unreachable from callers —
    // documented totality improvement, not a parity case)
    val nr = Seq(Option.empty[Array[Float]]).toDF("e")
      .select(PqOps.pqCodes($"e", cb, 2, offsetsOf(cb)).as("k")).collect().head
    assert(nr.isNullAt(0))
  }

  test("fused residual pqCodes equals the reference on corpus rows x every cid") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cb = Pq.trainCodebooks(emb.where($"vec_id" >= 5), 64, 8, 16, 2)
    val cents: Array[(Long, Array[Float], Double)] = emb.orderBy("vec_id").limit(3)
      .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect()
      .map { case (id, v) => (id, v, math.sqrt(normSqD(v))) }
    val withCid = emb.limit(40).crossJoin(
      cents.map(_._1).toSeq.toDF("cid"))
    val m = cb.length
    val subDim = 64 / m
    // offsets recomputed exactly as the operator does (left-to-right
    // double fold, matching dotArr) to keep this a pure kernel test
    val offsetsByCid2 = cents.toSeq.map { case (_, ce, _) =>
      (0 until m).map { j =>
        cb(j).map { c =>
          val sub = ce.slice(j * subDim, (j + 1) * subDim)
          var s = 0.0d; var i = 0
          val n = math.min(sub.length, c.length)
          while (i < n) { s += sub(i).toDouble * c(i); i += 1 }
          2.0d * s + normSqD(c)
        }.toArray
      }
    }
    val both = withCid.select(
        PqOps.pqCodesResidual($"embedding", $"cid", cb, subDim,
          cents.map(_._1), offsetsByCid2).as("k"),
        Pq.residualCodeArrayRef($"embedding", $"cid", 64, cb, cents).as("r"))
      .as[(Seq[Int], Seq[Int])].collect()
    assert(both.nonEmpty)
    both.foreach { case (k, r) => assert(k == r, s"kernel=$k ref=$r") }
    // a cid outside the table → NULL, loud-by-absence (unreachable from
    // the operators: lists carry cids from the same centroid collect)
    val unknown = emb.limit(1).select($"embedding", lit(-1L).as("cid"))
      .select(PqOps.pqCodesResidual($"embedding", $"cid", cb, subDim,
        cents.map(_._1), offsetsByCid2).as("k")).collect().head
    assert(unknown.isNullAt(0))
  }

  test("an empty sub-codebook is rejected when the kernel is built") {
    // subspace 1 has no centroid: there is no code to assign, so both
    // kernels refuse the codebook instead of yielding null codes
    val cb: Seq[Seq[Array[Float]]] = Seq(Seq(Array(1f, 0f)), Seq.empty)
    val offsets = offsetsOf(cb)
    val flat = intercept[IllegalArgumentException](PqOps.pqCodes($"e", cb, 2, offsets))
    assert(flat.getMessage.contains("empty sub-codebook"))
    val residual = intercept[IllegalArgumentException](
      PqOps.pqCodesResidual($"e", $"cid", cb, 2, Array(7L), Seq(offsets)))
    assert(residual.getMessage.contains("empty sub-codebook"))
  }

  test("fused sq8Encode equals the HOF reference on corpus rows") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val (mins, maxs) = Pq.sq8Stats(emb, 64)
    val k = Pq.sq8Encode(emb, 64, mins, maxs)
    val r = Pq.sq8EncodeRef(emb, 64, mins, maxs)
    val joined = k.as("k").join(r.as("r"), "vec_id")
      .where(!(col("k.codes") <=> col("r.codes")) ||
        !(col("k.dnorm") <=> col("r.dnorm")))
    assert(joined.count() == 0)
    assert(k.count() > 0)
  }

  test("fused sq8Encode hostile envelope: short/long/null-elem vectors") {
    val mins = Array(0f, -1f, 2f)
    val maxs = Array(1f, 1f, 2f) // dim 2: mx == mn -> scale 1 arm
    val rows: Seq[Array[java.lang.Float]] = Seq(
      Array[java.lang.Float](0.4f, 0.6f, 2f),               // full length
      Array[java.lang.Float](0.5f, -0.5f),                  // short -> pad arm
      Array.empty[java.lang.Float],                         // empty
      Array[java.lang.Float](9f, -9f, 9f),                  // clamps 255/0
      Array[java.lang.Float](0.5f, null, 2f),               // null element
      Array[java.lang.Float](0.1f, 0.2f, 2f, 7f))           // LONGER than dim -> dnorm null
    val df = rows.zipWithIndex.map { case (e, i) => (i.toLong, e) }
      .toDF("vec_id", "e")
      .select(col("vec_id"), col("e").cast("array<float>").as("embedding"))
    val k = Pq.sq8Encode(df, 3, mins, maxs)
    val r = Pq.sq8EncodeRef(df, 3, mins, maxs)
    val bad = k.as("k").join(r.as("r"), "vec_id")
      .where(!(col("k.codes") <=> col("r.codes")) ||
        !(col("k.dnorm") <=> col("r.dnorm")))
    assert(bad.count() == 0)
    // null embedding -> kernel row NULL struct -> codes/dnorm null, same
    // as the reference's zip_with(null) null propagation
    val nk = Seq((0L, Option.empty[Array[Float]])).toDF("vec_id", "embedding")
    val nb = Pq.sq8Encode(nk, 3, mins, maxs).as("k")
      .join(Pq.sq8EncodeRef(nk, 3, mins, maxs).as("r"), "vec_id")
      .where(!(col("k.codes") <=> col("r.codes")) ||
        !(col("k.dnorm") <=> col("r.dnorm"))).count()
    assert(nb == 0)
    // NaN/Inf elements: under ANSI the REFERENCE spelling throws
    // (CAST_OVERFLOW on the double->int cast); the kernel clamps to the
    // nearest code instead -- a documented totality improvement (the
    // PqCodesExpr null-arm precedent), unreachable from the clean
    // embeddings corpus (the corpus parity test above covers real data)
    val weird = Seq((0L, Array(Float.NaN, Float.PositiveInfinity, 2f)))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val wk = Pq.sq8Encode(weird, 3, mins, maxs).select("codes").as[Seq[Int]].collect()
    assert(wk.head == Seq(0, 255, 0))
  }
}
