package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** DeepWalk/node2vec-style graph embeddings, trained IN the engine: the
  * [[Graph.randomWalks]] corpus becomes skip-gram (center, context) pairs,
  * negatives come from a hash (no sampler state), and SGNS trains by
  * full-batch gradient descent whose per-(node, dim) gradient sums ride
  * the exact decimal protocol — so training is BIT-DETERMINISTIC under any
  * partitioning (the QualityClassifier doctrine: a reproducible model
  * artifact, not a "close enough" one). The embeddings feed the existing
  * ANN stack (cosine top-k, IVF, kNN graph) — graph → walks → vectors →
  * similarity search without leaving the engine.
  *
  * Scale notes: pair generation is a bounded self-join within walks
  * (|offset| ≤ window over length-L sentences). The vocabulary index and
  * the embedding matrices are (|V|·dim)-sized DataFrames — they shuffle as
  * (node, array) rows, never collect to the driver. Per epoch ONE eager
  * job: two embedding joins (AQE-broadcastable while |V|·dim fits, plain
  * hash joins beyond) feed a single tagged gradient pass — both matrices'
  * contributions explode in one scan, sum exactly per (matrix, node, dim),
  * and assemble into a 2|V|-row gradient-array frame, the only thing
  * checkpointed per epoch (the fat sample frame has exactly one consumer
  * and is never materialized). Updates are a node-keyed join + zip_with —
  * the embedding array itself never explodes or re-assembles. Full-batch
  * GD (every epoch sees every pair; deterministic, no mini-batch order to
  * pin). Hash-negatives may occasionally hit the true context — standard
  * SGNS accepts that bias at k ≪ |V|.
  */
object Node2Vec {

  /** Skip-gram pairs from a walk table (start, walk, step, node): every
    * ordered pair within `window` steps of the same (start, walk)
    * sentence. Bounded: ≤ 2·window pairs per position.
    */
  def walkPairs(walks: DataFrame, window: Int = 2): DataFrame = {
    // sever the walk table's lineage AND its captured constraints before
    // self-joining: localCheckpoint of a projection-over-join snapshots
    // constraints that reference pre-projection attributes, and Spark's
    // Union constraint rewriting then dies with key-not-found on any
    // later checkpoint of a plan containing those LogicalRDDs. An RDD
    // round-trip builds a constraint-free LogicalRDD; the eager
    // localCheckpoint on top materializes the corpus once (training
    // re-reads it anyway).
    val flat = walks.select("start", "walk", "step", "node")
    val w = flat.sparkSession.createDataFrame(flat.rdd, flat.schema)
      .localCheckpoint(true)
    val a = w.select(col("start").as("s1"), col("walk").as("w1"),
      col("step").as("p1"), col("node").as("center"))
    val b = w.select(col("start").as("s2"), col("walk").as("w2"),
      col("step").as("p2"), col("node").as("context"))
    a.join(b, col("s1") === col("s2") && col("w1") === col("w2") &&
        col("p1") =!= col("p2") && abs(col("p1") - col("p2")) <= window)
      .select(col("center"), col("context"))
  }

  private def sigmoid(x: Column): Column = lit(1.0d) / (lit(1.0d) + exp(-x))

  /** Deterministic hash-initialized embedding matrix: value in
    * [−0.5/dim, 0.5/dim) from xxhash64(node, dim, salt) — the standard
    * word2vec init range, reproducible anywhere.
    */
  private def initEmbedding(nodes: DataFrame, dim: Int, salt: String): DataFrame =
    nodes.select(col("node"),
      array((0 until dim).map { d =>
        ((pmod(xxhash64(col("node"), lit(d), lit(salt)), lit(1000000L))
          .cast("double") / 1000000.0d) - 0.5d) / dim.toDouble
      }: _*).as("vec"))

  /** Train SGNS over (center, context) pairs. Returns (node, embedding)
    * with the CENTER matrix (the convention word2vec ships), values
    * rounded 9 dp for a stable artifact.
    */
  def trainSgns(pairs: DataFrame, dim: Int = 8, epochs: Int = 3,
                negatives: Int = 2, lr: Double = 0.5,
                checkpointDir: Option[String] = None,
                checkpointEvery: Int = 5): DataFrame =
    trainSgnsMatrices(pairs, dim, epochs, negatives, lr,
      checkpointDir, checkpointEvery)._1
      .select(col("node"),
        transform(col("vec"), v => round(v, 9)).as("embedding"))
      .orderBy("node")

  /** Both matrices (center, context) unrounded — the spec/monitoring
    * surface ([[sgnsLoss]] needs matched U/V).
    */
  def trainSgnsMatrices(pairs: DataFrame, dim: Int = 8, epochs: Int = 3,
                        negatives: Int = 2, lr: Double = 0.5,
                        checkpointDir: Option[String] = None,
                        checkpointEvery: Int = 5): (DataFrame, DataFrame) = {
    require(dim >= 1 && epochs >= 1 && negatives >= 0,
      s"bad knobs: dim=$dim epochs=$epochs negatives=$negatives")
    def cut(df: DataFrame, round: Int) =
      Checkpoints.cut(df, round, checkpointDir, checkpointEvery)
    val p = pairs.select(col("center"), col("context")).persist()
    val vocabNodes = p.select(col("center").as("node"))
      .unionByName(p.select(col("context").as("node"))).distinct()
    // vocabulary index for hash-negatives: |V| rows, one global window on
    // a node-sized frame (≪ corpus — the dataset-card convention)
    val vocab = cut(vocabNodes.select(col("node"),
      (row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy("node")) - 1).cast("long").as("idx")), 0).persist()
    val vCount = vocab.count()
    // samples: the positive pair + `negatives` hash-picked others per pair
    val negs = (1 to negatives).map { j =>
      p.select(col("center"),
        pmod(xxhash64(col("center"), col("context"), lit(j)), lit(vCount))
          .as("idx"))
        .join(vocab, "idx")
        .select(col("center"), col("node").as("other"), lit(0.0d).as("label"))
    }
    val samples = cut(negs.foldLeft(
      p.select(col("center"), col("context").as("other"), lit(1.0d).as("label")))(
      _ unionByName _), 0).persist()
    val d28 = (c: Column) => c.cast("decimal(28,18)")
    // BOTH matrices live in ONE m-tagged 2|V|-row frame: per epoch the
    // updated frame is cut (eagerly truncated), after which the previous
    // epoch's matrices AND gradient frame have no live reference and
    // their blocks are RELEASED — executor storage stays flat across
    // epochs instead of growing one matrix + one gradient frame per
    // epoch (round-8 advice). Cost: one extra eager job per epoch over a
    // 2|V|-row array frame — negligible next to the gradient scan.
    var emb = cut(
      initEmbedding(vocabNodes, dim, "u").withColumn("m", lit("u"))
        .unionByName(initEmbedding(vocabNodes, dim, "v").withColumn("m", lit("v"))), 0)
    var prevEmb = emb
    for (ep <- 1 to epochs) {
      val scored = samples
        .join(emb.where(col("m") === "u")
          .select(col("node").as("center"), col("vec").as("cu")), "center")
        .join(emb.where(col("m") === "v")
          .select(col("node").as("other"), col("vec").as("cv")), "other")
        .withColumn("g",
          sigmoid(aggregate(zip_with(col("cu"), col("cv"), _ * _),
            lit(0.0d), _ + _)) - col("label"))
      // BOTH matrices' gradient contributions ride ONE tagged pass over
      // the scored samples (m='u' keys the center row by g·cv, m='v' the
      // context row by g·cu), explode to (m, node, dim, decimal) and sum
      // EXACTLY — partition-order independent, hence bit-deterministic;
      // the update applies the per-node MEAN gradient (sum / samples
      // seen), so a hub's hundreds of contributions don't multiply the
      // step size into divergence — the count divisor is exact, the one
      // double division deterministic. Only this 2|V|-row array frame is
      // materialized per epoch (it has two consumers); the fat sample
      // frame is consumed exactly once and never checkpointed.
      val garr = cut(scored
        .select(explode(array(
          struct(lit("u").as("m"), col("center").as("node"),
            transform(col("cv"), v => col("g") * v).as("c")),
          struct(lit("v").as("m"), col("other").as("node"),
            transform(col("cu"), v => col("g") * v).as("c")))).as("e"))
        .select(col("e.m").as("m"), col("e.node").as("node"),
          posexplode(col("e.c")).as(Seq("dim", "c")))
        .groupBy("m", "node", "dim")
        .agg(sum(d28(col("c"))).as("grad"), count(lit(1)).as("n"))
        .groupBy("m", "node")
        .agg(transform(sort_array(collect_list(struct(col("dim"),
          (col("grad").cast("double") / col("n").cast("double")).as("d")))),
          s => s.getField("d")).as("garr")), ep)
      // (m, node)-keyed join + zip_with update: the embedding array never
      // explodes or re-assembles; a node absent from the gradient frame
      // (never sampled on that side this epoch) keeps its vector
      val newEmb = cut(emb
        .join(garr, Seq("m", "node"), "left")
        .select(col("m"), col("node"),
          when(col("garr").isNull, col("vec"))
            .otherwise(zip_with(col("vec"), col("garr"),
              (v, g) => v - lit(lr) * g)).as("vec")), ep)
      // newEmb is MATERIALIZED (truncated in local mode; cached with
      // lineage back to the last reliable checkpoint in dir-mode), so
      // last epoch's matrices and this epoch's gradient frame are dead —
      // release, keeping storage flat
      Checkpoints.release(prevEmb)
      Checkpoints.release(garr)
      prevEmb = newEmb
      emb = newEmb
    }
    samples.unpersist(); vocab.unpersist(); p.unpersist()
    (emb.where(col("m") === "u").select("node", "vec"),
     emb.where(col("m") === "v").select("node", "vec"))
  }

  /** Hash-initialized matrices before any epoch — the loss baseline the
    * specs compare against.
    */
  def initMatrices(pairs: DataFrame, dim: Int = 8): (DataFrame, DataFrame) = {
    val p = pairs.select(col("center"), col("context"))
    val vocabNodes = p.select(col("center").as("node"))
      .unionByName(p.select(col("context").as("node"))).distinct()
    (initEmbedding(vocabNodes, dim, "u"), initEmbedding(vocabNodes, dim, "v"))
  }

  /** Full-batch SGNS loss over the sample frame — the monitoring hook the
    * specs use (−Σ log σ(±dot); exact label algebra folded in).
    */
  def sgnsLoss(pairs: DataFrame, embU: DataFrame, embV: DataFrame,
               negatives: Int = 2): Double = {
    val p = pairs.select(col("center"), col("context"))
    val vocab = p.select(col("center").as("node"))
      .unionByName(p.select(col("context").as("node"))).distinct()
      .select(col("node"),
        (row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy("node")) - 1).cast("long").as("idx"))
    val vCount = vocab.count()
    val negs = (1 to negatives).map { j =>
      p.select(col("center"),
        pmod(xxhash64(col("center"), col("context"), lit(j)), lit(vCount)).as("idx"))
        .join(vocab, "idx")
        .select(col("center"), col("node").as("other"), lit(0.0d).as("label"))
    }
    val samples = negs.foldLeft(
      p.select(col("center"), col("context").as("other"), lit(1.0d).as("label")))(
      _ unionByName _)
    val dot = aggregate(zip_with(col("cu"), col("cv"), _ * _), lit(0.0d), _ + _)
    val s = sigmoid(dot)
    samples
      .join(embU.select(col("node").as("center"), col("vec").as("cu")), "center")
      .join(embV.select(col("node").as("other"), col("vec").as("cv")), "other")
      .select((-(col("label") * log(greatest(s, lit(1e-12d))) +
        (lit(1.0d) - col("label")) * log(greatest(lit(1.0d) - s, lit(1e-12d)))))
        .as("l"))
      .agg(sum("l")).head().getDouble(0)
  }
}
