package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Table profiling + data-quality assertion reports — the warehouse-side
  * "dataset card": what an operator of the indexer (or a curator of a
  * training corpus) checks before trusting a table. The reference's import
  * procedure embeds exactly these invariants procedurally (complete blocks,
  * no duplicate staging rows, parent/child consistency —
  * Persistence/ImportProcedure.cs); this surfaces them as queryable frames.
  *
  * Scale shapes: [[profile]] is ONE scan of the table — per-column
  * aggregates in a single `agg` (Catalyst plans the multi-distinct via one
  * Expand: k column-profiles cost one pass + a k-way expand shuffle, never
  * k scans), unpivoted map-only into one row per column. [[dqReport]] is a
  * union of bounded partial-agg / anti-join legs, each the engine's
  * standard incremental-import shape; every leg projects only its key
  * columns (parquet pruning), so a 100 TB fact table contributes
  * key-column bytes only.
  */
object Profiler {

  /** One row per profiled numeric column: row/null/distinct counts, range,
    * and the decimal-summed mean (the cross-engine double-sum parity rule;
    * round-12 like every mean the engine emits).
    */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile: no columns")
    // Plain and DISTINCT aggregates in one `agg` plan badly: Catalyst's
    // multi-distinct rewrite expands k+1 ways and keys the partial
    // aggregate on the tuple of ALL k distinct columns — the gid=0
    // (plain-agg) branch then groups by that near-unique tuple, so the
    // "1-row" profile shuffled one ~20-column row PER INPUT ROW (measured
    // 5.8s at sf0.1, the sweep's worst key). Split the two families:
    // the plain aggs partial-agg to one row map-side, the distinct aggs
    // expand k ways over single non-null columns (groups = Σ distinct(c),
    // never the row count), and a 1-row × 1-row cross join reassembles.
    // Same aggregate functions, bit-identical outputs.
    val plainAggs = cols.flatMap { c =>
      Seq(
        count(lit(1)).as(s"__n_$c"),
        count(when(col(c).isNull, lit(1))).as(s"__nulls_$c"),
        min(col(c)).cast("double").as(s"__min_$c"),
        max(col(c)).cast("double").as(s"__max_$c"),
        sum(col(c).cast("decimal(28,8)")).as(s"__sum_$c"))
    }
    val distAggs = cols.map(c => count_distinct(col(c)).as(s"__dist_$c"))
    val one = df.agg(plainAggs.head, plainAggs.tail: _*)
      .crossJoin(df.agg(distAggs.head, distAggs.tail: _*))
    val rows = cols.map { c =>
      struct(
        lit(c).as("column"),
        col(s"__n_$c").as("n_rows"),
        col(s"__nulls_$c").as("n_nulls"),
        col(s"__dist_$c").as("n_distinct"),
        col(s"__min_$c").as("min_v"),
        col(s"__max_$c").as("max_v"),
        when(col(s"__n_$c") > col(s"__nulls_$c"),
          round(col(s"__sum_$c").cast("double") /
            (col(s"__n_$c") - col(s"__nulls_$c")), 12)).as("mean_v"))
    }
    one.select(explode(array(rows: _*)).as("p")).select("p.*")
      .orderBy("column")
  }

  /** Referential/uniqueness/nullability violations between a child and a
    * parent table: one row per check with its violation count (0 rows pass
    * too — the report is the contract, dashboards alert on > 0).
    *
    * - `orphan_children`: child keys with no parent (anti-join; the
    *   incremental-import dedup shape reversed)
    * - `childless_parents`: parents with no child rows
    * - `duplicate_child_pk`: child primary-key groups with count > 1
    * - `null_child_fk`: child rows with a NULL foreign key
    */
  def dqReport(child: DataFrame, parent: DataFrame,
               childFk: String, parentPk: String,
               childPk: Seq[String]): DataFrame = {
    val orphans = child.select(col(childFk).as("k")).where(col("k").isNotNull)
      .join(parent.select(col(parentPk).as("k")), Seq("k"), "left_anti")
      .agg(count(lit(1)).as("n_violations"))
      .select(lit("orphan_children").as("check"), col("n_violations"))
    val childless = parent.select(col(parentPk).as("k"))
      .join(child.select(col(childFk).as("k")), Seq("k"), "left_anti")
      .agg(count(lit(1)).as("n_violations"))
      .select(lit("childless_parents").as("check"), col("n_violations"))
    val dups = child.groupBy(childPk.map(col): _*)
      .agg(count(lit(1)).as("n"))
      .where(col("n") > 1)
      .agg(count(lit(1)).as("n_violations"))
      .select(lit("duplicate_child_pk").as("check"), col("n_violations"))
    val nullFk = child
      .agg(count(when(col(childFk).isNull, lit(1))).as("n_violations"))
      .select(lit("null_child_fk").as("check"), col("n_violations"))
    orphans.unionByName(childless).unionByName(dups).unionByName(nullFk)
      .orderBy("check")
  }

  /** Equal-width INTEGER histogram — the dataset card's distribution page
    * ([[profile]] gives range+mean; this gives shape). All arithmetic is
    * integer (width = ceil(span/bins) of longs, bin = integer division),
    * so bin edges are EXACT cross-engine — no float-boundary flicker, and
    * the op is oracle-checked. Two passes: one bounded min/max agg, one
    * map-side bin + partial-agg count (empty bins absent, like any
    * groupBy). Nulls are excluded (they're [[profile]]'s n_null column).
    */
  def histogram(df: DataFrame, valueCol: String, bins: Int): DataFrame = {
    require(bins >= 1, s"bins < 1: $bins")
    val v = col(valueCol).cast("long")
    val r = df.where(v.isNotNull).agg(min(v), max(v)).head()
    if (r.isNullAt(0))
      return df.sparkSession.range(0).select(col("id").as("bin"),
        col("id").as("lo"), col("id").as("hi"), col("id").as("n_rows"))
    val (lo, hi) = (r.getLong(0), r.getLong(1))
    val span = hi - lo + 1
    val width = (span + bins - 1) / bins.toLong // integer ceil, ≥ 1
    df.where(v.isNotNull)
      // integral DIV, not a double divide-and-truncate: bins stay exact
      // past 2^53 (the engine's integral-div doctrine, as in RangeJoin)
      .select(expr(s"(CAST($valueCol AS BIGINT) - ${lo}L) DIV ${width}L").as("bin"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_rows"))
      .select(col("bin"), (lit(lo) + col("bin") * width).as("lo"),
        (lit(lo) + (col("bin") + 1) * width - 1).as("hi"), col("n_rows"))
      .orderBy("bin")
  }

  /** Pairwise Pearson CORRELATION matrix over numeric columns — ONE scan:
    * all Σx, Σx², Σx·y moments accumulate as EXACT decimal sums in a
    * single `agg` (k columns + k(k−1)/2 products, never k² scans), then
    * each pair's r combines the exact sums in one fixed-order double
    * expression rounded to 12 dp — the engine's decimal-cast-sums parity
    * rule, so the op is oracle-checked (built-in `corr` would differ from
    * any other engine in the low-order bits of its streaming-update
    * order). Null handling: rows where EITHER column is null drop from
    * that pair's n (pairwise deletion), counted per pair in the same
    * pass.
    */
  def correlationMatrix(df: DataFrame, cols: Seq[String],
                        exact: Boolean = true): DataFrame = {
    require(cols.size >= 2, "correlationMatrix: need at least two columns")
    // exact=true (the ORACLE arm, q_correlation's spelling): inputs
    // quantize to decimal(18,4) — products are then decimal(37,8), WITHIN
    // the 38-digit cap, so neither engine's precision-loss rules fire and
    // the moment sums are bit-exact cross-engine (wider input casts would
    // make (38,8)×(38,8) round differently in Spark vs DuckDB).
    // exact=false (the FAST arm for non-gate use): plain double moment
    // sums — whole-stage-codegen'd primitive accumulation, ~an order of
    // magnitude less agg state than decimal(38,8) sums, at the price of
    // partition-order-dependent low-order bits (≈1e-12 relative on the
    // testdata; ProfilerSpec pins the arms to 1e-6 agreement). The r
    // formula, clamps and 12-dp rounding are shared — only the sum
    // arithmetic differs.
    def d(c: String): Column =
      if (exact) col(c).cast("double").cast("decimal(18,4)")
      else col(c).cast("double")
    val pairs = for { i <- cols.indices; j <- cols.indices if i < j } yield (cols(i), cols(j))
    // The pairwise-deletion guards PRE-PROJECT: `when(both, …)` wrapping
    // each aggregate INPUT directly blocked common-subexpression
    // elimination across the agg expressions (conditional branches are
    // only lazily CSE'd), so every one of the 10 per-pair aggregates
    // re-evaluated the double→decimal casts per row — measured 4.5 s vs
    // 1.5 s on the sf0.1 lineitem for this exact 3-column query
    // (BENCH_NOTES.md, Round 10 "q_correlation root cause"). Projecting
    // the guarded columns once per pair and aggregating plain attribute
    // references keeps the sums
    // BIT-IDENTICAL (same values enter the same decimal/double sums in
    // the same order) while the guard + cast run once per row.
    val proj = pairs.zipWithIndex.flatMap { case ((a, b), p) =>
      val both = col(a).isNotNull && col(b).isNotNull
      Seq(
        when(both, lit(1)).as(s"ind_$p"),
        // EXACT zero-variance detection: a constant column must yield the
        // documented NULL r, and the double cancellation test alone can't
        // see it for values that aren't double-exact (0.1: n·Σx²−(Σx)²
        // evaluates to ±3e-18, not 0). min < max ⟺ ≥2 distinct non-null
        // values — exact like countDistinct, but PLAIN aggregates: k
        // countDistincts in one agg made Catalyst plan an Expand
        // (pairs×7 copies of every input row — measured 11s → ~1.5s on
        // the sf0.1 lineitem for this exact query). min/max run on the
        // RAW column, not the quantized decimal: two doubles that
        // quantize equal must still count as distinct.
        when(both, col(a)).as(s"ga_$p"), when(both, col(b)).as(s"gb_$p"),
        when(both, d(a)).as(s"da_$p"), when(both, d(b)).as(s"db_$p"))
    }
    val aggs = pairs.indices.flatMap { p =>
      Seq(
        count(col(s"ind_$p")).as(s"n_$p"),
        min(col(s"ga_$p")).as(s"mina_$p"),
        max(col(s"ga_$p")).as(s"maxa_$p"),
        min(col(s"gb_$p")).as(s"minb_$p"),
        max(col(s"gb_$p")).as(s"maxb_$p"),
        sum(col(s"da_$p")).as(s"sx_$p"),
        sum(col(s"db_$p")).as(s"sy_$p"),
        // products of the GUARDED columns: null iff either side null,
        // exactly when(both, d(a)·d(b)) — pairwise deletion preserved
        sum(col(s"da_$p") * col(s"db_$p")).as(s"sxy_$p"),
        sum(col(s"da_$p") * col(s"da_$p")).as(s"sxx_$p"),
        sum(col(s"db_$p") * col(s"db_$p")).as(s"syy_$p"))
    }
    val one = df.select(proj: _*).agg(aggs.head, aggs.tail: _*)
    val rows = pairs.zipWithIndex.map { case ((a, b), p) =>
      val n = col(s"n_$p").cast("double")
      val sx = col(s"sx_$p").cast("double"); val sy = col(s"sy_$p").cast("double")
      val sxy = col(s"sxy_$p").cast("double")
      val sxx = col(s"sxx_$p").cast("double"); val syy = col(s"syy_$p").cast("double")
      val num = n * sxy - sx * sy
      // radicands CLAMP at 0: n·Σx²−(Σx)² is ≥ 0 mathematically but its
      // double evaluation can cancel to −ε for (near-)constant columns —
      // unclamped that is sqrt(NaN) here and an error in DuckDB. A clamped
      // zero radicand makes den 0 → the > 0 guard yields the documented
      // NULL; r additionally clamps to [−1, 1] so residual cancellation
      // noise can never leave the legal range (both spellings mirrored in
      // the oracle, so the twins stay value-identical).
      val den = sqrt(greatest(n * sxx - sx * sx, lit(0.0d))) *
        sqrt(greatest(n * syy - sy * sy, lit(0.0d)))
      struct(lit(a).as("col_a"), lit(b).as("col_b"),
        when(col(s"n_$p") > 1 &&
            col(s"mina_$p") < col(s"maxa_$p") &&
            col(s"minb_$p") < col(s"maxb_$p") && den > 0.0d,
          round(least(greatest(num / den, lit(-1.0d)), lit(1.0d)), 12)).as("r"),
        col(s"n_$p").as("n_pairs"))
    }
    one.select(explode(array(rows: _*)).as("c"))
      .select(col("c.col_a").as("col_a"), col("c.col_b").as("col_b"),
        col("c.r").as("r"), col("c.n_pairs").as("n_pairs"))
      .orderBy("col_a", "col_b")
  }

  /** Population Stability Index per group between two corpus SNAPSHOTS —
    * the distributional drift monitor next to [[graft.operators.Dedup]]'s
    * exact-membership snapshot diff (24c): "did source X's length profile
    * shift between last month's crawl and this one", the alarm a
    * training-data pipeline checks before mixing a refreshed source in.
    * PSI = Σ_buckets (p_i − q_i)·ln(p_i/q_i) over a FIXED bucketing of
    * `valueCol` (integral-DIV widths, clamped to `nBuckets` — the
    * [[histogram]] exactness doctrine), Laplace-smoothed with one
    * pseudo-count per bucket over the FULL grid (absent buckets still
    * carry a term when totals differ — dropping them would silently
    * understate drift; conventional read: <0.1 stable, 0.1–0.25 drifting,
    * >0.25 shifted). Cross-engine parity: shares are IEEE double
    * divisions of exact longs, each bucket term rounds to 12 dp, terms
    * sum as DECIMAL(28,14) (the unigram-surprisal ln rule).
    *
    * Scale shape: each snapshot is ONE scan projecting (group, value) —
    * column-pruned at parquet — into a (group, bucket) partial-agg count;
    * everything after is |groups|·nBuckets rows (broadcast-sized joins,
    * AQE picks them). No window, no driver loop; the two scans are
    * independent jobs.
    */
  def psiDrift(oldDf: DataFrame, newDf: DataFrame, valueCol: String,
               groupCol: String, bucketWidth: Long = 200L,
               nBuckets: Int = 10): DataFrame = {
    require(bucketWidth > 0, s"bucketWidth < 1: $bucketWidth")
    require(nBuckets >= 2, s"nBuckets < 2: $nBuckets")
    def buckets(df: DataFrame): DataFrame =
      df.select(col(groupCol).as("grp"),
        least(greatest(
          expr(s"CAST($valueCol AS BIGINT) DIV ${bucketWidth}L"), lit(0L)),
          lit(nBuckets - 1).cast("long")).as("bucket"))
    val oc = buckets(oldDf).groupBy("grp", "bucket")
      .agg(count(lit(1)).as("c_old"))
    val nc = buckets(newDf).groupBy("grp", "bucket")
      .agg(count(lit(1)).as("c_new"))
    val groups = oc.select("grp").unionByName(nc.select("grp")).distinct()
    val grid = groups.crossJoin(
      oldDf.sparkSession.range(nBuckets).select(col("id").as("bucket")))
    val cell = grid.join(oc, Seq("grp", "bucket"), "left")
      .join(nc, Seq("grp", "bucket"), "left")
      .select(col("grp"), col("bucket"),
        coalesce(col("c_old"), lit(0L)).as("c_old"),
        coalesce(col("c_new"), lit(0L)).as("c_new"))
    val tots = cell.groupBy("grp")
      .agg(sum("c_old").as("tot_old"), sum("c_new").as("tot_new"))
    val b = lit(nBuckets.toLong)
    val p = (col("c_old") + 1).cast("double") / (col("tot_old") + b).cast("double")
    val q = (col("c_new") + 1).cast("double") / (col("tot_new") + b).cast("double")
    cell.join(tots, "grp")
      .select(col("grp"), col("tot_old"), col("tot_new"),
        round((p - q) * log(p / q), 12).as("term"))
      .groupBy("grp", "tot_old", "tot_new")
      .agg(round(sum(col("term").cast("decimal(28,14)")).cast("double"), 12)
        .as("psi"))
      .select(col("grp").as(groupCol), col("psi"),
        col("tot_old").as("n_old"), col("tot_new").as("n_new"))
      .orderBy(groupCol)
  }

  /** Per-group Kolmogorov–Smirnov drift statistic — the DISTRIBUTION-SHAPE
    * companion to [[psiDrift]]'s binned divergence: D = max over values of
    * |F_old(x) − F_new(x)|, the sup-distance between the two empirical
    * CDFs. PSI needs a bucketing choice and saturates on within-bucket
    * shifts; KS is bucketing-free and the classic two-sample test the
    * monitoring literature thresholds (D·√(n·m/(n+m)) against the
    * Kolmogorov quantiles). Emitted per group so one report covers every
    * source.
    *
    * Exactness: D is computed RATIONALLY — at each pooled distinct value,
    * |cum_old·n_new − cum_new·n_old| as exact DECIMAL(38,0) products of
    * longs, the max divided ONCE by n_old·n_new (one IEEE division,
    * round 12 — the burstiness discriminant rule: no rounding of
    * large-magnitude intermediates). Groups present on only one side emit
    * a NULL ks (the two-sample statistic is undefined, and a silent 1.0
    * would fake a "maximal drift" alarm).
    *
    * Scale shape: DOMAIN COMPRESSION first — each snapshot collapses to
    * (group, value, count) partial aggs at scan time, so the per-group
    * cumulative window runs over |distinct values| rows, not |rows|
    * (integer-ish signals like lengths/counts compress thousands-fold;
    * truly continuous signals should pre-bucket as in [[psiDrift]] —
    * same honesty note as [[histogram]]). The window partitions BY GROUP
    * over the compressed frame — never a single-partition global sort.
    */
  def ksDrift(oldDf: DataFrame, newDf: DataFrame, valueCol: String,
              groupCol: String, scale: Long = 1L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // KS over the cast(long) domain grid: an integral signal casts
    // losslessly; a FRACTIONAL signal must declare its quantization via
    // `scale` (value·scale rounded to long), or the silent truncation
    // would distort D with no warning. Refusing is better than lying.
    def integral(df: DataFrame): Boolean =
      df.schema(df.schema.fieldIndex(valueCol)).dataType match {
        case org.apache.spark.sql.types.DoubleType |
             org.apache.spark.sql.types.FloatType |
             (_: org.apache.spark.sql.types.DecimalType) => false
        case _ => true
      }
    require(scale >= 1L, s"ksDrift scale must be >= 1, got $scale")
    require(scale > 1L || (integral(oldDf) && integral(newDf)),
      s"ksDrift: '$valueCol' is fractional — pass an explicit scale " +
        "(values are bucketed as round(value*scale)) instead of relying " +
        "on a silent cast(long) truncation")
    def counts(df: DataFrame, out: String): DataFrame =
      df.select(col(groupCol).as("grp"),
          round(col(valueCol) * lit(scale), 0).cast("long").as("v"))
        .groupBy("grp", "v").agg(count(lit(1)).as(out))
    val oc = counts(oldDf, "c_old")
    val nc = counts(newDf, "c_new")
    val cell = oc.join(nc, Seq("grp", "v"), "full_outer")
      .select(col("grp"), col("v"),
        coalesce(col("c_old"), lit(0L)).as("c_old"),
        coalesce(col("c_new"), lit(0L)).as("c_new"))
    val w = Window.partitionBy("grp").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val d38 = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val scanned = cell
      .withColumn("cum_old", sum("c_old").over(w))
      .withColumn("cum_new", sum("c_new").over(w))
    val tots = cell.groupBy("grp")
      .agg(sum("c_old").as("n_old"), sum("c_new").as("n_new"))
    scanned.join(tots, "grp") // |groups| rows — AQE broadcasts
      .select(col("grp"), col("n_old"), col("n_new"),
        abs(d38(col("cum_old")) * d38(col("n_new")) -
          d38(col("cum_new")) * d38(col("n_old"))).as("diff"))
      .groupBy("grp", "n_old", "n_new")
      .agg(max("diff").as("maxdiff"))
      .select(col("grp").as(groupCol),
        when(col("n_old") > 0 && col("n_new") > 0,
          round(col("maxdiff").cast("double") /
            (d38(col("n_old")) * d38(col("n_new"))).cast("double"), 12))
          .as("ks"),
        col("n_old"), col("n_new"))
      .orderBy(groupCol)
  }
}
