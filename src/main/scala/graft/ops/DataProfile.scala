package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{NumericType, StringType}

/** One-pass multi-column profiling — the engine's DESCRIBE/data-quality
  * surface (per-column row counts, null counts, distinct counts, range
  * and mean), computed in a SINGLE scan of the table.
  *
  * The naive profiler runs one job per column (N scans of a 100 TB
  * table); this one folds every column's statistics into ONE aggregation
  * — the only row multiplication is Catalyst's Expand for the exact
  * multi-column COUNT(DISTINCT), the same plan shape a SQL engine gives
  * `count(distinct a), count(distinct b)`. The single result row is then
  * unpivoted driver-free via `inline(array(struct(...)))`.
  *
  * Numeric means ride the repo's determinism convention: DECIMAL(18,4)
  * sums (exact accumulation, order-independent) with ONE terminal
  * double division rounded to 1e-6 — never a floating-point sum.
  */
object DataProfile {

  /** Profile `cols` (numeric and string columns) of `df` in one pass.
    * Output: one row per column —
    * (col_name, n, n_null, n_distinct, min_num, max_num, mean,
    *  min_str, max_str); the *_num/mean stats are null for string
    * columns and vice versa, so every emitted value keeps its native
    * comparison semantics (no stringified doubles to drift on format).
    */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    val schema = df.schema
    val kinds: Map[String, Boolean] = cols.map { c =>
      schema(c).dataType match {
        case _: NumericType => c -> true
        case StringType     => c -> false
        case other => sys.error(
          s"profile supports numeric and string columns, $c is $other")
      }
    }.toMap

    val aggs: Seq[Column] = count(lit(1)).as("__n") +: cols.flatMap { c =>
      val base = Seq(
        count(col(c)).as(s"__nn_$c"),
        countDistinct(col(c)).as(s"__nd_$c"))
      if (kinds(c)) base ++ Seq(
        min(col(c)).cast("double").as(s"__min_$c"),
        max(col(c)).cast("double").as(s"__max_$c"),
        sum(col(c).cast("decimal(18,4)")).as(s"__sum_$c"))
      else base ++ Seq(
        min(col(c)).as(s"__mins_$c"),
        max(col(c)).as(s"__maxs_$c"))
    }

    val one = df.agg(aggs.head, aggs.tail: _*)
    val rows = cols.map { c =>
      val numeric = kinds(c)
      struct(
        lit(c).as("col_name"),
        col("__n").as("n"),
        (col("__n") - col(s"__nn_$c")).as("n_null"),
        col(s"__nd_$c").as("n_distinct"),
        (if (numeric) round(col(s"__min_$c"), 6)
         else lit(null).cast("double")).as("min_num"),
        (if (numeric) round(col(s"__max_$c"), 6)
         else lit(null).cast("double")).as("max_num"),
        (if (numeric)
           round(col(s"__sum_$c").cast("double") / col(s"__nn_$c"), 6)
         else lit(null).cast("double")).as("mean"),
        (if (numeric) lit(null).cast("string")
         else col(s"__mins_$c")).as("min_str"),
        (if (numeric) lit(null).cast("string")
         else col(s"__maxs_$c")).as("max_str"))
    }
    one.select(inline(array(rows: _*)))
  }

  /** The 100 TB face of [[profile]]: identical output, different
    * distinct-count plan. Multiple `countDistinct`s in ONE aggregation
    * make Catalyst Expand every input row once PER DISTINCT — profiling
    * six columns shuffles 6× the corpus (measured 10.6 s vs 2.9 s at
    * sf0.1; at 100 TB it is the difference between a 600 TB shuffle and
    * six value-sized ones). Here each distinct count runs as its own
    * single-distinct aggregation: columnar pruning means each job scans
    * ONE column, the partial-distinct rewrite shuffles only distinct
    * values, and no Expand exists anywhere. Six single-column scans of
    * a columnar table read the same bytes as [[profile]]'s one
    * full-width scan — the extra scheduling is noise next to the 6×
    * shuffle it removes. Output equality with [[profile]] is
    * spec-pinned.
    */
  def profileSplit(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    val schema = df.schema
    val kinds: Map[String, Boolean] = cols.map { c =>
      schema(c).dataType match {
        case _: NumericType => c -> true
        case StringType     => c -> false
        case other => sys.error(
          s"profile supports numeric and string columns, $c is $other")
      }
    }.toMap
    val aggs: Seq[Column] = count(lit(1)).as("__n") +: cols.flatMap { c =>
      val base = Seq(count(col(c)).as(s"__nn_$c"))
      if (kinds(c)) base ++ Seq(
        min(col(c)).cast("double").as(s"__min_$c"),
        max(col(c)).cast("double").as(s"__max_$c"),
        sum(col(c).cast("decimal(18,4)")).as(s"__sum_$c"))
      else base ++ Seq(
        min(col(c)).as(s"__mins_$c"),
        max(col(c)).as(s"__maxs_$c"))
    }
    val one = cols.foldLeft(df.agg(aggs.head, aggs.tail: _*)) { (acc, c) =>
      acc.crossJoin(broadcast(
        df.agg(countDistinct(col(c)).as(s"__nd_$c"))))
    }
    val rows = cols.map { c =>
      val numeric = kinds(c)
      struct(
        lit(c).as("col_name"),
        col("__n").as("n"),
        (col("__n") - col(s"__nn_$c")).as("n_null"),
        col(s"__nd_$c").as("n_distinct"),
        (if (numeric) round(col(s"__min_$c"), 6)
         else lit(null).cast("double")).as("min_num"),
        (if (numeric) round(col(s"__max_$c"), 6)
         else lit(null).cast("double")).as("max_num"),
        (if (numeric)
           round(col(s"__sum_$c").cast("double") / col(s"__nn_$c"), 6)
         else lit(null).cast("double")).as("mean"),
        (if (numeric) lit(null).cast("string")
         else col(s"__mins_$c")).as("min_str"),
        (if (numeric) lit(null).cast("string")
         else col(s"__maxs_$c")).as("max_str"))
    }
    one.select(inline(array(rows: _*)))
  }

  /** Pairwise Pearson correlation + population covariance over `cols`,
    * from ONE aggregation pass (the naive per-pair `corr()` loop scans a
    * 100 TB table O(k²) times). Moment sums accumulate as exact
    * DECIMAL(38,8) — order-independent, so identical in any engine — and
    * the closed-form corr/cov arithmetic is a FIXED sequence of IEEE
    * double ops on those identical inputs: both engines produce the same
    * bits, unlike the built-in `corr` aggregates whose incremental
    * co-moment updates are merge-order-dependent.
    *
    * Rows where ANY profiled column is null are excluded (the standard
    * complete-case convention, and the only way `n` is consistent across
    * every pair from a single pass).
    */
  def corrMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "corrMatrix needs at least two columns")
    val pairs = for {
      i <- cols.indices; j <- cols.indices if i < j
    } yield (cols(i), cols(j))
    def d(c: String): Column = col(c).cast("decimal(18,4)")
    val aggs: Seq[Column] = count(lit(1)).as("__n") +:
      (cols.flatMap(c => Seq(
        sum(d(c)).cast("decimal(38,8)").as(s"__s_$c"),
        sum((d(c) * d(c)).cast("decimal(38,8)")).as(s"__ss_$c"))) ++
       pairs.map { case (a, b) =>
         sum((d(a) * d(b)).cast("decimal(38,8)")).as(s"__sp_${a}_$b")
       })
    val complete = df.filter(cols.map(col(_).isNotNull).reduce(_ && _))
    val one = complete.agg(aggs.head, aggs.tail: _*)
    val n = col("__n").cast("double")
    val rows = pairs.map { case (a, b) =>
      val sx  = col(s"__s_$a").cast("double")
      val sy  = col(s"__s_$b").cast("double")
      val sxx = col(s"__ss_$a").cast("double")
      val syy = col(s"__ss_$b").cast("double")
      val sxy = col(s"__sp_${a}_$b").cast("double")
      val cov = n * sxy - sx * sy
      val vx  = n * sxx - sx * sx
      val vy  = n * syy - sy * sy
      struct(lit(a).as("col_x"), lit(b).as("col_y"), col("__n").as("n"),
        round(cov / sqrt(vx * vy), 6).as("corr"),
        round(cov / (n * n), 6).as("covar_pop"))
    }
    one.select(inline(array(rows: _*)))
  }

  /** Per-group simple OLS regression of `y` on `x` — slope, intercept
    * and r² in closed form from the same exact-decimal moment sums as
    * [[corrMatrix]] (one partial-aggregating pass, engine-identical
    * arithmetic). The grouped twin of a `regr_slope`/`regr_intercept`
    * call, without depending on any engine's internal update order.
    */
  def regression(df: DataFrame, groupCol: String, x: String, y: String)
      : DataFrame = {
    def d(c: String): Column = col(c).cast("decimal(18,4)")
    val g = df.filter(col(x).isNotNull && col(y).isNotNull)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("__n"),
        sum(d(x)).cast("decimal(38,8)").as("__sx"),
        sum(d(y)).cast("decimal(38,8)").as("__sy"),
        sum((d(x) * d(x)).cast("decimal(38,8)")).as("__sxx"),
        sum((d(y) * d(y)).cast("decimal(38,8)")).as("__syy"),
        sum((d(x) * d(y)).cast("decimal(38,8)")).as("__sxy"))
    val n = col("__n").cast("double")
    val sx = col("__sx").cast("double"); val sy = col("__sy").cast("double")
    val sxx = col("__sxx").cast("double"); val syy = col("__syy").cast("double")
    val sxy = col("__sxy").cast("double")
    val cov = n * sxy - sx * sy
    val vx  = n * sxx - sx * sx
    val vy  = n * syy - sy * sy
    val slope = cov / vx
    g.select(col(groupCol), col("__n").as("n"),
      round(slope, 6).as("slope"),
      round((sy - cov / vx * sx) / n, 6).as("intercept"),
      round(cov * cov / (vx * vy), 6).as("r2"))
  }

  /** Equi-width histogram with FIXED bounds — bucket assignment is a
    * map-side projection (one floor per row), the aggregation is
    * `nBuckets`-sized. Out-of-range values clamp into the end buckets.
    * `(hi - lo) % nBuckets == 0` is required so the bucket width is an
    * exact integer and the floor arithmetic is engine-identical.
    */
  def equiWidthHistogram(df: DataFrame, c: String, lo: Long, hi: Long,
      nBuckets: Int): DataFrame = {
    require(hi > lo && (hi - lo) % nBuckets == 0,
      s"bucket width must be integral: ($lo, $hi, $nBuckets)")
    val width = (hi - lo) / nBuckets
    val b = greatest(lit(0), least(lit(nBuckets - 1),
      floor((col(c) - lo) / width.toDouble))).cast("int")
    df.filter(col(c).isNotNull)
      .groupBy(b.as("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        round(min(col(c)), 6).as("min_v"),
        round(max(col(c)), 6).as("max_v"))
      .withColumn("bucket_lo", (col("bucket").cast("long") * width + lo))
  }

  /** Equi-depth (quantile-bucket) histogram WITHOUT a global sort.
    * `ntile()` over an unpartitioned window — the textbook formulation —
    * funnels the entire table through ONE task; this computes the exact
    * value-grouped CDF distributedly instead:
    *
    *   1. count per distinct value (distinct-value-sized, partial-agg);
    *   2. coarse fixed-range buckets over the values; per-bucket totals
    *      (tiny) roll into broadcast cumulative offsets;
    *   3. the rank of each distinct value = its coarse offset + a
    *      within-bucket running sum — the window is PARTITIONED by the
    *      coarse bucket, so no single task ever sees the whole domain;
    *   4. bucket = (rank_before * q) div N, exact integer arithmetic.
    *
    * Ties stay together (all rows of one value share a bucket — the
    * value-grouped convention), so buckets can be uneven exactly where
    * duplicates force them to be. Deterministic: counts and ranks are
    * integers end-to-end.
    */
  /** EXACT quantiles without a global sort and without `percentile`'s
    * buffer-the-group memory profile: the distributed value-grouped CDF
    * (same plumbing as [[equiDepthHistogram]]) answers "the smallest
    * value whose cumulative count reaches ceil(p*n)" — the classic
    * type-1 quantile — with integer arithmetic end-to-end. `ps` are
    * percents (e.g. 50 for the median) so the target rank
    * `(n*p + 99) div 100` stays exact in both engines.
    *
    * This is the third rung of the percentile story: exact-but-unsafe
    * `percentile` (oracle convention), bounded-state
    * `percentile_approx` (the 100 TB default), and this — exact AND
    * bounded: state is distinct-value-sized per partition, the only
    * single-task structure is the coarse-bucket offset table.
    */
  def quantilesExact(df: DataFrame, c: String, lo: Long, hi: Long,
      ps: Seq[Int], coarse: Int = 64): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p > 0 && p <= 100),
      s"percents must be in (0, 100]: $ps")
    val ranked = cdf(df, c, lo, hi, coarse)
      .withColumn("cum", col("rank_before") + col("cnt"))
    val total = ranked.agg(sum(col("cnt")).as("__n"))
    val pRows = ps.map(p => struct(lit(p).as("p")))
    ranked.join(broadcast(total))
      .select(col("v"), col("cum"), col("__n"),
        explode(array(pRows: _*)).as("pp"))
      .withColumn("target", expr("(__n * pp.p + 99) div 100"))
      .groupBy(col("pp.p").as("p"))
      .agg(min(when(col("cum") >= col("target"), col("v"))).as("value"),
        max(col("target")).as("rank"))
  }

  /** Pre-join key-skew diagnosis for a prospective join/shuffle key —
    * the report a pipeline reads BEFORE choosing broadcast vs salting
    * vs AQE skew handling: the per-key count distribution (exact type-1
    * p50/p90/p99 via the distributed CDF — no global sort), the hottest
    * key and its share of all rows, and the max/mean skew ratio (the
    * lower bound on how much longer the hottest reduce task runs than
    * the average one). One key-count aggregate; every derived relation
    * is key-count- or scalar-sized.
    */
  def joinKeySkew(df: DataFrame, keyCol: String,
                  maxKeyN: Long = 1L << 32): DataFrame = {
    val counts = df.filter(col(keyCol).isNotNull)
      .groupBy(col(keyCol).as("k")).agg(count(lit(1)).as("kn"))
      .transform(Materialize.sharedNow)
    val base = counts.agg(sum(col("kn")).as("n_rows"),
      count(lit(1)).as("n_keys"), max(col("kn")).as("max_key_n"))
    val topKey = counts
      .join(broadcast(base.select(col("max_key_n").as("__mx"))),
        col("kn") === col("__mx"))
      .agg(min(col("k")).as("top_key"))
    val qs = quantilesExact(counts, "kn", 0L, maxKeyN, Seq(50, 90, 99))
      .agg(max(when(col("p") === 50, col("value"))).as("p50_key_n"),
        max(when(col("p") === 90, col("value"))).as("p90_key_n"),
        max(when(col("p") === 99, col("value"))).as("p99_key_n"))
    base.crossJoin(broadcast(topKey)).crossJoin(broadcast(qs))
      .select(col("n_rows"), col("n_keys"), col("max_key_n"),
        col("top_key"),
        round(col("max_key_n").cast("double") / col("n_rows"), 6)
          .as("top_share"),
        round(col("max_key_n").cast("double") * col("n_keys") /
          col("n_rows"), 6).as("skew_ratio"),
        col("p50_key_n"), col("p90_key_n"), col("p99_key_n"))
  }

  /** Per-group [[quantilesExact]]: the same distributed value-grouped
    * CDF with the group key riding every stage — per-(group, bucket)
    * counts, a per-group 64-row offset window, per-(group, bucket)
    * within-bucket ranks — so no task ever owns more than one coarse
    * bucket's distinct values of one group, and the quantile of a
    * billion-row group costs the same plan as a thousand-row one.
    * Returns `(group, p, value, rank)`.
    */
  def quantilesExactBy(df: DataFrame, g: String, c: String, lo: Long,
      hi: Long, ps: Seq[Int], coarse: Int = 64): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p > 0 && p <= 100),
      s"percents must be in (0, 100]: $ps")
    require(hi > lo && (hi - lo) % coarse == 0,
      s"coarse width must be integral: ($lo, $hi, $coarse)")
    val cw = (hi - lo) / coarse
    val counts = df.filter(col(c).isNotNull && col(g).isNotNull)
      .groupBy(col(g), col(c).as("v")).agg(count(lit(1)).as("cnt"))
      .withColumn("cb", greatest(lit(0), least(lit(coarse - 1),
        floor((col("v") - lo) / cw.toDouble))).cast("int"))
    val offsets = counts.groupBy(col(g), col("cb"))
      .agg(sum(col("cnt")).as("__bn"))
      .withColumn("__off", coalesce(sum(col("__bn")).over(
        Window.partitionBy(col(g)).orderBy(col("cb"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col(g), col("cb"), col("__off"))
    val within = Window.partitionBy(col(g), col("cb")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = counts.join(offsets, Seq(g, "cb"))
      .withColumn("rank_before",
        col("__off") + coalesce(sum(col("cnt")).over(within), lit(0L)))
      .withColumn("cum", col("rank_before") + col("cnt"))
    val totals = ranked.groupBy(col(g)).agg(sum(col("cnt")).as("__n"))
    val pRows = ps.map(p => struct(lit(p).as("p")))
    ranked.join(broadcast(totals), Seq(g))
      .select(col(g), col("v"), col("cum"), col("__n"),
        explode(array(pRows: _*)).as("pp"))
      .withColumn("target", expr("(__n * pp.p + 99) div 100"))
      .groupBy(col(g), col("pp.p").as("p"))
      .agg(min(when(col("cum") >= col("target"), col("v"))).as("value"),
        max(col("target")).as("rank"))
  }

  /** Value-grouped distributed CDF: one row per distinct value of `c`
    * with its count and the count of strictly-smaller rows — shared by
    * [[equiDepthHistogram]] and [[quantilesExact]].
    */
  private def cdf(df: DataFrame, c: String, lo: Long, hi: Long,
      coarse: Int): DataFrame = {
    require(hi > lo && (hi - lo) % coarse == 0,
      s"coarse width must be integral: ($lo, $hi, $coarse)")
    val cw = (hi - lo) / coarse
    val counts = df.filter(col(c).isNotNull)
      .groupBy(col(c).as("v")).agg(count(lit(1)).as("cnt"))
      .withColumn("cb", greatest(lit(0), least(lit(coarse - 1),
        floor((col("v") - lo) / cw.toDouble))).cast("int"))
    val offsets = counts.groupBy(col("cb").as("__cb"))
      .agg(sum(col("cnt")).as("__bn"))
      // `coarse` rows total — the single-partition window is bounded by
      // the coarse-bucket count, not by the data
      .withColumn("__off", coalesce(sum(col("__bn")).over(
        Window.orderBy(col("__cb"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__cb"), col("__off"))
    val within = Window.partitionBy(col("cb")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    counts.join(broadcast(offsets), col("cb") === col("__cb"))
      .withColumn("rank_before",
        col("__off") + coalesce(sum(col("cnt")).over(within), lit(0L)))
  }

  def equiDepthHistogram(df: DataFrame, c: String, lo: Long, hi: Long,
      q: Int, coarse: Int = 64): DataFrame = {
    val ranked = cdf(df, c, lo, hi, coarse)
    val total = ranked.agg(sum(col("cnt")).as("__n"))
    ranked.join(broadcast(total))
      .withColumn("bucket",
        expr(s"(rank_before * $q) div __n").cast("int"))
      .groupBy(col("bucket"))
      .agg(sum(col("cnt")).as("n_rows"),
        count(lit(1)).as("n_values"),
        round(min(col("v")), 6).as("min_v"),
        round(max(col("v")), 6).as("max_v"))
  }

  /** Poisson(1) cumulative thresholds as DECIMAL STRINGS — the single
    * source of truth for both engines: the Spark side parses them, the
    * oracle splices them verbatim, so the resample weights can never
    * drift. P(X > 8) ≈ 1.1e-6 — weights cap at 8.
    */
  val PoissonCdf: Seq[String] = Seq(
    "0.36787944117144233", "0.7357588823428847", "0.9196986029286058",
    "0.9810118431238463", "0.9963401531726563", "0.9994058151824183",
    "0.999916758850712", "0.9999897508033253")

  /** POISSON BOOTSTRAP confidence intervals — the bootstrap that works
    * on data too large to resample by permutation: instead of drawing n
    * rows with replacement (a global shuffle per resample), each row
    * independently receives a Poisson(1) weight per resample b —
    * asymptotically equivalent to the multinomial bootstrap (Chamandy
    * et al., "Estimating Uncertainty for Massive Data Streams", Google
    * 2012; Kleiner et al.'s BLB is the same idea subsampled). All B
    * resamples ride ONE map-only pass: the row explodes into B
    * lightweight (key, b, w·v, w) tuples that partial-aggregate
    * map-side, so the shuffle carries |keys|·B rows — never the corpus.
    *
    * Determinism: the weight is the inverse-CDF bucket of a md5-derived
    * uniform (first 8 hex digits of md5(id:b) / 2^32) against the
    * shared [[PoissonCdf]] literals; resample means land on the 1e-6
    * grid; the CI picks order statistics of the B means with ties
    * broken on b. Returns per key: boot_mean (mean of resample means),
    * ci_lo / ci_hi (2nd and (B−1)th order statistics ≈ the central 94%
    * band at B = 32), n_resamples.
    */
  def poissonBootstrapCi(df: DataFrame, keyCol: String, valCol: String,
                         idCol: String, b: Int = 32): DataFrame =
    orderStatCi(poissonBootstrapMeans(df, keyCol, valCol, idCol, b),
      Seq(keyCol), "mean", b)
      .withColumnRenamed("stat_mean", "boot_mean")

  /** The per-(key, resample) mean relation behind [[poissonBootstrapCi]]
    * — exposed so CONTRASTS can pair resamples before taking order
    * statistics (the A/B difference CI: uncertainty of a difference
    * needs the same resample on both arms, not two marginal CIs).
    * Returns (keyCol, resample, mean) with the mean on the 1e-6 grid.
    */
  def poissonBootstrapMeans(df: DataFrame, keyCol: String, valCol: String,
                            idCol: String, b: Int = 32): DataFrame = {
    require(b >= 4, s"need at least 4 resamples, got $b")
    val rows = df.select(col(keyCol), col(valCol).cast("double").as("__v"),
        col(idCol).cast("string").as("__id"))
      .withColumn("resample", explode(sequence(lit(0), lit(b - 1))))
    val u = conv(substring(md5(concat(col("__id"), lit(":"),
      col("resample").cast("string"))), 1, 8), 16, 10).cast("double") /
      lit(4294967296.0)
    val w = PoissonCdf.map(t => (u >= lit(t.toDouble)).cast("int"))
      .reduce(_ + _)
    // zero-total-weight guard (ADVICE r17): a (key, resample) group can
    // draw Poisson weight 0 on every row (prob ~0.368^n — realistic only
    // for very small key groups); 0/0 is NaN in Spark, which sorts
    // GREATEST and would corrupt ci_hi in orderStatCi, and DuckDB's
    // 0/0 differs. The degenerate resample is DROPPED on both engines
    // (the oracle carries the matching HAVING sum(w) > 0) — weights are
    // deterministic md5 draws, so both drop exactly the same groups.
    rows.withColumn("__w", w)
      .groupBy(col(keyCol), col("resample"))
      .agg(sum(col("__w") * col("__v")).as("__sv"),
        sum(col("__w")).as("__sw"))
      .filter(col("__sw") > 0)
      .select(col(keyCol), col("resample"),
        round(col("__sv") / col("__sw"), 6).as("mean"))
  }

  /** Order-statistic CI over a per-(group, resample) statistic: mean of
    * the B values plus the 2nd and (n−1)th order statistics (ties on
    * the resample index), with n = the group's ACTUAL resample count —
    * a group that lost degenerate resamples to the zero-weight guard
    * keeps the symmetric (2nd, 2nd-from-top) band instead of silently
    * promoting its maximum to ci_hi (r18 review finding on the r17
    * guard). `groupCols` may be empty (one global row); `b` is the
    * nominal resample count, retained for callers' require checks.
    *
    * Below 4 surviving resamples the order statistics stop being a
    * band at all — n=2 INVERTS it (rn=2 is the max, rn=n−1=1 the min)
    * and n=3 collapses it to a point — so both bounds come back NULL
    * there instead of a silently degenerate CI (ADVICE r18; the oracle
    * carries the same nb >= 4 arm). boot_mean and n_resamples still
    * report, so a consumer sees the group and WHY its band is absent.
    */
  def orderStatCi(stats: DataFrame, groupCols: Seq[String],
                  statCol: String, b: Int): DataFrame = {
    val gs = groupCols.map(col)
    val part = Window.partitionBy(gs: _*)
    val rn = part.orderBy(col(statCol), col("resample"))
    stats.withColumn("__rn", row_number().over(rn))
      .withColumn("__n", count(lit(1)).over(part))
      .groupBy(gs: _*)
      .agg(round(avg(col(statCol)), 6).as(s"stat_$statCol"),
        max(when(col("__rn") === 2 && col("__n") >= 4, col(statCol)))
          .as("ci_lo"),
        max(when(col("__rn") === col("__n") - 1 && col("__n") >= 4,
          col(statCol))).as("ci_hi"),
        count(lit(1)).cast("int").as("n_resamples"))
  }
}
