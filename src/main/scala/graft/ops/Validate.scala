package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Declarative data-quality expectations — the pre-ingest gate a
  * 100 TB pipeline runs on every new shard before it is allowed into
  * the corpus (the great-expectations/dbt-test shape, expressed as one
  * Spark aggregation).
  *
  * Every expectation compiles to a conditional COUNT over the same
  * scan, so a suite of N checks costs ONE pass and one tiny
  * aggregation row regardless of N — no per-check jobs, no driver
  * loops. Violation counts are integers; the report is engine-exact.
  */
object Validate {

  /** One named check: `pred` is evaluated per row; a row where the
    * predicate is FALSE (null counts as a violation too — null means
    * "could not establish the property") is a violation.
    */
  final case class Expectation(name: String, pred: Column)

  /** Convenience constructors for the common checks. */
  def notNull(c: String): Expectation =
    Expectation(s"not_null($c)", col(c).isNotNull)
  def between(c: String, lo: Double, hi: Double): Expectation =
    Expectation(s"between($c,$lo,$hi)", col(c) >= lo && col(c) <= hi)
  def inSet(c: String, vals: Seq[String]): Expectation =
    Expectation(s"in_set($c)", col(c).isin(vals.map(lit): _*))
  def matches(c: String, re: String): Expectation =
    Expectation(s"matches($c)", col(c).rlike(re))
  def nonNegative(c: String): Expectation =
    Expectation(s"non_negative($c)", col(c) >= 0)

  /** Run a suite: one scan, one aggregation; per-expectation violation
    * counts and pass verdicts against an allowed violation rate in
    * parts-per-million (integer threshold arithmetic — no double
    * ratios in the verdict).
    *
    * @return (expectation, n_rows, n_violations, max_violation_ppm,
    *          passed) — one row per expectation, ordered as given
    */
  def expect(df: DataFrame, expectations: Seq[Expectation],
      maxViolationPpm: Long = 0L): DataFrame = {
    require(expectations.nonEmpty, "need at least one expectation")
    require(expectations.map(_.name).distinct.size == expectations.size,
      "expectation names must be unique")
    require(maxViolationPpm >= 0 && maxViolationPpm <= 1000000L,
      s"maxViolationPpm must be in [0, 1e6], got $maxViolationPpm")
    val aggs = count(lit(1)).as("__n") +:
      expectations.zipWithIndex.map { case (e, i) =>
        sum(when(coalesce(e.pred, lit(false)), 0L).otherwise(1L))
          .as(s"__v_$i") // positional alias: names may contain dots
      }
    val row = df.agg(aggs.head, aggs.tail: _*)
    // pivot the single aggregate row into one row per expectation via
    // an exploded literal array — still zero extra scans
    val entries = array(expectations.zipWithIndex.map { case (e, i) =>
      struct(lit(e.name).as("expectation"),
        col(s"__v_$i").as("n_violations"))
    }: _*)
    row.select(col("__n").as("n_rows"), explode(entries).as("e"))
      .select(col("e.expectation"), col("n_rows"), col("e.n_violations"),
        lit(maxViolationPpm).as("max_violation_ppm"))
      // integer verdict: violations * 1e6 <= ppm * rows (exact)
      .withColumn("passed",
        col("n_violations") * lit(1000000L) <= col("max_violation_ppm") * col("n_rows"))
  }

  /** Column census (`df.info()`-meets-profiler): per column the null
    * count, distinct count and min/max (as strings, so one schema fits
    * every column type).
    *
    * Shapes (both measured at sf0.1, PLANS.md): `exact = false` is the
    * 100 TB default — ONE scan, every column's HLL sketch + min/max in
    * a single aggregate. `exact = true` runs one scan per column with
    * an ordinary partial-distinct aggregate; folding N exact distincts
    * into one aggregate instead costs an (N+1)-way Expand of every row
    * and measured 7x slower than the per-column scans.
    *
    * @return (column_name, n_rows, n_nulls, n_distinct, min_str,
    *         max_str) — one row per requested column
    */
  def profile(df: DataFrame, cols: Seq[String],
      exact: Boolean = true): DataFrame = {
    require(cols.nonEmpty, "need at least one column")
    require(cols.distinct.size == cols.size, "duplicate columns")
    if (exact) {
      cols.map { c =>
        df.agg(count(lit(1)).as("n_rows"),
            sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_nulls"),
            countDistinct(col(c)).as("n_distinct"),
            min(col(c)).cast("string").as("min_str"),
            max(col(c)).cast("string").as("max_str"))
          .select(lit(c).as("column_name"), col("n_rows"), col("n_nulls"),
            col("n_distinct"), col("min_str"), col("max_str"))
      }.reduce(_ unionByName _)
    } else {
      val aggs = count(lit(1)).as("__n") +: cols.zipWithIndex.flatMap { case (c, i) =>
        Seq(
          sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nn_$i"),
          approx_count_distinct(col(c)).as(s"__nd_$i"),
          min(col(c)).cast("string").as(s"__mn_$i"),
          max(col(c)).cast("string").as(s"__mx_$i"))
      }
      val row = df.agg(aggs.head, aggs.tail: _*)
      val entries = array(cols.zipWithIndex.map { case (c, i) =>
        struct(lit(c).as("column_name"), col(s"__nn_$i").as("n_nulls"),
          col(s"__nd_$i").as("n_distinct"), col(s"__mn_$i").as("min_str"),
          col(s"__mx_$i").as("max_str"))
      }: _*)
      row.select(col("__n").as("n_rows"), explode(entries).as("e"))
        .select(col("e.column_name"), col("n_rows"), col("e.n_nulls"),
          col("e.n_distinct"), col("e.min_str"), col("e.max_str"))
    }
  }

  /** Uniqueness is the one check that needs its own aggregation shape
    * (a distinct count, not a row predicate): returns
    * (column, n_rows, n_distinct, n_duplicate_rows, passed).
    */
  def expectUnique(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "need at least one column")
    df.agg(count(lit(1)).as("n_rows"),
        countDistinct(cols.head, cols.tail: _*).as("n_distinct"))
      .select(lit(cols.mkString(",")).as("columns"), col("n_rows"),
        col("n_distinct"),
        (col("n_rows") - col("n_distinct")).as("n_duplicate_rows"),
        (col("n_rows") === col("n_distinct")).as("passed"))
  }

  /** Referential-integrity check: child rows whose foreign key has no
    * match in the parent's key set — the orphan census every warehouse
    * load gate runs (and every corpus pipeline needs when a dimension
    * is filtered or rebuilt: the "events pointing at deleted users"
    * class of rot). Null foreign keys are reported separately — a
    * null FK is a different defect than a dangling one.
    *
    * One left-anti join on the key (the parent side is key-distinct —
    * at any scale this broadcasts when small and shuffles both sides
    * co-partitioned when not) plus one bounded per-key rollup of the
    * violations capped at `topK` for the report.
    *
    * @return summary row (n_child, n_null_fk, n_orphans,
    *         n_orphan_keys, orphan_bp floor basis points) unioned
    *         with the `topK` worst orphan keys as
    *         (orphan_key, n_rows) — two result shapes in one frame
    *         would be untidy, so this returns the SUMMARY; use
    *         [[fkOrphanKeys]] for the per-key detail
    */
  def fkCheck(child: DataFrame, parent: DataFrame,
      childKey: String, parentKey: String): DataFrame = {
    val keys = parent.select(col(parentKey).as("__pk")).distinct()
    val base = child.select(col(childKey).as("__fk"))
    val nonNull = base.filter(col("__fk").isNotNull)
    val orphans = nonNull.join(keys, col("__fk") === col("__pk"), "left_anti")
    val o = orphans.agg(count(lit(1)).as("n_orphans"),
      countDistinct(col("__fk")).as("n_orphan_keys"))
    base.agg(count(lit(1)).as("n_child"),
        sum(when(col("__fk").isNull, 1L).otherwise(0L)).as("n_null_fk"))
      .crossJoin(broadcast(o))
      .select(col("n_child"), col("n_null_fk"), col("n_orphans"),
        col("n_orphan_keys"),
        expr("(10000 * n_orphans) div n_child").as("orphan_bp"))
  }

  /** Per-key orphan detail for [[fkCheck]]: the `topK` foreign keys
    * with the most dangling child rows (ties broken by key).
    */
  def fkOrphanKeys(child: DataFrame, parent: DataFrame,
      childKey: String, parentKey: String, topK: Int = 20): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val keys = parent.select(col(parentKey).as("__pk")).distinct()
    child.select(col(childKey).as("orphan_key"))
      .filter(col("orphan_key").isNotNull)
      .join(keys, col("orphan_key") === col("__pk"), "left_anti")
      .groupBy(col("orphan_key")).agg(count(lit(1)).as("n_rows"))
      .orderBy(col("n_rows").desc, col("orphan_key"))
      .limit(topK)
  }

  /** Population Stability Index between a reference and a current
    * slice of one numeric column over a FIXED bucket ladder — the
    * standard production drift gate for numeric features (PSI < 0.1
    * stable, 0.1–0.25 drifting, > 0.25 shifted). The token-level
    * sibling is [[Corpus.domainDrift]]; this one watches numbers
    * (prices, scores, lengths) between two crawls / weeks / shards.
    *
    * PSI = Σ_buckets (p_b − q_b) · ln(p_b / q_b), with p from
    * `current`, q from `reference`. Empty buckets are Laplace-floored
    * by adding 1 to every bucket count on both sides (deterministic,
    * and the gate stays defined when a bucket empties out).
    *
    * Determinism contract: per-bucket contributions are computed by
    * ONE expression string ([[psiTermExpr]]) on exact integer counts,
    * floor-quantized to nano-units, summed as BIGINT — the
    * [[Corpus.driftKlTermExpr]] pattern. Bucket boundaries are a
    * literal CASE ladder, so assignment is engine-exact.
    *
    * 100 TB posture: each side is one scan → |boundaries|-sized
    * aggregate; the join is on bucket labels (bounded); nothing big
    * moves.
    *
    * @param boundaries strictly-increasing upper bounds; values above
    *                   the last go to the overflow bucket
    * @return one row per bucket (bucket, n_ref, n_cur, psi_nano_term)
    *         plus the scalar Σ as psi_nano on every row (window-free:
    *         a broadcast single-row cross join)
    */
  def psiDrift(reference: DataFrame, current: DataFrame, valueCol: String,
      boundaries: Seq[Double]): DataFrame = {
    require(boundaries.nonEmpty && boundaries == boundaries.sorted &&
      boundaries.distinct == boundaries,
      "boundaries must be non-empty, strictly increasing")
    def counts(df: DataFrame, as: String) = df
      .select(col(valueCol).cast("double").as("v"))
      .filter(col("v").isNotNull)
      .selectExpr(psiBucketExpr(boundaries) + " AS bucket")
      .groupBy(col("bucket")).agg(count(lit(1)).as(as))
    // the full bucket grid as a literal frame, so empty buckets exist
    // on both sides before the Laplace floor
    val all = boundaries.map(b => s"le_$b") :+ "overflow"
    val gridDf = reference.sparkSession.range(1)
      .select(explode(array(all.map(lit): _*)).as("bucket"))
    val joined = gridDf
      .join(counts(reference, "nr"), Seq("bucket"), "left")
      .join(counts(current, "nc"), Seq("bucket"), "left")
      .select(col("bucket"),
        (coalesce(col("nr"), lit(0L)) + 1L).as("n_ref"),
        (coalesce(col("nc"), lit(0L)) + 1L).as("n_cur"))
    val tot = joined.agg(sum(col("n_ref")).as("t_ref"),
      sum(col("n_cur")).as("t_cur"))
    val terms = joined.crossJoin(broadcast(tot))
      .selectExpr("bucket", "n_ref", "n_cur",
        psiTermExpr + " AS psi_nano_term")
    val total = terms.agg(sum(col("psi_nano_term")).as("psi_nano"))
    terms.crossJoin(broadcast(total))
  }

  /** Kolmogorov–Smirnov drift statistic over the same fixed bucket
    * ladder as [[psiDrift]]: the maximum CDF gap between the two
    * slices, in floor basis points — the rank-style companion to
    * PSI (PSI weights density ratios; KS catches a pure location
    * shift even when densities stay comparable). ENTIRELY integer:
    * each side's CDF is floor-quantized to basis points on its own
    * total — (cum·10⁴) div total — and the gap is the |difference| of
    * those two bp values (≤1 bp quantization, fully deterministic).
    * The r8 cross-multiplied form |cr·t_cur − cc·t_ref|·10⁴ overflowed
    * BIGINT once each side passed ~10⁷–10⁸ rows (ANSI would throw at
    * runtime); the per-side form is safe to ~9·10¹⁴ rows per slice.
    *
    * @return one row: (ks_bp, at_bucket — the first ladder bucket
    *         attaining the max, n_ref, n_cur)
    */
  def ksDrift(reference: DataFrame, current: DataFrame, valueCol: String,
      boundaries: Seq[Double]): DataFrame = {
    require(boundaries.nonEmpty && boundaries == boundaries.sorted &&
      boundaries.distinct == boundaries,
      "boundaries must be non-empty, strictly increasing")
    def counts(df: DataFrame, as: String) = df
      .select(col(valueCol).cast("double").as("v"))
      .filter(col("v").isNotNull)
      .selectExpr(psiBucketExpr(boundaries) + " AS bucket")
      .groupBy(col("bucket")).agg(count(lit(1)).as(as))
    val all = boundaries.map(b => s"le_$b") :+ "overflow"
    val order = typedlit(all.zipWithIndex.toMap)
    val gridDf = reference.sparkSession.range(1)
      .select(explode(array(all.map(lit): _*)).as("bucket"))
    val joined = gridDf
      .join(counts(reference, "nr"), Seq("bucket"), "left")
      .join(counts(current, "nc"), Seq("bucket"), "left")
      .select(col("bucket"), element_at(order, col("bucket")).as("pos"),
        coalesce(col("nr"), lit(0L)).as("nr"),
        coalesce(col("nc"), lit(0L)).as("nc"))
    val w = Window.orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.partitionBy()
    val cum = joined
      .withColumn("cr", sum(col("nr")).over(w))
      .withColumn("cc", sum(col("nc")).over(w))
      .withColumn("t_ref", sum(col("nr")).over(wAll))
      .withColumn("t_cur", sum(col("nc")).over(wAll))
      .withColumn("gap_bp",
        expr("abs((cr * 10000) div t_ref - (cc * 10000) div t_cur)"))
    val best = Window.orderBy(col("gap_bp").desc, col("pos"))
    cum.withColumn("__rk", row_number().over(best))
      .filter(col("__rk") === 1)
      .select(col("gap_bp").as("ks_bp"), col("bucket").as("at_bucket"),
        col("t_ref").as("n_ref"), col("t_cur").as("n_cur"))
  }

  /** CASE ladder for [[psiDrift]] bucket assignment — shared verbatim
    * with the SQL replay (label `le_<bound>` / `overflow`).
    */
  def psiBucketExpr(boundaries: Seq[Double]): String =
    "CASE " + boundaries.map(b => s"WHEN v <= $b THEN 'le_$b' ")
      .mkString + "ELSE 'overflow' END"

  /** Keyed snapshot diff — data versioning for structured tables:
    * classify every primary key as added / removed / changed /
    * unchanged between two snapshots and count which columns drove
    * the changes (the content-hash sibling for text corpora is the
    * q90c corpus diff; this one is for dimensions and fact extracts
    * where the KEY persists and the attributes move). Null-safe
    * comparison (`<=>`): a null attribute is a value, not a wildcard.
    *
    * One full-outer join on the key + one aggregation; the long-format
    * result (metric, n) is emitted via an exploded literal array —
    * zero extra scans, same trick as [[expect]].
    */
  def tableDiff(old: DataFrame, fresh: DataFrame, pk: String,
      cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "need at least one compared column")
    val o = old.select(col(pk).as("__k") +:
      (cols.map(c => col(c).as(s"__o_$c")) :+ lit(true).as("__op")): _*)
    val n = fresh.select(col(pk).as("__k") +:
      (cols.map(c => col(c).as(s"__n_$c")) :+ lit(true).as("__np")): _*)
    val j = o.join(n, Seq("__k"), "full")
    val both = col("__op").isNotNull && col("__np").isNotNull
    val colChg = cols.map(c => c ->
      (both && !(col(s"__o_$c") <=> col(s"__n_$c"))))
    val anyChg = colChg.map(_._2).reduce(_ || _)
    def cnt(p: Column) = sum(when(p, 1L).otherwise(0L))
    val aggs = Seq(
      cnt(col("__op").isNotNull).as("rows_old"),
      cnt(col("__np").isNotNull).as("rows_new"),
      cnt(col("__op").isNull).as("added"),
      cnt(col("__np").isNull).as("removed"),
      cnt(anyChg).as("changed"),
      cnt(both && !anyChg).as("unchanged")) ++
      colChg.map { case (c, p) => cnt(p).as(s"chg_$c") }
    val row = j.agg(aggs.head, aggs.tail: _*)
    val metrics = Seq("rows_old", "rows_new", "added", "removed",
      "changed", "unchanged") ++ cols.map(c => s"chg_$c")
    val labels = Seq("rows_old", "rows_new", "added", "removed",
      "changed", "unchanged") ++ cols.map(c => s"col_changed:$c")
    row.select(explode(array(metrics.zip(labels).map { case (m, l) =>
        struct(lit(l).as("metric"), col(m).as("n"))
      }: _*)).as("e"))
      .select(col("e.metric").as("metric"), col("e.n").as("n"))
  }

  /** Key-SKEW profile — the "should I salt this join/agg" planning
    * report: per-key counts folded into exact power-of-two buckets,
    * one output row per occupied bucket (bucket b covers counts in
    * [2^b, 2^b+1)). The bucket index is the key count's binary-string
    * length minus one (`bin()` + `length()`, identical string ops on
    * both engines — deliberately NOT floor(log2(cnt)), whose IEEE
    * rounding at exact powers of two is engine-dependent). A healthy
    * key reads as a tight bucket band; a hot key shows as a lonely
    * high bucket holding most of `n_rows` — that bucket's `max_cnt`
    * vs the low buckets' is the salting factor to plan for.
    *
    * Plan shape: one map-side-combined groupBy over the key, then a
    * bounded (≤ 64-bucket) aggregation. Null keys profile as their
    * own bucket row would — they're counted like any value (a null-
    * heavy key IS a skew hazard; filter upstream if unwanted).
    *
    * @return (bucket, lo_cnt, n_keys, n_rows, max_cnt) per occupied
    *         bucket, bucket ascending
    */
  def skewProfile(df: DataFrame, keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "need at least one key column")
    val counts = df.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("cnt"))
    counts
      .withColumn("bucket",
        (length(expr("bin(cnt)")) - 1).cast("int"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_keys"), sum(col("cnt")).as("n_rows"),
        max(col("cnt")).as("max_cnt"))
      .withColumn("lo_cnt", expr("CAST(1 AS BIGINT) << bucket"))
      .select(col("bucket"), col("lo_cnt"), col("n_keys"),
        col("n_rows"), col("max_cnt"))
  }

  /** k-anonymity census over quasi-identifier columns — the privacy
    * gate a corpus (or its metadata tables) passes before release:
    * every combination of quasi-identifiers must be shared by at
    * least k rows, or the combination re-identifies. One groupBy over
    * the quasi columns, then a bounded rollup; with `sensitive` set,
    * also reports l-diversity (the minimum number of distinct
    * sensitive values within any class — k-anonymous classes with one
    * sensitive value still leak it).
    *
    * @return one summary row (n_rows, n_classes, min_class_size,
    *         n_violating_classes, rows_at_risk, risk_bp floor basis
    *         points, l_min — null when no sensitive column given)
    */
  def kAnonymity(df: DataFrame, quasiCols: Seq[String], k: Long,
      sensitive: Option[String] = None): DataFrame = {
    require(quasiCols.nonEmpty, "need at least one quasi-identifier column")
    require(k >= 2, s"k must be >= 2, got $k")
    sensitive.foreach(s => require(!quasiCols.contains(s),
      s"sensitive column $s must not be a quasi-identifier"))
    val classAggs = count(lit(1)).as("__sz") +:
      sensitive.map(s => countDistinct(col(s)).as("__l")).toSeq
    val classes = df.groupBy(quasiCols.map(col): _*)
      .agg(classAggs.head, classAggs.tail: _*)
    classes.agg(
      sum(col("__sz")).as("n_rows"),
      count(lit(1)).as("n_classes"),
      min(col("__sz")).as("min_class_size"),
      sum(when(col("__sz") < k, 1L).otherwise(0L)).as("n_violating_classes"),
      sum(when(col("__sz") < k, col("__sz")).otherwise(0L)).as("rows_at_risk"),
      (sensitive.map(_ => min(col("__l")))
        .getOrElse(lit(null))).cast("long").as("l_min"))
      .withColumn("risk_bp", expr("(10000 * rows_at_risk) div n_rows"))
      .select(col("n_rows"), col("n_classes"), col("min_class_size"),
        col("n_violating_classes"), col("rows_at_risk"), col("risk_bp"),
        col("l_min"))
  }

  /** Generalization ladder — the FIX for a failing [[kAnonymity]] gate
    * (Samarati-style generalization with one numeric quasi-identifier
    * coarsened through a bucket-size ladder): for each candidate
    * bucket size, quantize the numeric column to integer cents and
    * floor-divide into buckets (pure integer arithmetic — the repo's
    * cents discipline, so bucket identity is bit-exact in any engine),
    * re-run the k-anonymity census over (categorical quasi columns +
    * bucket), and report the per-level risk; `chosen` marks the FIRST
    * (finest) level with zero rows at risk — the minimal information
    * loss that satisfies k. If no level satisfies k, nothing is chosen
    * and callers escalate to suppression.
    *
    * 100 TB posture: one groupBy + bounded rollup per ladder level
    * (the ladder is a handful of sizes), all shuffle-side; the output
    * is `ladder.size` rows.
    *
    * @param ladder bucket sizes in the numeric column's UNITS (not
    *               cents), strictly ascending (finest first)
    * @return per level: (bucket_sz, n_rows, n_classes, min_class_size,
    *         n_violating_classes, rows_at_risk, risk_bp, chosen)
    */
  def generalizeToK(df: DataFrame, quasiCats: Seq[String], numCol: String,
      ladder: Seq[Long], k: Long): DataFrame = {
    require(ladder.nonEmpty && ladder.forall(_ >= 1),
      s"ladder must be non-empty positive bucket sizes, got $ladder")
    require(ladder == ladder.sorted && ladder.distinct == ladder,
      s"ladder must be strictly ascending (finest first), got $ladder")
    val cents = round(col(numCol) * 100).cast("long")
    val perLevel = ladder.map { b =>
      val bc = b * 100L
      // integer FLOOR division (not trunc — negative balances must
      // land in their lower bucket in both engines)
      val bucket = ((cents - pmod(cents, lit(bc))) / bc).cast("long")
      kAnonymity(df.withColumn("__qb", bucket), quasiCats :+ "__qb", k)
        .select(lit(b).as("bucket_sz"), col("n_rows"), col("n_classes"),
          col("min_class_size"), col("n_violating_classes"),
          col("rows_at_risk"), col("risk_bp"))
    }
    val all = perLevel.reduce(_ unionByName _)
    val firstOk = all.filter(col("rows_at_risk") === 0)
      .agg(min(col("bucket_sz")).as("__first_ok"))
    all.crossJoin(broadcast(firstOk))
      .withColumn("chosen",
        col("__first_ok").isNotNull && col("bucket_sz") === col("__first_ok"))
      .drop("__first_ok")
  }

  /** Floor-nano PSI term on Laplace-floored integer counts:
    * (p − q)·ln(p/q) with p = n_cur/t_cur, q = n_ref/t_ref.
    */
  def psiTermExpr: String =
    "CAST(FLOOR(1000000000.0 * " +
      "((CAST(n_cur AS DOUBLE) / CAST(t_cur AS DOUBLE))" +
      " - (CAST(n_ref AS DOUBLE) / CAST(t_ref AS DOUBLE)))" +
      " * LN((CAST(n_cur AS DOUBLE) * CAST(t_ref AS DOUBLE))" +
      " / (CAST(t_cur AS DOUBLE) * CAST(n_ref AS DOUBLE)))) AS BIGINT)"

  /** Benford first-digit screen — the classic fabricated-data /
    * corrupted-feed test: natural multi-magnitude quantities follow
    * P(d) = log10(1 + 1/d), and a column that departs hard from it
    * (uniform synthetic fill, truncated exports, unit-mangled loads)
    * shows up as per-digit deviation. Reports, per digit 1–9: count,
    * observed share (floor bp), the Benford expectation (integer bp
    * CONSTANTS, precomputed once here and embedded as literals in both
    * engines), and |obs − exp|.
    *
    * First-digit extraction is a fixed comparison ladder normalizing
    * |v| into [1, 10) by exact power-of-ten division — one shared
    * expression string, pure IEEE ops, no log10 (whose last-ulp
    * behavior near exact powers of ten differs by libm). Supported
    * magnitude range [1e-3, 1e7); rows outside it and zeros are
    * excluded and reported via `n_excluded` on every row; nulls are
    * dropped silently (null accounting is [[profile]]'s job).
    *
    * One scan + one 9-row aggregation; the excluded count rides the
    * same aggregation (no second pass).
    */
  def benfordDigits(df: DataFrame, valueCol: String): DataFrame = {
    val expBp = benfordExpBp
    val v = df.select(abs(col(valueCol).cast("double")).as("v"))
      .filter(col("v").isNotNull)
    val classified = v.selectExpr(
      s"CASE WHEN v >= 0.001 AND v < 10000000.0 THEN $benfordDigitExpr " +
        "ELSE -1 END AS digit")
    val agg = classified.groupBy(col("digit"))
      .agg(count(lit(1)).as("n"))
    // global aggregates: exactly ONE row each even when their input is
    // empty (null sums coalesced), so the cross joins never vanish
    val excl = agg.filter(col("digit") === -1)
      .agg(coalesce(sum(col("n")), lit(0L)).as("n_excluded"))
    val tot = agg.filter(col("digit") =!= -1)
      .agg(sum(col("n")).as("t"))
    val grid = df.sparkSession.range(1, 10)
      .select(col("id").cast("int").as("digit"))
    val expCol = expBp.zipWithIndex.foldLeft(lit(0L)) { case (acc, (e, i)) =>
      when(col("digit") === i + 1, lit(e)).otherwise(acc)
    }
    grid.join(agg, Seq("digit"), "left")
      .select(col("digit"), coalesce(col("n"), lit(0L)).as("n"))
      .crossJoin(broadcast(tot))
      .crossJoin(broadcast(excl))
      .withColumn("obs_bp", expr("(n * 10000) div t"))
      .withColumn("exp_bp", expCol)
      .withColumn("dev_bp", abs(col("obs_bp") - col("exp_bp")))
      .select(col("digit"), col("n"), col("obs_bp"), col("exp_bp"),
        col("dev_bp"), col("n_excluded"))
  }

  /** Exact `nQ`-point type-1 quantile ladder of a numeric column:
    * values at global sort ranks floor(q·(n−1)/nQ) for q = 0..nQ —
    * (nQ+1) exact DATA values (no interpolation, no fp synthesis),
    * collected driver-side (bounded by construction).
    *
    * Global rank is computed DISTRIBUTED ([[FrameOps
    * .searchSortedLarge]]'s prefix-scan shape, not a single-partition
    * global window): range-partition on the value (equal keys land in
    * one partition), per-partition 0-based row_number, plus a
    * broadcast exclusive prefix offset per partition — the only
    * globally-ordered window runs over the numParts-row count frame.
    * The value AT a given rank is deterministic under duplicates
    * regardless of their relative order, so no tie column is needed.
    * At 100 TB the histogram tier ([[Sketches.histBuild]], q216b) is
    * the cheaper 2-scan alternative when ladder-resolution exactness
    * suffices — same downstream mapping contract.
    */
  def quantileLadder(df: DataFrame, valueCol: String,
      nQ: Int): Array[Double] = {
    require(nQ >= 2 && nQ <= 10000, s"nQ must be in [2, 10000], got $nQ")
    val v = df.select(col(valueCol).cast("double").as("v"))
      .filter(col("v").isNotNull)
    val n = v.count()
    require(n > 0, s"quantileLadder: no non-null values in $valueCol")
    val targets = (0 to nQ).map(q => q.toLong * (n - 1) / nQ).distinct
    // localCheckpoint pins __pid across the offsets and rank-pick
    // branches (the searchSortedLarge two-branch hazard — see the
    // comment there; r14c receipt)
    val parted = v.repartitionByRange(col("v"))
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint()
    val localW = Window.partitionBy(col("__pid")).orderBy(col("v"))
    val offsets = parted.groupBy(col("__pid"))
      .agg(count(lit(1)).as("__cnt"))
      .withColumn("__offset", coalesce(sum(col("__cnt")).over(
        Window.orderBy(col("__pid"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__pid"), col("__offset"))
    val picked = parted
      .withColumn("__local", row_number().over(localW).cast("long") - 1L)
      .join(broadcast(offsets), "__pid")
      .withColumn("rn", col("__local") + col("__offset"))
      .filter(col("rn").isin(targets: _*))
      .select(col("v"), col("rn"))
      .collect().map(r => r.getLong(1) -> r.getDouble(0)).toMap
    (0 to nQ).map(q => picked(q.toLong * (n - 1) / nQ)).toArray
  }

  /** Quantile mapping (discrete histogram matching) — the CORRECTION
    * companion of [[psiDrift]]/[[ksDrift]]: once drift is detected,
    * map each current value onto the reference distribution by
    * quantile — v lands in its own distribution's quantile bucket
    * q_idx, and is replaced by the REFERENCE ladder value at the same
    * index (the scikit QuantileTransformer / image histogram-matching
    * shape, discrete at nQ buckets).
    *
    * Both ladders are (nQ+1) exact data values broadcast to a
    * per-row binary-search UDF — the big side is a pure map, nothing
    * shuffles. Mapped outputs are exact reference DATA values (no
    * arithmetic on them), so the whole result hash-gates.
    *
    * @return input row + (q_idx, mapped)
    */
  def quantileMap(cur: DataFrame, ref: DataFrame, valueCol: String,
      nQ: Int = 16): DataFrame = {
    val curL = quantileLadder(cur, valueCol, nQ)
    val refL = quantileLadder(ref, valueCol, nQ)
    val mapUdf = udf { (v: Double) =>
      // largest i with curL(i) <= v (ties resolve to the LAST equal
      // entry — the COUNT(lv <= v) − 1 semantics the oracle replays)
      var lo = 0
      var hi = curL.length - 1
      var i = -1
      while (lo <= hi) {
        val m = (lo + hi) >>> 1
        if (curL(m) <= v) { i = m; lo = m + 1 } else hi = m - 1
      }
      val idx = math.max(0, i)
      (idx, refL(idx))
    }
    cur.withColumn("__m", mapUdf(col(valueCol).cast("double")))
      .withColumn("q_idx", col("__m._1"))
      .withColumn("mapped", col("__m._2"))
      .drop("__m")
  }

  /** Reference bucket counts for a PSI monitor
    * ([[graft.streaming.Streams.psiDriftStream]]): ONE batch
    * aggregation over the reference slice, collected as a bounded
    * (|bounds|+1)-value vector. Compute this ONCE when the reference
    * window is frozen and pass the literal vector to every monitor
    * restart — the production shape; a monitor must NOT rescan the
    * reference corpus per deploy. Buckets ride the same
    * [[psiBucketExpr]] ladder the batch-side [[psiDrift]] gate uses,
    * so frozen counts and batch PSI agree bucket-for-bucket.
    */
  def psiReferenceCounts(ref: DataFrame, valueCol: String,
      bounds: Seq[Double]): Seq[Long] = {
    val labels = bounds.map(b => s"le_$b") :+ "overflow"
    val m = ref.select(col(valueCol).cast("double").as("v"))
      .filter(col("v").isNotNull)
      .selectExpr(psiBucketExpr(bounds) + " AS bucket")
      .groupBy(col("bucket")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    labels.map(l => m.getOrElse(l, 0L))
  }

  /** Histogram-backed quantile mapping — the 100 TB tier of
    * [[quantileMap]] (which is exact but rides a single-partition
    * global row_number + a driver collect; its own docstring names
    * this op as the scale swap). Both distributions are reduced to
    * [[Sketches.histBuild]]'s mergeable equi-width histograms (ONE
    * scan each, integer bucket counts, shard-mergeable by addition),
    * and the mapping is classic discrete histogram matching at bucket
    * granularity:
    *
    *   mapped_bucket(b) = min { rb : cumRef(rb)·nCur >= cumCur(b)·nRef }
    *
    * — an integer cross-multiplied CDF inversion, no float ratios, no
    * ladder collect, no WindowExec anywhere: cumulative counts come
    * from a bounded nBuckets×nBuckets triangular self-join (≤ 64²
    * rows), and the row-level application is ONE broadcast join of the
    * ≤ nBuckets-row mapping against the big side. Missing buckets need
    * no densification: cumulative counts are constant across empty
    * runs, so the min present bucket meeting the target equals the min
    * over the full grid.
    *
    * Granularity trade vs [[quantileMap]]: outputs land on bucket
    * midpoints ([[histMidExpr]], one shared expression string) rather
    * than exact reference data values — the histogram-estimate
    * contract [[Sketches.histQuantile]] already documents, worst-case
    * one bucket width. Everything emitted (bucket ids, midpoints) is
    * deterministic integer/one-shot-double arithmetic, so the whole
    * result hash-gates (q216b).
    *
    * @return input row + (bucket, mapped_bucket, mapped)
    */
  def quantileMapHist(cur: DataFrame, ref: DataFrame, valueCol: String,
      lo: Double, hi: Double, nBuckets: Int = 32): DataFrame = {
    require(nBuckets >= 2 && nBuckets <= 1024,
      s"nBuckets must be in [2, 1024], got $nBuckets")
    require(lo < hi, s"need lo < hi, got [$lo, $hi]")
    // every join below is between ≤ nBuckets-row frames — broadcast
    // hints keep the non-equi joins on BroadcastNestedLoopJoin (a
    // bounded loop over tiny frames) instead of CartesianProduct
    def cum(h: DataFrame): DataFrame =
      h.as("a").join(broadcast(h.as("b")), col("b.bucket") <= col("a.bucket"))
        .groupBy(col("a.bucket").as("bucket"))
        .agg(sum(col("b.cnt")).as("cume"))
    val ch = cum(Sketches.histBuild(cur, valueCol, lo, hi, nBuckets))
    val rh = cum(Sketches.histBuild(ref, valueCol, lo, hi, nBuckets))
    val nCur = ch.agg(max(col("cume")).as("n_cur"))
    val nRef = rh.agg(max(col("cume")).as("n_ref"))
    val mapping = ch.crossJoin(broadcast(nCur)).crossJoin(broadcast(nRef))
      .as("c")
      .join(broadcast(rh.as("r")),
        col("r.cume") * col("n_cur") >= col("c.cume") * col("n_ref"))
      .groupBy(col("c.bucket").as("bucket"))
      .agg(min(col("r.bucket")).as("mapped_bucket"))
    cur.withColumn("__v", col(valueCol).cast("double"))
      .withColumn("bucket",
        expr(Sketches.histBucketExpr(lo, hi, nBuckets)
          .replaceAll("\\bv\\b", "__v")))
      .drop("__v")
      .join(broadcast(mapping), Seq("bucket"))
      .withColumn("mapped",
        expr(histMidExpr(lo, hi, nBuckets)))
  }

  /** Midpoint of `mapped_bucket` rounded to 6 decimals — one shared
    * expression string parsed identically by Spark and DuckDB.
    */
  def histMidExpr(lo: Double, hi: Double, nBuckets: Int): String =
    s"ROUND(CAST($lo AS DOUBLE) + (CAST(mapped_bucket AS DOUBLE)" +
      s" + CAST(0.5 AS DOUBLE))" +
      s" * ((CAST($hi AS DOUBLE) - CAST($lo AS DOUBLE)) / $nBuckets), 6)"

  /** Per-group [[benfordDigits]] — the screen run per source/feed/
    * tenant, which is how a corrupted UPSTREAM is actually localized
    * (a global screen dilutes one bad feed across the corpus). Same
    * exact power-of-ten ladder and integer-bp deviations; per-group
    * totals and exclusions ride ONE partitioned window over the
    * (|groups|·10)-row aggregate (scalable — the window is partitioned
    * by group, never global), and the digit grid is densified per
    * group so absent digits surface as n = 0 rows exactly like the
    * global op.
    *
    * @return (grp, digit, n, obs_bp, exp_bp, dev_bp, n_excluded)
    */
  def benfordDigitsBy(df: DataFrame, group: String,
      valueCol: String): DataFrame = {
    val v = df.select(col(group).as("grp"),
        abs(col(valueCol).cast("double")).as("v"))
      .filter(col("v").isNotNull && col("grp").isNotNull)
    val classified = v.selectExpr("grp",
      s"CASE WHEN v >= 0.001 AND v < 10000000.0 THEN $benfordDigitExpr " +
        "ELSE -1 END AS digit")
    val agg = classified.groupBy(col("grp"), col("digit"))
      .agg(count(lit(1)).as("n"))
    val grid = v.select(col("grp")).distinct()
      .crossJoin(v.sparkSession.range(1, 10)
        .select(col("id").cast("int").as("digit")))
    val w = Window.partitionBy(col("grp"))
    val expCol = benfordExpBp.zipWithIndex.foldLeft(lit(0L)) {
      case (acc, (e, i)) => when(col("digit") === i + 1, lit(e)).otherwise(acc)
    }
    grid.join(agg, Seq("grp", "digit"), "left")
      .select(col("grp"), col("digit"), coalesce(col("n"), lit(0L)).as("n"))
      .unionByName(agg.filter(col("digit") === -1))
      .withColumn("t",
        sum(when(col("digit") =!= -1, col("n")).otherwise(0L)).over(w))
      .withColumn("n_excluded",
        sum(when(col("digit") === -1, col("n")).otherwise(0L)).over(w))
      .filter(col("digit") =!= -1)
      // a group whose every value was excluded has t = 0: report
      // obs_bp 0 (deviation = the full expectation) instead of nulls
      .withColumn("obs_bp",
        when(col("t") === 0, lit(0L)).otherwise(expr("(n * 10000) div t")))
      .withColumn("exp_bp", expCol)
      .withColumn("dev_bp", abs(col("obs_bp") - col("exp_bp")))
      .select(col("grp"), col("digit"), col("n"), col("obs_bp"),
        col("exp_bp"), col("dev_bp"), col("n_excluded"))
  }

  /** floor(1e4·log10(1 + 1/d)) for d = 1..9 — computed once in Scala
    * and embedded as integer literals in BOTH engines' plans.
    */
  def benfordExpBp: Seq[Long] =
    (1 to 9).map(d => math.floor(10000.0 * math.log10(1.0 + 1.0 / d)).toLong)

  /** First significant digit of column `v` (|value|, already > 0 and
    * inside [1e-3, 1e7)): a fixed power-of-ten comparison ladder into
    * [1, 10), then FLOOR — one string, parsed by both engines, no
    * libm log10.
    */
  def benfordDigitExpr: String =
    "CAST(FLOOR(CASE " +
      "WHEN v >= 1000000.0 THEN v / 1000000.0 " +
      "WHEN v >= 100000.0 THEN v / 100000.0 " +
      "WHEN v >= 10000.0 THEN v / 10000.0 " +
      "WHEN v >= 1000.0 THEN v / 1000.0 " +
      "WHEN v >= 100.0 THEN v / 100.0 " +
      "WHEN v >= 10.0 THEN v / 10.0 " +
      "WHEN v >= 1.0 THEN v " +
      "WHEN v >= 0.1 THEN v * 10.0 " +
      "WHEN v >= 0.01 THEN v * 100.0 " +
      "ELSE v * 1000.0 END) AS INT)"

  /** [[psiTermExpr]]'s arithmetic with pluggable operand EXPRESSIONS:
    * `nCur` = raw current bucket count (Laplace +1 applied inline),
    * `tCur` = current Laplace total, `nRef`/`tRef` = reference Laplace
    * count/total (literal numbers or column names — the values, not
    * the spelling, drive the IEEE result). One generator feeds both
    * the Spark streaming monitor and its DuckDB replay.
    */
  def psiTermExprOf(nCur: String, tCur: String, nRef: String,
      tRef: String): String =
    "CAST(FLOOR(1000000000.0 * " +
      s"((CAST($nCur + 1 AS DOUBLE) / CAST($tCur AS DOUBLE))" +
      s" - (CAST($nRef AS DOUBLE) / CAST($tRef AS DOUBLE)))" +
      s" * LN((CAST($nCur + 1 AS DOUBLE) * CAST($tRef AS DOUBLE))" +
      s" / (CAST($tCur AS DOUBLE) * CAST($nRef AS DOUBLE)))) AS BIGINT)"

  /** EMBEDDING-space drift: per-dimension mean shift between two
    * snapshots of a vector column, in exact integer micro-units — the
    * deploy-time monitor for "the new encoder/crawl moved the
    * embedding distribution" that the scalar drift family (PSI/KL/KS)
    * cannot see. Values floor-quantize to micro BEFORE summation
    * (association-order-free, the [[Linalg.gramianMicro]] contract);
    * means divide through [[truncDivExpr]] so truncation toward zero is
    * explicit on both engines (floor-vs-trunc `div` semantics differ
    * for negative sums). One scan per snapshot, a dim-row join —
    * nothing global, nothing collected.
    *
    * @return (i, n_old, n_new, mean_old_micro, mean_new_micro,
    *         shift_micro, abs_shift_micro) — one row per dimension
    */
  def embeddingDriftMicro(old: DataFrame, fresh: DataFrame,
      vecCol: String, dim: Int): DataFrame = {
    require(dim >= 1 && dim <= 4096, s"dim must be in [1, 4096], got $dim")
    def sums(df: DataFrame, s: String, n: String) = df
      // shape fail-fast (the applyChangeSet op-domain pattern): a null
      // or ragged vector would otherwise silently skew per-dimension
      // counts AND let the inner join drop dimensions — a monitor that
      // under-reports drift on malformed input is worse than one that
      // raises. size() is an O(1) header read per row.
      .select(when(col(vecCol).isNull || size(col(vecCol)) =!= dim,
          raise_error(concat(lit(s"embeddingDriftMicro: $vecCol size "),
            coalesce(size(col(vecCol)).cast("string"), lit("NULL")),
            lit(s" != dim $dim"))))
        .otherwise(col(vecCol)).as("v"))
      .select(posexplode(col("v").cast("array<double>")).as(Seq("i", "x")))
      .groupBy(col("i"))
      .agg(sum(floor(col("x") * 1e6).cast("long")).as(s),
        count(lit(1)).as(n))
    sums(old, "s_old", "n_old").join(sums(fresh, "s_new", "n_new"), Seq("i"))
      .withColumn("mean_old_micro", expr(truncDivExpr("s_old", "n_old")))
      .withColumn("mean_new_micro", expr(truncDivExpr("s_new", "n_new")))
      .withColumn("shift_micro", col("mean_new_micro") - col("mean_old_micro"))
      .withColumn("abs_shift_micro", abs(col("shift_micro")))
      .select(col("i"), col("n_old"), col("n_new"), col("mean_old_micro"),
        col("mean_new_micro"), col("shift_micro"), col("abs_shift_micro"))
  }

  /** Truncate-toward-zero integer division as a shared expression
    * template: engines disagree on negative integral division (DuckDB
    * `//` floors, JVM `/` truncates), so the sign is split out —
    * substitute the engine's own integral-divide operator for `div`
    * when mirroring.
    */
  def truncDivExpr(a: String, b: String): String =
    s"CASE WHEN $a < 0 THEN -((-($a)) div $b) ELSE ($a) div $b END"

  // ---- score-based classifier evaluation (the metrics that decide
  // whether a trained quality/language/toxicity gate ships) ----------

  /** Shared substrate of the threshold-evaluation family
    * ([[rocAuc]] / [[averagePrecision]] / [[scoreSweep]]): scores
    * floor-quantized to `scale` units (exact IEEE multiply + floor,
    * identical in both engines), then ONE aggregation to per-distinct-
    * score (n_pos, n_neg) counts. Everything downstream operates on
    * this DISTINCT-SCORE frame, whose size is bounded by the
    * quantization — a [0,1] probability at micro scale is ≤ 1e6+1 rows
    * no matter how many billions of scored rows feed it — so the
    * global order-by-score windows the metrics need are bounded by
    * construction, never a sort of the data. Null scores/labels drop.
    */
  private def scoreCounts(df: DataFrame, scoreCol: String,
      labelCol: String, scale: Long): DataFrame =
    df.select(col(scoreCol).cast("double").as("v"),
        col(labelCol).cast("boolean").as("y"))
      .filter(col("v").isNotNull && col("y").isNotNull)
      .select(floor(col("v") * scale.toDouble).cast("long").as("s"),
        col("y"))
      .groupBy(col("s"))
      .agg(sum(when(col("y"), 1L).otherwise(0L)).as("n_pos"),
        sum(when(!col("y"), 1L).otherwise(0L)).as("n_neg"))

  /** Exact ROC AUC of a score column against a boolean label, via the
    * Mann–Whitney U statistic over the quantized distinct-score frame:
    * 2U = Σ_s n_pos(s)·(2·negatives_below(s) + n_neg(s)) — ties (same
    * quantized score) contribute the conventional half-credit without
    * ever leaving integers, and AUC floors to basis points, so the
    * whole result hash-gates. One scan, one bounded window.
    *
    * Overflow bounds (BIGINT): the 10^4-scaled numerator needs
    * P·N ≤ ~4.6e14 (tens of millions per class) — at fleet scale
    * compute AUC per stratum (source/day) exactly and report the
    * strata, which is what a monitor wants anyway.
    *
    * @return one row: (n_pos, n_neg, n_scores, two_u, auc_bp);
    *         auc_bp is null when either class is empty
    */
  def rocAuc(df: DataFrame, scoreCol: String, labelCol: String,
      scale: Long = 1000000L): DataFrame = {
    require(scale >= 1L && scale <= 1000000000L,
      s"scale must be in [1, 1e9], got $scale")
    val sc = scoreCounts(df, scoreCol, labelCol, scale)
    val below = Window.orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    sc.withColumn("cn_below",
        coalesce(sum(col("n_neg")).over(below), lit(0L)))
      .withColumn("two_u_term",
        col("n_pos") * (lit(2L) * col("cn_below") + col("n_neg")))
      .agg(sum(col("n_pos")).as("n_pos"), sum(col("n_neg")).as("n_neg"),
        count(lit(1)).as("n_scores"), sum(col("two_u_term")).as("two_u"))
      .withColumn("auc_bp",
        expr("(10000 * two_u) div nullif(2 * n_pos * n_neg, 0L)"))
  }

  /** Exact average precision (the area under the precision–recall
    * curve, sklearn's step-sum form) over the same quantized
    * distinct-score substrate as [[rocAuc]]: sweeping thresholds
    * DESCENDING, AP = Σ_s (n_pos(s)/P) · precision(s). Each
    * precision floors once to nano units (spelled-once in both
    * engines), the per-threshold terms sum as integers, and the final
    * ratio floors twice (sum/P, then nano→bp) — error < 1e-5 bp,
    * pinned identically cross-engine. Null when no positives.
    *
    * Overflow bounds (BIGINT): needs cum_tp ≤ 9.2e9 and
    * P ≤ 9.2e9 — beyond billions of positives, stratify.
    *
    * @return one row: (n_pos, n_neg, n_scores, sum_prec_nano, ap_bp)
    */
  def averagePrecision(df: DataFrame, scoreCol: String, labelCol: String,
      scale: Long = 1000000L): DataFrame = {
    require(scale >= 1L && scale <= 1000000000L,
      s"scale must be in [1, 1e9], got $scale")
    val sc = scoreCounts(df, scoreCol, labelCol, scale)
    val upto = Window.orderBy(col("s").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    sc.withColumn("cum_tp", sum(col("n_pos")).over(upto))
      .withColumn("cum_n", sum(col("n_pos") + col("n_neg")).over(upto))
      .withColumn("prec_nano", expr("(1000000000 * cum_tp) div cum_n"))
      .withColumn("term", col("n_pos") * col("prec_nano"))
      .agg(sum(col("n_pos")).as("n_pos"), sum(col("n_neg")).as("n_neg"),
        count(lit(1)).as("n_scores"), sum(col("term")).as("sum_prec_nano"))
      .withColumn("ap_bp", expr(
        "(10000 * (sum_prec_nano div nullif(n_pos, 0L))) div 1000000000"))
  }

  /** Full threshold sweep — the ROC and PR curves as ONE frame, a row
    * per distinct quantized score (threshold = "predict positive when
    * score ≥ s"): cumulative tp/fp plus tpr/fpr/precision/f1 in floor
    * basis points. This is the table a threshold picker reads (choose
    * the operating point); [[rocAuc]]/[[averagePrecision]] are its
    * scalar rollups. Output size = distinct quantized scores, bounded
    * by the quantization, independent of input rows.
    */
  def scoreSweep(df: DataFrame, scoreCol: String, labelCol: String,
      scale: Long = 1000000L): DataFrame = {
    require(scale >= 1L && scale <= 1000000000L,
      s"scale must be in [1, 1e9], got $scale")
    val sc = scoreCounts(df, scoreCol, labelCol, scale)
    val upto = Window.orderBy(col("s").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val all = Window.orderBy(col("s").desc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    sc.withColumn("cum_tp", sum(col("n_pos")).over(upto))
      .withColumn("cum_fp", sum(col("n_neg")).over(upto))
      .withColumn("p_tot", sum(col("n_pos")).over(all))
      .withColumn("n_tot", sum(col("n_neg")).over(all))
      .withColumn("tpr_bp", expr("(10000 * cum_tp) div nullif(p_tot, 0L)"))
      .withColumn("fpr_bp", expr("(10000 * cum_fp) div nullif(n_tot, 0L)"))
      .withColumn("precision_bp",
        expr("(10000 * cum_tp) div (cum_tp + cum_fp)"))
      .withColumn("f1_bp",
        expr("(20000 * cum_tp) div (cum_tp + cum_fp + p_tot)"))
      .select(col("s"), col("n_pos"), col("n_neg"), col("cum_tp"),
        col("cum_fp"), col("tpr_bp"), col("fpr_bp"), col("precision_bp"),
        col("f1_bp"))
  }

  /** Reliability diagram + expected calibration error of a PROBABILITY
    * column against a boolean label: equi-width probability bins, per
    * bin the count, positives, floor-bp mean predicted probability and
    * observed positive rate, their absolute gap, and the corpus-level
    * ECE (count-weighted mean gap) broadcast onto every row (the q189
    * scalar-Σ pattern). A quality classifier whose scores gate a
    * corpus must be calibrated or its threshold means nothing — this
    * is the table that check reads.
    *
    * Probabilities quantize to micro units BEFORE summation (the
    * gramianMicro association-order-free contract) so bin means are
    * exact integers; out-of-[0,1] scores raise (op-domain fail-fast —
    * a silent clamp would fake calibration). Empty bins are absent
    * (zero weight in ECE by definition). One scan + a ≤ nBins-row agg.
    */
  def calibrationBins(df: DataFrame, probCol: String, labelCol: String,
      nBins: Int = 10): DataFrame = {
    require(nBins >= 2 && nBins <= 10000,
      s"nBins must be in [2, 10000], got $nBins")
    val src = df
      .select(col(probCol).cast("double").as("v"),
        col(labelCol).cast("boolean").as("y"))
      .filter(col("v").isNotNull && col("y").isNotNull)
      .select(when(col("v") < 0.0 || col("v") > 1.0,
          raise_error(concat(lit("calibrationBins: probability out of "),
            lit("[0,1]: "), col("v").cast("string"))))
        .otherwise(col("v")).as("v"), col("y"))
    val binned = src.select(
        least(floor(col("v") * nBins).cast("long"), lit(nBins - 1L))
          .as("bin"),
        floor(col("v") * 1e6).cast("long").as("v_micro"), col("y"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("y"), 1L).otherwise(0L)).as("n_pos"),
        sum(col("v_micro")).as("sum_micro"))
      .withColumn("pred_bp", expr("sum_micro div (100 * n)"))
      .withColumn("obs_bp", expr("(10000 * n_pos) div n"))
      .withColumn("gap_bp", abs(col("pred_bp") - col("obs_bp")))
    val tot = binned
      .agg(sum(col("n")).as("t"),
        sum(expr("n * gap_bp")).as("wg"))
      .select(expr("wg div t").as("ece_bp"))
    binned.crossJoin(broadcast(tot))
      .select(col("bin"), col("n"), col("n_pos"), col("pred_bp"),
        col("obs_bp"), col("gap_bp"), col("ece_bp"))
  }

  /** Cohen's kappa between two label columns — chance-corrected
    * agreement, the standard inter-annotator (or model-vs-model)
    * consistency score a labeling pipeline gates on before trusting a
    * rater pool. All sums are exact integers; po/pe appear as floor
    * basis points and kappa itself through the sign-split
    * [[truncDivExpr]] (kappa is legitimately negative under systematic
    * disagreement, and DuckDB's `//` floors where the JVM truncates).
    * Null-labeled rows drop; kappa is null when pe = 1 (a single class
    * on both sides — agreement is undefined, not fabricated 1).
    *
    * Overflow bound (BIGINT): the 10^4-scaled numerator needs
    * n_obs ≤ ~3e7 rated items — per-stratum at fleet scale.
    *
    * @return one row: (n_obs, n_agree, n_classes, pe_num, po_bp,
    *         pe_bp, kappa_bp)
    */
  def cohenKappa(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val j = df.select(col(aCol).cast("string").as("a"),
        col(bCol).cast("string").as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull)
    val base = j.agg(count(lit(1)).as("n_obs"),
      sum(when(col("a") === col("b"), 1L).otherwise(0L)).as("n_agree"))
    val ra = j.groupBy(col("a").as("cls")).agg(count(lit(1)).as("n_a"))
    val rb = j.groupBy(col("b").as("cls")).agg(count(lit(1)).as("n_b"))
    // full join: a class used by only one rater contributes 0 to the
    // chance term but still counts as a class
    val pe = ra.join(rb, Seq("cls"), "full")
      .agg(coalesce(sum(col("n_a") * col("n_b")), lit(0L)).as("pe_num"),
        count(lit(1)).as("n_classes"))
    base.crossJoin(broadcast(pe))
      .withColumn("po_bp", expr("(10000 * n_agree) div nullif(n_obs, 0L)"))
      .withColumn("pe_bp",
        expr("(10000 * pe_num) div nullif(n_obs * n_obs, 0L)"))
      .withColumn("kappa_bp", expr(truncDivExpr(
        "10000 * (n_obs * n_agree - pe_num)",
        "nullif(n_obs * n_obs - pe_num, 0L)")))
      .select(col("n_obs"), col("n_agree"), col("n_classes"),
        col("pe_num"), col("po_bp"), col("pe_bp"), col("kappa_bp"))
  }

  /** FK-CASCADE PURGE PLAN — the "right to be forgotten" audit: given
    * root keys to delete and an FK chain of child tables, compute per
    * table how many rows the cascade removes and integer key-sum
    * WITNESSES of both the deleted and surviving sets (a single
    * mis-cascaded row flips a witness, which is what makes the plan
    * hash-gatable and diffable across engines before anything is
    * actually deleted). Level i's deleted keys are the own-keys of
    * rows whose FK lands in level i−1's deleted keys — semi-join
    * cascade, so no table is ever joined wider than its key columns.
    *
    * 100 TB posture: one keyed semi/anti-join + one bounded agg per
    * table; deleted-key frames are key-only projections (broadcast
    * when small, shuffle-joined when not — planner's call), and no
    * row data ever leaves its table's scan.
    *
    * @param chain one entry per child level: (tableName, df,
    *              fkToParent, ownKey) — ownKey feeds the next level's
    *              FK match and the witnesses
    * @return (lvl, table, n_rows, n_deleted, n_kept, deleted_key_sum,
    *         kept_key_sum) one row per chain entry
    */
  def cascadePurgePlan(roots: DataFrame, rootKey: String,
      chain: Seq[(String, DataFrame, String, String)]): DataFrame = PinScope { pins =>
    require(chain.nonEmpty, "need at least one child table")
    var parentDeleted = roots.select(col(rootKey).cast("long").as("k"))
      .filter(col("k").isNotNull).distinct()
    val reports = chain.zipWithIndex.map {
      case ((name, df, fk, ownKey), i) =>
        val keyed = df.select(col(fk).cast("long").as("fk"),
          col(ownKey).cast("long").as("k"))
        val del = keyed.join(parentDeleted.withColumnRenamed("k", "fk"),
          Seq("fk"), "left_semi")
        if (i < chain.size - 1) // only the next level reads these keys
          parentDeleted = pins.pin(del.select(col("k")).distinct())
        // kept = total − deleted (no anti-join, no own-key-uniqueness
        // assumption: deletion membership is decided by the FK alone)
        val tAgg = keyed.agg(count(lit(1)).as("n_rows"),
          coalesce(sum(col("k")), lit(0L)).as("total_key_sum"))
        val dAgg = del.agg(count(lit(1)).as("n_deleted"),
          coalesce(sum(col("k")), lit(0L)).as("deleted_key_sum"))
        dAgg.crossJoin(tAgg)
          .select(lit(i + 1).as("lvl"), lit(name).as("table"),
            col("n_rows"), col("n_deleted"),
            (col("n_rows") - col("n_deleted")).as("n_kept"),
            col("deleted_key_sum"),
            (col("total_key_sum") - col("deleted_key_sum"))
              .as("kept_key_sum"))
    }
    reports.reduce(_ unionByName _)
  }

  /** T-CLOSENESS census — the third privacy gate beside [[kAnonymity]]
    * (class size) and its l-diversity column (distinct sensitive
    * values): per quasi-identifier class, the EARTH MOVER'S DISTANCE
    * between the class's sensitive-value distribution and the global
    * one, over the ORDERED value domain (Li, Li & Venkatasubramanian
    * 2007's numeric form: EMD = mean |prefix-sum of p − q| over the
    * m−1 steps). A class can be k-anonymous and l-diverse yet leak —
    * e.g. every row in it "diverse" but skewed to high salaries; EMD
    * is the gate that catches that.
    *
    * Exact integers throughout: the per-step mass difference is
    * cross-multiplied (p_i − q_i → cnt_class_i·N − cnt_glob_i·n_class)
    * so prefixes are integer sums, and the result is one division,
    * emd_ppm = 1e6·Σ|prefix| div (n_class·N·(m−1)) — non-negative
    * operands, engine-identical. m = 1 (a constant sensitive column)
    * emits 0.
    *
    * Scale: the support grid is |classes|·m rows — the sensitive
    * attribute must be categorical or pre-bucketized (the domain
    * t-closeness is defined on); the class frame itself is the same
    * one [[kAnonymity]] aggregates.
    *
    * @return one row per class: (quasiCols…, n_class, emd_ppm)
    */
  def tCloseness(df: DataFrame, quasiCols: Seq[String],
      sensitive: String): DataFrame = {
    require(quasiCols.nonEmpty, "need at least one quasi-identifier column")
    require(!quasiCols.contains(sensitive),
      s"sensitive column $sensitive must not be a quasi-identifier")
    val vals = df.select((quasiCols.map(col) :+
        col(sensitive).cast("string").as("__v")): _*)
      .filter(col("__v").isNotNull &&
        quasiCols.map(c => col(c).isNotNull).reduce(_ && _))
    val glob = vals.groupBy(col("__v")).agg(count(lit(1)).as("__qc"))
      .crossJoin(broadcast(vals.agg(count(lit(1)).as("__n"),
        countDistinct(col("__v")).as("__m"))))
    val classes = vals.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("__nc"))
    val cell = vals.groupBy((quasiCols.map(col) :+ col("__v")): _*)
      .agg(count(lit(1)).as("__pc"))
    val grid = classes.crossJoin(broadcast(glob))
      .join(cell, quasiCols :+ "__v", "left")
      .withColumn("__pc", coalesce(col("__pc"), lit(0L)))
    val w = Window.partitionBy(quasiCols.map(col): _*).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    grid
      .withColumn("__pref",
        sum(col("__pc") * col("__n") - col("__qc") * col("__nc")).over(w))
      .groupBy((quasiCols.map(col) :+ col("__nc") :+ col("__n")
        :+ col("__m")): _*)
      .agg(sum(abs(col("__pref"))).as("__emd_num"))
      .withColumn("emd_ppm", when(col("__m") <= 1, lit(0L))
        .otherwise(expr(
          "(1000000 * __emd_num) div (__nc * __n * (__m - 1))")))
      .select((quasiCols.map(col) :+ col("__nc").as("n_class")
        :+ col("emd_ppm")): _*)
  }

  /** MUTUAL INFORMATION between two categorical/bucketized columns in
    * exact floor-nano nats — the model-free feature-relevance screen
    * (which metadata columns actually carry signal about the label /
    * each other; near-zero MI = safe to drop, high MI between two
    * features = redundancy). Each cell term
    * floor(1e9 · (n_xy/N) · ln(n_xy·N / (n_x·n_y))) is an exact
    * function of four integers (the [[graft.ops.Corpus.entropyTermExpr]]
    * contract), so the sum is association-order-free and replays
    * bit-for-bit. Terms can be negative cell-wise; the SUM is the MI
    * estimate (non-negative up to the floor quantization, which can
    * leave it a few nano below zero on independent columns — reported
    * as-is, not clamped).
    *
    * One (x, y) count shuffle with map-side combine + two marginal
    * rollups of THAT frame (never a second scan) + a broadcast join
    * back. Cardinality contract: |X|·|Y| cells — bucketize continuous
    * columns first (the [[tCloseness]] posture).
    *
    * @return one row: (n, nx, ny, mi_nano)
    */
  def mutualInfoNano(df: DataFrame, xCol: String, yCol: String): DataFrame = PinScope { pins =>
    val cells = pins.cache(df.select(col(xCol).cast("string").as("x"),
        col(yCol).cast("string").as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull)
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("nxy")))
    val mx = cells.groupBy(col("x")).agg(sum(col("nxy")).as("nx"))
    val my = cells.groupBy(col("y")).agg(sum(col("nxy")).as("ny"))
    val tot = cells.agg(sum(col("nxy")).as("n"),
      countDistinct(col("x")).as("nx_vals"),
      countDistinct(col("y")).as("ny_vals"))
    pins.pin(cells.join(mx, "x").join(my, "y")
      .crossJoin(broadcast(tot))
      .withColumn("term", expr(
        "CAST(FLOOR(1000000000.0 * (CAST(nxy AS DOUBLE) / CAST(n AS DOUBLE))" +
          " * LN((CAST(nxy AS DOUBLE) * CAST(n AS DOUBLE))" +
          " / (CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE)))) AS BIGINT)"))
      .groupBy(col("n"), col("nx_vals"), col("ny_vals"))
      .agg(sum(col("term")).as("mi_nano"))
      .select(col("n"), col("nx_vals").as("nx"), col("ny_vals").as("ny"),
        col("mi_nano")))
  }

  /** A/B-assignment SAMPLE-RATIO-MISMATCH check — the first gate every
    * experiment readout runs (a biased splitter invalidates everything
    * downstream): per arm, observed count vs the expected share, the
    * signed deviation in floor ppm of total, and the per-arm
    * chi-square term (O−E)²/E in its cross-multiplied form
    * (cnt·D − w_i·N)² / (w_i·D·N) with integer weights w_i summing to
    * D — the numerator/denominator are exact integers and the one
    * division + ROUND(…, 6) is a single IEEE expression, so the value
    * replays across engines (the q235 rounded-double contract; an
    * all-integer floor would truncate small-n terms to 0).
    *
    * @param arms (armValue, weight) — integer weights, e.g. 50/50 or
    *             90/10; rows with other arm values are counted as
    *             `unexpected` (an SRM red flag on their own)
    * @return per arm: (arm, n, expected_ppm, observed_ppm, dev_ppm,
    *         chi2_term) plus one `__unexpected__` row
    */
  def srmCheck(df: DataFrame, armCol: String,
      arms: Seq[(String, Long)]): DataFrame = {
    require(arms.nonEmpty, "need at least one arm")
    require(arms.map(_._1).distinct.size == arms.size, "duplicate arms")
    require(arms.forall(_._2 > 0), "arm weights must be positive")
    val d = arms.map(_._2).sum
    val spark = df.sparkSession
    import spark.implicits._
    val counts = df.select(col(armCol).cast("string").as("arm"))
      .filter(col("arm").isNotNull)
      .groupBy(col("arm")).agg(count(lit(1)).as("cnt"))
    val grid = arms.toDF("arm", "w")
    val known = grid.join(counts, Seq("arm"), "left")
      .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
    val tot = known.agg(sum(col("cnt")).as("n_assigned")).crossJoin(
      counts.join(grid.select(col("arm")), Seq("arm"), "left_anti")
        .agg(coalesce(sum(col("cnt")), lit(0L)).as("n_unexpected")))
    known.crossJoin(broadcast(tot))
      .withColumn("expected_ppm", expr(s"(w * 1000000) div ${d}L"))
      .withColumn("observed_ppm",
        expr("CASE WHEN n_assigned = 0 THEN 0" +
          " ELSE (cnt * 1000000) div n_assigned END"))
      .withColumn("dev_ppm", col("observed_ppm") - col("expected_ppm"))
      .withColumn("chi2_term", expr(
        s"CASE WHEN n_assigned = 0 THEN CAST(0.0 AS DOUBLE) ELSE" +
          s" ROUND(CAST((cnt * ${d}L - w * n_assigned)" +
          s" * (cnt * ${d}L - w * n_assigned) AS DOUBLE)" +
          s" / CAST(w * ${d}L * n_assigned AS DOUBLE), 6) END"))
      .select(col("arm"), col("cnt").as("n"), col("expected_ppm"),
        col("observed_ppm"), col("dev_ppm"), col("chi2_term"))
      .unionByName(tot.select(lit("__unexpected__").as("arm"),
        col("n_unexpected").as("n"), lit(0L).as("expected_ppm"),
        lit(0L).as("observed_ppm"), lit(0L).as("dev_ppm"),
        lit(0.0d).as("chi2_term")))
  }

  /** Per-group conversion rate with the WILSON score interval — the
    * readout layer over [[srmCheck]]'s assignment audit and
    * [[cupedAdjust]]'s variance reduction: a small-n arm's naive
    * p ± z√(p(1−p)/n) interval is garbage near 0/1; Wilson's is the
    * standard fix every experimentation platform reports.
    * lo/hi = (p + z²/2n ∓ z·√(p(1−p)/n + z²/4n²)) / (1 + z²/n).
    *
    * Counts are exact integers (conv_ppm is a floor div); the interval
    * bounds are IEEE doubles ROUND(…, 6) — the q20b rounded-double
    * contract. Empty groups cannot occur (groupBy only emits observed
    * groups); n ≥ 1 keeps every division finite.
    *
    * @param convCol any column castable to 0/1 per unit row
    * @return (grp, n, n_conv, conv_ppm, wilson_lo, wilson_hi)
    */
  def conversionWilson(df: DataFrame, groupCol: String, convCol: String,
      z: Double = 1.96): DataFrame = {
    require(z > 0 && z <= 10, s"z must be in (0, 10], got $z")
    val base = df.select(col(groupCol).cast("string").as("grp"),
        col(convCol).cast("long").as("c"))
      .filter(col("grp").isNotNull && col("c").isNotNull)
    val agg = base.groupBy(col("grp"))
      .agg(count(lit(1)).as("n"), sum(col("c")).as("n_conv"))
    val nD = col("n").cast("double")
    val p = col("n_conv").cast("double") / nD
    val z2 = lit(z * z)
    val denom = lit(1.0) + z2 / nD
    val center = p + z2 / (lit(2.0) * nD)
    val spread = lit(z) * sqrt(p * (lit(1.0) - p) / nD +
      z2 / (lit(4.0) * nD * nD))
    agg.select(col("grp"), col("n"), col("n_conv"),
      expr("(n_conv * 1000000) div n").as("conv_ppm"),
      round((center - spread) / denom, 6).as("wilson_lo"),
      round((center + spread) / denom, 6).as("wilson_hi"))
  }

  /** Order-free corpus FINGERPRINT for integrity audits — the "did the
    * migration copy every row unchanged" check a 100 TB move needs
    * without a sort: per group, the row count plus the XOR and SUM of
    * the shared polynomial row hash. Both folds are commutative and
    * associative, so the fingerprint is IDENTICAL under any
    * partitioning, row order, or shard-merge plan — compare source and
    * destination with one scan each and a group-count-sized diff.
    * Row serialization: columns cast to string, NULL folded as the
    * U+0002 sentinel (distinct from the empty string), joined on
    * U+0001 (documented ambiguity bound: a data cell containing
    * U+0001 could alias a column boundary — pick audit columns
    * accordingly). Hash values live in [0, 1e9+7), so the int64 SUM is
    * exact up to ~9.2 billion rows PER GROUP; beyond that it wraps mod
    * 2^64, which still compares consistently between source and
    * destination (both sides wrap identically) — but enable
    * spark.sql.ansi.enabled and the SUM throws instead of wrapping, so
    * ANSI deployments auditing >9e9-row groups should fold sum_h
    * modulo a prime or split groups first.
    *
    * @return per group: (grp, n_rows, xor_h, sum_h)
    */
  def auditFingerprint(df: DataFrame, group: String,
      cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "need at least one audited column")
    val packed = concat_ws("\u0001",
      cols.map(c => coalesce(col(c).cast("string"), lit("\u0002"))): _*)
    df.select(col(group).cast("string").as("grp"),
        graft.expressions.TextHashes.poly_hash(packed).as("h"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_rows"),
        expr("bit_xor(h)").as("xor_h"),
        sum(col("h")).as("sum_h"))
  }

  /** CUPED variance-reduced A/B readout (Deng et al. 2013 — the
    * standard experimentation trick: remove the pre-period covariate's
    * share of the metric variance so the same traffic detects smaller
    * effects): θ = cov(x, y)/var(x) fitted GLOBALLY (pooled across
    * arms — the unbiased form), each arm's adjusted mean is
    * mean(y) − θ·(mean(x) − mean(x)_global), and `var_reduction` is
    * ρ²(x, y) — the fraction of metric variance CUPED removes.
    *
    * Determinism contract: second-moment statistics are IEEE doubles
    * (covar_pop/var_pop), so every emitted value is ROUND(…, 6) — the
    * q20b/q235 rounded-double discipline; last-ulp association-order
    * noise is absorbed, the decision-grade digits replay across
    * engines. A zero-variance covariate yields θ = NULL (no
    * adjustment is defensible); callers see it immediately.
    *
    * One scan for the global moments (5-cell aggregate, broadcast) +
    * one per-arm aggregate — nothing shuffles beyond the arm keys.
    *
    * @param df one row per UNIT (user/session) with its covariate x
    *           (pre-period) and metric y (post-period)
    * @return per arm: (arm, n, mean_y, theta, mean_y_adj,
    *         var_reduction)
    */
  def cupedAdjust(df: DataFrame, armCol: String, xCol: String,
      yCol: String): DataFrame = {
    val base = df.select(col(armCol).cast("string").as("arm"),
        col(xCol).cast("double").as("x"), col(yCol).cast("double").as("y"))
      .filter(col("arm").isNotNull && col("x").isNotNull &&
        col("y").isNotNull)
    val g = base.agg(
      covar_pop(col("x"), col("y")).as("cxy"),
      var_pop(col("x")).as("vx"),
      var_pop(col("y")).as("vy"),
      avg(col("x")).as("mx"))
    val arms = base.groupBy(col("arm")).agg(count(lit(1)).as("n"),
      avg(col("y")).as("my_a"), avg(col("x")).as("mx_a"))
    val theta = when(col("vx") > 0, col("cxy") / col("vx"))
    arms.crossJoin(broadcast(g))
      .select(col("arm"), col("n"),
        round(col("my_a"), 6).as("mean_y"),
        round(theta, 6).as("theta"),
        round(col("my_a") - theta * (col("mx_a") - col("mx")), 6)
          .as("mean_y_adj"),
        round(when(col("vx") > 0 && col("vy") > 0,
          col("cxy") * col("cxy") / (col("vx") * col("vy"))), 6)
          .as("var_reduction"))
  }

  /** Classifier CALIBRATION report — reliability bins + expected
    * calibration error for a [0, 1] score column against a binary
    * label (the eval every quality-classifier gate (q155/q194) needs
    * before its threshold means anything): scores ladder into
    * `nBins` equal-width bins (clamped, the [[graft.ops.Sketches
    * .histBucketExpr]] arithmetic with lo=0, hi=1), each bin reports
    * its count, mean score, and observed positive rate in floor ppm,
    * and the summary ECE is the count-weighted mean absolute
    * (confidence − accuracy) gap — integer ppm throughout except the
    * mean score (one division rounded 6dp, the q235 contract).
    *
    * One scan + one ≤nBins-row aggregation; the ECE fold runs on the
    * bin frame. Returns the PER-BIN frame with the scalar ECE
    * repeated per row (one frame, hash-gatable; read any row's
    * `ece_ppm`).
    *
    * @return (bin, n, mean_score, pos_ppm, gap_ppm, ece_ppm)
    */
  def calibrationReport(df: DataFrame, scoreCol: String,
      labelCol: String, nBins: Int = 10): DataFrame = {
    require(nBins >= 2 && nBins <= 1000,
      s"nBins must be in [2, 1000], got $nBins")
    val bins = df.select(col(scoreCol).cast("double").as("v"),
        col(labelCol).cast("long").as("y"))
      .filter(col("v").isNotNull && col("y").isNotNull)
      .selectExpr(
        graft.ops.Sketches.histBucketExpr(0.0, 1.0, nBins) + " AS bin",
        "v", "y")
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos"),
        round(avg(col("v")), 6).as("mean_score"),
        // confidence in ppm from the SAME rounded mean (floor of
        // 1e6 * rounded mean is exact: 6dp scales to an integer)
        floor(round(avg(col("v")), 6) * 1e6).cast("long").as("conf_ppm"))
      .withColumn("pos_ppm", expr("(n_pos * 1000000) div n"))
      .withColumn("gap_ppm", abs(col("conf_ppm") - col("pos_ppm")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1))
    bins
      // integer div, NOT a double division + cast: Spark's long cast
      // truncates while DuckDB's rounds — div floors identically in
      // both engines on these non-negative sums
      .withColumn("__wg", sum(col("n") * col("gap_ppm")).over(w))
      .withColumn("__wn", sum(col("n")).over(w))
      .withColumn("ece_ppm", expr("__wg div __wn"))
      .select(col("bin"), col("n"), col("mean_score"), col("pos_ppm"),
        col("gap_ppm"), col("ece_ppm"))
  }

  /** Classifier threshold report — the operating-point ladder that
    * turns a scored corpus into a DECISION (reference shape:
    * scikit-learn's precision_recall_curve, quantized to a fixed
    * threshold grid): per threshold, the full confusion census
    * (tp/fp/fn/tn) plus precision/recall/F1/accuracy in floor basis
    * points. [[calibrationReport]] (q262) answers "are the scores
    * honest probabilities"; this answers "WHERE do I cut" — the step
    * every quality-classifier gate (CCNet-style perplexity tiers,
    * learned filters) performs before its threshold means anything.
    *
    * Arithmetic contract: scores quantize to floor ppm BEFORE the
    * comparison (one IEEE floor on the same double both engines
    * compute), predictions are `v_ppm >= thr_ppm`, and every ratio is
    * an integer div on non-negative operands. F1 uses the single-
    * division identity f1 = 2·tp / (2·tp + fp + fn) — no nested
    * rounded ratios, so the floor is exact.
    *
    * 100 TB posture: ONE full-column scan aggregated into 4·|ladder|
    * conditional sums (map-side combined), then a bounded |ladder|-row
    * stack — the corpus is never crossed with the grid and never
    * shuffles by score.
    *
    * @return (thr_ppm, tp, fp, fn, tn, precision_bp, recall_bp,
    *         f1_bp, acc_bp), one row per threshold
    */
  def thresholdReport(df: DataFrame, scoreCol: String, labelCol: String,
      thrPpm: Seq[Long]): DataFrame = {
    require(thrPpm.nonEmpty && thrPpm.size <= 64,
      s"ladder must have 1..64 thresholds, got ${thrPpm.size}")
    require(thrPpm == thrPpm.sorted && thrPpm.distinct == thrPpm,
      "ladder must be strictly increasing")
    val base = df.select(
        floor(col(scoreCol).cast("double") * 1e6).cast("long").as("vp"),
        col(labelCol).cast("long").as("y"))
      .filter(col("vp").isNotNull && col("y").isNotNull)
    // coalesce: SUM over ZERO rows is NULL, and an empty (or fully
    // null-filtered) scan must still yield the all-zero confusion
    // ladder the census contract promises (r14 ADVICE item)
    val aggs = thrPpm.zipWithIndex.flatMap { case (t, i) => Seq(
      coalesce(sum(when(col("vp") >= t && col("y") === 1, 1L)
        .otherwise(0L)), lit(0L)).as(s"tp$i"),
      coalesce(sum(when(col("vp") >= t && col("y") === 0, 1L)
        .otherwise(0L)), lit(0L)).as(s"fp$i"),
      coalesce(sum(when(col("vp") < t && col("y") === 1, 1L)
        .otherwise(0L)), lit(0L)).as(s"fn$i"),
      coalesce(sum(when(col("vp") < t && col("y") === 0, 1L)
        .otherwise(0L)), lit(0L)).as(s"tn$i")) }
    val one = base.agg(aggs.head, aggs.tail: _*)
    val stackArgs = thrPpm.indices
      .map(i => s"${thrPpm(i)}L, tp$i, fp$i, fn$i, tn$i").mkString(", ")
    one.selectExpr(s"stack(${thrPpm.size}, $stackArgs)" +
        " AS (thr_ppm, tp, fp, fn, tn)")
      .select(col("thr_ppm"), col("tp"), col("fp"), col("fn"), col("tn"),
        expr("CASE WHEN tp + fp = 0 THEN 0L" +
          " ELSE (tp * 10000) div (tp + fp) END").as("precision_bp"),
        expr("CASE WHEN tp + fn = 0 THEN 0L" +
          " ELSE (tp * 10000) div (tp + fn) END").as("recall_bp"),
        expr("CASE WHEN 2 * tp + fp + fn = 0 THEN 0L" +
          " ELSE (2 * tp * 10000) div (2 * tp + fp + fn) END").as("f1_bp"),
        expr("CASE WHEN tp + fp + fn + tn = 0 THEN 0L" +
          " ELSE ((tp + tn) * 10000) div (tp + fp + fn + tn) END")
          .as("acc_bp"))
  }

  /** Per-slice [[thresholdReport]] — the PARITY view: the same
    * operating-point ladder computed independently per group (language,
    * source, demographic slice), so a threshold that looks fine on the
    * pooled corpus but guts recall on one slice is visible BEFORE the
    * cut ships (the disaggregated-evaluation discipline every
    * production quality gate owes its minority slices). Identical
    * arithmetic contract to [[thresholdReport]]; plan shape is the
    * same single scan with the conditional sums keyed by the group —
    * one map-side-combined shuffle on |groups| keys, then the bounded
    * per-group stack.
    *
    * @return (grp, thr_ppm, tp, fp, fn, tn, precision_bp, recall_bp,
    *         f1_bp, acc_bp), |groups|·|ladder| rows
    */
  /** EXACT ROC-AUC per group — the rank-sum (Mann–Whitney U) identity
    * with midrank tie handling, computed entirely in 64-bit integers:
    * scores quantize to floor ppm (the [[thresholdReport]] contract —
    * the ladder answers "where do I cut", this answers "how separable
    * are the classes at all"), ties collapse into per-(group, score)
    * (n_pos, n_neg) cells, and with cumBelow = negatives strictly
    * below the cell,
    *
    *   2·U = Σ_cells n_pos · (2·cumBelow_neg + n_neg_cell)
    *   auc_micro = floor(10⁶ · 2U / (2 · n_pos · n_neg))
    *
    * (each tied pair contributes exactly ½ — the midrank convention —
    * and the single floor at the end is the only rounding anywhere).
    * Degenerate groups (no positives or no negatives) emit NULL — an
    * AUC without both classes has no meaning.
    *
    * 100 TB posture: one shuffle to the (group, score_ppm) cells
    * (≤ 10⁶+1 cells per group by the ppm quantization — bounded by
    * VALUE DOMAIN, not rows), then a group-PARTITIONED cumulative
    * window over the cell frame. Nothing global, nothing collected.
    *
    * @return (grp, n_pos, n_neg, auc_micro)
    */
  def aucBy(df: DataFrame, group: String, scoreCol: String,
      labelCol: String): DataFrame = {
    val cells = df.select(col(group).as("grp"),
        floor(col(scoreCol).cast("double") * 1e6).cast("long").as("vp"),
        col(labelCol).cast("long").as("y"))
      .filter(col("grp").isNotNull && col("vp").isNotNull &&
        col("y").isNotNull)
      .groupBy(col("grp"), col("vp"))
      .agg(sum(when(col("y") === 1, 1L).otherwise(0L)).as("np"),
        sum(when(col("y") === 0, 1L).otherwise(0L)).as("nn"))
    val w = Window.partitionBy(col("grp")).orderBy(col("vp"))
      .rowsBetween(Window.unboundedPreceding, -1)
    cells
      .withColumn("cum_neg_below", coalesce(sum(col("nn")).over(w), lit(0L)))
      .groupBy(col("grp"))
      .agg(sum(col("np")).as("n_pos"), sum(col("nn")).as("n_neg"),
        sum(col("np") * (lit(2L) * col("cum_neg_below") + col("nn")))
          .as("u2"))
      .select(col("grp"), col("n_pos"), col("n_neg"),
        // the 10⁶ scale-up rides DECIMAL(38,0): u2 ≤ 2·n_pos·n_neg
        // stays in int64 to ~4e9 rows/group, but u2·10⁶ would wrap
        // past ~4M rows — the quotient itself is ≤ 10⁶ and exact
        expr("""CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL
              |  ELSE CAST((CAST(u2 AS DECIMAL(38,0)) * 1000000)
              |    div (2 * n_pos * n_neg) AS BIGINT)
              |END""".stripMargin).as("auc_micro"))
  }

  def thresholdReportBy(df: DataFrame, group: String, scoreCol: String,
      labelCol: String, thrPpm: Seq[Long]): DataFrame = {
    require(thrPpm.nonEmpty && thrPpm.size <= 64,
      s"ladder must have 1..64 thresholds, got ${thrPpm.size}")
    require(thrPpm == thrPpm.sorted && thrPpm.distinct == thrPpm,
      "ladder must be strictly increasing")
    val base = df.select(col(group).as("grp"),
        floor(col(scoreCol).cast("double") * 1e6).cast("long").as("vp"),
        col(labelCol).cast("long").as("y"))
      .filter(col("vp").isNotNull && col("y").isNotNull
        && col("grp").isNotNull)
    // coalesce: SUM over ZERO rows is NULL, and an empty (or fully
    // null-filtered) scan must still yield the all-zero confusion
    // ladder the census contract promises (r14 ADVICE item)
    val aggs = thrPpm.zipWithIndex.flatMap { case (t, i) => Seq(
      coalesce(sum(when(col("vp") >= t && col("y") === 1, 1L)
        .otherwise(0L)), lit(0L)).as(s"tp$i"),
      coalesce(sum(when(col("vp") >= t && col("y") === 0, 1L)
        .otherwise(0L)), lit(0L)).as(s"fp$i"),
      coalesce(sum(when(col("vp") < t && col("y") === 1, 1L)
        .otherwise(0L)), lit(0L)).as(s"fn$i"),
      coalesce(sum(when(col("vp") < t && col("y") === 0, 1L)
        .otherwise(0L)), lit(0L)).as(s"tn$i")) }
    val perGroup = base.groupBy(col("grp")).agg(aggs.head, aggs.tail: _*)
    val stackArgs = thrPpm.indices
      .map(i => s"${thrPpm(i)}L, tp$i, fp$i, fn$i, tn$i").mkString(", ")
    perGroup.selectExpr("grp",
        s"stack(${thrPpm.size}, $stackArgs)" +
          " AS (thr_ppm, tp, fp, fn, tn)")
      .select(col("grp"), col("thr_ppm"), col("tp"), col("fp"),
        col("fn"), col("tn"),
        expr("CASE WHEN tp + fp = 0 THEN 0L" +
          " ELSE (tp * 10000) div (tp + fp) END").as("precision_bp"),
        expr("CASE WHEN tp + fn = 0 THEN 0L" +
          " ELSE (tp * 10000) div (tp + fn) END").as("recall_bp"),
        expr("CASE WHEN 2 * tp + fp + fn = 0 THEN 0L" +
          " ELSE (2 * tp * 10000) div (2 * tp + fp + fn) END").as("f1_bp"),
        expr("CASE WHEN tp + fp + fn + tn = 0 THEN 0L" +
          " ELSE ((tp + tn) * 10000) div (tp + fp + fn + tn) END")
          .as("acc_bp"))
  }

  /** ISOTONIC calibration fit — the CORRECTION step after
    * [[calibrationReport]] measures the miscalibration: fit the
    * monotone step function minimizing squared error over the score
    * bins (the classifier-recalibration standard; Zadrozny & Elkan
    * 2002). Computed via the MINIMAX characterization of the
    * pool-adjacent-violators solution — fitted_j = max_{i<=j}
    * min_{k>=j} rate(i..k) — rather than the sequential PAV sweep, so
    * the whole fit is a closed-form fold over the bin grid and replays
    * in SQL (a sequential pooling loop would not).
    *
    * Quantization contract: range rates are floored to INTEGER ppm
    * BEFORE the max/min folds, so the monotone fit is exact over the
    * ppm grid and bit-identical across engines (the true rational
    * minimax could order two ranges differently than their ppm floors
    * — documented trade, at most 1 ppm of fit resolution).
    *
    * The bin frame is bounded by construction (<= nBins rows after
    * one scan + one aggregation); the O(nBins²) range grid and the
    * minimax folds run driver-side on collected counts — the
    * quantileLadder bounded-collect discipline.
    *
    * @return per observed bin: (bin, n, n_pos, raw_ppm, fitted_ppm) —
    *         fitted_ppm is non-decreasing in bin by construction
    */
  def isotonicCalibrate(df: DataFrame, scoreCol: String,
      labelCol: String, nBins: Int = 10): DataFrame = {
    require(nBins >= 2 && nBins <= 1000,
      s"nBins must be in [2, 1000], got $nBins")
    val spark = df.sparkSession
    import spark.implicits._
    val bins = df.select(col(scoreCol).cast("double").as("v"),
        col(labelCol).cast("long").as("y"))
      .filter(col("v").isNotNull && col("y").isNotNull)
      .selectExpr(
        graft.ops.Sketches.histBucketExpr(0.0, 1.0, nBins) + " AS bin",
        "y")
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos"))
      .orderBy(col("bin"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val b = bins.length
    // prefix sums over OBSERVED bins (empty bins carry no mass and
    // cannot change any pooled rate)
    val pn = bins.scanLeft(0L)(_ + _._2)
    val pp = bins.scanLeft(0L)(_ + _._3)
    def ratePpm(i: Int, k: Int): Long =
      (pp(k + 1) - pp(i)) * 1000000L / (pn(k + 1) - pn(i))
    val fitted = (0 until b).map { j =>
      (0 to j).map(i => (j until b).map(k => ratePpm(i, k)).min).max
    }
    bins.zipWithIndex.map { case ((bin, n, pos), j) =>
      (bin, n, pos, pos * 1000000L / n, fitted(j))
    }.toSeq.toDF("bin", "n", "n_pos", "raw_ppm", "fitted_ppm")
  }
}
