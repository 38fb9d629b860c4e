"""Distributed statistics / model-training primitives.

Beyond-reference capability tier (the reference's single fraud
pipeline — ``main.py:1-479`` — has no equivalent): the sufficient-
statistics shapes a training-data pipeline runs at corpus scale —
grouped closed-form regression, single-split decision stumps, a
power-iteration step for the dominant embedding component, mutual
nearest-neighbor alignment, lag autocorrelation, and grid-cell
spatial joins.

Determinism playbook (same as the registry): every aggregate is an
exact BIGINT sum (counts, scaled-integer products); ratios that
leave integer range are computed as DOUBLEs via the IDENTICAL
expression tree on both engines (cast → divide → scale → floor, all
correctly-rounded IEEE ops on identical int64 inputs → identical
bits), then floored to a scaled integer. Integer division is Spark
``DIV`` vs DuckDB ``//`` — both truncate toward zero, verified, so
negative intermediates are safe.

Scale notes are per-function; the common theme is that every
aggregation is a map-side-combinable groupBy on a bounded key space
(groups, dimensions, lags, grid cells), so the shuffle volume is
(#partitions × #groups) rows, not the input.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

NANOS = 1_000_000_000


def ratio_nanos(num: Column, denom: Column) -> Column:
    """num/denom in nano units as BIGINT, via the engine-portable
    double tree: cast both int64 inputs to double, divide, scale,
    +0.5, floor. Every step is a correctly-rounded IEEE-754 op on
    identical inputs, so Spark and any other IEEE engine (DuckDB)
    produce the same bits — deterministic even where the double is
    no longer the exact rational."""
    return F.floor(
        num.cast("double") / denom.cast("double") * F.lit(float(NANOS)) + F.lit(0.5)
    ).cast("long")


def grouped_ols(
    df: DataFrame, group_col: str, x_col: str, y_col: str
) -> DataFrame:
    """Per-group ordinary least squares y ~ a + b*x, closed form.

    The whole fit is ONE map-side-combinable aggregation of the five
    sufficient statistics (n, Σx, Σy, Σxx, Σxy) plus Σyy for R² —
    the textbook distributed-OLS plan: each partition reduces to one
    stats row per group before the shuffle, so shuffle volume is
    (#partitions × #groups) regardless of input size, and the model
    never touches the driver.

    Exactness bound: the sums are exact BIGINTs while
    n·max|x·y| < 2^63 per group (for x ≤ 50, y ≤ 2.2e5 cents that is
    n ≲ 8e11 rows/group; the n·Σxy cross term tightens it to
    n ≲ 9e5 — beyond that, pre-scale y to coarser units). The
    slope/intercept/R² ratios leave integer range by construction
    and use :func:`ratio_nanos`' portable double tree.

    ``x_col`` / ``y_col`` must already be integer-valued columns.
    """
    x = F.col(x_col).cast("long")
    y = F.col(y_col).cast("long")
    stats = df.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(x * y).alias("sxy"),
        F.sum(y * y).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    num = n * F.col("sxy") - sx * sy
    denom = n * F.col("sxx") - sx * sx
    vary = n * F.col("syy") - sy * sy
    slope = num.cast("double") / denom.cast("double")
    intercept_nanos = F.floor(
        (sy.cast("double") - slope * sx.cast("double"))
        / n.cast("double")
        * F.lit(float(NANOS))
        + F.lit(0.5)
    ).cast("long")
    r2_micros = F.floor(
        num.cast("double")
        * num.cast("double")
        / (denom.cast("double") * vary.cast("double"))
        * F.lit(1e6)
        + F.lit(0.5)
    ).cast("long")
    return (
        stats.filter((denom != 0) & (vary != 0))
        .select(
            group_col,
            "n",
            ratio_nanos(num, denom).alias("slope_nanos"),
            intercept_nanos.alias("intercept_nanos"),
            r2_micros.alias("r2_micros"),
        )
    )


def ols_stats(df: DataFrame, group_col: str, x_col: str, y_col: str) -> DataFrame:
    """The raw mergeable sufficient statistics behind
    :func:`grouped_ols` — exposed for incremental maintenance: two
    stats rows for the same group merge by plain addition, so a
    streaming sink can fold micro-batches into a running model
    without ever re-reading history (see
    ``streaming/pipeline.py`` ``streaming_ols_sink``)."""
    x = F.col(x_col).cast("long")
    y = F.col(y_col).cast("long")
    return df.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(x * y).alias("sxy"),
        F.sum(y * y).alias("syy"),
    )


def ols_from_stats(stats: DataFrame, group_col: str) -> DataFrame:
    """Derive (slope, intercept, R²) from merged sufficient
    statistics — the read side of the incremental-OLS pair."""
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    num = n * F.col("sxy") - sx * sy
    denom = n * F.col("sxx") - sx * sx
    vary = n * F.col("syy") - sy * sy
    slope = num.cast("double") / denom.cast("double")
    intercept_nanos = F.floor(
        (sy.cast("double") - slope * sx.cast("double"))
        / n.cast("double")
        * F.lit(float(NANOS))
        + F.lit(0.5)
    ).cast("long")
    r2_micros = F.floor(
        num.cast("double")
        * num.cast("double")
        / (denom.cast("double") * vary.cast("double"))
        * F.lit(1e6)
        + F.lit(0.5)
    ).cast("long")
    return stats.filter((denom != 0) & (vary != 0)).select(
        group_col,
        "n",
        ratio_nanos(num, denom).alias("slope_nanos"),
        intercept_nanos.alias("intercept_nanos"),
        r2_micros.alias("r2_micros"),
    )


def decision_stump(
    df: DataFrame, group_col: str, x_col: str, y_col: str
) -> DataFrame:
    """Per-group best single split "x <= t" maximizing between-class
    scatter — the inner loop of distributed tree training (XGBoost /
    LightGBM histogram method): aggregate per (group, feature level),
    prefix-scan the levels, argmax the split score.

    Score: diff² / (n_l·n_r) with diff = n_r·Σy_l − n_l·Σy_r — a
    monotone transform of the between-class variance, zero division
    hazards (both factors ≥ 1 for interior splits). Computed as the
    identical double tree on both engines from exact BIGINT prefix
    sums.

    Plan: ONE row-count-reducing shuffle (group×level aggregation
    with map-side combine; the key space is #groups × #levels, e.g.
    25 brands × 50 sizes). The prefix window and the argmax
    row_number run over that small levels relation — partitioned by
    group, never a global sort — and the input table is touched
    exactly once. At 100 TB the plan is unchanged: level histograms
    are what make tree training feasible at scale.
    """
    x = F.col(x_col).cast("long")
    y = F.col(y_col).cast("long")
    levels = df.groupBy(group_col, x.alias("lvl")).agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum(y).alias("sy"),
    )
    w = Window.partitionBy(group_col).orderBy("lvl")
    tot = Window.partitionBy(group_col)
    pref = levels.select(
        group_col,
        "lvl",
        F.sum("cnt").over(w).alias("n_l"),
        F.sum("sy").over(w).alias("sy_l"),
        F.sum("cnt").over(tot).alias("n"),
        F.sum("sy").over(tot).alias("sy_tot"),
    )
    n_r = F.col("n") - F.col("n_l")
    sy_r = F.col("sy_tot") - F.col("sy_l")
    diff = (
        n_r.cast("double") * F.col("sy_l").cast("double")
        - F.col("n_l").cast("double") * sy_r.cast("double")
    )
    scored = pref.filter(n_r > 0).select(
        group_col,
        F.col("lvl").alias("threshold"),
        F.col("n_l"),
        n_r.alias("n_r"),
        (diff * diff / (F.col("n_l").cast("double") * n_r.cast("double"))).alias(
            "score"
        ),
    )
    best = Window.partitionBy(group_col).orderBy(
        F.col("score").desc(), F.col("threshold").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(best))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def _quantized(vec_col: str, scale: int) -> Column:
    return F.transform(
        F.col(vec_col),
        lambda v: F.round(v.cast("double") * F.lit(float(scale))).cast("long"),
    )


def _dot_literal(qvec: Column, lit_vec: list[int]) -> Column:
    """Σ qvec[j]·lit_vec[j] as exact BIGINT — a per-row array
    intrinsic (zip_with + aggregate), no explode, no shuffle."""
    lit = F.array(*[F.lit(int(v)).cast("long") for v in lit_vec])
    return F.aggregate(
        F.zip_with(qvec, lit, lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def power_seed(dim: int) -> list[int]:
    """Deterministic non-degenerate start vector for power iteration:
    seed_j = ((j+1)·2654435761) mod 1000 − 500 (Knuth multiplicative
    constant) — replicated verbatim in the oracle SQL."""
    return [((j + 1) * 2654435761) % 1000 - 500 for j in range(dim)]


def _trunc_div(a: int, b: int) -> int:
    """Integer division truncating toward zero — Python twin of Spark
    ``DIV`` / DuckDB ``//`` (Python's ``//`` floors, which differs on
    negatives)."""
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b >= 0) else -q


def pca_power_iteration(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    scale: int = 10_000,
) -> DataFrame:
    """Dominant principal direction of the (uncentered) Gram matrix
    XᵀX via TWO distributed power-iteration steps, exact integers
    throughout.

    Each matvec w = XᵀXv is two passes expressed as one plan:
    s_i = x_i·v per row (array intrinsic, zero shuffle), then
    w_j = Σ_i x_ij·s_i (posexplode + groupBy(dim) — map-side combine
    reduces the shuffle to #partitions × dim rows). Between rounds
    the 64-int vector is renormalized to |v|∞ ≈ `scale` with
    truncating division and re-broadcast as a literal (the ONE
    driver collect, bounded at `dim` rows — same bounded-collect
    contract as the IVF centroid literals,
    ``operators/similarity.py:244``). The renormalization divides
    the NORMALIZER down (w ÷ max(m/scale, 1)) rather than scaling w
    up (w·scale overflows int64 exactly where renormalization
    matters most).

    Exactness bound: round-2 components satisfy
    |w2_j| ≤ n·scale·(dim·scale²) — exact int64 while n ≲ 5e5 at
    scale=1e4/dim=64; at larger n lower `scale` (quantization error
    shrinks the Rayleigh quotient quadratically, the argmax direction
    is insensitive).

    Returns (dim_idx, component_scaled): the round-2 vector
    renormalized in-plan to |·|∞ = `scale`.
    """
    seed = power_seed(dim)
    q = df.select(_quantized(vec_col, scale).alias("qv"))

    def matvec(qdf: DataFrame, v: list[int]) -> DataFrame:
        contrib = qdf.select(
            _dot_literal(F.col("qv"), v).alias("s"),
            F.posexplode("qv").alias("j", "e"),
        )
        return contrib.groupBy("j").agg(F.sum(F.col("e") * F.col("s")).alias("w"))

    w1 = matvec(q, seed).collect()
    m1 = max(abs(r["w"]) for r in w1)
    den1 = max(_trunc_div(m1, scale), 1)
    v1 = [0] * dim
    for r in w1:
        v1[r["j"]] = _trunc_div(r["w"], den1)

    w2 = matvec(q, v1)
    m2 = w2.agg(F.max(F.abs(F.col("w"))).alias("m")).select(
        F.col("m").alias("m2")
    )
    return (
        w2.crossJoin(F.broadcast(m2))
        .select(
            (F.col("j") + 1).cast("long").alias("dim_idx"),
            F.expr(f"w DIV greatest(m2 DIV {scale}, 1)").alias(
                "component_scaled"
            ),
        )
    )


def align_plane_count(
    n: int, target_bucket: int = 64, floor: int = 4, ceil: int = 24
) -> int:
    """Hyperplane count sized from the corpus count so LSH buckets
    stay ~``target_bucket`` in expectation: b = bit_length(n //
    target_bucket), clamped to [floor, ceil]. Pure integer arithmetic
    so an oracle can reproduce it exactly in SQL as
    ``LENGTH(bin(GREATEST(n // target, 1)))`` — no float log2 whose
    rounding could diverge at power-of-two boundaries.

    This is the fix for the measured quadratic blow-up at FIXED b
    (63k → 6.3M candidate dots on a 10× corpus step at b=4 —
    BENCH_scaling.md r7): with b growing as log₂(n) the expected
    bucket occupancy, and hence the per-bucket candidate join, stays
    flat as the corpus grows. The ceiling bounds plan size; past it
    (n > target·2²⁴ ≈ 10⁹ vectors at the defaults) bucket occupancy
    grows linearly again and the ``max_bucket_side`` cap takes over
    as the hard guard."""
    return max(floor, min(ceil, max(1, n // target_bucket).bit_length()))


def mutual_nn_match(
    left: DataFrame,
    right: DataFrame,
    planes: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_side: int | None = None,
) -> DataFrame:
    """One-to-one entity alignment: mutual cosine top-1 between two
    embedding sets, candidates restricted to matching hyperplane-LSH
    buckets (the bitext-mining / embedding-alignment shape).

    A pair survives iff each side is the other's best candidate —
    mutual agreement makes the greedy assignment order-free, so no
    sequential matching loop and no driver state.

    Plan: both sides bucket by the scaled-integer sign signature
    (``hyperplane_bucket`` — exact, so oracle-replicable); the only
    pair-generating join is bucket-equi (never all-pairs); the two
    top-1 row_numbers partition by each side's id over the candidate
    relation, which LSH keeps near-linear. Scale is governed by TWO
    guards, mirroring the dedup family:

    1. The plane count — size it from a corpus-count probe via
       :func:`align_plane_count` (b ≈ log₂(n/target_bucket)), which
       holds expected bucket occupancy, and hence candidate volume,
       flat as the corpus grows. At FIXED b candidates grow
       quadratically in occupancy (measured 63k → 6.3M candidate
       dots on a 10× corpus step at b=4 — BENCH_scaling.md r7).
    2. ``max_bucket_side`` — when set, the LEFT side of the bucket
       join is capped to the ``max_bucket_side`` lowest-id members
       per bucket (``cap_bucket_side``), so a degenerate bucket
       (planted identical vectors, adversarial skew) costs
       |bucket|·cap instead of |bucket|²; capped-out left members
       simply produce no match (right-side rows still rank against
       the cap canonical members), and the overflow is surfaced on
       the result as ``result._spark_graft_truncated``, never
       silent.

    Ranking: cosine as double from exact scaled-int dot/norms
    (identical expression tree both engines), id tiebreak.
    """
    from .dedup import cap_bucket_side
    from .similarity import _dot_scaled, _norm_scaled, hyperplane_bucket

    def prep(df: DataFrame, side: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(f"{side}_id"),
            F.col(vec_col).alias(f"{side}_vec"),
            _norm_scaled(F.col(vec_col)).alias(f"{side}_n"),
            hyperplane_bucket(F.col(vec_col), planes).alias(f"{side}_bucket"),
        )

    l_, r_ = prep(left, "l"), prep(right, "r")
    truncated = None
    if max_bucket_side is not None:
        l_, truncated = cap_bucket_side(
            l_, ["l_bucket"], "l_id", max_bucket_side
        )
    cand = (
        l_.join(r_, F.col("l_bucket") == F.col("r_bucket"))
        .select(
            "l_id",
            "r_id",
            "l_n",
            "r_n",
            _dot_scaled(F.col("l_vec"), F.col("r_vec")).alias("dot_scaled"),
        )
        .withColumn(
            "cos",
            F.col("dot_scaled").cast("double")
            / F.sqrt(F.col("l_n").cast("double") * F.col("r_n").cast("double")),
        )
    )
    best_r = Window.partitionBy("l_id").orderBy(F.col("cos").desc(), F.col("r_id"))
    best_l = Window.partitionBy("r_id").orderBy(F.col("cos").desc(), F.col("l_id"))
    out = (
        cand.withColumn("rn_l", F.row_number().over(best_r))
        .withColumn("rn_r", F.row_number().over(best_l))
        .filter((F.col("rn_l") == 1) & (F.col("rn_r") == 1))
        .select("l_id", "r_id", "dot_scaled")
    )
    if truncated is not None:
        out._spark_graft_truncated = truncated  # type: ignore[attr-defined]
    return out


def acf_lags(
    events: DataFrame, ts_col: str, lags: list[int]
) -> DataFrame:
    """Autocorrelation of the daily event-count series at the given
    lags — seasonality detection over an activity stream.

    No global sort/window anywhere: the lag alignment is an
    equi-join of the daily-counts relation with itself on
    d₂ = d₁ + k (dates shifted by a literal, co-partitioned by the
    join), and each lag reduces to ONE row of exact BIGINT sums
    (m, Σx, Σy, Σxx, Σyy, Σxy over the aligned pairs). The daily
    relation is calendar-bounded (≤ 366·years rows) but the plan
    never relies on that — it would be identical for any key.

    Output per lag: the Pearson pieces as exact integers
    (num = m·Σxy − Σx·Σy, varx, vary) plus r_nanos via the portable
    double tree (floor(num/√(varx·vary)·1e9 + 0.5) — IEEE sqrt is
    correctly rounded, so identical across engines).
    """
    daily = events.groupBy(
        F.to_date(F.col(ts_col)).alias("d")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    # lag fan-out as a literal-array explode (a generator, not a
    # join) — a crossJoin with a literal relation plans as a
    # BroadcastNestedLoopJoin and trips the quadratic-join audit.
    a = daily.select(
        F.col("d").alias("d1"),
        F.col("c").alias("x"),
        F.explode(F.array(*[F.lit(int(k)) for k in lags])).alias("lag"),
    )
    b = daily.select(F.col("d").alias("d2"), F.col("c").alias("y"))
    pairs = a.join(b, F.expr("d2 = date_add(d1, lag)"))
    stats = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    m = F.col("m")
    num = m * F.col("sxy") - F.col("sx") * F.col("sy")
    varx = m * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = m * F.col("syy") - F.col("sy") * F.col("sy")
    # Degenerate-lag guard (r7 advisor): a lag with one aligned pair
    # or a constant series has varx/vary = 0 → 0/0 NaN (null under
    # non-ANSI, runtime error under ANSI). Emit NULL r_nanos for
    # those lags explicitly — same CASE in the oracle.
    r_nanos = F.when(
        (varx > 0) & (vary > 0),
        F.floor(
            num.cast("double")
            / F.sqrt(varx.cast("double") * vary.cast("double"))
            * F.lit(float(NANOS))
            + F.lit(0.5)
        ).cast("long"),
    )
    return stats.select(
        F.col("lag").cast("long").alias("lag_d"),
        "m",
        num.alias("num"),
        varx.alias("varx"),
        vary.alias("vary"),
        r_nanos.alias("r_nanos"),
    )


def grid_radius_join(
    pts: DataFrame,
    id_col: str,
    x_col: str,
    y_col: str,
    radius: int,
    cell: int,
) -> DataFrame:
    """All point pairs within `radius` (Euclidean, integer coords)
    via grid-cell bucketing — the spatial join as a bucketed
    equijoin, never a nested loop.

    Requires cell ≥ radius so the 3×3 neighborhood is complete. The
    left side fans out ×9 (literal offset explode); the join key is
    the neighbor cell, so both sides shuffle ONCE on cell id and
    every distance test is local to a bucket. Each qualifying pair
    is produced exactly once (the offset that hits b's actual cell
    is unique; id_a < id_b de-mirrors). Skew = dense cells; the
    degradation path is a finer grid plus more offsets or an AQE
    skew split — same playbook as the dedup bucket caps.

    Output: (id_a, id_b, dist2) with dist2 exact BIGINT.
    """
    if cell < radius:
        raise ValueError(
            f"cell ({cell}) must be >= radius ({radius}) for 3x3 coverage"
        )
    base = pts.select(
        F.col(id_col).alias("pid"),
        F.col(x_col).cast("long").alias("px"),
        F.col(y_col).cast("long").alias("py"),
        F.expr(f"{x_col} DIV {cell}").alias("cx"),
        F.expr(f"{y_col} DIV {cell}").alias("cy"),
    )
    # 9-way neighbor fan-out as a literal struct-array explode (a
    # generator, not a join) — a crossJoin with the offsets relation
    # plans as a BroadcastNestedLoopJoin and trips the quadratic-join
    # audit even though the build side is 9 literal rows.
    offs = F.explode(
        F.array(
            *[
                F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                for dx in (-1, 0, 1)
                for dy in (-1, 0, 1)
            ]
        )
    )
    a = base.select(
        F.col("pid").alias("id_a"),
        F.col("px").alias("xa"),
        F.col("py").alias("ya"),
        "cx",
        "cy",
        offs.alias("o"),
    ).select(
        "id_a",
        "xa",
        "ya",
        "cx",
        "cy",
        F.col("o.dx").alias("dx"),
        F.col("o.dy").alias("dy"),
    )
    b = base.select(
        F.col("pid").alias("id_b"),
        F.col("px").alias("xb"),
        F.col("py").alias("yb"),
        F.col("cx").alias("bcx"),
        F.col("cy").alias("bcy"),
    )
    dist2 = (F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb")) + (
        F.col("ya") - F.col("yb")
    ) * (F.col("ya") - F.col("yb"))
    return (
        a.join(
            b,
            (F.col("cx") + F.col("dx") == F.col("bcx"))
            & (F.col("cy") + F.col("dy") == F.col("bcy"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .filter(dist2 <= F.lit(radius * radius))
        .select("id_a", "id_b", dist2.alias("dist2"))
    )


def dbscan_grid(
    pts: DataFrame,
    id_col: str,
    x_col: str,
    y_col: str,
    eps: int,
    min_pts: int,
    cell: int,
) -> DataFrame:
    """DBSCAN over integer coordinates, fully distributed:

    1. ε-neighbor pairs via :func:`grid_radius_join` (grid-cell
       bucketed equijoin — the O(n·density) candidate generation that
       replaces the quadratic neighbor scan),
    2. core points = neighbor count (incl. self) ≥ min_pts — one
       map-side-combinable degree aggregation,
    3. clusters = connected components of the core-core subgraph via
       ``operators.graph.connected_components_star`` (alternating
       large-star/small-star contraction — DIAMETER-INDEPENDENT round
       count; geometric ε-graphs have hundreds-of-hops diameters that
       blow past label-propagation iteration caps, measured at sf0.1),
    4. border points join the cluster of their MINIMUM-labeled core
       neighbor (classic DBSCAN is order-dependent for borders; the
       min rule makes the assignment deterministic and
       oracle-replicable), everything else is noise.

    Output: (id, cluster_id, role) with cluster_id = the component's
    minimum core id, NULL for noise; role ∈ core/border/noise.

    Scale: the only pair-generating step is the grid join (bucketed,
    skew-capped by cell granularity); degree/border steps are
    groupBys on node id; component rounds shuffle O(E_core) each.
    Driver-side work per component round (connected_components_star):
    one edge count and one anti-join emptiness probe."""
    from .dedup import attach_cache, checkpoint_handle
    from .graph import connected_components_star

    pairs = grid_radius_join(pts, id_col, x_col, y_col, eps, cell)
    # the symmetric neighbor relation fans out to degree counting,
    # core-edge extraction AND border assignment — materialize once
    # instead of recomputing the grid join per branch (the k_core
    # discipline; reliable checkpoint when the session has a dir).
    reliable = pts.sparkSession.sparkContext.getCheckpointDir() is not None
    sym_plan = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    )
    sym = sym_plan.checkpoint() if reliable else sym_plan.localCheckpoint()
    sym_h = checkpoint_handle(sym)
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    nodes = pts.select(F.col(id_col).alias("node"))
    degrees = nodes.join(deg, nodes["node"] == deg["src"], "left").select(
        "node", (F.coalesce("deg", F.lit(0)) + 1).alias("n_nbrs")
    )
    core = degrees.filter(F.col("n_nbrs") >= min_pts).select("node")
    core_edges = (
        sym.join(core.select(F.col("node").alias("__ca__")), F.col("src") == F.col("__ca__"))
        .join(core.select(F.col("node").alias("__cb__")), F.col("dst") == F.col("__cb__"))
        .filter(F.col("src") < F.col("dst"))
        .select(F.col("src").alias("id_a"), F.col("dst").alias("id_b"))
    )
    clusters = connected_components_star(core, core_edges, id_col="node")
    core_labeled = clusters.select("node", "cluster_id")
    # border: non-core with >= 1 core neighbor -> min core neighbor's label
    non_core = degrees.join(core.select(F.col("node").alias("__c__")),
                            degrees["node"] == F.col("__c__"), "left_anti")
    # fresh column names: sym also sits inside core_labeled's lineage
    # (via core_edges -> clusters), so reusing sym's src/dst here trips
    # Spark's ambiguous-self-join analysis.
    bsym = sym.select(F.col("src").alias("__bsrc__"), F.col("dst").alias("__bdst__"))
    border = (
        non_core.select("node")
        .join(bsym, F.col("node") == F.col("__bsrc__"))
        .join(
            core_labeled.select(
                F.col("node").alias("__cn__"), F.col("cluster_id").alias("__cl__")
            ),
            F.col("__bdst__") == F.col("__cn__"),
        )
        .groupBy("node")
        .agg(F.min("__cl__").alias("cluster_id"))
    )
    out = (
        core_labeled.select("node", "cluster_id", F.lit("core").alias("role"))
        .unionByName(
            border.select("node", "cluster_id", F.lit("border").alias("role"))
        )
    )
    noise = (
        nodes.join(out.select(F.col("node").alias("__a__")), nodes["node"] == F.col("__a__"), "left_anti")
        .select(
            "node",
            F.lit(None).cast("long").alias("cluster_id"),
            F.lit("noise").alias("role"),
        )
    )
    result = out.unionByName(noise).select(
        F.col("node").alias(id_col), "cluster_id", "role"
    )
    return attach_cache(
        result,
        *([] if sym_h is None else [sym_h]),
        *getattr(clusters, "_spark_graft_cached", ()),
    )


def exact_quantiles(
    df: DataFrame,
    value_col: str,
    probs_bp: list[int],
    bucket_width: int = 4096,
) -> DataFrame:
    """EXACT discrete quantiles of a LONG column without a global
    sort — histogram refinement, the distributed order-statistic
    pattern (beyond-reference; the reference's only aggregate is
    ``main.py:362``'s scalar max).

    Rank convention matches DuckDB ``quantile_disc``: for prob p
    (basis points) over n rows the result is the value at 1-indexed
    rank k = floor((n-1)·p/10000) + 1 of the sorted multiset.

    Plan — three bounded jobs, NO sort of the data anywhere:
    1. one scalar aggregate (n, min) — map-side combined;
    2. one histogram groupBy on bucket = (v − min) DIV W; the
       driver walks the ≤ domain/W cumulative counts to locate each
       rank's bucket and residual rank;
    3. one groupBy (v) count restricted to the ≤ |probs| needed
       buckets; the driver resolves each residual rank over ≤ W
       distinct values per bucket.
    Driver memory is O(domain/W + |probs|·W) — independent of row
    count, the property that matters at 100 TB (for an enormous
    value domain, recurse: re-histogram inside the located bucket
    instead of step 3; one extra level covers 2^48 domains at
    W=4096). Every count is an exact BIGINT; no floats anywhere, so
    engine/oracle parity is structural.

    Returns one row per prob: (prob_bp, rank, value).
    """
    spark = df.sparkSession
    v = df.select(F.col(value_col).cast("long").alias("v")).filter(
        F.col("v").isNotNull()
    )
    head = v.agg(
        F.count(F.lit(1)).alias("n"), F.min("v").alias("vmin")
    ).collect()[0]
    n, vmin = head["n"], head["vmin"]
    if not n:
        return spark.createDataFrame(
            [], "prob_bp long, rank long, value long"
        )
    ranks = {bp: ((n - 1) * bp) // 10000 + 1 for bp in probs_bp}

    # (v - vmin) >= 0, so DIV bucketing is order-preserving (no
    # negative truncation hazard) and float-free
    hist = (
        v.selectExpr(f"(v - {vmin}) DIV {bucket_width} AS b")
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    cum = 0
    located: dict[int, tuple[int, int]] = {}  # bp -> (bucket, residual rank)
    pending = sorted(ranks.items(), key=lambda kv: kv[1])
    i = 0
    for row in sorted(hist, key=lambda r: r["b"]):
        while i < len(pending) and pending[i][1] <= cum + row["c"]:
            bp, k = pending[i]
            located[bp] = (row["b"], k - cum)
            i += 1
        cum += row["c"]
    need = sorted({b for b, _ in located.values()})

    fine = (
        v.selectExpr("v", f"(v - {vmin}) DIV {bucket_width} AS b")
        .filter(F.col("b").isin(need))
        .groupBy("b", "v")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    by_bucket: dict[int, list] = {}
    for r in fine:
        by_bucket.setdefault(r["b"], []).append(r)
    out_rows = []
    for bp in probs_bp:
        b, kres = located[bp]
        run = 0
        for r in sorted(by_bucket[b], key=lambda r: r["v"]):
            run += r["c"]
            if run >= kres:
                out_rows.append((bp, ranks[bp], r["v"]))
                break
    return spark.createDataFrame(
        out_rows, "prob_bp long, rank long, value long"
    )


def heavy_hitters_topk(
    df: DataFrame,
    key_col: str,
    k: int,
    candidates_per_partition: int | None = None,
) -> DataFrame:
    """EXACT top-k keys by frequency with a bounded-candidate screen —
    the heavy-hitters pattern for key domains too large to shuffle.

    Phase 1 (screen): each partition counts its keys exactly in one
    Arrow pass and keeps only its ``c = candidates_per_partition``
    most frequent (count desc, key asc). Any key absent from a
    partition's kept set has at most that partition's c-th kept count
    there, so a key absent from the UNION of kept sets has global
    count ≤ B = Σ_p t_p (t_p = partition p's c-th kept count, 0 when
    the partition holds < c distinct keys).
    Phase 2 (verify): exact global recount of the candidate union
    (distinct candidates broadcast into a semi join, one map-side-
    combined groupBy), take the top k.
    Guarantee check: if the k-th candidate's exact count > B the
    screen provably contains the true top-k and the result is EXACT;
    otherwise fall back to the full groupBy(key).count() — identical
    output either way, so the branch is a pure cost choice and the
    result is deterministic (count desc, key asc tiebreak).

    Scale: the full-aggregation fallback shuffles one row per
    distinct key (map-side combined) — fine up to billions of keys;
    the screen path shuffles partitions × c rows. The screen wins
    exactly when the key distribution is skewed (Zipf web/corpus
    data), which is when the distinct domain is also at its largest.
    """
    import pandas as pd

    c = candidates_per_partition or 8 * k
    keyed = df.select(F.col(key_col).alias("key"))
    key_type = dict(keyed.dtypes)["key"]
    tagged = keyed.withColumn("pid", F.spark_partition_id())
    schema = f"key {key_type}, cnt long, pid int, tp long"

    def partition_counts(batches):
        total: dict = {}
        null_cnt = 0
        pid = 0
        for pdf in batches:
            if len(pdf):
                pid = int(pdf["pid"].iloc[0])
            mask = pdf["key"].isna()
            null_cnt += int(mask.sum())
            for key, cnt in pdf["key"][~mask].value_counts().items():
                total[key] = total.get(key, 0) + int(cnt)
        # NULL is a key like any other (the fallback's groupBy counts
        # it), so it must compete in the screen too or a frequent null
        # could pass the bound check yet be missing from the top-k.
        items = list(total.items())
        if null_cnt:
            items.append((None, null_cnt))
        # count desc, asc-nulls-first key tiebreak (matches the
        # recount/fallback orderBy)
        kept = sorted(
            items, key=lambda kv: (-kv[1], kv[0] is not None, kv[0])
        )[:c]
        t_p = kept[-1][1] if len(kept) == c else 0
        yield pd.DataFrame(
            [(key, cnt, pid, t_p) for key, cnt in kept],
            columns=["key", "cnt", "pid", "tp"],
        )

    partials = tagged.mapInPandas(partition_counts, schema=schema).collect()
    cand_keys = sorted(
        {r["key"] for r in partials if r["key"] is not None}
    )
    null_is_candidate = any(r["key"] is None for r in partials)
    # B = Σ_p t_p: a key absent from EVERY partition's kept set has
    # count ≤ t_p in each, so its global count is ≤ B
    bound = sum({r["pid"]: r["tp"] for r in partials}.values())

    cand_df = keyed.sparkSession.createDataFrame(
        [(x,) for x in cand_keys], f"key {key_type}"
    )
    exact = (
        keyed.join(F.broadcast(cand_df), "key", "left_semi")
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    if null_is_candidate:
        # the semi join drops null keys (SQL join semantics), so the
        # null candidate gets its own recount leg
        exact = exact.unionByName(
            keyed.filter(F.col("key").isNull())
            .groupBy("key")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
    exact = exact.orderBy(F.col("cnt").desc(), F.col("key")).limit(k)
    top = exact.collect()
    if len(top) == k and top[-1]["cnt"] > bound:
        out = keyed.sparkSession.createDataFrame(
            [(r["key"], r["cnt"]) for r in top],
            f"key {key_type}, cnt long",
        )
        out._spark_graft_hh_path = "screen"  # type: ignore[attr-defined]
        return out
    # fallback: exact full aggregation (map-side combined)
    out = (
        keyed.groupBy("key")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("key"))
        .limit(k)
    )
    out._spark_graft_hh_path = "fallback"  # type: ignore[attr-defined]
    return out
