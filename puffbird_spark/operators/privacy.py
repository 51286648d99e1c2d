"""Privacy re-identification audits: k-anonymity and l-diversity.

EXT training-pipeline coverage (the reference ships none): before a
table with quasi-identifiers leaves a curation pipeline, the release
gate is Sweeney's k-anonymity — every quasi-identifier combination must
be shared by >= k rows — and Machanavajjhala's l-diversity — each such
equivalence class must carry >= l distinct values of the sensitive
attribute (a k-anonymous class with ONE sensitive value still leaks it).

Scale design: one groupBy over the quasi-identifier tuple computing
class size and exact distinct sensitive count — a single shuffle on the
QI key, partial-aggregated map-side; no window, no self-join. The audit
output is class-grain (bounded by QI cardinality, far smaller than the
input), so the suppression decision joins back broadcast-style.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import RELEASE_DP

__all__ = [
    "k_anonymity_audit",
    "suppress_small_classes",
    "dp_noisy_counts",
    "dp_noisy_mean",
    "dp_quantiles",
]


def k_anonymity_audit(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str,
    k: int = 5,
    ell: int = 2,
) -> DataFrame:
    """One row per equivalence class (distinct quasi-identifier tuple):
    ``class_size``, ``l_distinct`` (exact distinct sensitive values),
    and the two violation flags. A released table satisfies
    (k, l)-anonymity iff no row has either flag set."""
    if not quasi_cols:
        raise ValueError("quasi_cols must be non-empty")
    agg = df.groupBy(*quasi_cols).agg(
        F.count(F.lit(1)).cast("long").alias("class_size"),
        F.countDistinct(sensitive_col).cast("long").alias("l_distinct"),
    )
    return agg.withColumn(
        "k_violation", F.col("class_size") < F.lit(int(k))
    ).withColumn("l_violation", F.col("l_distinct") < F.lit(int(ell)))


def suppress_small_classes(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str,
    k: int = 5,
    ell: int = 2,
) -> DataFrame:
    """The enforcement sibling: drop every row belonging to a violating
    class. The class audit is tiny (QI-cardinality rows) so the
    anti-join broadcasts."""
    bad = (
        k_anonymity_audit(df, quasi_cols, sensitive_col, k=k, ell=ell)
        .filter(F.col("k_violation") | F.col("l_violation"))
        .select(*quasi_cols)
    )
    return df.join(F.broadcast(bad), on=quasi_cols, how="left_anti")


_MIN_SALT_LEN = 16


def _require_secret_salt(salt: str) -> None:
    """The Laplace draw is a PRF of ``salt || group key``. Anyone who
    knows the salt can recompute the draw and subtract it, recovering
    the exact value — so the DP guarantee holds ONLY while the salt is
    a secret, high-entropy key (treat it exactly like an HMAC key; a
    public or guessable salt voids the guarantee entirely). There is
    deliberately no default, and a short salt is rejected outright
    (ADVICE r8 #2)."""
    if not isinstance(salt, str) or len(salt) < _MIN_SALT_LEN:
        raise ValueError(
            "salt must be a caller-supplied secret of at least "
            f"{_MIN_SALT_LEN} characters (a PRF key — the DP guarantee "
            "fails if it is public, guessable, or reused across "
            "releases); got "
            + (f"{len(salt)} chars" if isinstance(salt, str) else
               type(salt).__name__)
        )


def dp_noisy_counts(
    df: DataFrame,
    group_cols: list[str],
    salt: str,
    epsilon: float = 1.0,
    include_exact: bool = False,
) -> DataFrame:
    """Differentially-private group counts (Dwork 2006): count per
    group plus Laplace(1/epsilon) noise — sensitivity 1 for a count —
    released as ``noisy_count`` (floored at 0).

    The noise is NOT drawn from RNG state: a retried Spark task would
    redraw and double-release. It is a pure function of the group key —
    ``laplace_noise(salt || key)`` inverts the Laplace CDF over an
    md5-derived uniform (functions/hashing.py) — so the release is
    reproducible across retries, partitionings, and engines. The flip
    side (ADVICE r8 #2): ``salt`` is the entire secret. It must be a
    caller-supplied high-entropy key, kept as secret as the raw data;
    with a known salt anyone recomputes the draw and recovers the exact
    count. Determinism also means re-releasing the SAME table redraws
    nothing (no budget burn-down across re-runs); use a fresh secret
    salt per release epoch, and account epsilon per DISTINCT salt.

    ``exact_count`` is withheld unless ``include_exact=True`` — that
    flag is for in-house accuracy audits only, never for a frame that
    leaves the pipeline (releasing it alongside the noisy value defeats
    the mechanism trivially).

    Scale: one shuffle (the groupBy, map-side partial), noise computed
    group-grain (output-sized, not input-sized)."""
    from ..functions.hashing import laplace_noise

    if not group_cols:
        raise ValueError("group_cols must be non-empty")
    if epsilon <= 0:
        raise ValueError(f"epsilon must be > 0, got {epsilon}")
    _require_secret_salt(salt)
    key = F.concat_ws(
        "|", F.lit(salt), *[F.col(c).cast("string") for c in group_cols]
    )
    agg = df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("long").alias("exact_count")
    )
    noise = laplace_noise(key, scale=1.0 / float(epsilon))
    released = agg.select(
        *group_cols,
        "exact_count",
        F.round(
            F.greatest(
                F.col("exact_count").cast("double") + noise, F.lit(0.0)
            ),
            RELEASE_DP,
        ).alias("noisy_count"),
    )
    if include_exact:
        return released
    return released.drop("exact_count")


def dp_noisy_mean(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    clamp: float,
    salt: str,
    epsilon: float = 1.0,
    include_exact: bool = False,
) -> DataFrame:
    """Differentially-private group means via the clamp-and-noise
    recipe: values clamp to ``[0, clamp]`` (bounding the sensitivity
    — an unbounded value makes DP impossible), the clamped sum gets
    Laplace(clamp/eps_half) noise and the count Laplace(1/eps_half)
    noise with the budget split evenly, and the released mean is
    their ratio (clamped back into ``[0, clamp]``). Same retry-safe
    determinism — and the same secret-salt contract — as
    :func:`dp_noisy_counts`: both draws are pure functions of the
    group key on disjoint suffixes of the caller's secret salt, so a
    public salt voids the guarantee (ADVICE r8 #2). ``exact_n`` is
    withheld unless ``include_exact=True`` (in-house audits only).
    Exact decimal sums under the clamp keep the pre-noise value
    engine-identical. One shuffle; noise at output grain."""
    from ..functions.hashing import laplace_noise

    if not group_cols:
        raise ValueError("group_cols must be non-empty")
    if epsilon <= 0 or clamp <= 0:
        raise ValueError("epsilon and clamp must be > 0")
    _require_secret_salt(salt)
    eps_half = float(epsilon) / 2.0
    v = F.least(
        F.greatest(F.col(value_col).cast("double"), F.lit(0.0)),
        F.lit(float(clamp)),
    )
    agg = df.groupBy(*group_cols).agg(
        F.sum(F.round(v, 6).cast("decimal(28,6)")).alias("__sum"),
        F.count(F.lit(1)).cast("long").alias("__n"),
    )
    key_sum = F.concat_ws(
        "|", F.lit(salt + "s"),
        *[F.col(c).cast("string") for c in group_cols])
    key_cnt = F.concat_ws(
        "|", F.lit(salt + "c"),
        *[F.col(c).cast("string") for c in group_cols])
    noisy_sum = (
        F.col("__sum").cast("double")
        + laplace_noise(key_sum, scale=float(clamp) / eps_half)
    )
    noisy_n = F.greatest(
        F.col("__n").cast("double")
        + laplace_noise(key_cnt, scale=1.0 / eps_half),
        F.lit(1.0),
    )
    mean = F.least(
        F.greatest(noisy_sum / noisy_n, F.lit(0.0)), F.lit(float(clamp)))
    released = agg.select(
        *group_cols,
        F.col("__n").alias("exact_n"),
        F.round(mean, RELEASE_DP).alias("noisy_mean"),
    )
    if include_exact:
        return released
    return released.drop("exact_n")


def dp_quantiles(
    df: DataFrame,
    value_col: str,
    quantiles: list[float],
    salt: str,
    epsilon: float = 1.0,
    lo: float = 0.0,
    hi: float = 1.0,
    n_bins: int = 256,
) -> DataFrame:
    """Differentially-private quantiles via the EXPONENTIAL MECHANISM
    over a fixed candidate grid (McSherry & Talwar 2007; Smith 2011
    for the quantile utility): candidate grid lines
    ``c_j = lo + j·(hi-lo)/n_bins`` (j = 0..n_bins) score

        u_j = -| rank(c_j) - q·n |,   rank(c_j) = #{v : bin(v) < j}

    (sensitivity 1 under add/remove-one), and the released quantile is
    sampled with probability ∝ exp(ε'·u/2) where ``ε' = ε/len(quantiles)``
    (sequential composition across the requested quantiles).

    Sampling is the GUMBEL-MAX trick, deterministic: argmax of
    ``ε'·u_j/2 + Gumbel(md5(salt|qi|j))`` is an exact softmax sample,
    is a pure function of (salt, quantile index, candidate index) — a
    retried task redraws NOTHING — and replays exactly in a SQL
    oracle. As with `dp_noisy_counts`, the salt IS the secret: with a
    known salt the draw is recomputable and the guarantee void; use a
    fresh high-entropy secret per release epoch.

    ``lo``/``hi`` MUST be caller-supplied domain bounds (data-derived
    bounds would leak); values outside clamp into the edge bins. The
    selection key rounds at 9 dp before the argmax (cross-engine libm
    policy), ties break on the smaller candidate index.

    Scale shape: ONE input-sized aggregation (the bin histogram —
    map-side combined, ≤ ``n_bins`` rows out); everything after is
    candidate-grain: the rank join is n_bins² ≤ ~10⁷ tiny rows, the
    argmax a window over n_bins·Q rows. ``n_bins`` caps at 4096.

    Returns one row per requested quantile:
    ``(quantile DOUBLE, value DOUBLE)``."""
    if not quantiles:
        raise ValueError("quantiles must be non-empty")
    if any(not (0.0 <= q <= 1.0) for q in quantiles):
        raise ValueError(f"quantiles must lie in [0, 1], got {quantiles}")
    if epsilon <= 0:
        raise ValueError(f"epsilon must be > 0, got {epsilon}")
    if not (hi > lo):
        raise ValueError(f"need hi > lo, got lo={lo} hi={hi}")
    if not (1 <= n_bins <= 4096):
        raise ValueError(f"n_bins must be in [1, 4096], got {n_bins}")
    _require_secret_salt(salt)
    from ..functions.hashing import gumbel_noise

    spark = df.sparkSession
    nb = int(n_bins)
    lo_f, hi_f = float(lo), float(hi)
    v = F.col(value_col).cast("double")
    bin_ = F.least(
        F.greatest(
            F.floor((v - F.lit(lo_f)) / (F.lit(hi_f) - F.lit(lo_f))
                    * F.lit(float(nb))).cast("long"),
            F.lit(0)),
        F.lit(nb - 1))
    cnt = (
        df.filter(v.isNotNull()).select(bin_.alias("__bin"))
        .groupBy("__bin").agg(F.count(F.lit(1)).alias("__c"))
    )
    total = cnt.agg(F.coalesce(F.sum("__c"), F.lit(0)).alias("__n"))
    cand = spark.range(0, nb + 1).select(F.col("id").alias("__j"))
    ranks = (
        cand.join(cnt, cnt["__bin"] < cand["__j"], "left")
        .groupBy("__j")
        .agg(F.coalesce(F.sum("__c"), F.lit(0)).alias("__rank"))
    )
    eps_q = float(epsilon) / len(quantiles)
    scored = (
        ranks.crossJoin(F.broadcast(total))
        .select(
            "__j", "__rank", "__n",
            F.posexplode(F.array(*[
                F.lit(float(q)) for q in quantiles])).alias("__qi", "__q"))
    )
    prf = F.concat_ws(
        "|", F.lit(salt), F.col("__qi").cast("string"),
        F.col("__j").cast("string"))
    key = F.round(
        F.lit(-eps_q / 2.0)
        * F.abs(F.col("__rank").cast("double")
                - F.col("__q") * F.col("__n").cast("double"))
        + gumbel_noise(prf), 9)
    from pyspark.sql.window import Window

    w = Window.partitionBy("__qi").orderBy(F.desc("__key"), F.asc("__j"))
    return (
        scored.select("__qi", "__q", "__j", key.alias("__key"))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            F.col("__q").alias("quantile"),
            F.round(
                F.lit(lo_f) + F.col("__j").cast("double")
                * (F.lit(hi_f) - F.lit(lo_f)) / F.lit(float(nb)),
                RELEASE_DP).alias("value"))
    )


def t_closeness_audit(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str,
    t: float = 0.2,
) -> DataFrame:
    """t-closeness release audit (Li, Li & Venkatasubramanian, ICDE
    2007) — the distributional strengthening of (k, l)-anonymity
    (:func:`k_anonymity_audit`): a class can be l-diverse yet still
    leak when its sensitive DISTRIBUTION diverges from the table's
    (the paper's salary-skew example). Per equivalence class, BOTH
    of the paper's distances between the class distribution p and
    the global q:

    - ``t_nominal`` — variational distance ½·Σ_v |p_v − q_v| (the
      categorical form);
    - ``t_emd``    — ordered Earth-Mover's distance
      (1/(m−1))·Σ_j |Σ_{v≤j}(p_v − q_v)| over the ``m`` global
      sensitive values sorted ascending (the numeric/ordinal form);
      NULL when m < 2.

    EXACT integer arithmetic throughout: with class counts c_v
    (size n_g) and global counts C_v (total N), every per-value
    deviation clears denominators to d_v = c_v·N − C_v·n_g — an
    integer — so Σ|d_v| and Σ|cumsum d_v| pool exactly in
    decimal(38,0) and each release is ONE raw-double division
    (deliberately unrounded — identical IEEE on any engine, the
    `p_adjust` convention): t_nominal = Σ|d|/(2·n_g·N), t_emd =
    Σ|cum d|/(n_g·N·(m−1)).

    NULL sensitive values are excluded everywhere (a missing label
    is not a category). Scale shape: one class agg + one cell agg +
    one value agg over the data, then a class × ALPHABET grid via a
    broadcast of the global value table (the sensitive alphabet is
    category-bounded BY CONTRACT — audit-grain metadata, never
    data-sized; the cumulative EMD window partitions BY CLASS).
    Returns one row per class: ``(quasi_cols..., class_size,
    t_nominal, t_emd, t_violation)`` — the flag tests
    ``t_nominal > t``."""
    if not quasi_cols:
        raise ValueError("quasi_cols must be non-empty")
    from pyspark.sql.window import Window

    base = df.select(
        *quasi_cols, F.col(sensitive_col).alias("__v")
    ).filter(F.col("__v").isNotNull())
    # NULL quasi-identifier values drop too: the class-grid equi-join
    # below can never match a NULL key (SQL NULL != NULL), so a
    # NULL-keyed class would silently read c_v = 0 everywhere —
    # exclude loud-by-contract rather than release wrong distances
    for q in quasi_cols:
        base = base.filter(F.col(q).isNotNull())
    d38 = "decimal(38,0)"
    cls = base.groupBy(*quasi_cols).agg(
        F.count(F.lit(1)).cast("long").alias("class_size"))
    cell = base.groupBy(*quasi_cols, "__v").agg(
        F.count(F.lit(1)).cast("long").alias("__c"))
    glob = base.groupBy("__v").agg(
        F.count(F.lit(1)).cast("long").alias("__g"))
    tot = glob.agg(
        F.sum("__g").cast("long").alias("__N"),
        F.count(F.lit(1)).cast("long").alias("__m"))
    grid = (
        cls.crossJoin(F.broadcast(glob))
        .crossJoin(F.broadcast(tot))
        .join(cell, [*quasi_cols, "__v"], "left")
        .withColumn("__c", F.coalesce(F.col("__c"), F.lit(0))))
    dev = (F.col("__c").cast(d38) * F.col("__N").cast(d38)
           - F.col("__g").cast(d38)
           * F.col("class_size").cast(d38)).cast(d38)
    w = (Window.partitionBy(*quasi_cols).orderBy("__v")
         .rowsBetween(Window.unboundedPreceding, 0))
    g2 = grid.withColumn("__d", dev).withColumn(
        "__cum", F.sum("__d").over(w).cast(d38))
    agg = g2.groupBy(*quasi_cols).agg(
        F.max("class_size").alias("class_size"),
        F.max("__N").alias("__N"), F.max("__m").alias("__m"),
        F.sum(F.abs(F.col("__d"))).cast(d38).alias("__sad"),
        F.sum(F.abs(F.col("__cum"))).cast(d38).alias("__sac"))
    ng = F.col("class_size").cast("double")
    nn = F.col("__N").cast("double")
    m = F.col("__m")
    t_nom = F.col("__sad").cast("double") / (2.0 * ng * nn)
    t_emd = F.when(
        m >= 2,
        F.col("__sac").cast("double")
        / (ng * nn * (m - 1).cast("double")))
    return agg.select(
        *quasi_cols, "class_size",
        t_nom.alias("t_nominal"), t_emd.alias("t_emd"),
        (t_nom > F.lit(float(t))).alias("t_violation"))


def entropy_l_diversity_audit(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str,
    ell: float = 2.0,
) -> DataFrame:
    """Entropy l-diversity audit (Machanavajjhala et al. 2007 §3) —
    the strengthening of DISTINCT l-diversity already flagged by
    :func:`k_anonymity_audit`: a class with l distinct values still
    leaks when one value dominates; entropy l-diversity requires
    the class entropy to reach ln(l)::

        H(class) = ln(n_g) − (1/n_g)·Σ_v c_v·ln(c_v)  ≥  ln(ell)

    Determinism — the nano-unit ladder end to end: the only
    transcendental is ln of INTEGER COUNTS (identical IEEE doubles
    on any libm), floored to nano units ``lnu = floor(ln(c)·1e9)``;
    the products ``c·lnu`` pool as exact decimal(38,0); the class
    mean is an integer ``div``; H_nano = floor(ln(n_g)·1e9) − mean,
    clamped at 0 (entropy is non-negative; the two independent
    floors can land the difference at −1, and a negative operand
    would split Spark's truncating ``div`` from a floor ``//``);
    the release is the shared pure-integer HALF_UP step and the
    violation flag compares H_nano against the Python-side literal
    ``floor(ln(ell)·1e9)`` — all integer, no release-grain
    comparison.

    NULL sensitive values are excluded. One cell aggregation + one
    class aggregation. Returns one row per class: ``(quasi_cols...,
    class_size, l_distinct, entropy, entropy_l, l_violation)`` —
    ``entropy_l = exp(H)`` (the "effective number of values", what
    the l in entropy l-diversity means)."""
    if not quasi_cols:
        raise ValueError("quasi_cols must be non-empty")
    import math

    from . import nano_release  # noqa: F401  (release-step twin)

    if not ell or ell <= 0:
        raise ValueError("ell must be positive")
    base = df.select(
        *quasi_cols, F.col(sensitive_col).alias("__v")
    ).filter(F.col("__v").isNotNull())
    cell = base.groupBy(*quasi_cols, "__v").agg(
        F.count(F.lit(1)).cast("long").alias("__c"))
    d38 = "decimal(38,0)"
    lnu = F.floor(F.log(F.col("__c").cast("double"))
                  * F.lit(1000000000.0)).cast(d38)
    agg = cell.groupBy(*quasi_cols).agg(
        F.sum("__c").cast("long").alias("class_size"),
        F.count(F.lit(1)).cast("long").alias("l_distinct"),
        F.sum(F.col("__c").cast(d38) * lnu).cast(d38).alias("__s"))
    hn = (
        F.floor(F.log(F.col("class_size").cast("double"))
                * F.lit(1000000000.0)).cast(d38)
        - F.expr("__s div CAST(class_size AS DECIMAL(38,0))")
        .cast(d38))
    agg = agg.withColumn(
        "__h", F.greatest(hn, F.lit(0).cast(d38)))
    ln_ell_nano = math.floor(math.log(float(ell)) * 1e9)
    ent = nano_release("__h")
    return agg.select(
        *quasi_cols, "class_size", "l_distinct",
        ent.alias("entropy"),
        F.round(F.exp(ent), RELEASE_DP).alias("entropy_l"),
        (F.col("__h") < F.lit(ln_ell_nano).cast(d38))
        .alias("l_violation"))
