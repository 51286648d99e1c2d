"""Retrieval-evaluation metrics — the scorecard for every similarity /
search operator in this engine (exact, LSH, IVF, SQ, PQ, RP): given a
ranked result set and a relevance-truth table, compute per-query
recall@k, MRR@k, and nDCG@k and their macro averages, distributed.

The ANN gates assert a recall floor inline; real retrieval work needs
the full scorecard over big query sets, where the eval itself must be
distributed: millions of queries x k results join a relevance table —
two keyed joins and two keyed aggregations here, nothing driver-side.

Determinism policy (the house rules): ranks are explicit and
deterministic (callers derive them with a score-desc + id tie-break
window), per-query metrics are rounded to 9 dp and decimal-snapped so
macro sums are exact and partitioning-independent, macro means round
to 6 dp.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions import RELEASE_DP, SNAP_SCALE


def ir_metrics(
    results: DataFrame,
    truth: DataFrame,
    k: int = 5,
    query_col: str = "query_id",
    doc_col: str = "cand_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Macro-averaged retrieval metrics over the queries of ``truth``:

    - ``recall_at_k`` — relevant retrieved in the top k / total
      relevant (plain recall@k: queries with more than k relevant docs
      cannot reach 1.0 — documented, standard);
    - ``mrr_at_k`` — 1 / rank of the first relevant hit (0 if none);
    - ``ndcg_at_k`` — binary-relevance DCG over the hits divided by
      the ideal DCG of ``min(k, n_relevant)`` front-loaded hits.

    ``results`` carries (query, doc, rank 1..k); ``truth`` carries
    (query, doc) relevant pairs. Queries present in ``truth`` but
    absent from ``results`` score 0 on every metric — a retrieval
    system that answers nothing must not be graded only on what it
    answered. Returns ONE row: ``(n_queries, recall_at_k, mrr_at_k,
    ndcg_at_k)``.
    """
    r = results.select(
        F.col(query_col).alias("__q"), F.col(doc_col).alias("__d"),
        F.col(rank_col).alias("__rank"),
    ).filter(F.col("__rank") <= k)
    t = truth.select(
        F.col(query_col).alias("__q"), F.col(doc_col).alias("__d"))
    rel = t.groupBy("__q").agg(F.count(F.lit(1)).alias("__rel"))
    hits = (
        r.join(t, ["__q", "__d"])
        .groupBy("__q")
        .agg(
            F.count(F.lit(1)).alias("__hits"),
            F.min("__rank").alias("__first"),
            F.sum(1.0 / F.log2(F.col("__rank") + 1)).alias("__dcg"),
        )
    )
    m = F.least(F.col("__rel"), F.lit(k))
    idcg = F.aggregate(
        F.sequence(F.lit(1), m),
        F.lit(0.0),
        lambda acc, i: acc + 1.0 / F.log2(i + 1),
    )
    dec = "decimal(20,9)"
    per_q = (
        rel.join(hits, "__q", "left")
        .select(
            "__q",
            F.round(
                F.coalesce(F.col("__hits"), F.lit(0)) / F.col("__rel"), 9
            ).cast(dec).alias("__recall"),
            F.round(
                F.coalesce(1.0 / F.col("__first"), F.lit(0.0)), 9
            ).cast(dec).alias("__mrr"),
            F.round(
                F.coalesce(F.col("__dcg"), F.lit(0.0)) / idcg, 9
            ).cast(dec).alias("__ndcg"),
        )
    )
    return per_q.agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.round(F.sum("__recall").cast("double") / F.count(F.lit(1)), 6)
        .alias("recall_at_k"),
        F.round(F.sum("__mrr").cast("double") / F.count(F.lit(1)), 6)
        .alias("mrr_at_k"),
        F.round(F.sum("__ndcg").cast("double") / F.count(F.lit(1)), 6)
        .alias("ndcg_at_k"),
    )


def pr_curve(
    scored: DataFrame,
    score_col: str,
    label_col: str,
    thresholds: list[float] | None = None,
) -> DataFrame:
    """Precision/recall/F1 at a fixed threshold grid — the operating-
    point companion of the threshold-free AUC scorecard: one row per
    threshold with exact integer TP/FP/FN and the derived ratios.

    Shape: ONE aggregation pass over the scored frame computing every
    threshold's counts as conditional sums (no per-threshold scan, no
    sort — an exact-sorted PR curve needs a global rank; a fixed grid
    is what monitoring dashboards pin anyway), then a tiny literal
    threshold table cross-joined against the 1-row totals. All counts
    integral, ratios exact divisions rounded at 6 dp;
    zero-denominator cells read NULL (no predictions / no positives is
    "undefined", not 0)."""
    ts = thresholds or [round(0.1 * i, 1) for i in range(1, 10)]
    s = F.col(score_col)
    y = F.col(label_col).cast("long")
    aggs = [F.sum(y).alias("__pos"), F.count(F.lit(1)).alias("__n")]
    for i, t in enumerate(ts):
        pred = (s >= F.lit(float(t))).cast("long")
        aggs.append(F.sum(pred * y).alias(f"__tp{i}"))
        aggs.append(F.sum(pred).alias(f"__pp{i}"))
    tot = scored.agg(*aggs)
    structs = []
    for i, t in enumerate(ts):
        tp = F.col(f"__tp{i}")
        pp = F.col(f"__pp{i}")
        pos = F.col("__pos")
        prec = F.when(pp > 0, F.round(tp.cast("double") / pp, RELEASE_DP))
        rec = F.when(pos > 0, F.round(tp.cast("double") / pos, RELEASE_DP))
        f1 = F.when(
            (pp + pos) > 0,
            F.round(2.0 * tp.cast("double") / (pp + pos), RELEASE_DP),
        )
        structs.append(F.struct(
            F.lit(float(t)).alias("threshold"),
            tp.cast("long").alias("tp"),
            (pp - tp).cast("long").alias("fp"),
            (pos - tp).cast("long").alias("fn"),
            prec.alias("precision"),
            rec.alias("recall"),
            f1.alias("f1"),
        ))
    # one explode over the single aggregated row — NOT a per-threshold
    # union, which would rescan the input once per grid point
    return tot.select(
        F.explode(F.array(*structs)).alias("__r")
    ).select("__r.*")


#: Poisson(1) CDF thresholds for the deterministic PRF bootstrap weight
#: (inverse-CDF over a uniform draw; P(X > 8) ~ 1.1e-6 caps at 9).
#: Literals are full-precision reprs so the DuckDB oracle parses the
#: bit-identical doubles.
POISSON1_CDF: tuple[float, ...] = (
    0.36787944117144233, 0.7357588823428847, 0.9196986029286058,
    0.9810118431238463, 0.9963401531726563, 0.9994058151824183,
    0.999916758850712, 0.9999897508033253, 0.999998874797402,
)


def graded_ndcg(
    results: DataFrame,
    truth: DataFrame,
    k: int = 5,
    query_col: str = "query_id",
    doc_col: str = "cand_id",
    rank_col: str = "rank",
    grade_col: str = "grade",
) -> DataFrame:
    """Per-query nDCG@k with GRADED relevance (Järvelin & Kekäläinen,
    TOIS 2002; the exponential-gain form every IR shared task uses):

        DCG@k  = Σ_{i<=k} (2^grade_i - 1) / log2(i + 1)
        IDCG@k = the same sum over the query's own grades sorted
                 descending (top min(k, n_graded))
        nDCG@k = DCG / IDCG   (0 when IDCG is 0 — all-zero grades)

    ``truth`` carries ``(query, doc, grade)`` with small integer grades
    (0 = irrelevant; ungraded retrieved docs gain 0). ``truth`` defines
    the query universe: queries it grades that ``results`` never
    answers score 0 (a system must not be graded only on what it
    answered). Determinism: each position's gain term rounds to 9 dp
    and snaps to decimal BEFORE the per-query sum (order-independent),
    released values round to 6 dp — the house float policy.

    Scale shape: one equi-join results×truth on (query, doc), one
    per-query window over ``truth`` for the ideal ranking (partitioned
    by query — never a global sort), two keyed aggregations. Nothing
    driver-side; query count is unbounded.

    Returns ``(query_col, dcg_at_k, idcg_at_k, ndcg_at_k)``, all
    metric columns DOUBLE."""
    from pyspark.sql.window import Window

    dec = "decimal(20,9)"
    gain = lambda g: F.pow(F.lit(2.0), g.cast("double")) - F.lit(1.0)  # noqa: E731
    r = results.select(
        F.col(query_col).alias("__q"), F.col(doc_col).alias("__d"),
        F.col(rank_col).alias("__rank"),
    ).filter(F.col("__rank") <= k)
    t = truth.select(
        F.col(query_col).alias("__q"), F.col(doc_col).alias("__d"),
        F.col(grade_col).alias("__g"))
    dcg = (
        r.join(t, ["__q", "__d"])
        .select(
            "__q",
            F.round(
                gain(F.col("__g")) / F.log2(F.col("__rank") + F.lit(1.0)),
                9).cast(dec).alias("__term"))
        .groupBy("__q").agg(F.sum("__term").alias("__dcg"))
    )
    iw = Window.partitionBy("__q").orderBy(F.desc("__g"), F.asc("__d"))
    idcg = (
        t.withColumn("__pos", F.row_number().over(iw))
        .filter(F.col("__pos") <= k)
        .select(
            "__q",
            F.round(
                gain(F.col("__g")) / F.log2(F.col("__pos") + F.lit(1.0)),
                9).cast(dec).alias("__term"))
        .groupBy("__q").agg(F.sum("__term").alias("__idcg"))
    )
    out_dcg = F.coalesce(F.col("__dcg"), F.lit(0)).cast("double")
    out_idcg = F.col("__idcg").cast("double")
    ndcg = F.when(
        F.col("__idcg") > 0, out_dcg / out_idcg).otherwise(F.lit(0.0))
    return (
        idcg.join(dcg, "__q", "left")
        .select(
            F.col("__q").alias(query_col),
            F.round(out_dcg, 6).alias("dcg_at_k"),
            F.round(out_idcg, 6).alias("idcg_at_k"),
            F.round(ndcg, 6).alias("ndcg_at_k"),
        )
    )


def bootstrap_ci(
    per_query: DataFrame,
    value_col: str,
    query_col: str = "query_id",
    n_boot: int = 200,
    seed: str = "boot",
    alpha: float = 0.05,
) -> DataFrame:
    """Percentile bootstrap confidence interval for a macro-averaged
    per-query metric — DETERMINISTIC and exactly oracle-replayable via
    the POISSON bootstrap (Chamandy et al., Google 2012: per-replicate
    multinomial resampling needs a global index and a draws table; at
    a million queries that index is a single-task window. Poisson(1)
    weights decouple the draws — each (query, replicate) weight is an
    independent PRF draw, scan-local, no global state — and converge
    to the classical bootstrap as n grows).

    Weight for (query q, replicate b) = Poisson(1) inverse-CDF over
    the uniform ``(int(md5(seed:q:b)[:15], 16) + 0.5) / 2^60`` — the
    house PRF. Replicate mean = Σ w·x / Σ w over 9-dp decimal-snapped
    values (exact integer×decimal arithmetic, order-free); an all-zero
    replicate (probability ~e^{-n}) is excluded. The CI is the
    percentile method over replicate means: positions
    ``ceil(alpha/2·B')`` and ``ceil((1-alpha/2)·B')`` of the ascending
    order statistics over the B' surviving replicates.

    Returns ONE row ``(n_queries, n_boot, mean, ci_lo, ci_hi)`` — the
    point estimate is the plain macro mean; all metric columns DOUBLE
    at 6 dp."""
    from pyspark.sql.window import Window

    if n_boot <= 0:
        raise ValueError("n_boot must be positive")
    if not (0.0 < alpha < 1.0):
        raise ValueError(f"alpha must be in (0, 1), got {alpha}")
    dec = "decimal(20,9)"
    base = per_query.select(
        F.col(query_col).alias("__q"),
        F.round(F.col(value_col).cast("double"), 9).cast(dec).alias("__x"))
    drawn = base.select(
        "__q", "__x",
        F.explode(F.sequence(F.lit(1), F.lit(int(n_boot)))).alias("__b"))
    u = (
        (F.conv(
            F.substring(
                F.md5(F.concat_ws(
                    ":", F.lit(seed), F.col("__q").cast("string"),
                    F.col("__b").cast("string"))), 1, 15),
            16, 10).cast("double") + F.lit(0.5))
        / F.lit(float(2 ** 60)))
    w = F.lit(9)
    for i in range(len(POISSON1_CDF) - 1, -1, -1):
        w = F.when(u < F.lit(POISSON1_CDF[i]), F.lit(i)).otherwise(w)
    reps = (
        drawn.select("__b", "__x", w.alias("__w"))
        .groupBy("__b")
        .agg(
            # decimal(20,9) × INT stays exact at scale 9 on both
            # engines (a decimal×decimal product would hit Spark's
            # 38-precision clamp and could round differently)
            F.sum(F.col("__x") * F.col("__w")).alias("__num"),
            F.sum("__w").alias("__den"))
        .filter(F.col("__den") > 0)
        .select(
            "__b",
            F.round(
                F.col("__num").cast("double") / F.col("__den"), 9
            ).alias("__m"))
    )
    ow = Window.orderBy(F.asc("__m"), F.asc("__b"))
    ranked = reps.select(
        "__m", F.row_number().over(ow).alias("__r"),
        F.count(F.lit(1)).over(
            Window.partitionBy(F.lit(1))).alias("__bn"))
    lo_pos = F.ceil(F.lit(alpha / 2.0) * F.col("__bn")).cast("int")
    hi_pos = F.ceil(F.lit(1.0 - alpha / 2.0) * F.col("__bn")).cast("int")
    picks = ranked.select(
        F.when(F.col("__r") == lo_pos, F.col("__m")).alias("__lo"),
        F.when(F.col("__r") == hi_pos, F.col("__m")).alias("__hi"),
        "__bn")
    stats = base.agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.round(
            F.sum("__x").cast("double") / F.count(F.lit(1)), 6
        ).alias("mean"))
    ci = picks.agg(
        F.max("__bn").cast("long").alias("n_boot"),
        F.round(F.max("__lo"), 6).alias("ci_lo"),
        F.round(F.max("__hi"), 6).alias("ci_hi"))
    return stats.crossJoin(F.broadcast(ci)).select(
        "n_queries", "n_boot", "mean", "ci_lo", "ci_hi")


def _col(c) -> "F.Column":
    return F.col(c) if isinstance(c, str) else c


def _clipped_gram_match(base: DataFrame, cand_grams, ref_grams) -> DataFrame:
    """Clipped n-gram occurrence matches per (``__id``, order): for each
    order n, Σ_gram min(count_candidate, count_reference) — the BLEU /
    chrF matching kernel. ``cand_grams`` / ``ref_grams`` are aligned
    lists of gram-OCCURRENCE array expressions over ``base`` (order
    n = list position + 1).

    Scale shape: the 2N gram arrays evaluate exactly once inside ONE
    generate (posexplode of their array — no per-branch re-evaluation),
    then one (id, order, gram) count aggregation and one (id, order)
    fold: two keyed shuffles on id-prefixed keys, map-side combinable,
    nothing row-quadratic and nothing driver-side. (id, order) pairs
    with no grams on either side emit no row — callers rebuild the
    order spine analytically from string/token lengths."""
    n_orders = len(cand_grams)
    occ = base.select(
        "__id",
        F.posexplode(F.array(*cand_grams, *ref_grams)).alias(
            "__slot", "__gs"),
    ).select(
        "__id",
        (F.col("__slot") % n_orders + 1).alias("__n"),
        (F.col("__slot") < n_orders).alias("__is_c"),
        F.explode("__gs").alias("__g"),
    )
    cnt = occ.groupBy("__id", "__n", "__g").agg(
        F.sum(F.when(F.col("__is_c"), 1).otherwise(0)).alias("__cc"),
        F.sum(F.when(F.col("__is_c"), 0).otherwise(1)).alias("__rc"))
    return cnt.groupBy("__id", "__n").agg(
        F.sum(F.least("__cc", "__rc")).alias("__match"))


def sentence_bleu(
    df: DataFrame,
    cand_tokens,
    ref_tokens,
    id_col: str = "doc_id",
    max_n: int = 4,
) -> DataFrame:
    """Per-row sentence BLEU with add-one smoothing for orders >= 2
    (BLEU+1, Lin & Och COLING 2004 — the standard sentence-level form;
    corpus BLEU is Papineni et al. ACL 2002). Inputs are TOKEN ARRAY
    columns (callers own tokenization — pair with
    ``tokens(drop_empty=True)`` so an empty string is an empty
    candidate, not a one-empty-token one).

    Per row, for each order n = 1..max_n:

        total_n = max(|cand| - n + 1, 0)     (candidate occurrences)
        match_n = Σ_gram min(count_cand, count_ref)   (clipped)
        p_n     = (match_n + s_n) / (total_n + s_n),  s_1=0, s_n=1

    BLEU = BP · exp(Σ_n ln p_n / max_n) with brevity penalty
    BP = 1 if |cand| >= |ref| else exp(1 - |ref|/|cand|). Documented
    edge semantics (all deterministic, oracle-mirrored): an empty
    candidate scores 0 with BP 0; p_1 = 0 (no unigram overlap or empty
    reference) scores 0; an order with total_n = 0 and n >= 2 is
    vacuous (smoothed p_n = 1, log-term 0). NULL-array contract (r11
    carry-over #4): a NULL candidate or reference array is EXACTLY an
    empty one — lengths coalesce to 0, so a NULL candidate scores 0
    with BP 0 and never leaks NULL through ``cand_len``/``bp``.

    Determinism: p_n is an exact int-ratio double (bit-equal on both
    engines); ln snaps to 9-dp decimal before the order sum (the house
    policy for transcendentals); released metrics round to 6 dp.

    Scale shape: one generate + two keyed aggregations from the match
    kernel, one broadcast-free left join back to the (row × order)
    spine, one per-row fold. Linear in corpus token count.

    Returns ``(id_col, cand_len, ref_len, p1..p{max_n}, bp, bleu)``
    with every metric column DOUBLE."""
    base = df.select(
        F.col(id_col).alias("__id"),
        _col(cand_tokens).alias("__ct"),
        _col(ref_tokens).alias("__rt"))
    from ..functions.text import gram_occurrences

    match = _clipped_gram_match(
        base,
        [gram_occurrences(F.col("__ct"), n) for n in range(1, max_n + 1)],
        [gram_occurrences(F.col("__rt"), n) for n in range(1, max_n + 1)])
    # NULL ≡ empty (r11 carry-over #4): size(NULL) is NULL and would
    # otherwise leak through the length/bp release columns
    spine = base.select(
        "__id", F.coalesce(F.size("__ct"), F.lit(0)).alias("__clen"),
        F.coalesce(F.size("__rt"), F.lit(0)).alias("__rlen"),
        F.explode(F.sequence(F.lit(1), F.lit(int(max_n)))).alias("__n"))
    pern = (
        spine.join(match, ["__id", "__n"], "left")
        .na.fill({"__match": 0}))
    total = F.greatest(F.col("__clen") - F.col("__n") + 1, F.lit(0))
    smooth = F.when(F.col("__n") == 1, F.lit(0)).otherwise(F.lit(1))
    p = F.when(
        (total + smooth) > 0,
        (F.col("__match") + smooth).cast("double") / (total + smooth),
    ).otherwise(F.lit(0.0))
    logterm = F.when(p > 0, F.round(F.log(p), 9).cast("decimal(20,9)"))
    perdoc = (
        pern.select(
            "__id", "__clen", "__rlen", "__n",
            p.alias("__p"), logterm.alias("__lt"))
        .groupBy("__id")
        .agg(
            F.max("__clen").alias("__clen"),
            F.max("__rlen").alias("__rlen"),
            F.min("__p").alias("__pmin"),
            F.sum("__lt").alias("__slog"),
            *[F.max(F.when(F.col("__n") == n, F.round(F.col("__p"), 6)))
              .alias(f"p{n}") for n in range(1, max_n + 1)]))
    bp = (
        F.when(F.col("__clen") == 0, F.lit(0.0))
        .when(F.col("__clen") >= F.col("__rlen"), F.lit(1.0))
        .otherwise(F.round(F.exp(
            F.lit(1.0)
            - F.col("__rlen").cast("double") / F.col("__clen")), 9)))
    bleu = F.when(
        (F.col("__pmin") > 0) & (F.col("__clen") > 0),
        F.round(
            bp * F.exp(F.col("__slog").cast("double") / F.lit(float(max_n))),
            6),
    ).otherwise(F.lit(0.0))
    return perdoc.select(
        F.col("__id").alias(id_col),
        F.col("__clen").cast("long").alias("cand_len"),
        F.col("__rlen").cast("long").alias("ref_len"),
        *[f"p{n}" for n in range(1, max_n + 1)],
        F.round(bp, 6).alias("bp"),
        bleu.alias("bleu"))


def chrf(
    df: DataFrame,
    cand_col,
    ref_col,
    id_col: str = "doc_id",
    max_n: int = 6,
    beta: float = 2.0,
) -> DataFrame:
    """Per-row chrF (Popović WMT 2015) — character-n-gram F-score, the
    tokenization-free MT/generation metric (beta=2 is sacreBLEU's
    chrF2 default). Inputs are TEXT columns; ALL whitespace (spaces,
    tabs, newlines — ``\\s``) is stripped before gram extraction,
    matching sacreBLEU's ``whitespace=False`` default over ASCII text
    (ADVICE r11: the first cut stripped only spaces). Scope note:
    Java/RE2 ``\\s`` is ASCII-only while sacreBLEU's Python ``\\s``
    is Unicode-aware, so non-ASCII whitespace (NBSP U+00A0, thin
    space...) still forms grams here — the equivalence claim is
    ASCII-scoped, like the levenshtein note in PARITY.md.

    For each order n = 1..max_n over the whitespace-stripped strings:

        P_n = match_n / total_cand_n   (0 when the candidate has no
        R_n = match_n / total_ref_n     n-grams; ditto reference)

    with clipped occurrence matches as in BLEU. Orders where BOTH
    sides are gramless are vacuous and excluded; chrP / chrR are the
    means over the included orders (9-dp decimal-snapped terms, exact
    sum), and

        chrF = (1 + beta²) · chrP · chrR / (beta² · chrP + chrR)

    (0 when the denominator is 0, including both-empty rows). NULL-
    text contract (r11 carry-over #4): a NULL candidate or reference
    is EXACTLY an empty string — lengths coalesce to 0, every order is
    vacuous against an empty other side, both-NULL scores 0.

    Scale shape: identical to ``sentence_bleu`` — one generate, two
    keyed aggregations, a spine join, a per-row fold; linear in corpus
    character count. Returns ``(id_col, chrp, chrr, chrf)``, DOUBLE at
    6 dp."""
    base = df.select(
        F.col(id_col).alias("__id"),
        F.regexp_replace(_col(cand_col), r"\s", "").alias("__cs"),
        F.regexp_replace(_col(ref_col), r"\s", "").alias("__rs"))

    def grams(name: str, n: int):
        c = F.col(name)
        return F.when(
            F.length(c) >= n,
            F.transform(
                F.sequence(F.lit(1), F.length(c) - (n - 1)),
                lambda i: c.substr(i, F.lit(n))),
        ).otherwise(F.array().cast("array<string>"))

    match = _clipped_gram_match(
        base,
        [grams("__cs", n) for n in range(1, max_n + 1)],
        [grams("__rs", n) for n in range(1, max_n + 1)])
    spine = base.select(
        "__id", F.coalesce(F.length("__cs"), F.lit(0)).alias("__cn"),
        F.coalesce(F.length("__rs"), F.lit(0)).alias("__rn"),
        F.explode(F.sequence(F.lit(1), F.lit(int(max_n)))).alias("__n"))
    pern = (
        spine.join(match, ["__id", "__n"], "left")
        .na.fill({"__match": 0}))
    tc = F.greatest(F.col("__cn") - F.col("__n") + 1, F.lit(0))
    tr = F.greatest(F.col("__rn") - F.col("__n") + 1, F.lit(0))
    prec = F.when(
        tc > 0, F.col("__match").cast("double") / tc).otherwise(F.lit(0.0))
    rec = F.when(
        tr > 0, F.col("__match").cast("double") / tr).otherwise(F.lit(0.0))
    included = (tc > 0) | (tr > 0)
    dec = "decimal(20,9)"
    perdoc = (
        pern.select(
            "__id",
            F.when(included, F.round(prec, 9).cast(dec)).alias("__pt"),
            F.when(included, F.round(rec, 9).cast(dec)).alias("__rt"),
            F.when(included, F.lit(1)).alias("__inc"))
        .groupBy("__id")
        .agg(
            F.sum("__pt").alias("__sp"), F.sum("__rt").alias("__sr"),
            F.coalesce(F.sum("__inc"), F.lit(0)).alias("__k")))
    chrp = F.when(
        F.col("__k") > 0,
        F.round(F.col("__sp").cast("double") / F.col("__k"), 9),
    ).otherwise(F.lit(0.0))
    chrr = F.when(
        F.col("__k") > 0,
        F.round(F.col("__sr").cast("double") / F.col("__k"), 9),
    ).otherwise(F.lit(0.0))
    b2 = float(beta) * float(beta)
    den = F.lit(b2) * chrp + chrr
    f = F.when(
        den > 0, F.lit(1.0 + b2) * chrp * chrr / den).otherwise(F.lit(0.0))
    return perdoc.select(
        F.col("__id").alias(id_col),
        F.round(chrp, 6).alias("chrp"),
        F.round(chrr, 6).alias("chrr"),
        F.round(f, 6).alias("chrf"))


def corpus_bleu(
    df: DataFrame,
    cand_tokens,
    ref_tokens,
    id_col: str = "doc_id",
    max_n: int = 4,
) -> DataFrame:
    """Corpus-level BLEU (Papineni et al. ACL 2002 — the exact
    micro-averaged form, no smoothing): clipped matches and candidate
    totals pool over ALL pairs before the per-order ratio, and the
    brevity penalty compares TOTAL candidate length to total reference
    length — so one short sentence cannot zero the score the way it
    does per-sentence (the reason corpus BLEU is the reported number
    and :func:`sentence_bleu` is the per-sample diagnostic).

        p_n  = Σ_pairs match_n / Σ_pairs total_n      (0 if no grams)
        BP   = 1 if ΣC >= ΣR else exp(1 - ΣR/ΣC)
        BLEU = BP · exp(Σ_n ln p_n / max_n)           (0 if any p_n=0)

    Same kernel and determinism policy as ``sentence_bleu`` (exact
    long pools, 9-dp decimal log snap, 6-dp release), including its
    NULL-array contract: a NULL candidate/reference array pools as an
    empty one (0 tokens — an all-NULL corpus releases 0-token totals,
    never NULL). The pooling adds one tiny (max_n-row) aggregate on
    top. Returns ONE row:
    ``(n_pairs, cand_tokens, ref_tokens, p1..p{max_n}, bp, bleu)``."""
    base = df.select(
        F.col(id_col).alias("__id"),
        _col(cand_tokens).alias("__ct"),
        _col(ref_tokens).alias("__rt"))
    from ..functions.text import gram_occurrences

    match = _clipped_gram_match(
        base,
        [gram_occurrences(F.col("__ct"), n) for n in range(1, max_n + 1)],
        [gram_occurrences(F.col("__rt"), n) for n in range(1, max_n + 1)])
    pooled_m = match.groupBy("__n").agg(
        F.sum("__match").cast("long").alias("__m"))
    lens = base.select(
        F.coalesce(F.size("__ct"), F.lit(0)).alias("__cl"),
        F.coalesce(F.size("__rt"), F.lit(0)).alias("__rl"),
        F.explode(F.sequence(F.lit(1), F.lit(int(max_n)))).alias("__n"))
    pooled_t = lens.groupBy("__n").agg(
        F.sum(F.greatest(F.col("__cl") - F.col("__n") + 1, F.lit(0)))
        .cast("long").alias("__t"),
        F.count(F.lit(1)).cast("long").alias("__pairs"),
        F.sum("__cl").cast("long").alias("__sc"),
        F.sum("__rl").cast("long").alias("__sr"))
    pern = pooled_t.join(pooled_m, "__n", "left").na.fill({"__m": 0})
    p = F.when(
        F.col("__t") > 0,
        F.col("__m").cast("double") / F.col("__t")).otherwise(F.lit(0.0))
    logterm = F.when(p > 0, F.round(F.log(p), 9).cast("decimal(20,9)"))
    one = pern.agg(
        F.max("__pairs").alias("n_pairs"),
        F.max("__sc").alias("cand_tokens"),
        F.max("__sr").alias("ref_tokens"),
        F.min(p).alias("__pmin"),
        F.sum(logterm).alias("__slog"),
        *[F.max(F.when(F.col("__n") == n, F.round(p, 6)))
          .alias(f"p{n}") for n in range(1, max_n + 1)])
    bp = (
        F.when(F.col("cand_tokens") == 0, F.lit(0.0))
        .when(F.col("cand_tokens") >= F.col("ref_tokens"), F.lit(1.0))
        .otherwise(F.round(F.exp(
            F.lit(1.0) - F.col("ref_tokens").cast("double")
            / F.col("cand_tokens")), 9)))
    bleu = F.when(
        (F.col("__pmin") > 0) & (F.col("cand_tokens") > 0),
        F.round(
            bp * F.exp(F.col("__slog").cast("double") / F.lit(float(max_n))),
            6),
    ).otherwise(F.lit(0.0))
    return one.select(
        "n_pairs", "cand_tokens", "ref_tokens",
        *[f"p{n}" for n in range(1, max_n + 1)],
        F.round(bp, 6).alias("bp"), bleu.alias("bleu"))


def rouge_n(
    df: DataFrame,
    cand_tokens,
    ref_tokens,
    id_col: str = "doc_id",
    max_n: int = 2,
) -> DataFrame:
    """Per-row ROUGE-N (Lin, ACL 2004 Workshop) — the RECALL-oriented
    n-gram overlap that summarization and data-distillation evals
    report next to BLEU's precision: for each order n = 1..max_n over
    TOKEN ARRAY columns,

        recall_n    = match_n / total_ref_n    (0 when the reference
        precision_n = match_n / total_cand_n    has no n-grams; ditto
                                                candidate)
        f1_n        = 2·P·R / (P + R)          (0 when P + R = 0)

    with the same clipped-occurrence ``match_n`` as BLEU (ROUGE's
    multiset intersection). No smoothing and no cross-order pooling —
    each order is a standalone metric (the reported ROUGE-1/ROUGE-2),
    so an order where both sides are gramless simply scores 0. NULL-
    array contract: a NULL candidate or reference array is EXACTLY an
    empty one (lengths coalesce to 0 — P/R/F release 0, never NULL).

    Determinism: P/R are exact int-ratio doubles snapped at 9 dp
    (decimal) before the F1 fold; released metrics round to 6 dp —
    the ``sentence_bleu`` / ``chrf`` house ladder.

    Scale shape: identical to ``sentence_bleu`` — ONE generate over
    the 2·max_n gram arrays, two keyed map-side-combinable
    aggregations, a spine join, a per-row fold; linear in corpus
    token count, nothing driver-side.

    Returns ``(id_col, rouge1_p, rouge1_r, rouge1_f, ...,
    rouge{max_n}_p/_r/_f)``, every metric DOUBLE."""
    base = df.select(
        F.col(id_col).alias("__id"),
        _col(cand_tokens).alias("__ct"),
        _col(ref_tokens).alias("__rt"))
    from ..functions.text import gram_occurrences

    match = _clipped_gram_match(
        base,
        [gram_occurrences(F.col("__ct"), n) for n in range(1, max_n + 1)],
        [gram_occurrences(F.col("__rt"), n) for n in range(1, max_n + 1)])
    # NULL ≡ empty (r11 carry-over #4): size(NULL) is NULL and would
    # otherwise leak through the length/bp release columns
    spine = base.select(
        "__id", F.coalesce(F.size("__ct"), F.lit(0)).alias("__clen"),
        F.coalesce(F.size("__rt"), F.lit(0)).alias("__rlen"),
        F.explode(F.sequence(F.lit(1), F.lit(int(max_n)))).alias("__n"))
    pern = (
        spine.join(match, ["__id", "__n"], "left")
        .na.fill({"__match": 0}))
    tc = F.greatest(F.col("__clen") - F.col("__n") + 1, F.lit(0))
    tr = F.greatest(F.col("__rlen") - F.col("__n") + 1, F.lit(0))
    dec = "decimal(20,9)"
    p = F.when(
        tc > 0, F.round(F.col("__match").cast("double") / tc, 9)
    ).otherwise(F.lit(0.0)).cast(dec)
    r = F.when(
        tr > 0, F.round(F.col("__match").cast("double") / tr, 9)
    ).otherwise(F.lit(0.0)).cast(dec)
    pd_, rd = p.cast("double"), r.cast("double")
    f1 = F.when(
        pd_ + rd > 0, F.lit(2.0) * pd_ * rd / (pd_ + rd)
    ).otherwise(F.lit(0.0))
    per_order = pern.select(
        "__id", "__n", p.alias("__p"), r.alias("__r"), f1.alias("__f"))
    return per_order.groupBy("__id").agg(
        *[agg for n in range(1, max_n + 1) for agg in (
            F.max(F.when(F.col("__n") == n,
                         F.round(F.col("__p").cast("double"), 6)))
            .alias(f"rouge{n}_p"),
            F.max(F.when(F.col("__n") == n,
                         F.round(F.col("__r").cast("double"), 6)))
            .alias(f"rouge{n}_r"),
            F.max(F.when(F.col("__n") == n, F.round(F.col("__f"), 6)))
            .alias(f"rouge{n}_f"),
        )]
    ).withColumnRenamed("__id", id_col)


def rouge_l(
    df: DataFrame,
    cand_tokens,
    ref_tokens,
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-row ROUGE-L (Lin, ACL 2004 Workshop §3.1) — the LCS-based
    member of the ROUGE family beside ``rouge_n``'s fixed-order gram
    overlap: the longest common SUBSEQUENCE rewards in-order coverage
    without requiring contiguity, so a candidate that preserves the
    reference's sentence-level word order scores even where every
    bigram is broken. Over TOKEN ARRAY columns,

        R_lcs = LCS(c, r) / |r|      (0 when the reference is empty)
        P_lcs = LCS(c, r) / |c|      (0 when the candidate is empty)
        F_lcs = 2·P·R / (P + R)      (0 when P + R = 0; the harmonic
                                      beta=1 release every modern
                                      rouge scorer reports)

    NULL-array contract (the BLEU/ROUGE house rule): a NULL side is
    EXACTLY an empty one — lengths coalesce to 0, metrics release 0,
    never NULL.

    The DP row update uses the prefix-max form of the recurrence:
    with t[k] = old[k-1] + [c = r[k]],

        new[j] = max(old[j], max_{k<=j} t[k])

    which equals the classic max(old[j], new[j-1], old[k-1]+match)
    fold because DP rows are monotone non-decreasing in j (induction:
    new[j-1] = max(old[j-1], max_{k<=j-1} t[k]) and old[j-1] <=
    old[j]). This form has no left-to-right dependency inside the new
    row, so the kernel vectorizes it as one ``maximum.accumulate``
    per candidate token, and the DuckDB oracle replays the IDENTICAL
    integer algebra (recursive CTE over candidate position + a nested
    list comprehension).

    Kernel choice: the LCS runs in an Arrow-batched pandas UDF (numpy
    int32 rows), NOT Catalyst higher-order functions — this is the
    documented UDF escape hatch: an O(|c|·|r|) DP with per-cell
    branching is exactly what the built-in operators can't express
    efficiently (the transform/aggregate formulation was measured
    ~25x slower: every DP cell is an interpreted expression eval over
    immutable arrays, where numpy does a whole row per vector op).
    P/R/F stay JVM-side — the LCS is an exact int either way, so
    engine parity is unaffected.

    Determinism: LCS and lengths are exact ints; P/R are exact
    int-ratio doubles snapped at 9 dp (decimal) before the F fold;
    release rounds at 6 dp — the house ladder.

    Scale shape: row-local, zero shuffle, Arrow-batched — but
    per-row cost is O(|c|·|r|) DP cells, so this is for SHORT fields
    (summaries, titles, utterances) — cap or chunk long documents
    upstream, exactly the ``edit_distance_metrics`` contract.

    Returns ``(id_col, cand_len, ref_len, lcs, rouge_l_p, rouge_l_r,
    rouge_l_f)``."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf

    base = df.select(
        F.col(id_col).alias("__id"),
        _col(cand_tokens).alias("__ct"),
        _col(ref_tokens).alias("__rt"))
    ct, rt = F.col("__ct"), F.col("__rt")
    clen = F.coalesce(F.size(ct), F.lit(0))
    rlen = F.coalesce(F.size(rt), F.lit(0))

    # no type hints: `from __future__ import annotations` would leave
    # them as unresolvable strings for the pandas_udf inspector
    def _lcs_fn(cand, ref):
        out = np.zeros(len(cand), dtype="int32")
        for i, (c, r) in enumerate(zip(cand, ref)):
            if c is None or r is None or len(c) == 0 or len(r) == 0:
                continue
            r_arr = np.asarray(r, dtype=object)
            prev = np.zeros(len(r) + 1, dtype="int32")
            for ctok in c:
                # t[k] = old[k-1] + match_k; new[j] = max(old[j],
                # running-max t[1..j]) — the prefix-max recurrence
                t = prev[:-1] + (r_arr == ctok)
                np.maximum.accumulate(t, out=t)
                prev = np.concatenate(
                    (prev[:1], np.maximum(prev[1:], t)))
            out[i] = prev[-1]
        return pd.Series(out)

    _lcs = pandas_udf(_lcs_fn, "int")
    lcs = _lcs(ct, rt)
    dec = "decimal(20,9)"
    p = F.when(
        clen > 0, F.round(lcs.cast("double") / clen, 9)
    ).otherwise(F.lit(0.0)).cast(dec)
    r = F.when(
        rlen > 0, F.round(lcs.cast("double") / rlen, 9)
    ).otherwise(F.lit(0.0)).cast(dec)
    pd_, rd = p.cast("double"), r.cast("double")
    f1 = F.when(
        pd_ + rd > 0, F.lit(2.0) * pd_ * rd / (pd_ + rd)
    ).otherwise(F.lit(0.0))
    return base.select(
        F.col("__id").alias(id_col),
        clen.cast("long").alias("cand_len"),
        rlen.cast("long").alias("ref_len"),
        lcs.cast("long").alias("lcs"),
        F.round(pd_, RELEASE_DP).alias("rouge_l_p"),
        F.round(rd, RELEASE_DP).alias("rouge_l_r"),
        F.round(f1, RELEASE_DP).alias("rouge_l_f"))


def edit_distance_metrics(
    df: DataFrame,
    cand_col,
    ref_col,
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-row Levenshtein edit distance and its normalized forms —
    the ASR / OCR / transcription scorecard:

    - ``dist``  — character-level Levenshtein (insert/delete/substitute,
      unit costs) via the JVM built-in;
    - ``cer``   — character error rate ``dist / ref_chars`` (NULL when
      the reference is empty: 0/0 is undefined, and a nonzero distance
      against an empty reference has no standard CER reading);
    - ``sim``   — normalized similarity ``1 - dist / max(chars)``
      (1.0 when BOTH sides are empty — identical strings).

    Either side NULL emits NULL metrics (the built-in's semantics —
    a missing transcript is not an empty one).

    Unicode: Spark's built-in counts CODE POINTS (levenshtein('café',
    'cafe') = 1) — the correct CER unit. DuckDB's counts BYTES (same
    pair = 2), so the oracle gate's parity claim holds for
    ASCII-range fixtures only; this kernel's semantics are the
    authoritative ones on non-ASCII text (probe-verified r12).

    Scale shape: row-local, zero shuffle, whole-stage codegen — but
    per-row cost is O(|cand|·|ref|) (the classic DP), so this is for
    SHORT fields (utterance transcripts, OCR lines, titles); cap or
    chunk long documents upstream.

    Returns ``(id_col, cand_chars, ref_chars, dist, cer, sim)``."""
    c, r = _col(cand_col), _col(ref_col)
    cl, rl = F.length(c), F.length(r)
    dist = F.levenshtein(c, r)
    cer = F.when(rl > 0, F.round(dist.cast("double") / rl, RELEASE_DP))
    mx = F.greatest(cl, rl)
    sim = F.when(mx > 0, F.round(
        F.lit(1.0) - dist.cast("double") / mx, RELEASE_DP)
    ).otherwise(F.when(cl.isNotNull() & rl.isNotNull(), F.lit(1.0)))
    return df.select(
        F.col(id_col),
        cl.cast("long").alias("cand_chars"),
        rl.cast("long").alias("ref_chars"),
        dist.cast("long").alias("dist"),
        cer.alias("cer"),
        sim.alias("sim"))


def isotonic_calibration(
    df: DataFrame,
    score_col,
    label_col,
    n_bins: int = 20,
) -> DataFrame:
    """Isotonic calibration over a fixed score grid (pool-adjacent-
    violators; Ayer et al. 1955, Zadrozny & Elkan KDD'02) — the
    nonparametric recalibration map next to the reliability diagram:
    bin the scores, then project the per-bin positive rates onto the
    nearest NON-DECREASING step function (weighted L2 — the PAV
    solution is UNIQUE, so merge order cannot matter).

    Scale shape (the k-means/BPE bounded-driver-state discipline):
    ONE keyed aggregation reduces the corpus to ≤ ``n_bins`` (bin,
    n, pos) integer triples; PAV runs driver-side on that
    grid-bounded table with EXACT integer-fraction comparisons
    (pos_a·n_b > pos_b·n_a — no float enters the pooling decision),
    so the result is bit-stable at any data scale and replayable by
    a recursive-CTE oracle running the same integer algebra.

    Scores clamp to [0,1] before binning (out-of-range predictions
    land in the edge bins, the ``probabilistic_scores`` clamp rule);
    NULL score or label rows are excluded. Empty bins are absent
    from the output (no fabricated rates).

    Returns one row per NON-EMPTY bin: ``(bin, n, pos, rate_raw,
    rate_iso)`` with both rates released at 6 dp."""
    if int(n_bins) < 2:
        raise ValueError(f"n_bins must be >= 2, got {n_bins}")
    b = int(n_bins)
    p = _col(score_col)
    y = _col(label_col)
    base = df.select(p.alias("__p"), y.cast("boolean").alias("__y")) \
        .filter(F.col("__p").isNotNull() & F.col("__y").isNotNull())
    # NaN ≡ NULL (the roc_auc/probabilistic_scores house contract —
    # r14 self-review: least/greatest would otherwise clamp NaN to
    # 1.0 and silently pollute the top bin; the oracle filters isnan)
    from pyspark.sql import types as T

    if isinstance(base.schema["__p"].dataType,
                  (T.DoubleType, T.FloatType)):
        base = base.filter(~F.isnan("__p"))
    clamped = F.greatest(F.least(F.col("__p"), F.lit(1.0)), F.lit(0.0))
    binned = base.select(
        F.least(F.floor(clamped * b).cast("int"), F.lit(b - 1))
        .alias("__bin"),
        F.when(F.col("__y"), 1).otherwise(0).alias("__yi"))
    per = binned.groupBy("__bin").agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.sum("__yi").cast("long").alias("__pos"))
    rows = sorted(
        ((r["__bin"], int(r["__n"]), int(r["__pos"]))
         for r in per.collect()))
    # PAV stack: merge while the last two pools violate monotonicity
    # (exact cross-multiplied integer compare)
    pools: list[list] = []   # [pos, n, [bins]]
    for bin_id, n, pos in rows:
        pools.append([pos, n, [bin_id]])
        while (len(pools) >= 2
               and pools[-2][0] * pools[-1][1]
               > pools[-1][0] * pools[-2][1]):
            p2 = pools.pop()
            pools[-1][0] += p2[0]
            pools[-1][1] += p2[1]
            pools[-1][2] += p2[2]
    # release rounding must be HALF_UP on the DOUBLE (what F.round and
    # SQL round() both do) — python's builtin round is half-EVEN and
    # diverges at exact boundaries like 1/128 = 0.0078125
    from decimal import ROUND_HALF_UP, Decimal

    quantum = Decimal(1).scaleb(-RELEASE_DP)

    def _r(num: int, den: int) -> float:
        return float(
            Decimal(num / den).quantize(quantum, ROUND_HALF_UP))

    raw = {bin_id: (n, pos) for bin_id, n, pos in rows}
    out = []
    for pos, n, bins in pools:
        for bin_id in bins:
            bn, bpos = raw[bin_id]
            out.append((
                bin_id, bn, bpos, _r(bpos, bn), _r(pos, n)))
    spark = df.sparkSession
    return spark.createDataFrame(
        out, "bin int, n long, pos long, rate_raw double, "
             "rate_iso double")


def pass_at_k(
    df: DataFrame,
    problem_col: str,
    correct_col,
    ks: tuple[int, ...] = (1, 5, 10),
) -> DataFrame:
    """Unbiased pass@k (Chen et al. 2021, the HumanEval estimator) per
    problem: with ``n`` generated samples of which ``c`` pass,

        pass@k = 1 - C(n-c, k) / C(n, k)
               = 1 - Π_{i=0..k-1} (n-c-i) / (n-i)

    — the probability that at least one of k samples drawn WITHOUT
    replacement from the n passes. The product form never touches a
    factorial (no overflow at any n) and evaluates as an ORDERED
    left-to-right fold of exact int-ratio doubles, so both engines
    produce identical bits. ``n - c < k`` short-circuits to 1.0 (some
    draw must include a passing sample); ``n < k`` is NULL (the
    estimator is undefined — fewer samples than draws). A NULL
    correctness flag counts as a FAILURE (the sample ran and did not
    pass verification) — pre-filter if unverified samples should not
    count toward ``n`` at all.

    Scale shape: ONE keyed count aggregation (map-side combinable)
    plus a per-group arithmetic fold over ``k`` terms; linear in
    sample count, nothing driver-side.

    Returns ``(problem_col, n_samples, n_correct, pass_at_{k}...)``,
    estimates DOUBLE at 6 dp."""
    for k in ks:
        if int(k) < 1:
            raise ValueError(f"every k must be >= 1, got {k}")
    c = _col(correct_col)
    per = df.groupBy(problem_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_samples"),
        F.sum(F.when(c, 1).otherwise(0)).cast("long").alias("n_correct"))
    n, cc = F.col("n_samples"), F.col("n_correct")

    def est(k: int):
        prod = F.aggregate(
            F.sequence(F.lit(0), F.lit(int(k) - 1)),
            F.lit(1.0),
            lambda acc, i: acc * ((n - cc - i).cast("double") / (n - i)))
        return (
            F.when(n < k, F.lit(None).cast("double"))
            .when(n - cc < k, F.lit(1.0))
            .otherwise(F.round(F.lit(1.0) - prod, 6))
            .alias(f"pass_at_{k}"))

    return per.select(problem_col, "n_samples", "n_correct",
                      *[est(k) for k in ks])


def cohens_kappa(
    df: DataFrame,
    rater_a: str,
    rater_b: str,
) -> DataFrame:
    """Cohen's kappa (Cohen 1960) — inter-annotator agreement beyond
    chance over two categorical label columns, the label-quality gate
    a supervised training pipeline runs before trusting an annotation
    batch:

        p_o   = Σ agree / N               (observed agreement)
        p_e   = Σ_cat (nA_cat · nB_cat) / N²   (chance agreement from
                                                the raters' marginals)
        kappa = (p_o - p_e) / (1 - p_e)   (NULL when p_e = 1: both
                                           raters constant — chance-
                                           corrected agreement is
                                           undefined, not 0)

    Rows where either label is NULL are excluded (an unlabeled item
    has no agreement reading). All three released values are exact
    int-ratio doubles rounded at 6 dp.

    Scale shape: one row-local agree flag + global count, two tiny
    per-category marginal aggregations joined on category (outer —
    a category one rater never uses still contributes 0), one
    broadcast-sized fold. Linear, map-side combinable, nothing
    driver-side.

    Returns ONE row: ``(n_items, po, pe, kappa)``."""
    a, b = F.col(rater_a), F.col(rater_b)
    base = df.filter(a.isNotNull() & b.isNotNull()).select(
        a.cast("string").alias("__a"), b.cast("string").alias("__b"))
    tot = base.agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.sum(F.when(F.col("__a") == F.col("__b"), 1).otherwise(0))
        .cast("long").alias("__agree"))
    ma = base.groupBy(F.col("__a").alias("__cat")).agg(
        F.count(F.lit(1)).cast("long").alias("__na"))
    mb = base.groupBy(F.col("__b").alias("__cat")).agg(
        F.count(F.lit(1)).cast("long").alias("__nb"))
    # exact decimal marginal products: na*nb and n^2 overflow LONG once
    # n passes ~3e9 rows — decimal(38,0) sums stay exact (and order-
    # independent, unlike a double sum) at any realistic corpus size
    cross = (
        ma.join(mb, "__cat", "full_outer")
        .na.fill({"__na": 0, "__nb": 0})
        .agg(F.sum(F.col("__na").cast("decimal(19,0)")
                   * F.col("__nb").cast("decimal(19,0)"))
             .cast("decimal(38,0)").alias("__pesum")))
    n = F.col("__n")
    po = F.col("__agree").cast("double") / n
    pe = (F.col("__pesum").cast("double")
          / (n.cast("double") * n.cast("double")))
    return (
        tot.crossJoin(cross)
        .filter(n > 0)
        .select(
            n.alias("n_items"),
            F.round(po, RELEASE_DP).alias("po"),
            F.round(pe, RELEASE_DP).alias("pe"),
            F.when(pe < 1.0,
                   F.round((po - pe) / (F.lit(1.0) - pe), RELEASE_DP))
            .alias("kappa")))


def krippendorff_alpha(
    df: DataFrame,
    unit_col: str,
    value_col: str,
) -> DataFrame:
    """Krippendorff's alpha (nominal metric; Krippendorff 2004) — the
    multi-rater agreement coefficient that, unlike Cohen's kappa,
    handles ANY number of raters and MISSING ratings: input is one row
    per (unit, rating value), rater identity irrelevant under the
    nominal metric. Units with fewer than 2 ratings are unpairable and
    drop (the standard treatment).

        D_o = Σ_u Σ_c n_uc·(n_u - n_uc)/(n_u - 1) / n    (observed)
        D_e = (n² - Σ_c n_c²) / (n·(n-1))                (expected)
        α   = 1 - D_o / D_e       (NULL when D_e = 0: every pairable
                                   rating is the same single value —
                                   agreement-beyond-chance undefined)

    where n_uc counts value c in unit u, n_u the unit's ratings, n_c
    the value's total over pairable units, n the grand total.
    Numerators/denominators are exact integer sums (decimal(38,6) for
    the per-unit rational terms — each n_uc·(n_u - n_uc)/(n_u - 1)
    snaps to 6-dp decimal so the cross-partition sum is exact and
    order-independent); released values round at 6 dp.

    Scale shape: one (unit, value) count aggregation, one per-unit
    rollup, one per-value rollup, three broadcast-sized folds —
    linear, map-side combinable, nothing driver-side.

    Returns ONE row: ``(n_units, n_ratings, d_obs, d_exp, alpha)``."""
    base = df.filter(
        F.col(unit_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(
        F.col(unit_col).alias("__u"),
        F.col(value_col).cast("string").alias("__c"))
    uc = base.groupBy("__u", "__c").agg(
        F.count(F.lit(1)).cast("long").alias("__nuc"))
    per_u = uc.groupBy("__u").agg(
        F.sum("__nuc").cast("long").alias("__nu"))
    pairable = uc.join(per_u, "__u").filter(F.col("__nu") >= 2)
    # per-(unit, value) disagreement term, 6-dp decimal-snapped so the
    # global sum is exact and partitioning-independent
    term = (
        (F.col("__nuc") * (F.col("__nu") - F.col("__nuc")))
        .cast("double") / (F.col("__nu") - 1))
    obs = pairable.agg(
        F.sum(F.round(term, 6).cast("decimal(38,6)")).alias("__dosum"),
        F.sum("__nuc").cast("long").alias("__n"),
        F.count_distinct("__u").cast("long").alias("__n_units"))
    val = pairable.groupBy("__c").agg(
        F.sum("__nuc").cast("long").alias("__nc"))
    sq = val.agg(
        F.sum(F.col("__nc").cast("decimal(19,0)")
              * F.col("__nc").cast("decimal(19,0)"))
        .cast("decimal(38,0)").alias("__sumsq"))
    n = F.col("__n")
    do = F.col("__dosum").cast("double") / n
    de = ((n.cast("double") * n.cast("double")
           - F.col("__sumsq").cast("double"))
          / (n.cast("double") * (n - 1).cast("double")))
    return (
        obs.crossJoin(sq)
        .filter(n >= 2)
        .select(
            F.col("__n_units").alias("n_units"),
            n.alias("n_ratings"),
            F.round(do, RELEASE_DP).alias("d_obs"),
            F.round(de, RELEASE_DP).alias("d_exp"),
            F.when(de > 0, F.round(F.lit(1.0) - do / de, RELEASE_DP))
            .alias("alpha")))


def fleiss_kappa(
    df: DataFrame,
    unit_col: str,
    value_col: str,
    n_raters: int | None = None,
) -> DataFrame:
    """Fleiss' kappa (Fleiss 1971) — agreement among a FIXED-SIZE
    panel of raters per item: every unit must carry the same number of
    ratings n (validated at call time with ONE eager aggregate probe
    over the pinned per-unit counts — a full pass, not a limit-1
    probe; unequal panels want :func:`krippendorff_alpha` instead).

        P_u    = (Σ_c n_uc² - n) / (n·(n-1))    per-unit agreement
        P̄      = mean_u P_u                      (observed)
        P̄_e    = Σ_c p_c²,  p_c = Σ_u n_uc / (N·n)   (expected)
        kappa  = (P̄ - P̄_e) / (1 - P̄_e)   (NULL when P̄_e = 1)

    Determinism: per-unit P_u is an exact int ratio snapped to 9-dp
    decimal before the mean (order-independent); p_c² sums over exact
    HUGEINT-class category totals; release rounds at 6 dp.

    Scale shape: one (unit, value) count aggregation, one per-unit
    fold, one per-category fold — linear, map-side combinable.
    EAGER-ACTION COST (ADVICE r12, the shortest_paths_weighted-style
    note): the default panel validation runs CLUSTER JOBS at call
    time — an eager ``localCheckpoint`` of the (unit, value) counts
    (which pins executor storage until the session drops it) plus a
    min/max ``collect()`` over the per-unit totals — so building the
    plan is not free the way pure-Column operators are. Callers that
    already know the panel size pass ``n_raters`` (the r11
    ``validate_weights`` escape-hatch pattern): the probe collect is
    skipped AND the checkpoint goes lazy (``eager=False`` — the
    lineage pin still applies, materialized by the caller's first
    action instead of at plan-build; ADVICE r13), so building the
    plan runs no cluster jobs. A WRONG ``n_raters`` no longer
    silently mis-scales: the release carries a zero-cost assertion
    fold (count of units whose rating total != n, in the same
    aggregate pass) and NULLs p_bar/p_e/kappa when any unit
    disagrees with the trusted panel size.

    Returns ONE row: ``(n_units, n_raters, p_bar, p_e, kappa)``."""
    base = df.filter(
        F.col(unit_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(
        F.col(unit_col).alias("__u"),
        F.col(value_col).cast("string").alias("__c"))
    uc = base.groupBy("__u", "__c").agg(
        F.count(F.lit(1)).cast("long").alias("__nuc"))
    # pin the lineage before the probe: obs and cat re-read uc, and a
    # non-deterministic source could make the recomputed counts
    # inconsistent with the probe-validated panel size n (the
    # equi_depth_histogram convention); also saves two recomputes.
    # On the trusted n_raters path there is no probe to be consistent
    # with, so the pin can go lazy — first action materializes it and
    # plan-build runs zero cluster jobs (ADVICE r13).
    uc = uc.localCheckpoint(eager=n_raters is None)
    per_u = uc.groupBy("__u").agg(
        F.sum("__nuc").cast("long").alias("__n"),
        F.sum(F.col("__nuc").cast("decimal(19,0)")
              * F.col("__nuc").cast("decimal(19,0)"))
        .cast("decimal(38,0)").alias("__sq"))
    if n_raters is None:
        panel = per_u.agg(
            F.min("__n").alias("__lo"), F.max("__n").alias("__hi")
        ).collect()
        if not panel or panel[0]["__lo"] is None:
            return per_u.sparkSession.createDataFrame(
                [], "n_units long, n_raters long, p_bar double, "
                    "p_e double, kappa double")
        lo, hi = panel[0]["__lo"], panel[0]["__hi"]
        if lo != hi:
            raise ValueError(
                f"fleiss_kappa requires a fixed panel size; units carry "
                f"{lo}..{hi} ratings — use krippendorff_alpha for "
                f"variable panels")
        n = int(lo)
    else:
        n = int(n_raters)
    if n < 2:
        raise ValueError("panel size must be >= 2 to measure agreement")
    pu = F.round(
        (F.col("__sq").cast("double") - n) / (n * (n - 1)), 9
    ).cast("decimal(20,9)")
    obs = per_u.agg(
        F.count(F.lit(1)).cast("long").alias("__nu"),
        F.sum(pu).alias("__pusum"),
        # assertion fold (ADVICE r13): on the trusted n_raters path a
        # wrong panel size must surface, not silently mis-scale — count
        # the units whose actual rating total disagrees with n (always
        # 0 on the probe-validated path; same aggregate pass, free)
        F.sum(F.when(F.col("__n") != F.lit(n), F.lit(1)).otherwise(
            F.lit(0))).cast("long").alias("__panel_bad"))
    cat = uc.groupBy("__c").agg(
        F.sum("__nuc").cast("long").alias("__nc"))
    esq = cat.agg(
        F.sum(F.col("__nc").cast("decimal(19,0)")
              * F.col("__nc").cast("decimal(19,0)"))
        .cast("decimal(38,0)").alias("__esq"))
    nu = F.col("__nu")
    pbar = F.col("__pusum").cast("double") / nu
    tot = nu.cast("double") * F.lit(float(n))
    pe = F.col("__esq").cast("double") / (tot * tot)
    return (
        obs.crossJoin(esq)
        # no-row-on-empty contract also on the trusted n_raters path,
        # where the probe's early return never runs
        .filter(nu > 0)
        .select(
            nu.alias("n_units"),
            F.lit(n).cast("long").alias("n_raters"),
            *[
                F.when(F.col("__panel_bad") == 0, c).alias(a)
                for c, a in (
                    (F.round(pbar, RELEASE_DP), "p_bar"),
                    (F.round(pe, RELEASE_DP), "p_e"),
                    (F.when(pe < 1.0,
                            F.round((pbar - pe) / (F.lit(1.0) - pe),
                                    RELEASE_DP)), "kappa"),
                )
            ]))


def mcc_binary(
    df: DataFrame,
    label_col,
    pred_col,
) -> DataFrame:
    """Matthews correlation coefficient for binary classification
    (Matthews 1975) — the single-number confusion-matrix summary that,
    unlike accuracy or F1, stays honest under class imbalance:

        MCC = (TP·TN - FP·FN)
              / sqrt((TP+FP)(TP+FN)(TN+FP)(TN+FN))

    NULL when any marginal is 0 (a degenerate predictor or a
    single-class corpus — the coefficient is undefined, not 0). Rows
    with a NULL label or prediction are excluded. The four cells are
    exact longs from ONE aggregation pass; the product goes through
    double sqrt (IEEE-exact for identical inputs on both engines);
    release rounds at 6 dp.

    Returns ONE row: ``(tp, fp, tn, fn, mcc)``."""
    y = _col(label_col).cast("boolean")
    p = _col(pred_col).cast("boolean")
    base = df.filter(y.isNotNull() & p.isNotNull())
    cell = lambda a, b: F.sum(  # noqa: E731
        F.when(a & b, 1).otherwise(0)).cast("long")
    tot = base.agg(
        cell(y, p).alias("tp"),
        cell(~y, p).alias("fp"),
        cell(~y, ~p).alias("tn"),
        cell(y, ~p).alias("fn"))
    tp, fp, tn, fn = (F.col(c) for c in ("tp", "fp", "tn", "fn"))
    # decimal products: tp*tn overflows LONG once both cells pass
    # ~3e9 (the cohens_kappa lesson) — decimal(38,0) stays exact at
    # any realistic corpus size, then one cast to double
    d19 = "decimal(19,0)"
    num = (tp.cast(d19) * tn.cast(d19) - fp.cast(d19) * fn.cast(d19)) \
        .cast("decimal(38,0)").cast("double")
    den = F.sqrt(
        (tp + fp).cast("double") * (tp + fn).cast("double")
        * (tn + fp).cast("double") * (tn + fn).cast("double"))
    return tot.select(
        "tp", "fp", "tn", "fn",
        F.when(den > 0, F.round(num / den, RELEASE_DP)).alias("mcc"))


def roc_auc(
    df: DataFrame,
    score_col,
    label_col,
) -> DataFrame:
    """ROC AUC for a binary classifier score, the exact rank (Mann-
    Whitney) formulation — AUC is the probability a random positive
    outscores a random negative, ties counting half (Hanley & McNeil
    1982). No curve discretization, no trapezoid approximation:

        AUC = (R⁺ - P(P+1)/2) / (P·N)

    with R⁺ the sum of POSITIVE rows' midranks under a global score
    ordering (tied scores share the average rank — the half-credit
    that keeps AUC = 0.5 for a constant score). INTEGER arithmetic
    throughout, the ``mann_whitney_u`` discipline: per row,
    ``2·midrank = 2·rank() + ties - 1`` stays integral; the positive
    sum pools in decimal(38,0) (a LONG Σ2r reaches ~n², overflowing
    past ~3e9 rows — the documented 100 TB shape); only the final
    ratio divides doubles, released at 6 dp with its Gini twin
    ``2·AUC - 1`` (derived from the ROUNDED AUC so both engines fold
    identically). Rows with a NULL score or label are excluded; a
    single-class corpus (P=0 or N=0) releases NULL AUC/Gini — the
    metric is undefined, not 0.5. NaN scores are excluded like
    NULLs (Spark ranks NaN above +inf).

    Scale shape: the raw rows REDUCE to per-distinct-score (count,
    positives) first — one map-side-combinable aggregation — and only
    that distinct-score frame enters the single ordered cumulative
    window (the equi-depth convention: an unpartitioned Spark window
    is a one-task funnel, so it must only ever see the DISTINCT-VALUE
    reduction, never raw rows). For a positive row at a score with
    ``bb`` rows strictly below and ``c`` ties, ``2·midrank = 2·bb + c
    + 1``. One final scalar fold.

    Returns ONE row: ``(n_pos, n_neg, auc, gini)``."""
    from pyspark.sql.window import Window

    s = _col(score_col)
    y = _col(label_col).cast("boolean")
    base = df.select(s.alias("__s"), y.alias("__y")).filter(
        F.col("__s").isNotNull() & F.col("__y").isNotNull())
    from pyspark.sql import types as T

    # NaN scores are excluded like NULLs (r13 probe): Spark's total
    # order ranks NaN ABOVE +inf, silently crowning a garbage score
    # the top of the ranking on both engines
    if isinstance(base.schema["__s"].dataType, (T.DoubleType, T.FloatType)):
        base = base.filter(~F.isnan("__s"))
    per = base.groupBy("__s").agg(
        F.count(F.lit(1)).alias("__c"),
        F.sum(F.when(F.col("__y"), 1).otherwise(0)).alias("__p"))
    w = (Window.orderBy("__s")
         .rowsBetween(Window.unboundedPreceding, -1))
    cum = per.select(
        "__c", "__p",
        F.coalesce(F.sum("__c").over(w), F.lit(0)).alias("__bb"))
    d38 = "decimal(38,0)"
    # factors cast to decimal BEFORE multiplying (the overflow-audit
    # rule; r13 self-review): p·(2bb+c+1) in LONG wraps silently past
    # ~5e9 rows with coarse scores — exactly the envelope the decimal
    # pool is documented to protect
    tot = cum.agg(
        F.sum("__p").cast("long").alias("n_pos"),
        F.sum(F.col("__c") - F.col("__p")).cast("long").alias("n_neg"),
        F.sum(F.col("__p").cast(d38)
              * (2 * F.col("__bb") + F.col("__c") + 1).cast(d38))
        .cast(d38).alias("__2rp"))
    p_, n_ = F.col("n_pos"), F.col("n_neg")
    # 2R⁺ - P(P+1) exact in decimal; the denominator 2PN multiplies
    # FACTORS as double (the product overflows LONG at ~3e9×3e9)
    num = (F.col("__2rp")
           - p_.cast(d38) * (p_ + 1).cast(d38)).cast("double")
    auc = F.when(
        (p_ > 0) & (n_ > 0),
        F.round(num / (2.0 * p_.cast("double") * n_.cast("double")),
                RELEASE_DP))
    return tot.select(
        "n_pos", "n_neg", auc.alias("auc"),
        F.round(2.0 * auc - 1.0, RELEASE_DP).alias("gini"))


def probabilistic_scores(
    df: DataFrame,
    prob_col,
    label_col,
    eps: float = 1e-15,
) -> DataFrame:
    """Brier score and log loss (cross-entropy) for a probabilistic
    binary classifier — the proper-scoring-rule pair beside the rank-
    only :func:`roc_auc` (AUC ignores calibration; these punish it):

        brier    = mean (p - y)²          (Brier 1950)
        log_loss = mean -(y·ln p + (1-y)·ln(1-p))   (clamped)

    ``p`` is clamped into ``[eps, 1-eps]`` for the log terms (an exact
    0/1 prediction on the wrong label is otherwise infinite) and into
    ``[0, 1]`` for Brier — out-of-range inputs are CLAMPED, not
    rejected (no ANSI kill on untrusted scores; the r11 probe class).
    Rows with NULL or NaN prob, or NULL label, are excluded.

    Determinism: each per-row term rounds to 9 dp and pools as
    decimal(38,9) (order-free exact sum — ln is the BLEU 9-dp
    transcendental ladder); the mean divides doubles, released at
    6 dp. Scale shape: ONE aggregation pass, map-side combinable.

    Returns ONE row: ``(n, n_pos, brier, log_loss)``."""
    p0 = _col(prob_col).cast("double")
    y = _col(label_col).cast("boolean")
    # NaN probabilities are excluded like NULLs (r13 probe: the clamp
    # would otherwise silently treat NaN as p=1 — Spark least/greatest
    # order NaN above +inf)
    base = df.select(p0.alias("__p"), y.alias("__y")).filter(
        F.col("__p").isNotNull() & ~F.isnan("__p")
        & F.col("__y").isNotNull())
    yd = F.when(F.col("__y"), F.lit(1.0)).otherwise(F.lit(0.0))
    pb = F.greatest(F.least(F.col("__p"), F.lit(1.0)), F.lit(0.0))
    lo, hi = F.lit(float(eps)), F.lit(1.0 - float(eps))
    pl = F.greatest(F.least(F.col("__p"), hi), lo)
    ql = F.greatest(F.least(1.0 - F.col("__p"), hi), lo)
    d9 = "decimal(38,9)"
    bterm = F.round((pb - yd) * (pb - yd), 9).cast(d9)
    lterm = F.round(
        -(yd * F.log(pl) + (1.0 - yd) * F.log(ql)), 9).cast(d9)
    tot = base.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("__y"), 1).otherwise(0)).cast("long")
        .alias("n_pos"),
        F.sum(bterm).alias("__sb"),
        F.sum(lterm).alias("__sl"))
    n = F.col("n")
    return tot.select(
        "n", "n_pos",
        F.when(n > 0, F.round(F.col("__sb").cast("double") / n, RELEASE_DP))
        .alias("brier"),
        F.when(n > 0, F.round(F.col("__sl").cast("double") / n, RELEASE_DP))
        .alias("log_loss"))


def p_adjust(
    df: DataFrame,
    id_col: str,
    p_col: str,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Multiple-testing adjustment of a p-value column, all three
    standard procedures in one pass (the experiment-analysis step
    after any batch of `diag_*` tests — run 200 A/B metrics and
    ~10 are "significant" by luck; these corrections are how a
    results pipeline reports honestly):

    - ``p_bonferroni`` = min(1, m·p) — FWER, Bonferroni 1936;
    - ``p_holm``       = max_{j≤i} min(1, (m−j+1)·p₍ⱼ₎) — the
      uniformly-more-powerful step-down FWER control, Holm 1979;
    - ``p_bh``         = min_{j≥i} min(1, m·p₍ⱼ₎/j) — FDR,
      Benjamini & Hochberg 1995 (the genomics/eval-suite default);

    over the family defined by ``key_cols`` (None = one global
    family), ranked ascending by ``(p, id)`` — the id tiebreak makes
    tied p-values' per-rank factors deterministic on every engine.

    Determinism: every adjusted value is a running min/max of
    products/quotients of PARQUET-IDENTICAL doubles with small-int
    rank factors — the same IEEE ops on the same inputs on any
    engine — so releases are RAW doubles, deliberately UNROUNDED:
    a release-grain round() is exactly where engines diverge (the
    anderson_darling lesson), and here there is nothing to snap
    because no engine-dependent arithmetic ever enters. NULL and
    NaN p-values are excluded; values outside [0, 1] are excluded
    like NULLs (they are not probabilities — the complete-case
    contract, documented rather than silently clamped); NULL ids
    are excluded too (Spark sorts NULLS FIRST where most SQL
    engines sort NULLS LAST — a NULL tiebreak would un-pin tied
    p-values' rank factors).

    Scale shape: two keyed windows over the family ordering (one
    ascending running max, one descending running min) — a family
    is a hypothesis batch (thousands, not billions); skew equals
    family skew. Returns ``(*key_cols, id_col, p, rank, m,
    p_bonferroni, p_holm, p_bh)``."""
    from pyspark.sql.window import Window

    keys = list(key_cols or [])
    base = df.select(
        *keys, F.col(id_col).alias("__id"),
        F.col(p_col).cast("double").alias("__p"),
    ).filter(F.col("__p").isNotNull()
             & ~F.isnan("__p")
             & (F.col("__p") >= 0.0) & (F.col("__p") <= 1.0)
             # a NULL id would sort NULLS FIRST on Spark and NULLS
             # LAST on most SQL engines, giving tied p-values
             # different rank factors per engine (r14 self-review
             # #3) — a hypothesis without an id is excluded
             & F.col("__id").isNotNull())
    w_rank = Window.partitionBy(*keys).orderBy("__p", "__id")
    w_tot = Window.partitionBy(*keys)
    ranked = base.select(
        *keys, "__id", "__p",
        F.row_number().over(w_rank).alias("__r"),
        F.count(F.lit(1)).over(w_tot).alias("__m"))
    m = F.col("__m").cast("double")
    r = F.col("__r").cast("double")
    holm_step = F.least(F.lit(1.0), (m - r + 1.0) * F.col("__p"))
    bh_step = F.least(F.lit(1.0), m * F.col("__p") / r)
    w_up = (Window.partitionBy(*keys).orderBy("__r")
            .rowsBetween(Window.unboundedPreceding, 0))
    w_down = (Window.partitionBy(*keys).orderBy(F.desc("__r"))
              .rowsBetween(Window.unboundedPreceding, 0))
    return ranked.select(
        *keys, F.col("__id").alias(id_col),
        F.col("__p").alias("p"),
        F.col("__r").cast("long").alias("rank"),
        F.col("__m").cast("long").alias("m"),
        F.least(F.lit(1.0), m * F.col("__p")).alias("p_bonferroni"),
        F.max(holm_step).over(w_up).alias("p_holm"),
        F.min(bh_step).over(w_down).alias("p_bh"))


def _require_complete_design(base, fn_name: str) -> tuple[int, int]:
    """Shared complete-design probe for the rating-panel operators
    (cronbach_alpha, icc_two_way — one definition, the
    _require_indicator lesson): over a PINNED lineage with columns
    ``__s``/``__i``, validate that every subject holds every item
    exactly once. The per-subject check alone would pass equal-sized
    but DISJOINT item sets (r14 self-review #2), so the GLOBAL
    distinct-item count must match too. Returns ``(n_subjects,
    k_items)``; raises on empty or incomplete designs."""
    shape = base.groupBy("__s").agg(
        F.count(F.lit(1)).alias("__rows"),
        F.count_distinct("__i").alias("__k")).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("__rows").alias("rlo"), F.max("__rows").alias("rhi"),
        F.min("__k").alias("klo"), F.max("__k").alias("khi")).collect()
    if not shape or shape[0]["n"] == 0:
        raise ValueError(f"{fn_name}: empty input")
    s = shape[0]
    k_global = base.select(
        F.count_distinct("__i").alias("kg")).collect()[0]["kg"]
    if not (s["rlo"] == s["rhi"] == s["klo"] == s["khi"] == k_global):
        raise ValueError(
            f"{fn_name} requires a COMPLETE design (every "
            f"subject holds every item exactly once); found subjects "
            f"with {s['rlo']}..{s['rhi']} rows, "
            f"{s['klo']}..{s['khi']} distinct items, and "
            f"{k_global} items overall")
    return int(s["n"]), int(s["klo"])


def cronbach_alpha(
    df: DataFrame,
    subject_col: str,
    item_col: str,
    value_col: str,
) -> DataFrame:
    """Cronbach's alpha internal-consistency coefficient (Cronbach
    1951) — do the k items of a rating instrument measure one
    construct? The reliability check that belongs BEFORE averaging
    rubric dimensions or judge prompts into a single score (the
    kappa family asks "do raters agree"; alpha asks "do the ITEMS
    cohere"):

        α = k/(k−1) · (1 − Σ_i Var(item_i) / Var(subject totals))

    COMPLETE-DESIGN CONTRACT (the friedman_test convention,
    validated with one aggregate over a pinned lineage): every
    subject holds every item exactly once — an incomplete design
    silently biases both variance pools, so fail loud.

    All-integer algebra: values snap to decimal(20,6) and scale
    to exact integers u = v·10^6; with population variances the
    n² denominators cancel, so

        α = k/(k−1) · (1 − A/B),
        A = Σ_i (n·Σu²_i − (Σu_i)²),  B = n·ΣX²_s − (ΣX_s)²

    is a ratio of EXACT decimal(38,0) integers (X_s the subject's
    item total). The release is the raw double of that expression
    (the p_adjust convention: one exact-integer ratio → identical
    IEEE ops on both engines — nothing to snap, and release-grain
    round() is where engines diverge). NULL α when B ≤ 0 (no
    subject-total variance — all subjects identical).

    Scale shape: two keyed aggregations over the n·k design + one
    k-row fold; n is the scale axis, k the design width. Returns
    ONE row: ``(n_subjects, k, alpha)``."""
    base = df.select(
        F.col(subject_col).alias("__s"),
        F.col(item_col).alias("__i"),
        F.col(value_col).alias("__v"),
    ).filter(
        F.col("__s").isNotNull() & F.col("__i").isNotNull()
        & F.col("__v").isNotNull())
    from . import drop_nan_rows

    base = drop_nan_rows(base, "__v")
    base = base.localCheckpoint(eager=True)
    n, k = _require_complete_design(base, "cronbach_alpha")
    if k < 2:
        raise ValueError("cronbach_alpha needs >= 2 items")

    d38 = "decimal(38,0)"
    u = (F.col("__v").cast(f"decimal(20,{SNAP_SCALE})")
         * (10 ** SNAP_SCALE)).cast(d38)
    scaled = base.select("__s", "__i", u.alias("__u"))
    per_item = scaled.groupBy("__i").agg(
        F.sum("__u").cast(d38).alias("__si"),
        F.sum(F.col("__u") * F.col("__u")).cast(d38).alias("__qi"))
    a = per_item.agg(
        F.sum(F.lit(n).cast(d38) * F.col("__qi")
              - F.col("__si") * F.col("__si"))
        .cast(d38).alias("__a"))
    per_subj = scaled.groupBy("__s").agg(
        F.sum("__u").cast(d38).alias("__x"))
    b = per_subj.agg(
        (F.lit(n).cast(d38)
         * F.sum(F.col("__x") * F.col("__x")).cast(d38)
         - F.sum("__x").cast(d38) * F.sum("__x").cast(d38))
        .cast(d38).alias("__b"))
    alpha = (F.lit(float(k) / (k - 1))
             * (F.lit(1.0)
                - F.col("__a").cast("double")
                / F.col("__b").cast("double")))
    return a.crossJoin(b).select(
        F.lit(n).cast("long").alias("n_subjects"),
        F.lit(k).cast("long").alias("k"),
        F.when(F.col("__b") > 0, alpha).alias("alpha"))


def icc_two_way(
    df: DataFrame,
    subject_col: str,
    item_col: str,
    value_col: str,
) -> DataFrame:
    """Intraclass correlation ICC(2,1) (Shrout & Fleiss 1979; the
    two-way random-effects, single-rater, absolute-agreement form) —
    the CONTINUOUS-score agreement coefficient beside the kappa
    family's categorical ones and :func:`cronbach_alpha`'s
    consistency (alpha forgives a rater who is systematically high;
    ICC(2,1) charges that bias to disagreement — the right default
    when absolute scores matter, e.g. LLM-judge calibration):

        ICC = (MSR − MSE) /
              (MSR + (k−1)·MSE + k·(MSC − MSE)/n)

    from the two-way ANOVA mean squares (MSR subjects, MSC raters,
    MSE residual) of the complete n-subject × k-rater design
    (validated by the shared :func:`_require_complete_design`
    probe on a pinned lineage).

    All sums of squares are EXACT: values scale to integers
    u = v·10^6 (the never-square-a-decimal rule) and every SS
    is a combination of decimal(38,0) integer sums — SS_rows =
    (n·ΣR_i² − T²)/(nk) etc. stay as exact integer NUMERATORS
    until the final mean-square ratios, whose common scaling
    cancels. The release is the raw double of that expression (the
    p_adjust convention). NULL when the denominator is ≤ 0 at
    exact-integer grain or MSE's df is 0 (k or n < 2).

    Returns ONE row: ``(n_subjects, k, icc)``."""
    base = df.select(
        F.col(subject_col).alias("__s"),
        F.col(item_col).alias("__i"),
        F.col(value_col).alias("__v"),
    ).filter(
        F.col("__s").isNotNull() & F.col("__i").isNotNull()
        & F.col("__v").isNotNull())
    from . import drop_nan_rows

    base = drop_nan_rows(base, "__v")
    base = base.localCheckpoint(eager=True)
    n, k = _require_complete_design(base, "icc_two_way")
    if k < 2 or n < 2:
        raise ValueError("icc_two_way needs >= 2 subjects and items")

    d38 = "decimal(38,0)"
    u = (F.col("__v").cast(f"decimal(20,{SNAP_SCALE})")
         * (10 ** SNAP_SCALE)).cast(d38)
    scaled = base.select("__s", "__i", u.alias("__u"))
    tot = scaled.agg(
        F.sum("__u").cast(d38).alias("__t"),
        F.sum(F.col("__u") * F.col("__u")).cast(d38).alias("__q"))
    rows = scaled.groupBy("__s").agg(
        F.sum("__u").cast(d38).alias("__r")).agg(
        F.sum(F.col("__r") * F.col("__r")).cast(d38).alias("__r2"))
    cols = scaled.groupBy("__i").agg(
        F.sum("__u").cast(d38).alias("__c")).agg(
        F.sum(F.col("__c") * F.col("__c")).cast(d38).alias("__c2"))
    j = tot.crossJoin(rows).crossJoin(cols)
    nk = n * k
    t2 = F.col("__t") * F.col("__t")
    # integer numerators of nk·SS (the common 1/nk and the 10^2s
    # scaling cancel in every mean-square RATIO)
    ss_tot = F.lit(nk).cast(d38) * F.col("__q") - t2
    ss_row = F.lit(n).cast(d38) * F.col("__r2") - t2
    ss_col = F.lit(k).cast(d38) * F.col("__c2") - t2
    ss_err = ss_tot - ss_row - ss_col
    msr = ss_row.cast("double") / float(n - 1)
    msc = ss_col.cast("double") / float(k - 1)
    mse_df = (n - 1) * (k - 1)
    mse = ss_err.cast("double") / float(mse_df)
    den = (msr + float(k - 1) * mse
           + float(k) * (msc - mse) / float(n))
    icc = F.when(den > 0, (msr - mse) / den)
    return j.select(
        F.lit(n).cast("long").alias("n_subjects"),
        F.lit(k).cast("long").alias("k"),
        icc.alias("icc"))


def weighted_kappa(
    df: DataFrame,
    rater_a: str,
    rater_b: str,
    weight: str = "quadratic",
) -> DataFrame:
    """Weighted Cohen's kappa (Cohen 1968) — the ORDINAL-category
    member of the kappa family: plain :func:`cohens_kappa` treats a
    4-vs-5 disagreement exactly like 1-vs-5, which is wrong whenever
    labels are a scale (Likert rubrics, severity grades, star
    ratings). Disagreement is charged by distance:

        κ_w = 1 − Σ_ij w_ij·o_ij / Σ_ij w_ij·e_ij,
        w_ij = |i−j|   (linear)  or  (i−j)²  (quadratic — the
                        default; equals ICC on the same grid)

    with o the observed joint counts and e_ij = a_i·b_j/N the
    chance-agreement expectation from the marginals. Labels must be
    INTEGER categories (the distance needs a metric — a TypeError
    names the contract, the `_require_indicator` convention); NULL
    on either side excludes the row.

    All-integer algebra: with the e denominator cleared, κ_w =
    1 − N·Σw·o / Σ_ij w·a_i·b_j — ONE exact decimal(38,0) integer
    ratio, released as its raw double (the cronbach convention).
    NULL κ when the expected-disagreement term is 0 (both raters
    constant, or every mass on one diagonal cell — chance-corrected
    distance is undefined).

    Scale shape: one joint-count aggregation (cells = categories²,
    the chi_square convention) + two marginal aggregations + one
    category-pair cross of the MARGINAL frames (bounded by the
    label alphabet, never by data). Returns ONE row: ``(n_items,
    weighted_po_num, weighted_pe_num, kappa_w)`` — the released
    numerators are the exact N·Σw·o and Σw·a·b integers (debugging
    handles; the ratio is the statistic)."""
    from pyspark.sql import types as T

    if weight not in ("linear", "quadratic"):
        raise ValueError(
            f"weight must be linear/quadratic, got {weight!r}")
    for c in (rater_a, rater_b):
        if not isinstance(df.schema[c].dataType, T.IntegralType):
            raise TypeError(
                "weighted_kappa needs INTEGER ordinal categories "
                f"(column {c!r} is "
                f"{df.schema[c].dataType.simpleString()}); encode "
                "the scale as ints first — distance needs a metric")
    base = df.select(
        F.col(rater_a).cast("long").alias("__a"),
        F.col(rater_b).cast("long").alias("__b"),
    ).filter(F.col("__a").isNotNull() & F.col("__b").isNotNull())
    # three aggregations read this frame (cells + two marginals) —
    # pin the lineage once (the kendall multi-scan lesson)
    base = base.localCheckpoint(eager=True)
    d38 = "decimal(38,0)"

    def w(i, j):
        diff = F.abs(i - j).cast(d38)
        return diff if weight == "linear" else diff * diff

    cells = base.groupBy("__a", "__b").agg(
        F.count(F.lit(1)).cast(d38).alias("__o"))
    obs = cells.agg(
        F.sum(F.col("__o")).cast(d38).alias("__n"),
        F.sum(w(F.col("__a"), F.col("__b")) * F.col("__o"))
        .cast(d38).alias("__wo"))
    ma = base.groupBy("__a").agg(
        F.count(F.lit(1)).cast(d38).alias("__na"))
    mb = base.groupBy("__b").agg(
        F.count(F.lit(1)).cast(d38).alias("__nb"))
    exp = ma.crossJoin(mb).agg(
        F.sum(w(F.col("__a"), F.col("__b"))
              * F.col("__na") * F.col("__nb"))
        .cast(d38).alias("__we"))
    j = obs.crossJoin(exp)
    kappa = F.lit(1.0) - (
        (F.col("__n") * F.col("__wo")).cast("double")
        / F.col("__we").cast("double"))
    return j.select(
        F.col("__n").cast("long").alias("n_items"),
        (F.col("__n") * F.col("__wo")).cast("decimal(38,0)")
        .cast("double").alias("weighted_po_num"),
        F.col("__we").cast("double").alias("weighted_pe_num"),
        F.when(F.col("__we") > 0, kappa).alias("kappa_w"))


def concordance_ccc(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Lin's concordance correlation coefficient (Lin 1989) — the
    model-vs-gold CONTINUOUS agreement score: Pearson's r asks "do
    they move together", CCC asks "are they the SAME" (a predictor
    that is perfectly correlated but biased or rescaled loses
    exactly the penalty the 45°-line deviation deserves — the right
    metric for calibration/regression evaluation):

        CCC = 2·s_xy / (s_x² + s_y² + (x̄ − ȳ)²)

    Cleared to population moments, the whole statistic is ONE exact
    integer ratio:

        CCC = 2·(nΣxy − ΣxΣy) /
              (nΣx² − (Σx)² + nΣy² − (Σy)² + (Σx − Σy)²)

    over values scaled to integers u = v·10^6 (the
    never-square-a-decimal rule; the common 10^12 cancels),
    pooled as decimal(38,0) — released as the raw double of the
    ratio (the cronbach convention). Pairwise-complete: a row with
    either side NULL (or NaN on double inputs) is excluded. NULL
    CCC when the denominator is 0 at exact-integer grain (both
    series constant with equal means — agreement with no variation
    is undefined, not 1).

    Scale shape: one aggregation over the pair scan — map-side
    combinable, nothing driver-side. Returns ONE row:
    ``(n, ccc)``."""
    from pyspark.sql import types as T

    base = df.select(
        F.col(x_col).alias("__x"), F.col(y_col).alias("__y"),
    ).filter(F.col("__x").isNotNull() & F.col("__y").isNotNull())
    for c in ("__x", "__y"):
        if isinstance(base.schema[c].dataType,
                      (T.DoubleType, T.FloatType)):
            base = base.filter(~F.isnan(c))
    d38 = "decimal(38,0)"
    dec = f"decimal(20,{SNAP_SCALE})"
    u = (F.col("__x").cast(dec) * (10 ** SNAP_SCALE)).cast(d38)
    v = (F.col("__y").cast(dec) * (10 ** SNAP_SCALE)).cast(d38)
    sc = base.select(u.alias("__u"), v.alias("__v"))
    agg = sc.agg(
        F.count(F.lit(1)).cast(d38).alias("__n"),
        F.sum("__u").cast(d38).alias("__su"),
        F.sum("__v").cast(d38).alias("__sv"),
        F.sum(F.col("__u") * F.col("__u")).cast(d38).alias("__suu"),
        F.sum(F.col("__v") * F.col("__v")).cast(d38).alias("__svv"),
        F.sum(F.col("__u") * F.col("__v")).cast(d38).alias("__suv"))
    n, su, sv = F.col("__n"), F.col("__su"), F.col("__sv")
    num = (F.lit(2).cast(d38)
           * (n * F.col("__suv") - su * sv)).cast(d38)
    den = ((n * F.col("__suu") - su * su)
           + (n * F.col("__svv") - sv * sv)
           + (su - sv) * (su - sv)).cast(d38)
    return agg.select(
        n.cast("long").alias("n"),
        F.when(den > 0, num.cast("double") / den.cast("double"))
        .alias("ccc"))


def average_precision(
    df: DataFrame,
    score_col,
    label_col,
) -> DataFrame:
    """Average precision — the area under the precision-recall curve
    in the step-interpolated form (the `scikit-learn`
    ``average_precision_score`` definition, which neither smooths
    nor trapezoids)::

        AP = Σ_k (R_k − R_{k−1}) · P_k
           = (1/P) · Σ_s  p_s · cp_s / cn_s

    summed over DISTINCT scores s in descending order, where p_s is
    the positive count AT s, cp_s / cn_s the cumulative positives /
    rows at score ≥ s (ties collapse to one operating point — the
    same tie semantics sklearn applies). The threshold-free PR
    scorecard beside :func:`roc_auc`'s ROC rank form; for heavily
    imbalanced corpora (dedup verification, quality filtering) AP
    tracks the minority class where AUC saturates.

    Determinism — the ALL-INTEGER ladder: each term floors to nano
    units by integer division ``(p_s·cp_s·1e9) div cn_s`` (exact
    rational floor, decimal(38,0) factors per the overflow-audit
    rule), unit sums pool exactly, the mean over P divides
    integrally, and the release is the shared pure-integer HALF_UP
    step. Spark's ``div`` returns BIGINT: a term caps at n·1e9,
    overflowing past ~9.2e9 rows — loud under ANSI, the documented
    envelope.

    NULL/NaN score or NULL label drops the row (the :func:`roc_auc`
    contract); a corpus with P = 0 releases NULL (undefined, not 0).

    Scale shape: the :func:`roc_auc` plan — one map-side-combinable
    distinct-score reduction, ONE ordered cumulative window over the
    distinct-score frame only (the equi-depth convention), one
    scalar fold. Returns ONE row: ``(n_pos, n_neg, ap)``."""
    from pyspark.sql import types as T
    from pyspark.sql.window import Window

    from . import nano_release

    s = _col(score_col)
    y = _col(label_col).cast("boolean")
    base = df.select(s.alias("__s"), y.alias("__y")).filter(
        F.col("__s").isNotNull() & F.col("__y").isNotNull())
    if isinstance(base.schema["__s"].dataType,
                  (T.DoubleType, T.FloatType)):
        base = base.filter(~F.isnan("__s"))
    per = base.groupBy("__s").agg(
        F.count(F.lit(1)).alias("__c"),
        F.sum(F.when(F.col("__y"), 1).otherwise(0)).alias("__p"))
    w = (Window.orderBy(F.col("__s").desc())
         .rowsBetween(Window.unboundedPreceding, 0))
    cum = per.select(
        "__c", "__p",
        F.sum("__p").over(w).alias("__cp"),
        F.sum("__c").over(w).alias("__cn"))
    d38 = "decimal(38,0)"
    units = F.expr(
        "(CAST(__p AS DECIMAL(38,0)) * CAST(__cp AS DECIMAL(38,0))"
        " * 1000000000) div __cn")
    tot = cum.agg(
        F.sum("__p").cast("long").alias("n_pos"),
        F.sum(F.col("__c") - F.col("__p")).cast("long").alias("n_neg"),
        F.sum(F.when(F.col("__p") > 0, units)).cast(d38)
        .alias("__units"))
    return tot.select(
        "n_pos", "n_neg",
        F.when(F.col("n_pos") > 0, nano_release(
            "__units div CAST(n_pos AS DECIMAL(38,0))"))
        .alias("ap"))
