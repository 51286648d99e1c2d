"""BM25 ranked retrieval — the classic probabilistic scoring function
(Robertson & Walker, Okapi BM25; the Lucene-default variant with the
always-positive IDF) as a distributed inverted-index probe.

Reference parity: the reference engine (neuralsignal/puffbird) ships no
retrieval surface; this is north-star LLM-pipeline scope (hard-negative
mining, dedup triage, and eval-set retrieval all start from a BM25 pass
over the corpus).

Scale shape (the 100 TB story): the corpus is NEVER crossed with the
query set. Postings shuffle once (doc-term counts); document length
comes from a window over that same shuffle (no second tokenize);
document frequencies reduce to a vocabulary-sized table that is
FILTERED TO THE QUERY TERMS before broadcasting, so the per-doc work
after the probe is |query vocabulary| joins against broadcast maps —
exactly the inverted-index access path, with only hit docs surviving
into scoring. Corpus-level scalars (N, total length) ride a one-row
broadcast cross join, the repo-wide convention.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import RELEASE_DP, text as TXT


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    qid_col: str = "query_id",
    qtext_col: str = "query_text",
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
    drop_empty: bool = False,
) -> DataFrame:
    """Top-``k`` documents per query under Okapi BM25.

    ``score(q, D) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1-b+b·|D|/avgdl))``
    with the Lucene always-positive ``idf(t) = ln(1 + (N-df+0.5)/(df+0.5))``.

    Per-term contributions round at 6 dp BEFORE the per-document sum
    and the sum rounds again — the engine-portable float policy
    (queries/base.py): rounded inputs keep the final sum far from
    half-ulp boundaries, so the score replays bit-for-bit across
    engines regardless of addition order. Ties break on ascending doc
    id. Returns ``(query_id, rank, doc_id, score)``.

    ``drop_empty=True`` tokenizes with empty segments filtered out (the
    clean-retrieval convention — an empty-string query must match
    nothing, not every empty document); the default keeps the legacy
    ``string_split`` convention. Document length and avgdl follow the
    same tokenization.
    """
    if k <= 0:
        raise ValueError("k must be positive")

    def _tok(col):
        return TXT.tokens(col, drop_empty=drop_empty)

    # ONE tokenize pass: dl (per-doc length) is just the token-array
    # size, carried scan-side through the explode — the r13 shape paid
    # a per-doc window for it AND re-tokenized the corpus twice more
    # (the df branch re-derived cnt; a separate docs.agg computed
    # total_dl). The postings materialize once; df, stats and scoring
    # all replay from the checkpoint (guide §2.4).
    cnt = (
        docs.select(F.col(id_col), _tok(text_col).alias("__t"))
        .select(
            F.col(id_col), F.size("__t").alias("dl"),
            F.explode("__t").alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"), F.max("dl").alias("dl"))
        .localCheckpoint(eager=True)
    )
    n_docs = docs.count()
    total_dl = (
        cnt.agg(F.sum(F.col("tf").cast("long")).alias("t"))
        .collect()[0]["t"] or 0)
    # same IEEE double division the old crossJoin column computed
    avgdl = (float(total_dl) / n_docs) if n_docs else 0.0
    qterms = queries.select(
        F.col(qid_col), F.explode(_tok(qtext_col)).alias("term")
    ).distinct()
    qvocab = qterms.select("term").distinct()
    # document frequency, reduced then PRUNED to query terms pre-broadcast
    dfreq = (
        cnt.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
        .join(F.broadcast(qvocab), "term")
    )
    hits = (
        cnt.join(F.broadcast(qterms), "term")
        .join(F.broadcast(dfreq), "term")
    )
    idf = F.log(
        F.lit(1.0)
        + (F.lit(n_docs) - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5)))
    tf = F.col("tf").cast("double")
    contrib = F.round(
        idf * tf * (1.0 + k1)
        / (tf + k1 * (1.0 - b + b * F.col("dl") / avgdl)), RELEASE_DP)
    scored = (
        hits.select(qid_col, id_col, contrib.alias("contrib"))
        .groupBy(qid_col, id_col)
        .agg(F.round(F.sum("contrib"), RELEASE_DP).alias("score"))
    )
    w = Window.partitionBy(qid_col).orderBy(
        F.desc("score"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(qid_col, "rank", id_col, "score")
    )


def rrf_fuse(
    rankings: list[DataFrame],
    qid_col: str = "query_id",
    id_col: str = "doc_id",
    rank_col: str = "rank",
    k: int = 60,
    top: int = 5,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR
    2009) — the standard hybrid-retrieval combiner: given several
    per-query rankings (BM25, vector search, a recency prior, ...),
    score every candidate by

        RRF(d) = Σ_r 1 / (k + rank_r(d))

    over the rankings that returned it, and keep the ``top`` fused
    results. RRF needs no score calibration across systems — ranks
    only — which is why it is the default fusion everywhere.

    Engine-portable float policy: each reciprocal rounds at 6 dp
    and the sum rounds again (the BM25 two-stage convention), so SQL
    oracles replay the fusion regardless of addition order. Ties
    break on ascending id. Scale shape: one union of rank tables
    (tiny — top-k per query per system) + one (query, doc) sum + one
    per-query top window; the heavy retrieval happened upstream."""
    from pyspark.sql.window import Window

    if not rankings:
        raise ValueError("need at least one ranking")
    if k <= 0 or top <= 0:
        raise ValueError("k and top must be positive")
    parts = [
        r.select(
            F.col(qid_col), F.col(id_col),
            F.round(1.0 / (F.lit(k) + F.col(rank_col)), RELEASE_DP)
            .alias("__c"))
        for r in rankings
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    fused = (
        u.groupBy(qid_col, id_col)
        .agg(F.round(F.sum("__c"), RELEASE_DP).alias("rrf_score"),
             F.count(F.lit(1)).cast("int").alias("n_systems"))
    )
    w = Window.partitionBy(qid_col).orderBy(
        F.desc("rrf_score"), F.asc(id_col))
    return (
        fused.withColumn("fused_rank", F.row_number().over(w))
        .filter(F.col("fused_rank") <= top)
        .select(qid_col, "fused_rank", id_col, "rrf_score", "n_systems")
    )


def rake_keywords(
    df: DataFrame,
    text_col: str,
    stopwords: list[str],
    top: int = 20,
    min_occurrences: int = 1,
) -> DataFrame:
    """RAKE keyword extraction (Rose, Engel, Cramer & Cowley 2010) —
    corpus-level: candidate phrases are maximal runs of non-stopword
    tokens; each word scores ``deg(w) / freq(w)`` where ``freq`` counts
    the word's occurrences across all candidate phrases and ``deg``
    sums the lengths of the phrases it appears in (words living in
    long multi-word phrases outrank isolated frequent words); a
    phrase scores the sum of its word scores. Returns the global
    ``top`` phrases as ``(phrase, n_words, n_occurrences, score)``.

    Determinism: phrase segmentation is a per-document cumulative
    stopword count (one doc-keyed window); ``deg``/``freq`` are exact
    integers; each word score snaps to 9-dp decimal before the
    order-independent phrase sum; ties order by phrase text. Scale
    shape: tokens shuffle once on the word key for scores and once on
    the phrase key for the ranking — no joins wider than
    words-per-phrase, nothing quadratic."""
    from pyspark.sql.window import Window

    # the doc id must bind BEFORE the explode — computed alongside
    # posexplode it would mint one id per TOKEN and dissolve every
    # phrase into singletons
    toks = (
        df.select(F.monotonically_increasing_id().alias("__doc"),
                  F.split(F.col(text_col), " ").alias("__tk"))
        .select("__doc",
                F.posexplode(F.col("__tk")).alias("__i", "__w"))
    )
    stop = F.lit(list(stopwords))
    flagged = toks.withColumn(
        "__s",
        (F.array_contains(stop, F.col("__w"))
         | (F.col("__w") == "")).cast("int"))
    w = Window.partitionBy("__doc").orderBy("__i")
    grouped = (
        flagged.withColumn("__g", F.sum("__s").over(w))
        .filter(F.col("__s") == 0)
    )
    phrases = (
        grouped.groupBy("__doc", "__g")
        .agg(
            F.expr("array_join(transform(array_sort("
                   "collect_list(struct(__i, __w))), s -> s.__w), ' ')")
            .alias("phrase"),
            F.count(F.lit(1)).cast("int").alias("n_words"))
    )
    words = phrases.select(
        "n_words", F.explode(F.split(F.col("phrase"), " ")).alias("__w"))
    scores = words.groupBy("__w").agg(
        (F.round(
            F.sum("n_words").cast("double") / F.count(F.lit(1)), 9)
         .cast("decimal(28,9)")).alias("__ws"))
    # score each DISTINCT phrase text once (duplicate instances share
    # the word multiset): exact decimal sum, no division anywhere
    ph_scores = (
        phrases.select("phrase", "n_words").distinct()
        .select("phrase", "n_words",
                F.explode(F.split(F.col("phrase"), " ")).alias("__w"))
        .join(scores, "__w")
        .groupBy("phrase")
        .agg(F.max("n_words").alias("n_words"),
             F.round(F.sum("__ws").cast("double"), RELEASE_DP).alias("score"))
    )
    occ = phrases.groupBy("phrase").agg(
        F.count(F.lit(1)).cast("long").alias("n_occurrences"))
    ranked = (
        ph_scores.join(occ, "phrase")
        .filter(F.col("n_occurrences") >= min_occurrences)
        .select("phrase", "n_words", "n_occurrences", "score")
    )
    return ranked.orderBy(
        F.desc("score"), F.asc("phrase")).limit(top)


def bm25f_topk(
    docs: DataFrame,
    queries: DataFrame,
    fields: list[tuple[str, float, float]],
    id_col: str = "doc_id",
    qid_col: str = "query_id",
    qtext_col: str = "query_text",
    k: int = 5,
    k1: float = 1.2,
    drop_empty: bool = True,
) -> DataFrame:
    """Top-``k`` documents per query under BM25F (Zaragoza, Craswell,
    Taylor, Saria & Robertson, CIKM 2004) — the multi-FIELD BM25 every
    search engine runs when documents have structure (title/body,
    source/text): per-field term frequencies are length-normalized and
    weight-combined into one pseudo-frequency BEFORE saturation,

        tf~(t,d) = Σ_f  w_f · tf_f(t,d) / (1 - b_f + b_f·len_f/avglen_f)
        score(q,d) = Σ_t  idf(t) · tf~ / (k1 + tf~)

    which is provably better than fusing per-field BM25 scores (the
    CIKM'04 result: saturation must happen once, after field
    combination). ``fields`` is ``[(column, weight, b), ...]``;
    ``idf`` is the Lucene always-positive form over DOCUMENT-level
    frequency (a term occurs in a document if it occurs in any field).

    Determinism: ``tf~`` rounds to 9-dp decimal before per-(doc, term)
    summation across fields, per-term contributions round at 6 dp
    before the per-doc sum, the sum rounds again — the engine-portable
    float policy. Ties break on ascending doc id.

    Scale shape = `bm25_topk` with one extra bounded union: per-field
    postings shuffle once each, field lengths ride windows over those
    same shuffles, document frequencies prune to the query vocabulary
    before broadcasting, and only hit documents reach scoring.
    Returns ``(query_id, rank, doc_id, score)``."""
    if k <= 0:
        raise ValueError("k must be positive")
    if not fields:
        raise ValueError("fields must be non-empty")
    for _, w, b in fields:
        if w <= 0 or not (0.0 <= b <= 1.0):
            raise ValueError(
                f"field weight must be > 0 and b in [0, 1], got {fields}")
    dec = "decimal(20,9)"

    def _tok(col):
        return TXT.tokens(col, drop_empty=drop_empty)

    qterms = queries.select(
        F.col(qid_col), F.explode(_tok(qtext_col)).alias("term")
    ).distinct()
    qvocab = qterms.select("term").distinct()

    # One tokenize pass per field, total. The r13 shape ran TWO per
    # field (postings explode + a separate docs.agg(sum(size(tokens)))
    # length pass) plus a per-doc window for dl; but dl is just the
    # field's token count — computable scan-side from the same tokens
    # array the explode consumes — and total_dl is Σ tf over the
    # postings, so both falls out of the one pass (guide §2.4: don't
    # compute what another pass already carries).
    posts = None
    for fi, (col, w, b) in enumerate(fields):
        cnt = (
            docs.select(F.col(id_col), _tok(col).alias("__t"))
            .select(
                F.col(id_col), F.size("__t").alias("dl"),
                F.explode("__t").alias("term"))
            .groupBy(id_col, "term")
            .agg(F.count(F.lit(1)).alias("tf"), F.max("dl").alias("dl"))
            .withColumn("__fi", F.lit(fi))
        )
        posts = cnt if posts is None else posts.unionByName(cnt)
    # materialize once: per-field stats AND both downstream consumers
    # (df counting, scoring) replay from here, never re-tokenizing
    posts = posts.localCheckpoint(eager=True)
    n_docs = docs.count()
    totals = {
        r["__fi"]: r["t"]
        for r in posts.groupBy("__fi").agg(
            F.sum(F.col("tf").cast("long")).alias("t")).collect()
    }
    wtf = None
    for fi, (col, w, b) in enumerate(fields):
        # same double arithmetic as the flen crossJoin carried:
        # avgdl = double(total_dl) / n_docs, one IEEE division
        avgdl = (float(totals.get(fi, 0)) / n_docs) if n_docs else 0.0
        expr = F.round(
            F.lit(float(w)) * F.col("tf").cast("double")
            / (F.lit(1.0 - b)
               + F.lit(float(b)) * F.col("dl") / F.lit(avgdl)),
            9).cast(dec)
        wtf = expr if wtf is None else F.when(
            F.col("__fi") == fi, expr).otherwise(wtf)
    combined = (
        posts.select(F.col(id_col), F.col("term"), wtf.alias("__wtf"))
        .groupBy(id_col, "term").agg(F.sum("__wtf").alias("__tf"))
    )
    # document-level df over the query vocabulary only, pre-broadcast
    dfreq = (
        combined.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
        .join(F.broadcast(qvocab), "term")
    )
    hits = (
        combined.join(F.broadcast(qterms), "term")
        .join(F.broadcast(dfreq), "term")
    )
    idf = F.log(
        F.lit(1.0)
        + (F.lit(n_docs) - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5)))
    tff = F.col("__tf").cast("double")
    contrib = F.round(idf * tff / (F.lit(float(k1)) + tff), RELEASE_DP)
    scored = (
        hits.select(qid_col, id_col, contrib.alias("contrib"))
        .groupBy(qid_col, id_col)
        .agg(F.round(F.sum("contrib"), RELEASE_DP).alias("score"))
    )
    w_rank = Window.partitionBy(qid_col).orderBy(
        F.desc("score"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= k)
        .select(qid_col, "rank", id_col, "score")
    )


def fused_topk(
    dense: DataFrame,
    sparse: DataFrame,
    alpha: float = 0.5,
    qid_col: str = "query_id",
    id_col: str = "doc_id",
    dense_score: str = "cosine",
    sparse_score: str = "score",
    top: int = 5,
) -> DataFrame:
    """Convex score fusion of a dense (vector) and a sparse (BM25)
    candidate list — the normalized-score hybrid that outranks RRF when
    score magnitudes carry signal (Bruch, Gai & Ingber, TOIS 2023):
    each system's scores min-max normalize PER QUERY over its own
    candidates (scale-free; a degenerate constant list normalizes to
    0), then

        fused(d) = alpha·dense_norm(d) + (1-alpha)·sparse_norm(d)

    over the UNION of candidates (missing from one system = 0 on that
    side). Per-query min/max ride windows over the bounded candidate
    lists — nothing corpus-sized. Normalized parts round at 6 dp
    before combining (engine-portable), ties break on ascending doc
    id. Returns ``(query_id, rank, doc_id, fused_score)``."""
    if not (0.0 <= alpha <= 1.0):
        raise ValueError(f"alpha must be in [0, 1], got {alpha}")

    def norm(df_, score_col, out):
        w = Window.partitionBy(qid_col)
        s = F.col(score_col).cast("double")
        mn, mx = F.min(s).over(w), F.max(s).over(w)
        nrm = F.when(
            mx > mn, (s - mn) / (mx - mn)).otherwise(F.lit(0.0))
        return df_.select(
            qid_col, id_col, F.round(nrm, RELEASE_DP).alias(out))
    d = norm(dense, dense_score, "__dn")
    s = norm(sparse, sparse_score, "__sn")
    both = d.join(s, [qid_col, id_col], "full_outer")
    fused = F.round(
        F.lit(float(alpha)) * F.coalesce("__dn", F.lit(0.0))
        + F.lit(1.0 - float(alpha)) * F.coalesce("__sn", F.lit(0.0)),
        RELEASE_DP)
    w_rank = Window.partitionBy(qid_col).orderBy(
        F.desc("fused_score"), F.asc(id_col))
    return (
        both.select(qid_col, id_col, fused.alias("fused_score"))
        .withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= top)
        .select(qid_col, "rank", id_col, "fused_score")
    )
