"""SQL front-end + remaining relational features: GROUPING SETS, map
functions over parsed JSON, embedding-cosine near-dup pairs.

The SQL queries register the parquet tables as temp views and go through
``spark.sql`` — same Catalyst plans as the DataFrame API, proving the
engine's full SQL surface (SURVEY §2.2 "scans/sources" + SQL lifecycle).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .base import load, query


def _view(spark, sf_dir, table):
    name = f"pbs_{table}"
    load(spark, sf_dir, table).createOrReplaceTempView(name)
    return name


@query("sql_tpch_q6", oracle="""
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
             * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
       COUNT(*) AS n
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""")
def sql_tpch_q6(spark, sf_dir):
    """TPC-H Q6 shape submitted as a SQL string — exercises the SQL parser
    -> Catalyst -> same physical plan path."""
    li = _view(spark, sf_dir, "lineitem")
    return spark.sql(f"""
        SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                     * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
               COUNT(*) AS n
        FROM {li}
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
    """)


@query("sql_grouping_sets", oracle="""
SELECT l_returnflag, l_linestatus,
  CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
  CAST(GROUPING(l_linestatus) AS INT) AS g_ls,
  COUNT(*) AS n
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
""")
def sql_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS (beyond rollup/cube): per-flag, per-status,
    and grand total in one pass."""
    li = _view(spark, sf_dir, "lineitem")
    return spark.sql(f"""
        SELECT l_returnflag, l_linestatus,
          CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
          CAST(GROUPING(l_linestatus) AS INT) AS g_ls,
          COUNT(*) AS n
        FROM {li}
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """)


@query("fn_map_json", oracle="""
SELECT event_id,
  array_to_string(list_sort(json_keys(props)), ',') AS keys_csv,
  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
  CAST(len(json_keys(props)) AS INT) AS n_keys
FROM events WHERE props IS NOT NULL
""")
def fn_map_json(spark, sf_dir):
    """Map-typed column ops over real data: props parsed to
    map<string,long>, then map_keys / element access / size."""
    ev = load(spark, sf_dir, "events").filter(F.col("props").isNotNull())
    m = F.from_json("props", "map<string,bigint>")
    return ev.select(
        "event_id",
        F.array_join(F.array_sort(F.map_keys(m)), ",").alias("keys_csv"),
        m.getItem("k").alias("k_val"),
        F.size(F.map_keys(m)).alias("n_keys"),
    )


@query("dedup_embedding", oracle="""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
  round(list_dot_product(a.v, b.v)
        / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
        6) AS cosine
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE round(list_dot_product(a.v, b.v)
      / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
      6) >= 0.45
""")
def dedup_embedding(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs (`cosine_pairs_exact`,
    operators/similarity.py). All-pairs exact kernel for the oracle;
    the scale path buckets by SRP-LSH first
    (operators/similarity.lsh_bucket_topk). The kernel follows the
    estimated pair count — JVM HOF fold below its
    ``telemetry.ARROW_MIN_WORK`` entry, the blocked matrix kernel at or
    above it (the round-9 sf1 rehearsal caught
    the HOF fold grinding 2×10⁸ pairs at ~40µs each; both kernels
    replay HALF_UP 6-dp, differential-pinned). Threshold 0.45: the
    synthetic embeddings are near-orthogonal (max pairwise cosine
    ~0.51), so this yields a small non-empty frontier."""
    from ..operators.similarity import cosine_pairs_exact

    emb = load(spark, sf_dir, "embeddings")
    return cosine_pairs_exact(
        emb, "vec_id", "embedding", threshold=0.45, dim=64)


@query("sql_exists_subquery", oracle="""
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders o
WHERE EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
GROUP BY o_orderpriority
""")
def sql_exists_subquery(spark, sf_dir):
    """Correlated EXISTS subquery (the TPC-H Q4 shape on this schema):
    orders having at least one high-quantity lineitem, counted per
    priority. Catalyst decorrelates the EXISTS into a left-semi join —
    the scale-correct plan (one keyed semi-join, no per-row subquery
    execution); the gate proves the full parse -> decorrelate ->
    semi-join path against DuckDB's own decorrelation."""
    o = _view(spark, sf_dir, "orders")
    li = _view(spark, sf_dir, "lineitem")
    return spark.sql(f"""
        SELECT o_orderpriority, COUNT(*) AS n_orders
        FROM {o} o
        WHERE EXISTS (SELECT 1 FROM {li} l
                      WHERE l.l_orderkey = o.o_orderkey
                        AND l.l_quantity > 45)
        GROUP BY o_orderpriority
    """)


@query("sql_scalar_subquery", oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_small,
       round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
             / 7.0, 6) AS avg_yearly
FROM lineitem l1
WHERE l1.l_quantity < (SELECT 0.2 * AVG(l2.l_quantity)
                       FROM lineitem l2
                       WHERE l2.l_partkey = l1.l_partkey)
""")
def sql_scalar_subquery(spark, sf_dir):
    """Correlated SCALAR subquery (the TPC-H Q17 shape): lineitems
    below 20% of their part's average quantity. Catalyst rewrites the
    per-row subquery into one per-part aggregate + an equi-join — at
    100 TB the difference between a keyed agg+join and quadratic
    re-execution. Quantities are integral so the correlated average is
    exact cross-engine; the revenue sum is decimal-snapped."""
    li = _view(spark, sf_dir, "lineitem")
    return spark.sql(f"""
        SELECT COUNT(*) AS n_small,
               ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)))
                          AS DOUBLE) / 7.0, 6) AS avg_yearly
        FROM {li} l1
        WHERE l1.l_quantity < (SELECT 0.2 * AVG(l2.l_quantity)
                               FROM {li} l2
                               WHERE l2.l_partkey = l1.l_partkey)
    """)


@query("sql_recursive_cte", oracle="""
WITH RECURSIVE nn AS (SELECT COUNT(*) AS n FROM documents),
e0 AS (SELECT DISTINCT doc_id AS s,
        (doc_id * (3 + t.range) + 17 * t.range + 1) % nn.n AS d
      FROM documents CROSS JOIN range(0, 3) t CROSS JOIN nn),
und AS MATERIALIZED (SELECT DISTINCT a, b FROM (
          SELECT s AS a, d AS b FROM e0
          UNION ALL SELECT d, s FROM e0)
        WHERE a != b),
seed AS (SELECT MIN(a) AS v FROM und),
reach(node, dist) AS (
    SELECT v, 0 FROM seed
    UNION ALL
    SELECT e.b, r.dist + 1
    FROM reach r JOIN und e ON e.a = r.node
    WHERE r.dist < 4
)
SELECT node, CAST(MIN(dist) AS INT) AS hops,
       CAST(COUNT(*) AS BIGINT) AS n_walks
FROM reach GROUP BY node ORDER BY node
""")
def sql_recursive_cte(spark, sf_dir):
    """Recursive CTE (``WITH RECURSIVE``, new in Spark 4) — BFS over
    the synthetic doc graph from the smallest vertex: every walk of
    length <= 4 is enumerated by the recursion, then one aggregate
    folds walks into shortest-hop distance plus the exact walk count
    per reached node. The walk count is the strong check: it is only
    right if the recursion produced the exact multiset of walks on
    both engines. The iteration depth is bounded by the ``dist < 4``
    predicate (Spark additionally guards with
    ``spark.sql.cteRecursionLevelLimit``); each round is one
    broadcast-able join against the edge set — the same per-round
    shape as the iterative operators in ``operators/graph.py``, but
    planned entirely by Catalyst from declarative SQL."""
    docs = load(spark, sf_dir, "documents")
    n = docs.agg(F.count(F.lit(1)).alias("n"))
    und = (
        docs.crossJoin(F.broadcast(n))
        .select(
            F.col("doc_id").alias("src"),
            F.explode(F.array(*[
                (F.col("doc_id") * (3 + t) + 17 * t + 1) % F.col("n")
                for t in range(3)])).alias("dst"))
        .select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .union(
            docs.crossJoin(F.broadcast(n))
            .select(
                F.col("doc_id").alias("src"),
                F.explode(F.array(*[
                    (F.col("doc_id") * (3 + t) + 17 * t + 1) % F.col("n")
                    for t in range(3)])).alias("dst"))
            .select(F.col("dst").alias("a"), F.col("src").alias("b")))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    und.createOrReplaceTempView("pbs_rec_edges")
    return spark.sql("""
        WITH RECURSIVE reach(node, dist) AS (
            SELECT MIN(a), 0 FROM pbs_rec_edges
            UNION ALL
            SELECT e.b, r.dist + 1
            FROM reach r JOIN pbs_rec_edges e ON e.a = r.node
            WHERE r.dist < 4
        )
        SELECT node, CAST(MIN(dist) AS INT) AS hops,
               CAST(COUNT(*) AS BIGINT) AS n_walks
        FROM reach GROUP BY node ORDER BY node
    """)


@query("sql_pivot", oracle="""
SELECT l_returnflag AS rf,
  CAST(SUM(CASE WHEN l_linestatus = 'O'
        THEN CAST(l_quantity AS DECIMAL(12,2)) END) AS DOUBLE) AS o_sq,
  CAST(SUM(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END)
       AS BIGINT) AS o_n,
  CAST(SUM(CASE WHEN l_linestatus = 'F'
        THEN CAST(l_quantity AS DECIMAL(12,2)) END) AS DOUBLE) AS f_sq,
  CAST(SUM(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END)
       AS BIGINT) AS f_n
FROM lineitem GROUP BY l_returnflag ORDER BY rf
""")
def sql_pivot(spark, sf_dir):
    """SQL `PIVOT` syntax (the parser surface on top of the
    DataFrame pivot in `pivot_returnflag`): two aggregates fanned
    across two pinned status columns — Catalyst rewrites it to the
    same single-pass conditional aggregation the oracle spells out."""
    li = _view(spark, sf_dir, "lineitem")
    return spark.sql(f"""
        SELECT rf, o_sq, o_n, f_sq, f_n FROM (
          SELECT l_returnflag AS rf, l_linestatus AS ls,
                 CAST(l_quantity AS DECIMAL(12,2)) AS q
          FROM {li})
        PIVOT (CAST(SUM(q) AS DOUBLE) AS sq, COUNT(*) AS n
               FOR ls IN ('O' AS o, 'F' AS f))
        ORDER BY rf
    """)


@query("sql_lateral_topn", oracle="""
SELECT c.c_custkey, o.o_orderkey,
       CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price
FROM customer c CROSS JOIN LATERAL (
  SELECT o_orderkey, o_totalprice FROM orders
  WHERE o_custkey = c.c_custkey
  ORDER BY CAST(o_totalprice AS DECIMAL(12,2)) DESC, o_orderkey
  LIMIT 2) o
ORDER BY c.c_custkey, price DESC, o.o_orderkey
""")
def sql_lateral_topn(spark, sf_dir):
    """LATERAL correlated subquery (new SQL surface in Spark 4) — each
    customer's top-2 orders by price via a per-row dependent subquery;
    Catalyst decorrelates it to a ranked window join rather than
    re-executing per row. Ties pinned by order key; decimal-exact
    price ordering."""
    c = _view(spark, sf_dir, "customer")
    o = _view(spark, sf_dir, "orders")
    return spark.sql(f"""
        SELECT c.c_custkey, o.o_orderkey,
               CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) AS DOUBLE)
                 AS price
        FROM {c} c, LATERAL (
          SELECT o_orderkey, o_totalprice FROM {o}
          WHERE o_custkey = c.c_custkey
          ORDER BY CAST(o_totalprice AS DECIMAL(12,2)) DESC, o_orderkey
          LIMIT 2) o
        ORDER BY c.c_custkey, price DESC, o.o_orderkey
    """)


@query("sql_unpivot", oracle="""
SELECT l_orderkey, l_linenumber, metric, val FROM (
  SELECT l_orderkey, l_linenumber, 'qty' AS metric,
    CAST(CAST(l_quantity AS DECIMAL(12,2)) AS DOUBLE) AS val
  FROM lineitem
  UNION ALL
  SELECT l_orderkey, l_linenumber, 'price',
    CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS DOUBLE)
  FROM lineitem
  UNION ALL
  SELECT l_orderkey, l_linenumber, 'disc',
    CAST(CAST(l_discount AS DECIMAL(12,2)) AS DOUBLE)
  FROM lineitem)
ORDER BY l_orderkey, l_linenumber, metric
""")
def sql_unpivot(spark, sf_dir):
    """SQL `UNPIVOT` syntax (the parser twin of the DataFrame melt in
    `unpivot_part`): three measure columns fold to (metric, val) rows
    — Catalyst expands it to the same Expand node, which the oracle
    spells as a UNION ALL."""
    li = _view(spark, sf_dir, "lineitem")
    return spark.sql(f"""
        SELECT l_orderkey, l_linenumber, metric, val FROM (
          SELECT l_orderkey, l_linenumber,
            CAST(CAST(l_quantity AS DECIMAL(12,2)) AS DOUBLE) AS qty,
            CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS DOUBLE)
              AS price,
            CAST(CAST(l_discount AS DECIMAL(12,2)) AS DOUBLE) AS disc
          FROM {li})
        UNPIVOT (val FOR metric IN (qty, price, disc))
        ORDER BY l_orderkey, l_linenumber, metric
    """)


@query("fn_try_arithmetic", oracle="""
SELECT l_orderkey, l_linenumber,
  CASE WHEN l_tax = 0 THEN NULL
       ELSE round(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS DOUBLE)
                  / CAST(l_tax AS DOUBLE), 6) END AS price_per_tax,
  TRY_CAST(l_returnflag AS BIGINT) AS flag_as_int,
  TRY_CAST(CAST(l_orderkey AS VARCHAR) AS BIGINT) AS key_roundtrip,
  CASE WHEN l_quantity > 0
       THEN CAST(l_quantity AS BIGINT) ELSE NULL END AS qty_int
FROM lineitem ORDER BY l_orderkey, l_linenumber
""")
def fn_try_arithmetic(spark, sf_dir):
    """Error-safe arithmetic surface under ANSI mode: `try_divide`
    NULLs the divide-by-zero rows instead of failing the job,
    `try_cast` NULLs unparseable strings — the per-row escape hatch
    this engine's ANSI-on sessions rely on (every raw-feed pipeline
    needs it). The oracle spells the identical NULL semantics with
    guards."""
    li = _view(spark, sf_dir, "lineitem")
    return spark.sql(f"""
        SELECT l_orderkey, l_linenumber,
          round(try_divide(
            CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS DOUBLE),
            CAST(nullif(l_tax, 0) AS DOUBLE)), 6) AS price_per_tax,
          try_cast(l_returnflag AS BIGINT) AS flag_as_int,
          try_cast(CAST(l_orderkey AS STRING) AS BIGINT)
            AS key_roundtrip,
          CASE WHEN l_quantity > 0
               THEN try_cast(l_quantity AS BIGINT) ELSE NULL END
            AS qty_int
        FROM {li} ORDER BY l_orderkey, l_linenumber
    """)


@query("scan_variant_type", oracle="""
SELECT event_id,
  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
  CAST(len(json_keys(props)) AS INT) AS n_keys,
  json_extract_string(props, '$.tag') AS tag
FROM events WHERE props IS NOT NULL
ORDER BY event_id
""")
def scan_variant_type(spark, sf_dir):
    """Native VARIANT semi-structured type (new in Spark 4 — the
    binary-encoded open-schema path this engine's own `variant.py`
    JSON encoding predates): `parse_json` → `variant_get` typed
    extraction + field-path access. The oracle reads the same JSON
    with DuckDB's json functions; typed values and key counts
    hash-match."""
    ev = _view(spark, sf_dir, "events")
    return spark.sql(f"""
        SELECT event_id,
          variant_get(parse_json(props), '$.k', 'bigint') AS k_val,
          CAST(size(map_keys(from_json(props, 'map<string,string>')))
               AS INT) AS n_keys,
          variant_get(parse_json(props), '$.tag', 'string') AS tag
        FROM {ev} WHERE props IS NOT NULL
        ORDER BY event_id
    """)


@query("sql_named_window", oracle="""
SELECT o_custkey, o_orderkey,
  CAST(row_number() OVER w AS BIGINT) AS rn,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER w AS DOUBLE)
    AS running_spend,
  round(CAST(o_totalprice AS DOUBLE)
        - avg(CAST(o_totalprice AS DOUBLE)) OVER k, 6) AS delta_vs_cust
FROM orders
WHERE o_custkey < 50
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
       k AS (PARTITION BY o_custkey)
""")
def sql_named_window(spark, sf_dir):
    """Named WINDOW clause (the SQL:2003 surface that deduplicates
    window specs): two named windows — an ordered running frame and an
    unordered partition frame — each referenced by multiple
    expressions. Parser -> Catalyst resolves them to the same
    WindowExec as inline specs (one exchange per partitioning); the
    oracle runs the identical text. delta_vs_cust is avg-based and
    therefore rounded; the running spend stays exact decimal."""
    o = _view(spark, sf_dir, "orders")
    return spark.sql(f"""
        SELECT o_custkey, o_orderkey,
          CAST(row_number() OVER w AS BIGINT) AS rn,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER w AS DOUBLE)
            AS running_spend,
          round(CAST(o_totalprice AS DOUBLE)
                - avg(CAST(o_totalprice AS DOUBLE)) OVER k, 6)
            AS delta_vs_cust
        FROM {o}
        WHERE o_custkey < 50
        WINDOW w AS (PARTITION BY o_custkey
                     ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               k AS (PARTITION BY o_custkey)
    """)


@query("sql_group_by_all", oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY ALL
ORDER BY ALL
""")
def sql_group_by_all(spark, sf_dir):
    """GROUP BY ALL / ORDER BY ALL (the DuckDB-pioneered shorthand
    Spark 4 adopted): every non-aggregate select item becomes a
    grouping key, then a total order over all columns. Same plan as
    the explicit column list — the gate proves the resolver binds the
    same keys on both engines."""
    li = _view(spark, sf_dir, "lineitem")
    return spark.sql(f"""
        SELECT l_returnflag, l_linestatus,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
                 AS sum_qty
        FROM {li}
        GROUP BY ALL
        ORDER BY ALL
    """)
