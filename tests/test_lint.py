"""Source-lint pins (no Spark session).

``tokens()`` without ``drop_empty=True`` inherits the
empty-string-matches-empty-doc bug class the r10 probe found (an empty
document tokenizes to ``[""]``, a one-empty-token array that matches
other empty docs in shingle/minhash/count paths). New gate code must
pass ``drop_empty=True``; the 16 legacy sites below (all in
``llm_q.py``, written before the r10 finding, each individually audited
as benign for its fixture — VERDICT r11 What's-wrong #3 / r12 #2) are
FROZEN by per-file count. Converting a legacy site lowers the count
(tighten the freeze then); adding a bare site anywhere fails here.

Kernel choice is one policy (``telemetry.arrow_kernel`` over
``telemetry.ARROW_MIN_WORK``): no public operator takes a caller-set
kernel option, and no operator reaches into ``similarity`` for its old
private size estimators or threshold.

Release precision is one policy too (``functions.RELEASE_DP`` and
``functions.SNAP_SCALE``): no public function under ``functions/`` or
``operators/`` takes a ``dp``, ``round_dp`` or integer ``scale`` option,
except ``geo_knn_join``'s ``dp``, which its gate sets to 4.

Raw materialization calls (``localCheckpoint``, ``checkpoint``,
``persist``, ``cache``) outside ``puffbird_spark/plans/`` are frozen the
same way, per file: they pin blocks nothing releases, and ROADMAP
direction 4 moves them behind one scoped helper. Removing a call lowers
the count (tighten the freeze then); adding one anywhere fails here.
"""

import ast
import glob
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE_DIR = os.path.join(REPO, "puffbird_spark")
QUERIES_DIR = os.path.join(PACKAGE_DIR, "queries")

# frozen legacy allowlist: basename -> number of bare tokens() calls
_LEGACY_BARE_TOKENS = {"llm_q.py": 16}


def _bare_token_calls(src: str):
    """Yield each ``tokens(...)`` call (balanced-paren scan, so a
    drop_empty on a wrapped line still counts as covered) that does
    not pass ``drop_empty``."""
    for m in re.finditer(r"\btokens\(", src):
        i, depth = m.end(), 1
        while depth and i < len(src):
            if src[i] == "(":
                depth += 1
            elif src[i] == ")":
                depth -= 1
            i += 1
        call = src[m.start():i]
        if "drop_empty" not in call:
            yield src[:m.start()].count("\n") + 1, call


def test_queries_tokens_require_drop_empty():
    counts = {}
    details = {}
    for path in sorted(glob.glob(os.path.join(QUERIES_DIR, "*.py"))):
        name = os.path.basename(path)
        with open(path) as fh:
            src = fh.read()
        found = list(_bare_token_calls(src))
        if found:
            counts[name] = len(found)
            details[name] = [line for line, _ in found]
    for name, n in counts.items():
        allowed = _LEGACY_BARE_TOKENS.get(name, 0)
        assert n <= allowed, (
            f"{name} has {n} bare tokens() call(s) at lines "
            f"{details[name]} but only {allowed} frozen legacy site(s) — "
            f"new code must pass drop_empty=True (r10 probe bug class)")


def test_fleiss_fixture_invariants():
    """ADVICE r12: the eval_fleiss_kappa gate's fixture (event_id div 4
    as the unit) satisfies fleiss_kappa's fixed-panel contract only if
    each driver SF's events table (a) has a row count divisible by 4,
    (b) has contiguous non-negative event_ids 0..N-1 (so every unit
    gets exactly 4 ratings), and (c) never NULLs event_type (the
    operator drops NULL values, the oracle does not). Pin the
    invariants so a data-generator change fails HERE, loudly, instead
    of as a ValueError inside a gate run."""
    import duckdb

    for sf in ("sf0.001", "sf0.01"):
        path = f"/root/testdata/{sf}/events.parquet"
        if not os.path.exists(path):
            continue
        con = duckdb.connect()
        n, nulls, lo, hi, distinct = con.execute(
            f"SELECT COUNT(*), SUM(CASE WHEN event_type IS NULL THEN 1 "
            f"ELSE 0 END), MIN(event_id), MAX(event_id), "
            f"COUNT(DISTINCT event_id) FROM '{path}'").fetchone()
        assert n % 4 == 0, (sf, n, "events count must be a multiple of 4")
        assert nulls == 0, (sf, "event_type must be non-null")
        assert (lo, hi, distinct) == (0, n - 1, n), (
            sf, "event_id must be contiguous 0..N-1 for 4-per-unit panels")


def test_legacy_allowlist_not_stale():
    """The freeze must not drift ABOVE reality either — if legacy sites
    get converted, tighten the allowlist so it cannot quietly re-grow."""
    for name, allowed in _LEGACY_BARE_TOKENS.items():
        path = os.path.join(QUERIES_DIR, name)
        with open(path) as fh:
            n = len(list(_bare_token_calls(fh.read())))
        assert n == allowed, (
            f"{name}: allowlist says {allowed} legacy sites, found {n} — "
            f"update _LEGACY_BARE_TOKENS to match")


def test_every_query_module_is_registered():
    """Each ``queries/*.py`` gate module is imported by
    ``queries/__init__.py``: a module nothing imports registers no gate,
    so its gates and oracles are dead code that no check runs."""
    with open(os.path.join(QUERIES_DIR, "__init__.py")) as fh:
        tree = ast.parse(fh.read())
    imported = {
        alias.name for node in ast.walk(tree)
        if isinstance(node, ast.ImportFrom) and node.level == 1
        and node.module is None for alias in node.names}
    modules = {
        os.path.basename(p)[:-3]
        for p in glob.glob(os.path.join(QUERIES_DIR, "*.py"))} - {
        "__init__", "base"}
    assert modules <= imported, (
        f"query modules not imported by queries/__init__.py: "
        f"{sorted(modules - imported)}")


# frozen raw materialization calls: path under puffbird_spark/ -> count
_MATERIALIZE_CALLS = ("localCheckpoint", "checkpoint", "persist", "cache")
_LEGACY_MATERIALIZE = {
    "operators/bpe.py": 2,
    "operators/clustering.py": 2,
    "operators/dedup.py": 3,
    "operators/drift.py": 4,
    "operators/evaluation.py": 4,
    "operators/graph.py": 13,
    "operators/lm.py": 1,
    "operators/profile.py": 2,
    "operators/retrieval.py": 2,
    "operators/similarity.py": 3,
    "operators/sketch.py": 3,
    "operators/splits.py": 1,
    "operators/unigram.py": 1,
    "queries/llm_q.py": 1,
    "queries/relational.py": 3,
    "queries/sources_q.py": 1,
    "queries/streaming_q.py": 5,
}


def _materialize_counts():
    """Per-file count of ``x.<call>(...)`` nodes for the calls in
    ``_MATERIALIZE_CALLS``, over the package outside ``plans/``."""
    counts = {}
    for path in sorted(glob.glob(os.path.join(PACKAGE_DIR, "**", "*.py"),
                                 recursive=True)):
        rel = os.path.relpath(path, PACKAGE_DIR).replace(os.sep, "/")
        if rel.startswith("plans/"):
            continue
        with open(path) as fh:
            tree = ast.parse(fh.read())
        n = sum(1 for node in ast.walk(tree)
                if isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in _MATERIALIZE_CALLS)
        if n:
            counts[rel] = n
    return counts


def test_raw_materialization_calls_frozen():
    """No file gains a raw checkpoint/persist/cache call, and the
    freeze matches reality so a removed call cannot quietly re-grow."""
    assert _materialize_counts() == _LEGACY_MATERIALIZE, (
        "raw localCheckpoint/checkpoint/persist/cache calls changed — "
        "new code must not add one; after removing one, lower "
        "_LEGACY_MATERIALIZE to match")


_KERNEL_OPTIONS = {"use_arrow", "kernel", "strategy"}
_SIMILARITY_PRIVATES = {"_est_rows", "_vec_row_bytes", "ARROW_MIN_PAIRS"}


def test_operators_take_no_kernel_option():
    """No public function under ``operators/`` takes a kernel override
    (the private ``_score_topk`` flag is set only by fixed-kernel
    tails), and no operator imports the pre-policy estimators or
    threshold from ``similarity``."""
    found = []
    for path in sorted(glob.glob(
            os.path.join(PACKAGE_DIR, "operators", "*.py"))):
        name = os.path.basename(path)
        with open(path) as fh:
            tree = ast.parse(fh.read())
        for node in ast.walk(tree):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                a = node.args
                params = {x.arg for x in a.posonlyargs + a.args + a.kwonlyargs}
                if not node.name.startswith("_") and (
                        params & _KERNEL_OPTIONS):
                    found.append((name, node.name,
                                  sorted(params & _KERNEL_OPTIONS)))
            if (isinstance(node, ast.ImportFrom) and node.module
                    and node.module.split(".")[-1] == "similarity"):
                bad = {x.name for x in node.names} & _SIMILARITY_PRIVATES
                if bad:
                    found.append((name, "import", sorted(bad)))
    assert not found, (
        "kernel choice belongs to telemetry.arrow_kernel: " + repr(found))


# (module, function, parameter) precision options a caller sets
_PRECISION_OPTION_KEEP = {("geo.py", "geo_knn_join", "dp")}


def test_operators_take_no_precision_option():
    """No public function under ``functions/`` or ``operators/`` takes a
    release-precision option: ``dp``, ``round_dp``, or a ``scale`` whose
    default is an integer (a decimal snap scale; ``laplace_noise``'s
    float noise ``scale`` is not one)."""
    found = []
    for sub in ("functions", "operators"):
        for path in sorted(glob.glob(os.path.join(PACKAGE_DIR, sub, "*.py"))):
            name = os.path.basename(path)
            with open(path) as fh:
                tree = ast.parse(fh.read())
            for node in ast.walk(tree):
                if (not isinstance(node, (ast.FunctionDef,
                                          ast.AsyncFunctionDef))
                        or node.name.startswith("_")):
                    continue
                a = node.args
                pos = a.posonlyargs + a.args
                defaults = ([None] * (len(pos) - len(a.defaults))
                            + list(a.defaults))
                for arg, d in (list(zip(pos, defaults))
                               + list(zip(a.kwonlyargs, a.kw_defaults))):
                    int_default = (isinstance(d, ast.Constant)
                                   and type(d.value) is int)
                    if ((arg.arg in ("dp", "round_dp")
                         or (arg.arg == "scale" and int_default))
                            and (name, node.name, arg.arg)
                            not in _PRECISION_OPTION_KEEP):
                        found.append((name, node.name, arg.arg))
    assert not found, (
        "release precision is functions.RELEASE_DP / SNAP_SCALE, not an "
        "operator option: " + repr(found))
