"""Text-analysis expressions for large-scale training-data pipelines:
tokenization, token/char statistics, language-ID heuristic, quality scoring,
document fingerprinting, shingling.

All pure Column expressions (BASELINE.json north star: text analysis at
100 TB) — they compile into whole-stage codegen; nothing here crosses into
Python per row.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from . import RELEASE_DP

#: Small per-language stopword lists for the n-gram/stopword language
#: heuristic. Order matters: ties resolve by this precedence.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "is", "in"],
    "de": ["der", "die", "das", "und", "ist", "ein", "nicht"],
    "fr": ["le", "la", "et", "les", "des", "est", "un"],
    "es": ["el", "los", "las", "es", "un", "una", "y"],
    "zh": ["的", "是", "了", "在", "我", "有", "和"],
}


def tokens(
    text: str | Column, sep: str = " ", drop_empty: bool = False
) -> Column:
    """Whitespace tokenization (single-separator split).

    DEFAULT CONVENTION (mirrored by every DuckDB oracle via
    ``string_split``, which behaves identically): empty segments are
    KEPT — ``""`` and ``"a  b"`` tokenize to ``[""]`` and
    ``["a", "", "b"]``, so ``token_count("") == 1`` and an
    empty-string term can match between empty documents (e.g. in
    BM25). This is deliberate: the cross-engine differential contract
    pins the exact split semantics at 65+ oracle sites — do not change
    the default.

    ``drop_empty=True`` is the opt-in cleaner variant for retrieval /
    LM scoring (the r10 adversarial probe showed the keep-empties
    convention lets an empty-string query BM25-match empty documents):
    empty segments are filtered out, so ``""`` and ``"   "`` tokenize
    to ``[]``. Oracles mirror it EXACTLY via
    ``list_filter(string_split(.., ' '), x -> x <> '')``."""
    c = F.col(text) if isinstance(text, str) else text
    toks = F.split(c, sep)
    if drop_empty:
        return F.filter(toks, lambda x: x != F.lit(""))
    return toks


def token_count(toks: Column) -> Column:
    return F.size(toks)


def char_count_no_spaces(text: str | Column) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.length(F.replace(c, F.lit(" "), F.lit("")))


def mean_token_length(toks: Column) -> Column:
    """Exact integer arithmetic then one double division — deterministic."""
    total = F.aggregate(toks, F.lit(0).cast("long"),
                        lambda acc, x: acc + F.length(x))
    return total.cast("double") / F.size(toks)


def stopword_count(toks: Column, stopwords: list[str]) -> Column:
    import numpy as np

    # one ndarray literal, not len(stopwords) F.lit py4j calls (the r5
    # plan-construction lesson from the Bloom probe, NOTES round 5)
    arr = F.lit(np.array(list(stopwords)))
    return F.size(F.filter(toks, lambda x: F.array_contains(arr, x)))


def stopword_ratio(toks: Column, stopwords: list[str]) -> Column:
    return stopword_count(toks, stopwords).cast("double") / F.size(toks)


def lang_scores(toks: Column) -> dict[str, Column]:
    """Per-language stopword hit counts."""
    return {lang: stopword_count(toks, sw) for lang, sw in LANG_STOPWORDS.items()}


def lang_id(toks: Column) -> Column:
    """Argmax language by stopword hits; ties resolve by LANG_STOPWORDS
    order (a fixed CASE precedence — reproducible in plain SQL)."""
    scores = lang_scores(toks)
    best = F.greatest(*scores.values())
    expr = F.lit("und")
    for lang in reversed(list(LANG_STOPWORDS)):
        expr = F.when((best > 0) & (scores[lang] == best), lang).otherwise(expr)
    return expr


def quality_score(text: str | Column, toks: Column) -> Column:
    """[0,1] heuristic quality: length band + token-length band + stopword
    presence. Mirrors the usual pretraining-filter recipe (exact arithmetic;
    thresholds are integers so results are engine-portable)."""
    c = F.col(text) if isinstance(text, str) else text
    n_chars = F.length(c)
    n_toks = F.size(toks)
    mean_len = mean_token_length(toks)
    sw = stopword_count(toks, LANG_STOPWORDS["en"])
    return (
        F.when((n_chars >= 100) & (n_chars <= 20000), F.lit(0.25)).otherwise(0.0)
        + F.when((n_toks >= 20) & (n_toks <= 5000), F.lit(0.25)).otherwise(0.0)
        + F.when((mean_len >= 2.0) & (mean_len <= 12.0), F.lit(0.25)).otherwise(0.0)
        + F.when(sw > 0, F.lit(0.25)).otherwise(0.0)
    )


def fingerprint(text: str | Column) -> Column:
    """Deterministic document fingerprint: md5 of the sorted distinct token
    multiset — stable under token reordering (md5 exists on both Spark and
    DuckDB, so this is oracle-checkable)."""
    c = F.col(text) if isinstance(text, str) else text
    canon = F.array_join(F.array_sort(F.array_distinct(F.split(c, " "))), " ")
    return F.md5(canon.cast("binary"))


def char_shingles(text: str | Column, n: int = 5) -> Column:
    """Distinct sorted character n-gram shingles — language-agnostic dedup
    signal (robust where whitespace tokenization is meaningless, e.g. CJK).
    Texts shorter than ``n`` chars yield an empty array. Pure Column
    expression: sequence + substr, stays in whole-stage codegen."""
    c = F.col(text) if isinstance(text, str) else text
    grams = F.transform(
        F.sequence(F.lit(1), F.length(c) - n + 1),
        lambda i: c.substr(i, F.lit(n)),
    )
    return F.when(
        F.length(c) >= n,
        F.array_sort(F.array_distinct(grams)),
    ).otherwise(F.array().cast("array<string>"))


def gram_occurrences(toks: Column, n: int = 3, sep: str = " ") -> Column:
    """All word n-gram OCCURRENCES in order (duplicates kept). Documents
    shorter than ``n`` tokens yield an empty array.

    Formulated as a zip of ``n`` shifted copies of the token array, NOT a
    per-position ``slice(toks, i, n)`` lambda: higher-order functions are
    interpreted, and a lambda body that references the ``toks``
    *expression* (e.g. a ``split``) re-evaluates it per element — O(tokens²)
    per document. Here every ``toks`` reference sits in a regular child
    expression (evaluated once per row) and the lambda touches only its
    own zipped element — measured 4x end-to-end on the MinHash pipeline,
    bit-identical output."""
    sz = F.size(toks)
    shifted = F.arrays_zip(*[
        (toks if i == 0
         else F.slice(toks, i + 1, F.greatest(sz - i, F.lit(0)))).alias(f"t{i}")
        for i in range(n)
    ])
    grams = F.transform(
        F.slice(shifted, 1, F.greatest(sz - n + 1, F.lit(0))),
        lambda z: F.concat_ws(sep, *[z[f"t{i}"] for i in range(n)]),
    )
    return F.when(sz >= n, grams).otherwise(F.array().cast("array<string>"))


def chunk_windows(
    toks: Column, width: int = 64, stride: int = 48, sep: str = " "
) -> Column:
    """Overlapping token windows (RAG / context chunking): slices of
    ``width`` tokens every ``stride`` tokens, as an array of
    ``struct<chunk_id, chunk, chunk_tokens>``. Pure generator expressions
    — codegen, no UDF, no shuffle. Empty docs yield an empty array."""
    sz = F.size(toks)
    starts = F.sequence(F.lit(0), F.greatest(sz - 1, F.lit(0)), F.lit(stride))
    win = F.filter(starts, lambda s: s < sz)
    return F.transform(
        win,
        lambda s, i: F.struct(
            i.alias("chunk_id"),
            F.array_join(F.slice(toks, s + 1, width), sep).alias("chunk"),
            F.least(sz - s, F.lit(width)).alias("chunk_tokens"),
        ),
    )


def shingles(toks: Column, n: int = 3, sep: str = " ") -> Column:
    """Distinct sorted word n-gram shingles (for MinHash / Jaccard dedup).
    Documents shorter than ``n`` tokens yield an empty array."""
    return F.array_sort(F.array_distinct(gram_occurrences(toks, n, sep)))


def winnow_gram_hashes(text: str | Column, k: int = 5) -> Column:
    """Rolling char-k-gram hashes for winnowing: position i (1-based)
    hashes ``substr(text, i, k)`` to a 32-bit int via the md5 prefix
    (cross-engine replayable, unlike xxhash). Empty for text shorter
    than ``k``. Pure codegen expression — no UDF, no shuffle."""
    c = F.col(text) if isinstance(text, str) else text
    return F.when(
        F.length(c) >= k,
        F.transform(
            F.sequence(F.lit(1), F.length(c) - (k - 1)),
            lambda i: F.conv(
                F.substring(F.md5(c.substr(i, F.lit(k))), 1, 8), 16, 10
            ).cast("bigint"),
        ),
    ).otherwise(F.array().cast("array<bigint>"))


def winnow_positions(grams: Column, w: int = 4) -> Column:
    """Winnowing fingerprint selection (Schleimer et al., SIGMOD'03):
    slide a window of ``w`` gram hashes; in each window select the
    RIGHTMOST position achieving the minimum hash, then de-duplicate.
    Guarantee: any two documents sharing a substring of length
    ``>= w + k - 1`` chars share at least one selected fingerprint —
    the density/guarantee trade-off that makes full-text near-match
    detection storable (O(n/w) fingerprints per doc, not O(n)).

    Returns the distinct selected 1-based positions into ``grams``."""
    sel = F.transform(
        F.sequence(F.lit(1), F.size(grams) - (w - 1)),
        lambda j: F.array_max(
            F.filter(
                F.transform(
                    F.sequence(j, j + (w - 1)),
                    lambda p: F.when(
                        F.element_at(grams, p)
                        == F.array_min(F.slice(grams, j, w)),
                        p,
                    ).otherwise(F.lit(-1)),
                ),
                lambda x: x >= 0,
            )
        ),
    )
    return F.when(F.size(grams) >= w, F.array_distinct(sel)).otherwise(
        F.array().cast("array<int>")
    )


def luhn_valid(s: str | Column) -> Column:
    """Luhn checksum validity (ISO/IEC 7812) of an all-digit string, as
    a pure codegen expression: from the RIGHTMOST digit, double every
    second digit (subtracting 9 when it exceeds 9) and require the sum
    to be divisible by 10. The validation step that separates a credit
    card number from 16 random digits — regex alone cannot tell them
    apart, so a PII masker without it both over- and under-redacts."""
    c = F.col(s) if isinstance(s, str) else s
    rev = F.reverse(c)
    digit = lambda i: F.ascii(rev.substr(i, F.lit(1))) - 48  # noqa: E731
    term = lambda i: F.when(  # noqa: E731
        i % 2 == 0,
        F.when(digit(i) * 2 > 9, digit(i) * 2 - 9)
        .otherwise(digit(i) * 2),
    ).otherwise(digit(i))
    total = F.aggregate(
        F.sequence(F.lit(1), F.length(c)),
        F.lit(0),
        lambda acc, i: acc + term(i),
    )
    return c.rlike("^[0-9]+$") & (total % 10 == 0)


def mask_valid_cards(
    text: str | Column, pattern: str = r"\d{16}", token: str = "<CARD>"
) -> Column:
    """Replace every Luhn-VALID candidate digit run with ``token``,
    leaving checksum-failing runs untouched (they are order ids /
    timestamps, not cards — masking them destroys data for no privacy
    gain). Candidates come from one ``regexp_extract_all``; the
    replacement is a fold over the (per-row, tiny) valid set, anchored
    with digit-boundary lookarounds so a valid card number EMBEDDED in
    a longer digit run (e.g. a 20-digit order id sharing a 16-digit
    prefix) is never mangled mid-run — only standalone occurrences are
    masked. Luhn validation guarantees candidates are digit-only, so
    they embed into the anchor regex without escaping. All scan-local
    codegen."""
    c = F.col(text) if isinstance(text, str) else text
    cands = F.array_distinct(F.regexp_extract_all(c, F.lit(pattern), 0))
    valid = F.filter(cands, luhn_valid)
    return F.aggregate(
        valid, c,
        lambda acc, card: F.regexp_replace(
            acc,
            F.concat(F.lit(r"(?<!\d)"), card, F.lit(r"(?!\d)")),
            F.lit(token),
        ),
    )


#: scheme://[userinfo@]HOST[:port]... — host capture shared with the
#: DuckDB oracles verbatim (RE2- and Java-regex-compatible syntax only)
URL_HOST_PATTERN = r"^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^@/?#]*@)?([^:/?#]+)"

#: last two dot-labels of a host — the registered-domain approximation
#: (a public-suffix list would refine multi-label TLDs; documented)
REGISTERED_DOMAIN_PATTERN = r"([^.]+\.[^.]+)$"


def url_host(url: str | Column) -> Column:
    """Hostname from a URL: scheme authority with userinfo and port
    stripped (``https://user@d7.example.com:8080/x`` →
    ``d7.example.com``). Pure regexp — identical pattern replays in
    the SQL oracles; no engine ``parse_url`` (semantics differ)."""
    c = F.col(url) if isinstance(url, str) else url
    return F.regexp_extract(c, URL_HOST_PATTERN, 1)


def registered_domain(host: str | Column) -> Column:
    """Last-two-label registered domain (``d7.example.com`` →
    ``example.com``) — the per-domain cap/blocklist key web curation
    joins on (C4/RefinedWeb-style). Multi-label public suffixes
    (``.co.uk``) need a suffix list; this is the deterministic
    approximation every engine can replay."""
    c = F.col(host) if isinstance(host, str) else host
    return F.regexp_extract(c, REGISTERED_DOMAIN_PATTERN, 1)


def strip_html(html: str | Column) -> Column:
    """Plain text from HTML markup — the first stage of every web-crawl
    curation pipeline (WET extraction, C4/CCNet boilerplate removal).
    Four regexp passes, all whole-stage codegen and replayable verbatim
    in a SQL oracle (patterns stick to the RE2 <-> Java common subset:
    ``(?s)``, non-greedy ``.*?``, character classes):

    1. drop ``<script>``/``<style>`` ELEMENTS wholesale (their text
       content is code, not prose);
    2. strip every remaining tag ``<...>``;
    3. decode the five XML entities + ``&nbsp;`` (the deterministic
       core; full entity tables are locale data, not engine logic);
    4. collapse whitespace runs to single spaces and trim.
    """
    c = F.col(html) if isinstance(html, str) else html
    no_blocks = c
    for el in ("script", "style"):
        # two passes, not one alternation with a backreference: the
        # oracle replays in RE2, which has no backreferences
        no_blocks = F.regexp_replace(
            no_blocks, rf"(?is)<{el}\b[^>]*>.*?</{el}\s*>", " "
        )
    no_tags = F.regexp_replace(no_blocks, r"(?s)<[^>]*>", " ")
    ent = no_tags
    for pat, rep in (
        ("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"),
        ("&quot;", "\""), ("&#39;", "'"), ("&amp;", "&"),
    ):
        ent = F.regexp_replace(ent, pat, rep)
    return F.trim(F.regexp_replace(ent, r"\s+", " "))


#: Flesch reading-ease coefficients (Flesch 1948) — the standard
#: readability screen a curation pipeline bands documents by.
_FLESCH_BASE, _FLESCH_WPS, _FLESCH_SPW = 206.835, 1.015, 84.6

#: patterns shared verbatim with the SQL oracles (RE2/Java common
#: subset — no lookarounds, no backreferences)
SENTENCE_PATTERN = r"[.!?]+"
WORD_PATTERN = r"[A-Za-z]+"
SYLLABLE_PATTERN = r"[aeiouy]+"


def readability_counts(text: str | Column) -> tuple[Column, Column, Column]:
    """(sentences, words, syllables) for a Flesch-style readability
    score, each floored at 1 so the ratios never divide by zero.
    Syllables use the deterministic vowel-group approximation (runs of
    ``[aeiouy]`` in the lowercased text) — counted over the WHOLE text
    in one ``regexp_count``, no per-word explode: vowel groups never
    span word boundaries, so the per-word sum equals the global count."""
    c = F.col(text) if isinstance(text, str) else text
    one = F.lit(1).cast("long")
    sentences = F.greatest(F.regexp_count(c, F.lit(SENTENCE_PATTERN)), one)
    words = F.greatest(F.regexp_count(c, F.lit(WORD_PATTERN)), one)
    syllables = F.greatest(
        F.regexp_count(F.lower(c), F.lit(SYLLABLE_PATTERN)), one
    )
    return sentences, words, syllables


def flesch_reading_ease(text: str | Column) -> Column:
    """Flesch reading ease: ``206.835 - 1.015*(words/sentences) -
    84.6*(syllables/words)`` — exact integer counts, one double
    expression, rounded at the comparison precision."""
    sentences, words, syllables = readability_counts(text)
    return F.round(
        F.lit(_FLESCH_BASE)
        - F.lit(_FLESCH_WPS) * (words.cast("double") / sentences)
        - F.lit(_FLESCH_SPW) * (syllables.cast("double") / words),
        RELEASE_DP,
    )


#: code-likeness signal patterns (RE2/Java common subset). Keyword list
#: is cross-language on purpose: the screen flags code-LIKE text for a
#: downstream router, it does not identify the language.
CODE_SYMBOL_PATTERN = r"[{}();=<>\[\]]"
CODE_INDENT_PATTERN = r"(^|\n)(  |\t)"
CODE_KEYWORD_PATTERN = (
    r"\b(def|return|import|function|class|if|else|for|while|var|const"
    r"|int|void|public|self)\b"
)
CODE_CAMEL_PATTERN = r"[a-z][A-Z]"


def code_likeness(text: str | Column) -> dict[str, Column]:
    """Code-detection features for a text/code router (StarCoder/The-
    Stack-style corpus splitting): per-char density of code symbols,
    indented-line starts, reserved-word hits, and camelCase humps —
    plus the blended ``code_score`` (symbol density dominates; the
    other signals disambiguate math-heavy prose). All exact counts
    over one codegen scan; weights are fixed so the score replays."""
    c = F.col(text) if isinstance(text, str) else text
    n = F.greatest(F.length(c), F.lit(1)).cast("double")
    sym = F.regexp_count(c, F.lit(CODE_SYMBOL_PATTERN)).cast("double")
    ind = F.regexp_count(c, F.lit(CODE_INDENT_PATTERN)).cast("double")
    kw = F.regexp_count(c, F.lit(CODE_KEYWORD_PATTERN)).cast("double")
    camel = F.regexp_count(c, F.lit(CODE_CAMEL_PATTERN)).cast("double")
    score = F.round(
        F.lit(10.0) * sym / n
        + F.lit(40.0) * ind / n
        + F.lit(20.0) * kw / n
        + F.lit(5.0) * camel / n,
        RELEASE_DP,
    )
    return {
        "symbol_count": sym.cast("long"),
        "indent_count": ind.cast("long"),
        "keyword_count": kw.cast("long"),
        "camel_count": camel.cast("long"),
        "code_score": score,
    }


#: PII patterns (RE2/Java common subset — deliberately lookaround-free,
#: unlike the Luhn masker above which needs Java-only digit anchors and
#: therefore validates checksums first)
EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_PATTERN = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PHONE_PATTERN = r"\+\d{1,3}[ -]\d{2,4}[ -]\d{3,4}[ -]\d{3,4}\b"

#: replacement tokens, keyed in masking-precedence order: phones before
#: IPs is irrelevant (disjoint), but emails must go FIRST — an email's
#: domain can contain an IP-shaped dotted quad
PII_MASKS: list[tuple[str, str]] = [
    (EMAIL_PATTERN, "<EMAIL>"),
    (IPV4_PATTERN, "<IP>"),
    (PHONE_PATTERN, "<PHONE>"),
]


def mask_pii(text: str | Column) -> Column:
    """Mask emails, IPv4 literals, and international-format phone
    numbers with typed tokens — the redaction pass run before any
    web-crawl text ships to training. Three sequential
    ``regexp_replace`` scans (order: see PII_MASKS); patterns replay
    verbatim in RE2 SQL oracles. Card numbers are handled separately
    by ``mask_valid_cards`` (checksum-gated)."""
    c = F.col(text) if isinstance(text, str) else text
    for pat, token in PII_MASKS:
        c = F.regexp_replace(c, pat, token)
    return c


#: URL part patterns shared verbatim with SQL oracles (RE2/Java common
#: subset, capture-group rebuild — never backreference REPLACEMENT,
#: whose syntax differs between engines: $1 vs \\1)
URL_SCHEME_PATTERN = r"^([A-Za-z][A-Za-z0-9+.-]*)://"
URL_HOSTPORT_PATTERN = r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)"
URL_PATH_PATTERN = r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)"
URL_QUERY_PATTERN = r"\?([^#]*)"
TRACKING_PARAM_PATTERN = r"(^|&)(utm_[A-Za-z]+|fbclid|gclid|ref_src)=[^&]*"


def canonical_url(url: str | Column) -> Column:
    """Canonical URL for dedup/blocklist keying (the curation-pipeline
    normalizer behind URL-level dedup a la C4/CCNet): lowercase scheme
    and host, strip default ports (:80/:443), strip ``www.``, strip
    the fragment, drop tracking parameters (utm_*/fbclid/gclid/
    ref_src), drop an emptied query, trim trailing path slashes. Path
    CASE is preserved (paths are case-sensitive per RFC 3986). Built
    by part extraction + rebuild — no backreference replacements, so
    the identical patterns replay in RE2 SQL oracles. Pure codegen.

    NON-canonicalizable text — relative URLs, bare hosts with no
    scheme, arbitrary garbage — reads NULL (probe batch 7: the
    unguarded rebuild collapsed ALL such rows onto the one shared
    key '://', so a URL-dedup keep-one policy silently dropped every
    junk-URL document but one). Dedup callers must treat a NULL
    canonical as "keep as-is": filter NULLs before the groupBy —
    groupBy puts all NULLs in one group, which would recreate the
    same false cluster."""
    c = F.col(url) if isinstance(url, str) else url
    scheme = F.lower(F.regexp_extract(c, URL_SCHEME_PATTERN, 1))
    hostport = F.lower(F.regexp_extract(c, URL_HOSTPORT_PATTERN, 1))
    host = F.regexp_replace(hostport, r":(80|443)$", "")
    host = F.regexp_replace(host, r"^www\.", "")
    path = F.regexp_extract(c, URL_PATH_PATTERN, 1)
    path = F.regexp_replace(path, r"/+$", "")
    q = F.regexp_extract(c, URL_QUERY_PATTERN, 1)
    q = F.regexp_replace(q, TRACKING_PARAM_PATTERN, "")
    q = F.regexp_replace(q, r"^&+", "")
    return F.when(
        (scheme != "") & (host != ""),
        F.concat(
            scheme, F.lit("://"), host, path,
            F.when(q != "", F.concat(F.lit("?"), q)).otherwise(F.lit("")),
        ),
    )
