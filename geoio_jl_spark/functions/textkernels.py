"""Web-text kernels: html→text extraction, geotag parse, language ID,
quality scoring, token counting, fingerprinting.

This is the graft's payload axis (BASELINE.json input_hint): Common-Crawl
style pages `(url, warc_ts, html:binary, text, lang)`.  The extraction
kernel is deterministic and versioned — its output must be **byte-identical
per url** to the generated `text` column; tests pin sha256 golden hashes.

Execution: extraction/unescape runs as an Arrow-batched pandas UDF
(BinaryType → StringType); geotag lat/lon parse stays JVM-side
(`regexp_extract`, whole-stage codegen) because it needs no unescaping.
No per-row Python UDFs anywhere (input_hint mandate).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    DoubleType, LongType, StringType, StructField, StructType,
)

EXTRACT_VERSION = "1.0.0"

# the three entities the datagen template escapes, in decode order
_UNESCAPES = [("&lt;", "<"), ("&gt;", ">"), ("&amp;", "&")]


def _extract_series(html: pd.Series) -> pd.Series:
    """bytes html → extracted article text.

    Byte-level find/slice (6x faster than the equivalent regex
    ``<article>(.*?)</article>`` + str.replace pipeline, verified
    byte-identical); unescape order matches the datagen escape order."""
    def ex(b):
        if b is None:
            return None
        b = bytes(b)
        i = b.find(b"<article>")
        if i < 0:
            return None
        j = b.find(b"</article>", i)
        if j < 0:
            return None
        s = b[i + 9:j].decode("utf-8")
        if "&" in s:
            for esc, raw in _UNESCAPES:
                s = s.replace(esc, raw)
        return s

    return html.map(ex)


# DataType object (not DDL string): a DDL string would require an active
# SparkSession at import time, breaking `import geoio_jl_spark` pre-session.
@pandas_udf(StringType())
def html_to_text(html: pd.Series) -> pd.Series:
    """Arrow-batched extraction kernel, version EXTRACT_VERSION."""
    return _extract_series(html)


_PAGE_SCHEMA = StructType([
    StructField("text", StringType()),
    StructField("lat", DoubleType()),
    StructField("lon", DoubleType()),
])


@pandas_udf(_PAGE_SCHEMA)
def _extract_page_det(html: pd.Series) -> pd.DataFrame:
    """Fused kernel: text + geotag in ONE Arrow crossing (html ships to
    Python once; byte-level finds, no JVM regex over the payload)."""
    texts = _extract_series(html)

    marker = b'geo.position" content="'
    mlen = len(marker)

    def tag(b):
        if b is None:
            return (None, None)
        b = bytes(b)
        i = b.find(marker)
        if i < 0:
            return (None, None)
        start = i + mlen
        j = b.find(b'"', start)
        try:
            lat_s, lon_s = b[start:j].decode("ascii").split(";")
            return (float(lat_s), float(lon_s))
        except ValueError:
            return (None, None)

    tags = html.map(tag)
    return pd.DataFrame({
        "text": texts,
        "lat": tags.map(lambda t: t[0]),
        "lon": tags.map(lambda t: t[1]),
    })


# The kernel IS deterministic, but Catalyst must be told not to duplicate
# it: left deterministic, CollapseProject inlines the struct-returning UDF
# into every field access and pushed-down inferred isnotnull join-key
# filters re-evaluate it below the projection — the executed flagship plan
# ran FOUR ArrowEvalPython crossings of the dominant kernel instead of one
# (optimization guide §4.4).  asNondeterministic() pins one evaluation;
# tests/test_flagship_plan.py asserts the single crossing.
extract_page = _extract_page_det.asNondeterministic()


def geotag_lat(html_str: Column) -> Column:
    """<meta name="geo.position" content="{lat};{lon}"> → lat (JVM regexp)."""
    return F.regexp_extract(
        html_str, r'geo\.position" content="(-?[0-9.]+);(-?[0-9.]+)"', 1
    ).cast("double")


def geotag_lon(html_str: Column) -> Column:
    return F.regexp_extract(
        html_str, r'geo\.position" content="(-?[0-9.]+);(-?[0-9.]+)"', 2
    ).cast("double")


# ---------------------------------------------------------------------------
# Text analysis (oracle-checkable: built-in exprs only, no Python)
# ---------------------------------------------------------------------------

# tiny per-language stopword lists for the n-gram/stopword language heuristic
STOPWORDS = {
    "en": ["the", "a", "of", "and"],
    "de": ["der", "die", "und", "ein"],
    "fr": ["le", "la", "et", "un"],
    "es": ["el", "la", "y", "un"],
    "pt": ["o", "a", "e", "um"],
}


def tokens_col(text: Column) -> Column:
    """Non-empty whitespace tokens (matches dialect.tokens_sql)."""
    return F.filter(F.split(text, r"\s+"), lambda x: x != "")


def quality_columns(text: Column,
                    toks: Column | None = None) -> dict[str, Column]:
    """Length / punctuation / stopword-ratio quality features.

    All double arithmetic is identical-op between engines (single division
    of two exact ints), so these stay oracle-checkable.

    Pass ``toks`` as a REAL column (projected in a prior select) to
    guarantee the tokenizer runs once per row instead of once per
    feature — Catalyst's CollapseProject keeps a non-cheap alias used
    by several expressions as its own projection, so the two-step form
    is the guaranteed-linear shape (same lesson as the shingle fix,
    operators/dedup.py exploded_shingles)."""
    if toks is None:
        toks = tokens_col(text)
    n_tok = F.size(toks)
    n_char = F.length(text)
    n_punct = n_char - F.length(F.regexp_replace(text, r"[^\w\s]", ""))
    avg_word_len = (
        F.aggregate(toks, F.lit(0).cast("bigint"), lambda acc, x: acc + F.length(x))
        .cast("double") / F.greatest(n_tok, F.lit(1)).cast("double")
    )
    sw = F.size(F.filter(toks, lambda x: x.isin("the", "a", "of", "and", "is", "to")))
    return {
        "n_tokens": n_tok.cast("bigint"),
        "n_chars": n_char.cast("bigint"),
        "n_punct": n_punct.cast("bigint"),
        "avg_word_len": avg_word_len,
        "stopword_ratio": sw.cast("double") / F.greatest(n_tok, F.lit(1)).cast("double"),
    }


@pandas_udf(LongType())
def rolling_fingerprint(text: pd.Series) -> pd.Series:
    """Polynomial rolling hash mod 2**61-1 over utf-8 bytes — document
    fingerprint (pytest-verified; the oracle-checked fingerprint uses the
    portable md5-prefix form in dialect.md5_int60)."""
    MOD = (1 << 61) - 1
    BASE = 257

    def fp(s):
        if s is None:
            return None
        h = 0
        for b in s.encode("utf-8"):
            h = (h * BASE + b) % MOD
        return h

    return text.apply(fp)
