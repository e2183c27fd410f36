"""Coordinate extraction from page text — Arrow-vectorized, deterministic.

The pinned extraction spec (FIXTURES.md T1): UTF-8 text, three coordinate
mention formats, matches taken in document order, first match wins:

    lat 48.8566, lon 2.3522
    (40.7128, -74.0060)
    geo:-33.8688,151.2093

Determinism contract (input_hint): extraction(text) is byte-identical per
url across runs, partitionings, and parallelism levels. The regexes are
compiled once per executor; no locale, no normalization beyond the already-
UTF-8 input; ties broken by document order. Digits are ASCII `[0-9]` only:
Python's `\\d` would also take Arabic-Indic or fullwidth digits (and `float`
parses them), which RE2 and Java reject.

Three implementations with identical results:
- `with_coords_arrow` — `mapInArrow` + Arrow's C++ RE2, the engine path
  (the geo pipeline's extract stage and the driver geo queries)
- `extract_coords_udf` — pandas UDF over `_first_coord`, the readable
  per-row twin the tests and the extract kernel timing compare against
- `extract_coords_cols` — pure JVM `regexp_extract` columns (no Python
  boundary at all)
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

_NUM = r"(-?[0-9]+\.[0-9]+)"
# Alternation order is part of the pinned spec: scanning is left-to-right by
# match *position*; among patterns matching at the same position the first
# alternative wins.
_PATTERNS = [
    re.compile(rf"lat {_NUM}, lon {_NUM}"),
    re.compile(rf"\({_NUM}, {_NUM}\)"),
    re.compile(rf"geo:{_NUM},{_NUM}"),
]
_COMBINED = re.compile("|".join(p.pattern for p in _PATTERNS))

_JVM_PATTERN = (
    rf"(?:lat {_NUM}, lon {_NUM})|(?:\({_NUM}, {_NUM}\))|(?:geo:{_NUM},{_NUM})"
)

COORD_SCHEMA = T.StructType(
    [
        T.StructField("lat", T.DoubleType()),
        T.StructField("lon", T.DoubleType()),
    ]
)


def _first_coord(text: str) -> tuple[float | None, float | None]:
    if not text:
        return None, None
    m = _COMBINED.search(text)
    if m is None:
        return None, None
    groups = [g for g in m.groups() if g is not None]
    return float(groups[0]), float(groups[1])


@F.pandas_udf(COORD_SCHEMA)
def extract_coords_udf(text: pd.Series) -> pd.DataFrame:
    """First coordinate mention per page (Arrow-batched)."""
    pairs = [_first_coord(t) for t in text]
    return pd.DataFrame(pairs, columns=["lat", "lon"])


@F.pandas_udf(T.ArrayType(COORD_SCHEMA))
def extract_coords_all_udf(text: pd.Series) -> pd.Series:
    """All coordinate mentions per page, in document order."""
    out = []
    for t in text:
        if not t:
            out.append([])
            continue
        mentions = []
        for m in _COMBINED.finditer(t):
            groups = [g for g in m.groups() if g is not None]
            mentions.append({"lat": float(groups[0]), "lon": float(groups[1])})
        out.append(mentions)
    return pd.Series(out)


_ARROW_PATTERN = (
    r"(?:lat (?P<a1>-?[0-9]+\.[0-9]+), lon (?P<b1>-?[0-9]+\.[0-9]+))"
    r"|(?:\((?P<a2>-?[0-9]+\.[0-9]+), (?P<b2>-?[0-9]+\.[0-9]+)\))"
    r"|(?:geo:(?P<a3>-?[0-9]+\.[0-9]+),(?P<b3>-?[0-9]+\.[0-9]+))"
)


def with_coords_arrow(df, text_col: str = "text", keep: list[str] | None = None):
    """Fastest extraction path: mapInArrow + pyarrow.compute.extract_regex —
    the regex runs in Arrow's C++ RE2 over the raw Arrow buffers, zero
    pandas materialization, no per-row Python. Same pinned spec (leftmost
    match; the three alternatives are disjoint, so RE2 leftmost == Python
    re first-match). Returns df's `keep` columns + (lat, lon) doubles.

    This is the production path; `extract_coords_udf` (pandas) is the
    readable twin — equality of the two is pinned by tests.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    keep = keep if keep is not None else [c for c in df.columns if c != text_col]
    out_schema = ", ".join(f"{c} {t}" for c, t in _spark_types(df, keep)) + ", lat double, lon double"

    def run(batches):
        for batch in batches:
            s = pc.extract_regex(batch.column(text_col), _ARROW_PATTERN)
            if len(s) == 0:
                continue
            lat = lon = None
            for g_lat, g_lon in (("a1", "b1"), ("a2", "b2"), ("a3", "b3")):
                # non-participating groups surface as "" — null them with a
                # vectorized equality test, then cast. (r6: this replaces
                # two replace_substring_regex passes per group — six extra
                # regex scans per batch, profiled at ~47% of the whole
                # Python-side cost — with identical output.)
                fa, fo = s.field(g_lat), s.field(g_lon)
                la = pc.cast(
                    pc.if_else(pc.equal(fa, ""), pa.nulls(len(fa), pa.string()), fa),
                    pa.float64(),
                )
                lo = pc.cast(
                    pc.if_else(pc.equal(fo, ""), pa.nulls(len(fo), pa.string()), fo),
                    pa.float64(),
                )
                lat = la if lat is None else pc.coalesce(lat, la)
                lon = lo if lon is None else pc.coalesce(lon, lo)
            cols = [batch.column(c) for c in keep] + [lat, lon]
            yield pa.RecordBatch.from_arrays(cols, names=keep + ["lat", "lon"])

    return df.mapInArrow(run, out_schema)


def _spark_types(df, cols: list[str]) -> list[tuple[str, str]]:
    m = dict(zip(df.schema.names, [f.dataType.simpleString() for f in df.schema.fields]))
    return [(c, m[c]) for c in cols]


# ------------------------------------------------------------ HTML extraction
# The input_hint corpus carries `html BINARY` next to `text` (BASELINE.json):
# a pinned wrapper embedding the page text in <p>...</p> plus, on geotagged
# pages, a geo.position meta tag (synth._HTML_SQL). The HTML spec, pinned:
#   1. a <meta name="geo.position" content="LAT;LON"> wins if present;
#   2. otherwise the text patterns run over the whole document.
_META_RE = re.compile(rf'<meta name="geo\.position" content="{_NUM};{_NUM}">')
_BODY_RE = re.compile(r"<p>(.*?)</p>", re.DOTALL)


def _first_coord_html(html: bytes | None) -> tuple[float | None, float | None]:
    if not html:
        return None, None
    s = html.decode("utf-8") if isinstance(html, (bytes, bytearray)) else html
    m = _META_RE.search(s)
    if m is not None:
        return float(m.group(1)), float(m.group(2))
    return _first_coord(s)


@F.pandas_udf(COORD_SCHEMA)
def extract_coords_html_udf(html: pd.Series) -> pd.DataFrame:
    """First coordinate mention per page from raw HTML bytes (Arrow-batched;
    meta tag first, text patterns as fallback)."""
    pairs = [_first_coord_html(h) for h in html]
    return pd.DataFrame(pairs, columns=["lat", "lon"])


@F.pandas_udf(T.StringType())
def html_to_text_udf(html: pd.Series) -> pd.Series:
    """Extracted text from HTML — the input_hint's per-url invariant: the
    result must be byte-identical to the page's `text` column (the corpus
    embeds text losslessly in <p>...</p>; non-greedy span for robustness)."""

    def one(h):
        if h is None:
            return None
        s = h.decode("utf-8") if isinstance(h, (bytes, bytearray)) else h
        m = _BODY_RE.search(s)
        return m.group(1) if m is not None else ""

    return pd.Series([one(h) for h in html])


def extract_coords_cols(text: Column) -> tuple[Column, Column]:
    """JVM-only variant: same spec via regexp_extract (no Python boundary).

    Java regex semantics for this pattern set match Python's `re` (no
    backtracking differences arise: the alternatives are disjoint literals).
    """
    lat = F.lit(None).cast("double")
    lon = F.lit(None).cast("double")
    # First *positional* match: Java regex alternation also scans by position.
    m = F.regexp_extract(text, _JVM_PATTERN, 0)
    for i in (1, 3, 5):  # group pairs of the three alternatives
        g_lat = F.regexp_extract(text, _JVM_PATTERN, i)
        g_lon = F.regexp_extract(text, _JVM_PATTERN, i + 1)
        lat = F.when((m != "") & (g_lat != ""), g_lat.cast("double")).otherwise(lat)
        lon = F.when((m != "") & (g_lon != ""), g_lon.cast("double")).otherwise(lon)
    return lat, lon
