"""Extraction invariants: UDF == JVM == arithmetic ground truth; byte-identical
per url across partitionings (input_hint)."""

from pyspark.sql import functions as F

from geoproc_spark import synth
from geoproc_spark.functions import extract
from tests.conftest import SF_DIR


def _truth(spark):
    return synth.pages_df(spark, SF_DIR).select(
        "page_id",
        "text",
        (F.col("lat_s") / 10000.0).alias("tlat"),
        (F.col("lon_s") / 10000.0).alias("tlon"),
        "has_geo",
    )


def test_udf_recovers_ground_truth(spark):
    df = _truth(spark).withColumn("c", extract.extract_coords_udf("text"))
    bad = df.filter(
        (
            (F.col("has_geo") == 1)
            & (~(F.col("c.lat") == F.col("tlat")) | ~(F.col("c.lon") == F.col("tlon")))
        )
        | ((F.col("has_geo") == 0) & F.col("c.lat").isNotNull())
    )
    assert bad.count() == 0


def test_jvm_path_matches_udf(spark):
    df = _truth(spark)
    lat_j, lon_j = extract.extract_coords_cols(F.col("text"))
    df = df.withColumn("c", extract.extract_coords_udf("text")).select(
        "page_id", "c.lat", "c.lon", lat_j.alias("jlat"), lon_j.alias("jlon")
    )
    mismatch = df.filter(
        ~(
            (F.col("lat").eqNullSafe(F.col("jlat")))
            & (F.col("lon").eqNullSafe(F.col("jlon")))
        )
    )
    assert mismatch.count() == 0


def test_extraction_partition_invariant(spark):
    """Same bytes out regardless of partitioning/parallelism."""
    base = _truth(spark)

    def run(df):
        out = df.withColumn("c", extract.extract_coords_udf("text")).select(
            "page_id", "c.lat", "c.lon"
        )
        return sorted((r.page_id, r.lat, r.lon) for r in out.collect())

    assert run(base.repartition(1)) == run(base.repartition(16, "page_id"))


def test_arrow_path_matches_udf(spark):
    """mapInArrow + RE2 (the production path) == pandas UDF, row for row."""
    pages = synth.pages_df(spark, SF_DIR)
    a = extract.with_coords_arrow(pages.select("page_id", "text"), keep=["page_id"])
    arrow_rows = sorted((r.page_id, r.lat, r.lon) for r in a.collect())
    p = pages.withColumn("c", extract.extract_coords_udf("text")).select(
        "page_id", "c.lat", "c.lon"
    )
    pandas_rows = sorted((r.page_id, r.lat, r.lon) for r in p.collect())
    assert arrow_rows == pandas_rows


def _three_paths(spark, texts):
    """(pandas UDF, Arrow RE2, JVM regexp) results per input text, in order."""
    df = spark.createDataFrame(list(enumerate(texts)), "i int, text string")
    lat_j, lon_j = extract.extract_coords_cols(F.col("text"))
    udf_jvm = df.select(
        "i", extract.extract_coords_udf("text").alias("c"), lat_j.alias("jlat"), lon_j.alias("jlon")
    ).collect()
    arrow = {r.i: (r.lat, r.lon) for r in extract.with_coords_arrow(df, keep=["i"]).collect()}
    by_i = sorted(udf_jvm, key=lambda r: r.i)
    return (
        [(r.c.lat, r.c.lon) for r in by_i],
        [arrow[i] for i in range(len(texts))],
        [(r.jlat, r.jlon) for r in by_i],
    )


def test_extractors_reject_non_ascii_digits(spark):
    """The spec's digits are ASCII: Arabic-Indic and fullwidth digits are no
    coordinate on any of the three paths (Python's \\d would take them)."""
    texts = ["lat \u0664\u0668.\u0668\u0665, lon 2.35", "(\uff112.5, 3.5)", "geo:1.5,\u0662.5"]
    udf, arrow, jvm = _three_paths(spark, texts)
    assert udf == arrow == jvm == [(None, None)] * len(texts)
    html = '<meta name="geo.position" content="\u0664\u0668.5;2.5">'.encode()
    assert extract._first_coord_html(html) == (None, None)


def test_arrow_path_matches_first_coord_on_hostile_text(spark):
    """with_coords_arrow (and the UDF and JVM paths) == _first_coord on
    inputs the corpus never makes: null and empty text, a multi-MB page
    whose only mention is at its end, two formats in one page (leftmost
    wins), malformed mentions, digit runs beyond double range."""
    big = "x" * (3 << 20)
    texts = [
        None,
        "",
        big + " (1.25, -2.5)",
        "geo:7.5,8.5 then lat 1.5, lon 2.5",
        "lat 1.5, lon 2.5 then geo:7.5,8.5",
        "(3.5, 4.5) geo:7.5,8.5 lat 1.5, lon 2.5",
        "lat 1., lon 2",
        "lat 1.5, lon 2 then (-.5, 1.0) then geo:3.5,4.5",
        "lat 1.5,lon 2.5 ( 1.5, 2.5) geo: 1.5,2.5",
        "lat 1" + "0" * 400 + ".5, lon 2.5",
        "geo:0." + "0" * 400 + "1,-0.0",
    ]
    want = [extract._first_coord(t) for t in texts]
    assert want[2] == (1.25, -2.5)
    assert want[3] == (7.5, 8.5) and want[4] == (1.5, 2.5) and want[5] == (3.5, 4.5)
    assert want[6] == want[8] == (None, None) and want[7] == (3.5, 4.5)
    udf, arrow, jvm = _three_paths(spark, texts)
    assert arrow == want
    assert udf == jvm == want


def test_all_matches_document_order(spark):
    df = spark.createDataFrame(
        [("geo:1.5,2.5 then (3.25, -4.75) and lat 5.5, lon 6.5",), ("no coords",)],
        "text string",
    )
    rows = df.select(extract.extract_coords_all_udf("text").alias("a")).collect()
    got = [[(m["lat"], m["lon"]) for m in r["a"]] for r in rows]
    assert got == [[(1.5, 2.5), (3.25, -4.75), (5.5, 6.5)], []]


def test_html_extraction_matches_ground_truth(spark):
    """input_hint fidelity: coordinates extracted from RAW HTML bytes match
    the integer ground truth exactly (meta tag path on geo pages)."""
    pages = synth.pages_df(spark, SF_DIR)
    df = pages.withColumn("c", extract.extract_coords_html_udf("html"))
    # eqNullSafe closes the three-valued-logic hole (ADVICE r02): a broken
    # extractor returning NULL on a geo page must count as a bad row, not
    # evaluate the predicate to NULL and slip through the filter
    bad = df.filter(
        (
            (F.col("has_geo") == 1)
            & (
                ~F.col("c.lat").eqNullSafe(F.col("lat_s") / 10000.0)
                | ~F.col("c.lon").eqNullSafe(F.col("lon_s") / 10000.0)
            )
        )
        | ((F.col("has_geo") == 0) & F.col("c.lat").isNotNull())
    )
    assert bad.count() == 0


def test_html_to_text_byte_identical(spark):
    """The per-url invariant on the html path: html_to_text(html) == text,
    byte for byte, for every page."""
    pages = synth.pages_df(spark, SF_DIR)
    bad = pages.select(
        "text", extract.html_to_text_udf("html").alias("t2")
    ).filter(~F.col("text").eqNullSafe(F.col("t2")))
    assert bad.count() == 0


def test_html_meta_priority_and_fallback(spark):
    """Pinned HTML spec: geo.position meta wins over body text patterns;
    without a meta the text patterns run over the whole document."""
    rows = [
        # meta AND conflicting body text -> meta wins
        (b'<html><head><meta name="geo.position" content="1.5000;2.5000">'
         b"</head><body><p>lat 9.9999, lon 8.8888</p></body></html>",),
        # no meta -> body pattern
        (b"<html><head></head><body><p>geo:-3.2500,4.7500</p></body></html>",),
        # nothing
        (b"<html><head></head><body><p>plain</p></body></html>",),
        (None,),
    ]
    df = spark.createDataFrame(rows, "html binary")
    got = [
        (r["c"]["lat"], r["c"]["lon"])
        for r in df.select(extract.extract_coords_html_udf("html").alias("c")).collect()
    ]
    assert got == [(1.5, 2.5), (-3.25, 4.75), (None, None), (None, None)]


def test_warc_ts_present_and_deterministic(spark):
    """input_hint schema: warc_ts is a TIMESTAMP, identical across runs."""
    p1 = synth.pages_df(spark, SF_DIR).select("page_id", "warc_ts")
    assert dict(p1.dtypes)["warc_ts"] == "timestamp"
    a = sorted(map(tuple, p1.collect()))
    b = sorted(map(tuple, synth.pages_df(spark, SF_DIR).select("page_id", "warc_ts").collect()))
    assert a == b and len(a) > 0
