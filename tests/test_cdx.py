"""X91: SURT keys + CDX capture index over the WARC archive layer.

The reference keys everything on raw URLs in one in-process map
(crawler/crawler.go:214-231); an open-web archive needs the
web-archive index contract instead: SURT-keyed (filename, offset,
length) spans that random-access the shard bytes.
"""

from __future__ import annotations

import glob

import pytest
from pyspark.sql import functions as F

from ptt_spider_go_spark.functions.surt import surt_key
from ptt_spider_go_spark.sinks.cdx import (
    archive_captures,
    cdx_from_positions,
    cdx_lines,
    cdx_records,
)
from ptt_spider_go_spark.sources import warc


SURT_CASES = [
    ("http://www.Example.COM/A/B7", "com,example)/a/b7"),
    ("http://example.com", "com,example)/"),
    ("http://www2.Mixed.Org/x?b=2&a=1&c=3", "org,mixed)/x?a=1&b=2&c=3"),
    ("http://sub.News.example.co.uk/y?ONE=1",
     "uk,co,example,news,sub)/y?one=1"),
    ("http://a.b.example.com/z?", "com,example,b,a)/z"),
    ("http://h.test/p?a=1&&b=2", "test,h)/p?a=1&b=2"),
    ("not a url", None),
]


def test_surt_key_cases(spark):
    df = spark.createDataFrame([(u,) for u, _ in SURT_CASES], "url string")
    got = {
        r["url"]: r["surt"]
        for r in df.select("url", surt_key(F.col("url")).alias("surt"))
        .collect()
    }
    for url, want in SURT_CASES:
        assert got[url] == want, url


def _pages(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, url string, warc_date string, status int, "
              "payload string"
    )


@pytest.fixture(scope="module")
def archive(spark, tmp_path_factory):
    rows = [
        (i, f"http://Ar.example/d{i}?z=1&a=2", "2026-08-01T00:00:00Z",
         200 if i % 3 else 404, f"payload body {i} " + "x" * (i * 7))
        for i in range(10)
    ]
    path = str(tmp_path_factory.mktemp("warc") / "archive")
    warc.write_warc(_pages(spark, rows), path, n_files=3)
    return path


def test_offsets_slice_to_standalone_records(spark, archive):
    """THE index contract: for every CDX row, the shard file's bytes
    [offset, offset+length) must parse as one standalone WARC record
    for the same doc — i.e. a range request against the archive serves
    exactly the capture the index points at."""
    recs = warc.read_warc(spark, archive, with_offsets=True)
    cdx = cdx_records(recs).join(recs.select("doc_id", "url"), "url")
    shards = {
        p.rsplit("/", 1)[-1]: open(p, "rb").read()
        for p in glob.glob(f"{archive}/part-*")
    }
    rows = cdx.collect()
    assert len(rows) == 10
    for r in rows:
        blob = shards[r["filename"]]
        span = blob[r["offset"]: r["offset"] + r["length"]]
        parsed = list(warc._parse_warc_bytes(span))
        assert len(parsed) == 1
        assert parsed[0][0] == r["doc_id"]
        assert parsed[0][1] == r["url"]


def test_cdx_records_fields(spark, archive):
    recs = warc.read_warc(spark, archive, with_offsets=True)
    row = (
        cdx_records(recs)
        .filter(F.col("url") == "http://Ar.example/d4?z=1&a=2")
        .collect()[0]
    )
    assert row["surt"] == "example,ar)/d4?a=2&z=1"
    assert row["ts14"] == "20260801000000"
    assert row["status"] == 200
    assert row["mime"] == "text/html; charset=UTF-8"


def test_cdx_from_positions_prefix_sums(spark):
    rows = [
        ("f0", 0, "http://a.test/0", "aa"),
        ("f0", 1, "http://a.test/1", "bbbb"),
        ("f0", 2, "http://a.test/2", "c"),
        ("f1", 0, "http://a.test/3", "dd"),
        ("f1", 5, "http://a.test/4", "e"),
    ]
    df = spark.createDataFrame(
        rows, "filename string, position long, url string, payload string"
    ).select(
        "*",
        F.lit("2026-08-02T03:04:05Z").alias("warc_date"),
        F.lit(200).alias("status"),
        F.lit("text/html").alias("mime"),
    )
    got = {
        (r["filename"], r["url"]): (r["offset"], r["length"], r["ts14"])
        for r in cdx_from_positions(df).collect()
    }
    assert got[("f0", "http://a.test/0")] == (0, 2, "20260802030405")
    assert got[("f0", "http://a.test/1")] == (2, 4, "20260802030405")
    assert got[("f0", "http://a.test/2")] == (6, 1, "20260802030405")
    # second file restarts at 0; position gaps don't matter, order does
    assert got[("f1", "http://a.test/3")] == (0, 2, "20260802030405")
    assert got[("f1", "http://a.test/4")] == (2, 1, "20260802030405")


def test_cdx_lines_render(spark):
    df = spark.createDataFrame(
        [("f0", 0, "http://a.test/p?B=1", "hi")],
        "filename string, position long, url string, payload string",
    ).select(
        "*",
        F.lit("2026-01-02T00:00:00Z").alias("warc_date"),
        F.lit(200).alias("status"),
        F.lit("text/html").alias("mime"),
    )
    [line] = cdx_lines(cdx_from_positions(df)).collect()
    import hashlib

    h = hashlib.md5(b"hi").hexdigest()
    assert line["line"] == (
        f"test,a)/p?b=1 20260102000000 http://a.test/p?B=1 text/html "
        f"200 {h} 2 0 f0"
    )


def test_unparseable_url_yields_null_surt(spark):
    df = spark.createDataFrame(
        [("f0", 0, ":::", "x")],
        "filename string, position long, url string, payload string",
    ).select(
        "*",
        F.lit("2026-01-02T00:00:00Z").alias("warc_date"),
        F.lit(200).alias("status"),
        F.lit("text/html").alias("mime"),
    )
    [r] = cdx_from_positions(df).collect()
    assert r["surt"] is None  # quarantine-able, never a wrong key


def _cdx_rows(spark, rows):
    """rows: (surt, ts14, digest, length, offset, filename)"""
    df = spark.createDataFrame(
        rows, "surt string, ts14 string, digest string, length long, "
              "offset long, filename string"
    )
    return df.select(
        "surt", "ts14", F.lit("http://u").alias("url"),
        F.lit("text/html").alias("mime"), F.lit(200).alias("status"),
        "digest", "length", "offset", "filename",
    )


def test_mark_revisits_chain_and_intervening_change(spark):
    from ptt_spider_go_spark.sinks.cdx import mark_revisits

    rows = [
        ("s)/p", "20260801000000", "d1", 10, 0, "f0"),   # original
        ("s)/p", "20260801010000", "d1", 10, 10, "f0"),  # revisit -> orig
        ("s)/p", "20260801020000", "d2", 11, 20, "f0"),  # changed
        ("s)/p", "20260801030000", "d1", 10, 31, "f0"),  # STILL -> orig
        ("s)/p", "20260801040000", "d2", 11, 41, "f0"),  # revisit -> d2
        ("s)/q", "20260801000000", "d1", 10, 0, "f1"),   # other URL: own key
    ]
    got = {
        (r["ts14"], r["surt"]): (
            r["record_type"], r["refers_to_ts14"], r["refers_to_offset"])
        for r in mark_revisits(_cdx_rows(spark, rows)).collect()
    }
    assert got[("20260801000000", "s)/p")] == ("response", None, None)
    assert got[("20260801010000", "s)/p")] == (
        "revisit", "20260801000000", 0)
    assert got[("20260801020000", "s)/p")] == ("response", None, None)
    # intervening d2 capture does NOT reset the d1 chain
    assert got[("20260801030000", "s)/p")] == (
        "revisit", "20260801000000", 0)
    assert got[("20260801040000", "s)/p")] == (
        "revisit", "20260801020000", 20)
    # same digest under a different surt is its own response
    assert got[("20260801000000", "s)/q")] == ("response", None, None)


def test_mark_revisits_tie_breaks_on_filename_offset(spark):
    from ptt_spider_go_spark.sinks.cdx import mark_revisits

    rows = [
        ("s)/p", "20260801000000", "d1", 10, 50, "f1"),
        ("s)/p", "20260801000000", "d1", 10, 0, "f0"),  # wins: f0 < f1
    ]
    got = {
        r["offset"]: (r["record_type"], r["refers_to_filename"],
                      r["refers_to_offset"])
        for r in mark_revisits(_cdx_rows(spark, rows)).collect()
    }
    assert got[0] == ("response", None, None)
    assert got[50] == ("revisit", "f0", 0)


def test_revisit_savings_rollup(spark):
    from ptt_spider_go_spark.sinks.cdx import mark_revisits, revisit_savings

    rows = [
        ("s)/p", "20260801000000", "d1", 10, 0, "f0"),
        ("s)/p", "20260801010000", "d1", 10, 10, "f0"),
        ("s)/p", "20260801020000", "d1", 10, 20, "f1"),
        ("s)/q", "20260801000000", "d9", 7, 30, "f1"),
    ]
    got = {
        r["filename"]: (r["n_revisits"], r["bytes_saved"], r["n_records"])
        for r in revisit_savings(
            mark_revisits(_cdx_rows(spark, rows))
        ).collect()
    }
    assert got["f0"] == (1, 10, 2)
    assert got["f1"] == (1, 10, 2)  # d9 capture is a response, saves 0


def test_archive_crawl_e2e(spark, tmp_path):
    """X95: a crawl's 200-fetched pages published with archive_captures
    as WARC shards + a CDX parquet; index rows cover exactly the
    distinct fetched URLs, and each offset slices the shard bytes to a
    standalone record for that URL."""
    from ptt_spider_go_spark.config import CrawlConfig
    from ptt_spider_go_spark.datagen import pages_pandas
    from ptt_spider_go_spark.plans.crawl import run_crawl

    dataset = pages_pandas(boards=("Beauty",), pages_per_board=2,
                           slots_per_page=4)
    pages = spark.createDataFrame(dataset)
    cfg = CrawlConfig(board="Beauty", pages=2, push_rate=0,
                      host_salt=2, max_supersteps=4)
    adir = str(tmp_path / "archive")
    res = run_crawl(spark, pages, cfg)
    ok = res.fetch_log.filter(F.col("status") == 200).select("url").distinct()
    caps = pages.join(ok, "url", "left_semi").select(
        "url", "warc_ts",
        F.lit(200).alias("status"),
        F.col("html").cast("string").alias("payload"),
    )
    archive_cdx = archive_captures(caps, adir)

    fetched = {r["url"] for r in ok.collect()}
    cdx_rows = archive_cdx.collect()
    assert {r["url"] for r in cdx_rows} == fetched
    assert len(cdx_rows) == len(fetched)
    # offsets slice the written shards to standalone records
    shards = {
        p.rsplit("/", 1)[-1]: open(p, "rb").read()
        for p in glob.glob(f"{adir}/warc/part-*")
    }
    for r in cdx_rows[:5]:
        span = shards[r["filename"]][r["offset"]: r["offset"] + r["length"]]
        [rec] = list(warc._parse_warc_bytes(span))
        assert rec[1] == r["url"]
    # surt keys site-major and well-formed
    assert all(r["surt"].startswith("cc,ptt)/") for r in cdx_rows)
