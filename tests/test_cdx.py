"""CDX(J) index connector (sources/cdx.py)."""

from pyspark.sql import functions as F

from uniparser_spark.sources.cdx import cdx_seed_candidates, parse_cdx_lines, read_cdx


def _lines(spark, rows):
    return spark.createDataFrame([(r,) for r in rows], "value string")


def test_parse_cdx_lines_typed(spark):
    rows = [
        'org,example)/a 20260102030405 {"url": "https://example.org/a", '
        '"status": "200", "mime": "text/html", "digest": "D1", '
        '"length": "1234", "offset": "567", "filename": "seg-0.warc.gz"}',
        'org,example)/b 20260102030406 {"url": "https://example.org/b", '
        '"status": "404", "mime": "text/html", "digest": "D2"}',
        "garbage line without json",
    ]
    got = {r["urlkey"]: r for r in parse_cdx_lines(_lines(spark, rows)).collect()}
    a = got["org,example)/a"]
    assert a["url"] == "https://example.org/a" and a["status"] == 200
    assert a["length"] == 1234 and a["offset"] == 567
    assert a["filename"] == "seg-0.warc.gz" and a["valid"] == 1
    assert str(a["ts"]).startswith("2026-01-02 03:04:05")
    assert got["org,example)/b"]["status"] == 404
    assert got["garbage"]["valid"] == 0  # error-as-data, not dropped


def test_parse_cdx_short_lines_survive_ansi(spark):
    """<3-token lines (blank, urlkey-only, urlkey+ts) must land as
    valid=0 rows — not abort the scan with
    INVALID_ARRAY_INDEX_IN_ELEMENT_AT under Spark 4's ANSI mode."""
    rows = [
        "",
        "org,example)/only-key",
        "org,example)/key-and-ts 20260102030405",
        'org,example)/ok 20260102030405 {"url": "https://e.org/ok"}',
    ]
    got = parse_cdx_lines(_lines(spark, rows)).collect()
    assert len(got) == 4  # nothing dropped, nothing thrown
    by_key = {r["urlkey"]: r for r in got}
    assert by_key[""]["valid"] == 0
    assert by_key["org,example)/only-key"]["valid"] == 0
    assert by_key["org,example)/only-key"]["ts"] is None
    kt = by_key["org,example)/key-and-ts"]
    assert kt["valid"] == 0 and kt["ts"] is not None and kt["url"] is None
    assert by_key["org,example)/ok"]["valid"] == 1


def test_read_cdx_directory_gzip_and_glob(spark, tmp_path):
    """read_cdx over a shard directory: a plain .cdxj shard and a
    .cdxj.gz shard are both read (gzip by codec inference), and a file
    the default glob does not match is skipped."""
    import gzip

    plain = [
        'org,example)/a 20260102030405 {"url": "https://example.org/a", "status": "200"}',
        'org,example)/b 20260102030406 {"url": "https://example.org/b", "status": "404"}',
    ]
    zipped = [
        'org,example)/c 20260102030407 {"url": "https://example.org/c", "status": "200"}',
        "garbage line without json",
    ]
    (tmp_path / "shard-0.cdxj").write_text("\n".join(plain) + "\n")
    with gzip.open(tmp_path / "shard-1.cdxj.gz", "wt") as f:
        f.write("\n".join(zipped) + "\n")
    (tmp_path / "notes.txt").write_text(
        'org,example)/skip 20260102030408 {"url": "https://example.org/skip"}\n'
    )
    got = read_cdx(spark, str(tmp_path)).collect()
    want = parse_cdx_lines(_lines(spark, plain + zipped)).collect()
    assert len(got) == 4
    assert sorted(map(tuple, got), key=repr) == sorted(map(tuple, want), key=repr)


def test_cdx_seed_candidates_triage(spark):
    rows = [
        # two captures of the same url: later one has digest DN
        'k1 20260101000000 {"url": "https://a.org/x", "status": "200", "mime": "text/html", "digest": "OLD"}',
        'k1 20260201000000 {"url": "https://a.org/x", "status": "200", "mime": "text/html", "digest": "DN"}',
        # mirror: different url, same latest digest -> collapses to MIN url
        'k2 20260201000000 {"url": "https://a.org/mirror-of-x", "status": "200", "mime": "text/html", "digest": "DN"}',
        # non-200 and non-html are triaged out
        'k3 20260201000000 {"url": "https://a.org/404", "status": "404", "mime": "text/html", "digest": "D4"}',
        'k4 20260201000000 {"url": "https://a.org/img", "status": "200", "mime": "image/png", "digest": "D5"}',
        # distinct content -> kept
        'k5 20260201000000 {"url": "https://a.org/y", "status": "200", "mime": "text/html; charset=utf-8", "digest": "D6"}',
    ]
    caps = parse_cdx_lines(_lines(spark, rows))
    got = {r["url"]: r["priority"] for r in cdx_seed_candidates(caps).collect()}
    # mirror collapse: min("https://a.org/mirror-of-x", "https://a.org/x")
    assert got == {"https://a.org/mirror-of-x": 0.0, "https://a.org/y": 0.0}


def test_cdx_seed_latest_capture_wins_over_stale_200(spark):
    """A url whose MOST RECENT capture is a 404/410 (page since
    deleted) must not be seeded from an older 200 capture; conversely
    a url that recovered (old 404, new 200) must be seeded."""
    rows = [
        # deleted page: old 200, latest 410 -> must NOT seed
        'k1 20260101000000 {"url": "https://a.org/gone", "status": "200", "mime": "text/html", "digest": "G1"}',
        'k1 20260301000000 {"url": "https://a.org/gone", "status": "410", "mime": "text/html", "digest": "G2"}',
        # recovered page: old 404, latest 200 -> must seed
        'k2 20260101000000 {"url": "https://a.org/back", "status": "404", "mime": "text/html", "digest": "B1"}',
        'k2 20260301000000 {"url": "https://a.org/back", "status": "200", "mime": "text/html", "digest": "B2"}',
        # mime flip: old text/html, latest image/png -> must NOT seed
        'k3 20260101000000 {"url": "https://a.org/now-img", "status": "200", "mime": "text/html", "digest": "M1"}',
        'k3 20260301000000 {"url": "https://a.org/now-img", "status": "200", "mime": "image/png", "digest": "M2"}',
    ]
    caps = parse_cdx_lines(_lines(spark, rows))
    got = {r["url"] for r in cdx_seed_candidates(caps).collect()}
    assert got == {"https://a.org/back"}


def test_cdxj_lines_roundtrip_and_error_rows(spark):
    """Writer output re-parses exactly; a relative URL (NULL SURT) is
    dropped by the writer, and hand-checked line shape matches the
    CDXJ contract (urlkey SP ts14 SP compact-json)."""
    import datetime as dt

    from uniparser_spark.sources.cdx import cdxj_lines, parse_cdx_lines

    rows = [
        ("https://www.a.example.org:443/x?q=1", dt.datetime(2026, 2, 1, 3, 4, 5),
         200, "text/html", "md5:abc", 123, "s1.warc.gz"),
        ("/relative/only", dt.datetime(2026, 2, 1), 200, "text/html",
         "md5:def", 5, "s1.warc.gz"),
    ]
    idx = spark.createDataFrame(
        rows,
        "url string, ts timestamp, status int, mime string, digest string, "
        "length long, filename string",
    )
    lines = cdxj_lines(idx).collect()
    assert len(lines) == 1  # relative URL dropped (error-as-data contract)
    line = lines[0]["value"]
    assert line.startswith("org,example,a)/x?q=1 20260201030405 {")
    back = parse_cdx_lines(spark.createDataFrame([(line,)], "value string")).collect()[0]
    assert (back["url"], back["status"], back["digest"], back["length"],
            back["filename"], back["valid"]) == (
        "https://www.a.example.org:443/x?q=1", 200, "md5:abc", 123,
        "s1.warc.gz", 1,
    )
