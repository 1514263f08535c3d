"""Source-layer tests (S1/S4/S5): the rss DataSource parses canned feed
XML into the ARTICLES schema with the L6 media fallback; CSV/JSON readers
pin their schemas and surrogate ids."""

from __future__ import annotations

import textwrap

from newsmaper_etl_spark.fixtures import values_df
from newsmaper_etl_spark.sources import (
    ARTICLE_SCHEMA,
    parse_rss_items,
    read_references_json,
    read_rss,
    read_sources_csv,
    register_rss_source,
)

_FEED_XML = textwrap.dedent(
    """\
    <?xml version="1.0" encoding="UTF-8"?>
    <rss version="2.0" xmlns:media="http://search.yahoo.com/mrss/">
      <channel>
        <title>canned feed</title>
        <item>
          <title>alpha story</title>
          <link>https://example.test/a</link>
          <description>desc alpha</description>
          <pubDate>Mon, 02 Jan 2023 15:04:05 +0100</pubDate>
          <media:content url="https://example.test/a.jpg" type="image/jpeg"/>
        </item>
        <item>
          <title>beta story</title>
          <link>https://example.test/b</link>
          <description>desc beta</description>
          <pubDate>Tue, 03 Jan 2023 09:00:00 GMT</pubDate>
          <enclosure url="https://example.test/b.mp3" length="1" type="audio/mpeg"/>
        </item>
        <item>
          <title>gamma story</title>
          <link>https://example.test/c</link>
          <description>desc gamma</description>
          <pubDate>Wed, 04 Jan 23 10:00:00 +0000</pubDate>
        </item>
      </channel>
    </rss>
    """
)

_FEED2_XML = _FEED_XML.replace("alpha", "delta").replace("beta", "epsilon").replace(
    "gamma", "zeta"
)


def test_parse_rss_items_media_fallback():
    """L6: content url → enclosure url → 'null' string sentinel."""
    items = list(parse_rss_items(_FEED_XML.encode()))
    assert [i["media"] for i in items] == [
        "https://example.test/a.jpg",
        "https://example.test/b.mp3",
        "null",
    ]
    assert items[0]["title"] == "alpha story"
    assert items[0]["date"] == "Mon, 02 Jan 2023 15:04:05 +0100"


def test_parse_rss_missing_fields_are_null():
    xml = b"<rss><channel><item><title>only title</title></item></channel></rss>"
    (item,) = parse_rss_items(xml)
    assert item["title"] == "only title"
    assert item["link"] is None and item["date"] is None
    assert item["media"] == "null"


def test_rss_datasource_single_path(spark, tmp_path):
    feed = tmp_path / "feed.xml"
    feed.write_text(_FEED_XML)
    register_rss_source(spark)
    df = (
        spark.read.format("rss")
        .option("path", str(feed))
        .option("source_id", "7")
        .load()
    )
    assert df.schema == ARTICLE_SCHEMA
    rows = {r["title"]: r for r in df.collect()}
    assert len(rows) == 3
    assert rows["gamma story"]["media"] == "null"
    assert all(r["id_source"] == 7 for r in rows.values())


def test_read_rss_fans_out_per_feed(spark, tmp_path):
    """One partition per feed; id_source tags rows with their registry id."""
    f1, f2 = tmp_path / "f1.xml", tmp_path / "f2.xml"
    f1.write_text(_FEED_XML)
    f2.write_text(_FEED2_XML)
    sources = values_df(
        spark,
        [(1, "s1", "https://one.test", str(f1)), (2, "s2", "https://two.test", str(f2))],
        ["id", "name", "website", "rss"],
    )
    df = read_rss(spark, sources)
    assert df.rdd.getNumPartitions() == 2
    rows = df.collect()
    assert len(rows) == 6
    by_src = {sid: sorted(r["title"] for r in rows if r["id_source"] == sid) for sid in (1, 2)}
    assert by_src[1] == ["alpha story", "beta story", "gamma story"]
    assert by_src[2] == ["delta story", "epsilon story", "zeta story"]


def test_rss_pipeline_end_to_end(spark, tmp_path):
    """Feed XML → rss source → full reference pipeline → fact rows: the
    user journey the reference serves (Extract→Transform→Load), on files."""
    from newsmaper_etl_spark import fixtures as FX
    from newsmaper_etl_spark.operators.newsmaper import (
        generate_date_dim,
        run_pipeline,
    )

    feed = tmp_path / "feed.xml"
    feed.write_text(_FEED_XML)
    sources = values_df(
        spark, [(1, "s1", "w", str(feed))], ["id", "name", "website", "rss"]
    )
    articles = read_rss(spark, sources).withColumnRenamed("id_source", "source")
    dim = generate_date_dim(spark, "2023-01-01 00:00:00", "2023-01-07 23:00:00")
    news = FX.news_existing_df(spark).drop("id").limit(0)
    out = run_pipeline(
        articles=articles.withColumnRenamed("source", "id_source"),
        references=FX.references_df(spark),
        date_dim=dim,
        news_existing=news,
    )
    rows = {r["title"]: r for r in out.collect()}
    assert len(rows) == 3
    # wall-clock hour of the +0100 pubDate is kept (L9 oracle mode)
    assert rows["alpha story"]["id_date"] == 2023010215
    assert rows["gamma story"]["id_date"] == 2023010410  # 2-digit year form
    assert rows["alpha story"]["media"] == "https://example.test/a.jpg"


def test_rss_permissive_skips_broken_feed(spark, tmp_path):
    """permissive=true: one malformed feed yields zero rows while healthy
    feeds still parse; default strict mode raises (reference posture)."""
    import json

    import pytest

    good, bad = tmp_path / "good.xml", tmp_path / "bad.xml"
    good.write_text(_FEED_XML)
    bad.write_text("<rss><channel><item><broken")
    register_rss_source(spark)
    feeds = json.dumps(
        [{"id": 1, "rss": str(good)}, {"id": 2, "rss": str(bad)}]
    )
    permissive = (
        spark.read.format("rss").option("feeds", feeds)
        .option("permissive", "true").load()
    )
    rows = permissive.collect()
    assert len(rows) == 3 and all(r["id_source"] == 1 for r in rows)
    strict = spark.read.format("rss").option("feeds", feeds).load()
    with pytest.raises(Exception):
        strict.collect()


def test_rss_stream_polls_feed(spark, tmp_path):
    """The rss format also reads as a polling STREAM (SimpleDataSource
    StreamReader): one micro-batch = one poll of every feed."""
    feed = tmp_path / "feed.xml"
    feed.write_text(_FEED_XML)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    register_rss_source(spark)
    stream = (
        spark.readStream.format("rss")
        .option("path", str(feed))
        .option("source_id", "5")
        .load()
    )
    q = (
        stream.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(once=True)
        .start()
    )
    q.awaitTermination(60)
    rows = spark.read.parquet(out).collect()
    assert sorted(r["title"] for r in rows) == [
        "alpha story", "beta story", "gamma story",
    ]
    assert all(r["id_source"] == 5 for r in rows)


def test_cli_end_to_end_idempotent(spark, tmp_path, capsys):
    """python -m newsmaper_etl_spark: bootstrap + fetch + transform +
    append onto a day-partitioned manifest table in one command; a replay
    appends nothing (anti-join), and --dedup drops the in-feed syndicated
    copy, compacts each day to one file and vacuums the old manifests."""
    import json
    import os
    from collections import Counter

    from newsmaper_etl_spark import manifest as M
    from newsmaper_etl_spark.__main__ import main

    alpha = _FEED_XML[_FEED_XML.index("    <item>"):_FEED_XML.index("    </item>") + 12]
    copy = alpha.replace("https://example.test/a<", "https://syndic.test/a<")
    fresh = (alpha.replace("alpha", "delta")
             .replace("15:04:05 +0100", "18:00:00 +0100"))  # same day, new key
    round1 = _FEED_XML.replace(alpha, alpha + copy)
    round2 = round1.replace(alpha, alpha + fresh, 1)
    feed = tmp_path / "feed.xml"
    csv = tmp_path / "sources.csv"
    csv.write_text(f"name,website,rss\nLocal,https://l.test,{feed}\n")
    refs = tmp_path / "references.json"
    refs.write_text('[{"id": 7, "name": "Espagne", "words": ["madrid"]}]')
    wh = str(tmp_path / "wh")
    table = os.path.join(wh, "news")
    argv = [
        "--warehouse", wh,
        "--sources-csv", str(csv),
        "--references-json", str(refs),
        "--date-start", "2023-01-01 00:00:00",
        "--date-end", "2023-01-07 23:00:00",
    ]

    def run(xml, *extra):
        feed.write_text(xml)
        capsys.readouterr()
        assert main(argv + list(extra)) == 0
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    # the three canned items plus the syndicated copy of alpha
    assert run(round1) == {"appended": 4, "news_total": 4}
    assert run(round1) == {"appended": 0, "news_total": 4}  # replay
    assert run(round2) == {"appended": 1, "news_total": 5}

    assert os.path.exists(os.path.join(table, "_LATEST"))
    assert not [n for _, _, names in os.walk(table) for n in names
                if n == "_SUCCESS"]
    assert M._load_manifest(table, M.current_version(table))["partition_by"] == [
        "p_date"
    ]

    out = run(round2, "--dedup")
    keys = ("id_source", "id_date", "title")
    rows = M.read_table(spark, table)
    distinct = rows.select(*keys).distinct().count()
    assert out == {"appended": 0, "news_total": distinct}
    assert distinct == rows.count() == 4
    live = M._load_manifest(table, M.current_version(table))["files"]
    assert set(Counter(e["partition"]["p_date"] for e in live).values()) == {1}
    hist = M.history(table)
    assert hist[-1]["op"] == "compact"
    assert all(h == {"version": h["version"], "vacuumed": True}
               for h in hist[:-1])


def test_cli_refuses_plain_parquet_news(tmp_path):
    """A warehouse whose news directory is not a manifest table is
    refused before any Spark work: appending there would mix formats."""
    import pytest

    from newsmaper_etl_spark.__main__ import main

    (tmp_path / "wh" / "news" / "p_date=20230102").mkdir(parents=True)
    with pytest.raises(SystemExit):
        main(["--warehouse", str(tmp_path / "wh"), "--sources-csv", "s.csv",
              "--references-json", "r.json"])


def test_read_sources_csv_assigns_serial_ids(spark, tmp_path):
    csv = tmp_path / "sources.csv"
    csv.write_text(
        "name,website,rss\n"
        "First,https://a.test,https://a.test/rss\n"
        "Second,https://b.test,https://b.test/rss\n"
    )
    df = read_sources_csv(spark, str(csv))
    rows = sorted(map(tuple, df.select("id", "name").collect()))
    assert rows == [(1, "First"), (2, "Second")]


def test_read_references_json(spark, tmp_path):
    j = tmp_path / "references.json"
    j.write_text(
        '[{"id": 7, "name": "Espagne", "words": ["madrid", "barcelone"]},'
        ' {"id": 44, "name": "Royaume-Uni", "words": ["londres"]}]'
    )
    df = read_references_json(spark, str(j))
    rows = {r["id"]: r for r in df.collect()}
    assert rows[7]["words"] == ["madrid", "barcelone"]
    assert rows[44]["name"] == "Royaume-Uni"


def test_parse_rss_media_group_is_found():
    """Standard MRSS nests media:content inside media:group; the
    descendant walk must find it (the reference's find('content') is
    recursive), instead of degrading media to the 'null' sentinel."""
    from newsmaper_etl_spark.sources.rss import parse_rss_items

    xml = b"""<?xml version="1.0"?>
    <rss xmlns:media="http://search.yahoo.com/mrss/"><channel>
      <item>
        <title>grouped</title><link>l</link>
        <media:group>
          <media:content url="https://x/img.jpg"/>
        </media:group>
      </item>
      <item>
        <title>bare</title><link>l2</link>
      </item>
    </channel></rss>"""
    items = {i["title"]: i for i in parse_rss_items(xml)}
    assert items["grouped"]["media"] == "https://x/img.jpg"
    assert items["bare"]["media"] == "null"


def test_fetch_file_urls(tmp_path):
    """file:// URLs go through a real URL parse: localhost authority and
    percent-encoded paths both resolve; foreign authorities are
    rejected."""
    import pytest

    from newsmaper_etl_spark.sources.rss import _fetch

    target = tmp_path / "my feed.xml"
    target.write_bytes(b"<rss/>")
    plain = tmp_path / "plain.xml"
    plain.write_bytes(b"<rss/>")
    assert _fetch(f"file://{plain}", 5.0) == b"<rss/>"
    assert _fetch(f"file://localhost{plain}", 5.0) == b"<rss/>"
    enc = str(target).replace(" ", "%20")
    assert _fetch(f"file://{enc}", 5.0) == b"<rss/>"
    with pytest.raises(ValueError, match="authority"):
        _fetch("file://otherhost/x.xml", 5.0)


def test_read_jdbc_requires_bounds_with_partition_column(spark):
    import pytest

    from newsmaper_etl_spark.io import read_jdbc

    with pytest.raises(ValueError, match="lower_bound and"):
        read_jdbc(spark, "jdbc:derby:memory:x", "t", partition_column="id")


# --------------------------------------------------------------------------
# Live HTTP integration (stdlib http.server) — round 6
# --------------------------------------------------------------------------

class _FeedHTTPServer:
    """Localhost HTTP server serving the fixture feed plus failure
    endpoints (timeout / non-200 / malformed XML), so the http:// branch
    of _fetch and the permissive-vs-strict contract run end to end
    through spark.read.format('rss') instead of only file:// fixtures
    (VERDICT r05 'do this' #6)."""

    def __enter__(self):
        import http.server
        import threading
        import time as _time

        feed_xml = _FEED_XML.encode()

        class Handler(http.server.BaseHTTPRequestHandler):
            def do_GET(self):
                if self.path == "/feed.xml":
                    self.send_response(200)
                    self.send_header("Content-Type", "application/rss+xml")
                    self.end_headers()
                    self.wfile.write(feed_xml)
                elif self.path == "/malformed.xml":
                    self.send_response(200)
                    self.end_headers()
                    self.wfile.write(b"<rss><channel><item><title>unclosed")
                elif self.path == "/slow.xml":
                    _time.sleep(5)
                    self.send_response(200)
                    self.end_headers()
                    self.wfile.write(feed_xml)
                else:
                    self.send_response(404)
                    self.end_headers()
                    self.wfile.write(b"not here")

            def log_message(self, *a):  # keep pytest output clean
                pass

        self.httpd = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self.port = self.httpd.server_address[1]
        self.thread = threading.Thread(target=self.httpd.serve_forever, daemon=True)
        self.thread.start()
        return self

    def __exit__(self, *exc):
        self.httpd.shutdown()
        self.httpd.server_close()

    def url(self, path):
        return f"http://127.0.0.1:{self.port}{path}"


def test_rss_http_end_to_end(spark):
    """A real HTTP fetch through the registered source: items parse, the
    media fallback applies, one partition per feed."""
    import json

    from newsmaper_etl_spark.sources.rss import register_rss_source

    register_rss_source(spark)
    with _FeedHTTPServer() as srv:
        feeds = json.dumps([{"id": 7, "rss": srv.url("/feed.xml")}])
        df = spark.read.format("rss").option("feeds", feeds).load()
        rows = {r["title"]: r for r in df.collect()}
    assert set(rows) == {"alpha story", "beta story", "gamma story"}
    assert rows["alpha story"]["id_source"] == 7
    assert rows["alpha story"]["media"] == "https://example.test/a.jpg"


def test_rss_http_failure_paths(spark):
    """non-200 and malformed-XML feeds: strict mode fails the read,
    permissive mode yields the healthy feed's rows and zero from the
    broken ones; a sub-timeout endpoint times out without hanging."""
    import json

    import pytest as _pytest

    from newsmaper_etl_spark.sources.rss import _fetch, register_rss_source

    register_rss_source(spark)
    with _FeedHTTPServer() as srv:
        # strict: the 404 aborts the read
        feeds = json.dumps(
            [{"id": 1, "rss": srv.url("/feed.xml")},
             {"id": 2, "rss": srv.url("/missing.xml")}]
        )
        with _pytest.raises(Exception):
            spark.read.format("rss").option("feeds", feeds).load().collect()
        # permissive: broken feeds contribute zero rows, healthy one reads
        feeds3 = json.dumps(
            [{"id": 1, "rss": srv.url("/feed.xml")},
             {"id": 2, "rss": srv.url("/missing.xml")},
             {"id": 3, "rss": srv.url("/malformed.xml")}]
        )
        out = (
            spark.read.format("rss").option("feeds", feeds3)
            .option("permissive", "true").load().collect()
        )
        assert len(out) == 3 and {r["id_source"] for r in out} == {1}
        # timeout: urlopen honors the configured timeout instead of hanging
        import time as _time

        t0 = _time.monotonic()
        with _pytest.raises(Exception):
            _fetch(srv.url("/slow.xml"), timeout=0.5)
        assert _time.monotonic() - t0 < 4.0
