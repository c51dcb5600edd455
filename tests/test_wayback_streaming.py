"""Wayback streaming source tests: timestamp-watermark offsets, boundary
exclusion (CDX from= is inclusive), exact interval replay, readStream drain."""

from __future__ import annotations

import json

import pytest

from pyspark.sql.types import _parse_datatype_string

from duckdb_cloudflare_spark.sources.cdx import WAYBACK_ORDERED_FIELDS, build_wayback_cdx_url
from duckdb_cloudflare_spark.sources.wayback import WaybackMachineDataSource

EPOCH = "19960101000000"
T1, T2, T3 = "20240601120000", "20240602120000", "20240603120000"


def _csv(rows):
    return "\n".join(
        f"com,example)/{p} {ts} http://example.com/{p} text/html 200 DIG{i} 100"
        for i, (p, ts) in enumerate(rows)
    )


@pytest.fixture(scope="module")
def wb_fixtures(tmp_path_factory):
    d = tmp_path_factory.mktemp("wb_stream")

    def url_for(from_ts, to_ts=None):
        return build_wayback_cdx_url(
            "example.com",
            match_type="exact",
            fields_needed=list(WAYBACK_ORDERED_FIELDS),
            from_date=from_ts,
            to_date=to_ts or "",
            max_results=100,
        )

    manifest = {}
    # first poll from epoch: two snapshots exist
    (d / "b1.csv").write_text(_csv([("a", T1), ("b", T2)]))
    manifest[url_for(EPOCH)] = "b1.csv"
    # second poll from T2: T2 itself re-served (from= inclusive) + new T3
    (d / "b2.csv").write_text(_csv([("b", T2), ("c", T3)]))
    manifest[url_for(T2)] = "b2.csv"
    # third poll from T3: only the boundary record -> empty batch
    (d / "b3.csv").write_text(_csv([("c", T3)]))
    manifest[url_for(T3)] = "b3.csv"
    # replay interval (EPOCH, T2]
    (d / "r1.csv").write_text(_csv([("a", T1), ("b", T2)]))
    manifest[url_for(EPOCH, T2)] = "r1.csv"
    (d / "manifest.json").write_text(json.dumps(manifest))
    return str(d)


def _make_reader(fixture_dir):
    opts = {"url": "example.com", "fixture_dir": fixture_dir}
    src = WaybackMachineDataSource(opts)
    return src.simpleStreamReader(_parse_datatype_string(src.schema()))


def test_poll_advances_watermark_and_excludes_boundary(spark, wb_fixtures):
    r = _make_reader(wb_fixtures)
    start = r.initialOffset()
    assert start == {"from_ts": EPOCH}
    rows, o1 = r.read(start)
    assert len(rows) == 2 and o1 == {"from_ts": T2}
    rows2, o2 = r.read(o1)
    # T2 re-served by the API but excluded (already processed); only T3 is new
    assert len(rows2) == 1 and o2 == {"from_ts": T3}
    rows3, o3 = r.read(o2)
    assert rows3 == [] and o3 == o2


def test_replay_between_offsets(spark, wb_fixtures):
    r = _make_reader(wb_fixtures)
    replay = r.readBetweenOffsets({"from_ts": EPOCH}, {"from_ts": T2})
    assert len(replay) == 2
    assert r.readBetweenOffsets({"from_ts": T2}, {"from_ts": T2}) == []


def test_missing_url_filter_raises(spark, wb_fixtures):
    src = WaybackMachineDataSource({"fixture_dir": wb_fixtures})
    with pytest.raises(ValueError, match="URL filter"):
        src.simpleStreamReader(_parse_datatype_string(src.schema()))


def test_readstream_end_to_end(spark, wb_fixtures):
    from duckdb_cloudflare_spark.session import register_sources

    register_sources(spark)
    df = (
        spark.readStream.format("wayback_machine")
        .option("url", "example.com")
        .option("fixture_dir", wb_fixtures)
        .load()
    )
    q = (
        df.writeStream.format("memory")
        .queryName("wb_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("wb_stream").select("url").collect()
    assert {r["url"] for r in got} == {"http://example.com/a", "http://example.com/b"}


def test_paged_stream_reads_every_page(spark, tmp_path):
    # page_size splits one poll into offset pages; the stream reads them all
    manifest = {}
    for page in range(3):
        url = build_wayback_cdx_url(
            "example.com",
            fields_needed=list(WAYBACK_ORDERED_FIELDS),
            from_date=EPOCH,
            max_results=10,
            offset=10 * page,
        )
        rows = [(f"p{page}-{i}", f"202406{page + 1:02d}12{i:02d}00") for i in range(10)]
        (tmp_path / f"page{page}.csv").write_text(_csv(rows))
        manifest[url] = f"page{page}.csv"
    (tmp_path / "manifest.json").write_text(json.dumps(manifest))

    opts = {"url": "example.com", "fixture_dir": str(tmp_path),
            "page_size": "10", "max_results": "30"}
    src = WaybackMachineDataSource(opts)
    r = src.simpleStreamReader(_parse_datatype_string(src.schema()))
    rows, end = r.read(r.initialOffset())
    assert [row[0] for row in rows] == [
        f"http://example.com/p{page}-{i}" for page in range(3) for i in range(10)
    ]
    assert end == {"from_ts": "20240603120900"}
