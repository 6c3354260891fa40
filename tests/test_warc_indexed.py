"""Index-driven ranged WARC reads: byte-identical pages vs the full
scan on a filtered subset, and IO accounting proving only the matched
members' bytes are read."""

import os

import pytest

pyspark = pytest.importorskip("pyspark")

from nreadability_spark.spark.pages import synthesize_warc_dir  # noqa: E402
from nreadability_spark.spark.sources import (read_pages_warc,  # noqa: E402
                                              read_pages_warc_indexed,
                                              warc_index_write)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.001")
PRED = "surt like 'org,example,host7)%'"


@pytest.fixture(scope="module")
def spark():
    from nreadability_spark.spark.session import get_spark
    s = get_spark("warc-indexed-tests", master="local[4]",
                  shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="module")
def warc_dir():
    return synthesize_warc_dir(SF_DIR)


@pytest.fixture(scope="module")
def index_dir(spark, warc_dir, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("cdx"))
    warc_index_write(spark, warc_dir, d, n_shards=4)
    return d


def _rows(df):
    return sorted((r["url"], r["warc_ts"],
                   bytes(r["html"]) if r["html"] is not None else None,
                   r["text"], r["lang"]) for r in df.collect())


def test_indexed_read_byte_identical_to_full_scan(spark, warc_dir,
                                                  index_dir):
    got = _rows(read_pages_warc_indexed(spark, index_dir, warc_dir, PRED))
    full = _rows(read_pages_warc(spark, warc_dir).where(
        "url like 'https://host7.example.org/%'"))
    assert len(got) > 0
    assert got == full


def test_indexed_read_touches_only_matched_members(spark, warc_dir,
                                                   index_dir):
    stats = read_pages_warc_indexed(spark, index_dir, warc_dir, PRED,
                                    with_stats=True).collect()
    assert len(stats) > 0
    # every ranged read returned exactly the member's length — nothing
    # before the offset or past offset+length was touched
    assert all(r["bytes_read"] == r["length"] for r in stats)
    members = {(r["file"], r["offset"], r["length"]) for r in stats}
    read_bytes = sum(ln for _, _, ln in members)
    total_bytes = sum(
        os.path.getsize(os.path.join(warc_dir, f))
        for f in os.listdir(warc_dir) if f.endswith(".warc.gz"))
    # one host out of 97: the ranged reads must be a small fraction of
    # the archive, not a disguised full scan
    assert read_bytes < total_bytes / 10
    files_in_dir = set(os.listdir(warc_dir))
    assert {f for f, _, _ in members} <= files_in_dir


def test_indexed_read_empty_selection(spark, warc_dir, index_dir):
    out = read_pages_warc_indexed(spark, index_dir, warc_dir,
                                  "surt like 'zz,nosuch)%'")
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == \
        ["url", "warc_ts", "html", "text", "lang"]


def _record(url: str, html: bytes) -> bytes:
    from nreadability_spark.spark.pages import _warc_head
    http = b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + html
    return _warc_head("response", url, "2026-01-01T00:00:00Z",
                      len(http)) + http + b"\r\n\r\n"


def test_indexed_read_of_multi_record_member(spark, tmp_path):
    """A whole-file-gzip WARC is one member holding every record: the
    member is read once and only the selected records come back, through
    one exchange (the member grouping reuses the file partitioning)."""
    import contextlib
    import gzip
    import io
    import re
    warc = tmp_path / "warc"
    warc.mkdir()
    urls = [f"https://multi.example.org/p{i}" for i in range(3)]
    (warc / "whole.warc.gz").write_bytes(gzip.compress(b"".join(
        _record(u, f"<html><p>page {i}</p></html>".encode())
        for i, u in enumerate(urls)), mtime=0))
    idx = str(tmp_path / "cdx")
    warc_index_write(spark, str(warc), idx, n_shards=2)
    df = read_pages_warc_indexed(
        spark, idx, str(warc), f"url in ('{urls[0]}', '{urls[2]}')",
        with_stats=True)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    assert len(re.findall(r"^\(\d+\) Exchange", buf.getvalue(),
                          re.MULTILINE)) == 1
    got = df.collect()
    assert sorted(r["url"] for r in got) == [urls[0], urls[2]]
    assert len({(r["file"], r["offset"], r["length"]) for r in got}) == 1
    assert all(r["bytes_read"] == r["length"] for r in got)
