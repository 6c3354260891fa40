"""WARC sink round-trip: pages written by write_pages_warc must read
back byte-identically through read_pages_warc, and the output's
per-record gzip members must be addressable by warc_index."""

import glob
import gzip
import os

import pytest

pyspark = pytest.importorskip("pyspark")

from nreadability_spark.spark.pages import synthesize_pages  # noqa: E402
from nreadability_spark.spark.sources import (read_pages_warc,  # noqa: E402
                                              warc_index,
                                              write_pages_warc)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def spark():
    from nreadability_spark.spark.session import get_spark
    s = get_spark("warc-write-tests", master="local[4]",
                  shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="module")
def pages(spark):
    return synthesize_pages(spark, SF_DIR).limit(200).cache()


@pytest.fixture(scope="module")
def written(spark, pages, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("warc-out"))
    manifest = write_pages_warc(pages, out, num_files=4)
    return out, manifest.collect()


def _key_rows(df):
    from pyspark.sql import functions as F
    return {(r["url"], str(r["warc_ts"]), r["h"]) for r in
            df.select("url", "warc_ts",
                      F.md5("html").alias("h")).collect()}


def test_round_trip_byte_identical(spark, pages, written):
    out, _ = written
    back = read_pages_warc(spark, os.path.join(out, "*.warc.gz"))
    assert _key_rows(back) == _key_rows(pages)
    assert back.count() == pages.count()


def test_manifest_matches_files(pages, written):
    out, rows = written
    files = sorted(glob.glob(os.path.join(out, "*.warc.gz")))
    assert sorted(r["file"] for r in rows) == \
        [os.path.basename(f) for f in files]
    assert sum(r["records"] for r in rows) == pages.count()
    assert 0 < len(files) <= 4
    assert not glob.glob(os.path.join(out, "*.inprogress*"))


def test_per_record_gzip_members(written):
    """Each record is an independently-decodable member: decompressing
    the FIRST member of a segment must stop at one record (CC layout,
    what makes CDX ranged reads possible)."""
    out, _ = written
    path = sorted(glob.glob(os.path.join(out, "*.warc.gz")))[0]
    data = open(path, "rb").read()
    import zlib
    d = zlib.decompressobj(31)
    first = d.decompress(data)
    assert first.startswith(b"WARC/1.0\r\n")
    assert first.count(b"WARC/1.0\r\n") == 1
    assert len(d.unused_data) > 0  # more members follow
    assert d.unused_data[:2] == b"\x1f\x8b"


def test_output_is_indexable(spark, pages, written):
    out, _ = written
    idx = warc_index(spark, out)
    assert idx.count() == pages.count()
    # spot-check one (file, offset, length) member addresses its record
    r = idx.orderBy("file", "offset").limit(1).collect()[0]
    blob = open(os.path.join(out, r["file"]), "rb").read()
    member = blob[r["offset"]:r["offset"] + r["length"]]
    rec = gzip.decompress(member)
    assert f"WARC-Target-URI: {r['url']}".encode() in rec


@pytest.mark.parametrize("bad_url", [
    None,
    "https://a.example.org/x\r\nWARC-Type: request",
    "https://a.example.org/y\nX-Injected: 1",
], ids=["null", "crlf", "lf"])
def test_bad_url_raises_and_leaves_no_file(spark, tmp_path, bad_url):
    """A null url came back as the string 'None' and a CR/LF url injected
    a header that made the reader drop the record; both must fail the
    write, and the failed task must not leave a partial segment that
    warc_index(out_dir) would pick up."""
    import datetime as dt
    ts = dt.datetime(2026, 1, 1)
    rows = [(f"https://a.example.org/ok{i}", ts, b"<html>ok</html>")
            for i in range(3)] + [(bad_url, ts, b"<html>bad</html>")]
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary").coalesce(1)
    out = tmp_path / "warc-bad"
    with pytest.raises(Exception, match="cannot be a WARC-Target-URI"):
        write_pages_warc(pages, str(out), num_files=1)
    assert os.listdir(out) == []
