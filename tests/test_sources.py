"""JSONL permissive reads (S4), checkpoint resume (S9/J3), the
inverted-index round trip (S10), and the load_table schema contract
(guards against testdata timestamp-encoding drift)."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from llm_enhanced_data_pipeline_spark.sources import inverted_index, jsonl
from llm_enhanced_data_pipeline_spark.sources.checkpoint import ParquetCheckpoint
from llm_enhanced_data_pipeline_spark.tables import TABLE_NAMES, load_table


def test_jsonl_permissive_corrupt_lines(spark, tmp_path):
    path = str(tmp_path / "raw.jsonl")
    with open(path, "w") as f:
        f.write('{"paper_id": "p1", "title": "ok"}\n')
        f.write("this is not json at all\n")
        f.write('{"paper_id": "p2", "title": "also ok"}\n')
        f.write('{"paper_id": "p3", "title": truncated\n')
    schema = T.StructType(
        [T.StructField("paper_id", T.StringType()), T.StructField("title", T.StringType())]
    )
    df = jsonl.read_jsonl(spark, path, schema=schema)
    valid = jsonl.valid_lines(df).select("paper_id").collect()
    assert sorted(r.paper_id for r in valid) == ["p1", "p2"]
    assert jsonl.corrupt_lines(df).count() == 2


def test_jsonl_roundtrip(spark, tmp_path):
    out = str(tmp_path / "out")
    df = spark.createDataFrame([Row(paper_id="p1", n=1), Row(paper_id="p2", n=2)])
    jsonl.write_jsonl(df, out)
    back = spark.read.json(out)
    assert sorted(r.paper_id for r in back.collect()) == ["p1", "p2"]


def test_checkpoint_resume_skips_processed(spark, tmp_path):
    ckpt = ParquetCheckpoint(spark, str(tmp_path / "ckpt"), key="paper_id")
    todo = spark.createDataFrame(
        [Row(paper_id="p%d" % i, payload=i) for i in range(10)]
    )
    assert ckpt.remaining(todo).count() == 10

    first_batch = todo.filter(F.col("payload") < 4).withColumn("result", F.col("payload") * 2)
    ckpt.append(first_batch)
    remaining = ckpt.remaining(todo)
    assert remaining.count() == 6
    assert set(r.paper_id for r in remaining.collect()) == {"p%d" % i for i in range(4, 10)}

    second = remaining.withColumn("result", F.col("payload") * 2)
    full = ckpt.append(second)
    assert ckpt.remaining(todo).count() == 0
    assert ckpt.load().count() == 10
    # append returns checkpointed ∪ new, each paper once
    assert sorted(r.paper_id for r in full.collect()) == sorted("p%d" % i for i in range(10))


# --- load_table schema contract -------------------------------------------
#
# The driver has regenerated the testdata with a different physical
# timestamp encoding once already (TIMESTAMP(NANOS) → timestamp[us]);
# these tests pin the canonical contract so the next drift fails loudly
# in CI instead of at driver time.

_EVENT_NANOS = [1704067207179575000, 1704067432824425000, 1704067589165275000]


def _write_events(tmp_path, ts_array) -> str:
    table = pa.table(
        {
            "event_id": pa.array([0, 1, 2], pa.int64()),
            "ts": ts_array,
            "user_id": pa.array([10, 11, 12], pa.int64()),
            "event_type": pa.array(["a", "b", "c"]),
            "value": pa.array([1.0, 2.0, 3.0]),
            "props": pa.array(["{}", "{}", "{}"]),
        }
    )
    pq.write_table(table, str(tmp_path / "events.parquet"))
    return str(tmp_path)


@pytest.mark.parametrize(
    "vintage, ts_array",
    [
        ("nanos", pa.array(_EVENT_NANOS, pa.timestamp("ns"))),
        ("micros_ntz", pa.array([n // 1000 for n in _EVENT_NANOS], pa.timestamp("us"))),
        (
            "micros_utc",
            pa.array([n // 1000 for n in _EVENT_NANOS], pa.timestamp("us", tz="UTC")),
        ),
    ],
    ids=["nanos", "micros_ntz", "micros_utc"],
)
def test_events_loader_normalizes_every_timestamp_vintage(spark, tmp_path, vintage, ts_array):
    sf_dir = _write_events(tmp_path, ts_array)
    ev = load_table(spark, "events", sf_dir)
    dtypes = dict(ev.dtypes)
    assert dtypes["ts"] == "bigint"
    assert dtypes["ts_epoch_s"] == "bigint"
    assert dtypes["ts_ts"] == "timestamp"
    got = [r.ts for r in ev.orderBy("event_id").select("ts").collect()]
    want = (
        _EVENT_NANOS
        if vintage == "nanos"
        else [n // 1000 * 1000 for n in _EVENT_NANOS]  # micro precision
    )
    assert got == want
    secs = [r.ts_epoch_s for r in ev.orderBy("event_id").select("ts_epoch_s").collect()]
    assert secs == [n // 1_000_000_000 for n in _EVENT_NANOS]


def test_raw_events_read_violates_contract(spark, tmp_path):
    # Sanity check that the probe has teeth: a raw spark.read.parquet of
    # the current-vintage file does NOT satisfy the canonical contract.
    sf_dir = _write_events(
        tmp_path, pa.array([n // 1000 for n in _EVENT_NANOS], pa.timestamp("us"))
    )
    raw = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    assert dict(raw.dtypes)["ts"] != "bigint"


# The canonical dtype contract every registered query assumes. events is
# normalized by load_table; documents/embeddings are raw reads, so these
# pins are the tripwire for a driver-side testdata regeneration changing
# physical types (the round-3 events drift, generalized): CI fails here,
# not in CORRECTNESS.
CANONICAL_DTYPES = {
    "events": {
        "event_id": "bigint",
        "ts": "bigint",
        "ts_epoch_s": "bigint",
        "ts_ts": "timestamp",
        "user_id": "bigint",
        "value": "double",
    },
    # full-column pins: every column, not just the load-bearing two
    "documents": {
        "doc_id": "bigint",
        "text": "string",
        "lang": "string",
        "source": "string",
        "n_chars": "bigint",
    },
    "embeddings": {"vec_id": "bigint", "embedding": "array<float>", "label": "int"},
    "lineitem": {"l_orderkey": "bigint", "l_quantity": "double"},
}


def _violations(df, name):
    dtypes = dict(df.dtypes)
    return {
        f"{name}.{col}": (dtypes.get(col), dt)
        for col, dt in CANONICAL_DTYPES.get(name, {}).items()
        if dtypes.get(col) != dt
    }


def test_load_table_canonical_dtypes_all_tables(spark, sf_dir):
    for name in TABLE_NAMES:
        df = load_table(spark, name, sf_dir)
        assert dict(df.dtypes), name
        assert not _violations(df, name)


def test_dtype_drift_guard_has_teeth(spark, tmp_path):
    """Simulated testdata regeneration drift: documents.n_chars shipped
    as int32 and embeddings as float64 vectors must violate the pinned
    contract (the guard fails loudly instead of CORRECTNESS failing
    downstream)."""
    drift_docs = pa.table(
        {
            "doc_id": pa.array([1, 2], pa.int64()),
            "text": pa.array(["a", "b"]),
            "lang": pa.array(["en", "de"]),
            "source": pa.array(["s0", "s1"]),
            "n_chars": pa.array([1, 1], pa.int32()),  # drifted: was int64
        }
    )
    drift_emb = pa.table(
        {
            "vec_id": pa.array([1], pa.int64()),
            # drifted: float64 vectors (was float32)
            "embedding": pa.array([[0.1, 0.2]], pa.list_(pa.float64())),
            "label": pa.array([0], pa.int32()),
        }
    )
    pq.write_table(drift_docs, str(tmp_path / "documents.parquet"))
    pq.write_table(drift_emb, str(tmp_path / "embeddings.parquet"))
    docs = load_table(spark, "documents", str(tmp_path))
    emb = load_table(spark, "embeddings", str(tmp_path))
    assert _violations(docs, "documents") == {"documents.n_chars": ("int", "bigint")}
    assert _violations(emb, "embeddings") == {
        "embeddings.embedding": ("array<double>", "array<float>")
    }


def test_inverted_index_roundtrip_preserves_duplicates(spark):
    df = spark.createDataFrame([Row(text="the cat and the hat and more")])
    toks = F.split(F.col("text"), " ")
    idx = inverted_index.build_inverted_index(toks)
    rebuilt = inverted_index.reconstruct_text(idx)
    out = df.select(rebuilt.alias("r")).collect()[0].r
    assert out == "the cat and the hat and more"


def test_warc_roundtrip_gzip_members_and_quarantine(spark):
    """WARC reader: plain + gzip-member-per-record (Common Crawl
    layout) roundtrips incl. binary content, 1->N Spark expansion with
    corrupt-payload quarantine, and the malformed-container contract."""
    from llm_enhanced_data_pipeline_spark.sources import warc

    recs = [
        {"headers": {"WARC-Type": "response",
                     "WARC-Target-URI": "http://a.example/1"},
         "content": b"<html>hello</html>"},
        {"headers": {"WARC-Type": "request",
                     "WARC-Target-URI": "http://a.example/1"},
         "content": b"GET / HTTP/1.1"},
        {"headers": {"WARC-Type": "response",
                     "WARC-Target-URI": "http://b.example/2"},
         "content": bytes(range(256))},  # binary payload survives
    ]
    for gz in (False, True):
        back = warc.parse_warc_records(warc.write_warc(recs, gzip_members=gz))
        assert len(back) == 3, gz
        assert back[0]["headers"]["warc-type"] == "response"
        assert back[0]["content"] == b"<html>hello</html>"
        assert back[2]["content"] == bytes(range(256))
        assert back[1]["headers"]["warc-target-uri"] == "http://a.example/1"

    blob = warc.write_warc(recs, gzip_members=True)
    rows = [
        Row(doc_id=1, payload=blob),
        Row(doc_id=2, payload=blob[: len(blob) // 2]),  # truncated member
        Row(doc_id=3, payload=b"HTTP/1.1 200 OK\r\n\r\n"),  # not WARC
        Row(doc_id=4, payload=None),
    ]
    out = warc.read_warc_records(
        spark.createDataFrame(rows), "doc_id", "payload"
    ).collect()
    assert {r.doc_id for r in out} == {1}  # corrupt docs quarantined
    assert len(out) == 3  # 1 -> N expansion
    by_idx = {r.rec_idx: r for r in out}
    assert by_idx[0].warc_type == "response"
    assert by_idx[0].content_text == "<html>hello</html>"
    assert by_idx[2].content_length == 256

    plain = warc.write_warc(recs)
    for bad in [None, b"", b"WARC/1.0", plain[: len(plain) // 2], plain[:-2],
                b"WARC/1.0\r\nWARC-Type: x\r\n\r\nabc\r\n\r\n"]:  # no CL
        with pytest.raises(ValueError):
            warc.parse_warc_records(bad)


def test_warc_http_envelope_split(spark):
    """parse_http=True splits the HTTP envelope inside response
    records (status, Content-Type, body) and passes non-HTTP records
    through with a null status."""
    from llm_enhanced_data_pipeline_spark.sources import warc

    status, headers, body = warc.split_http_response(
        b"HTTP/1.1 301 Moved\r\nLocation: /x\r\nContent-Type: a/b\r\n\r\nBODY"
    )
    assert (status, body) == (301, b"BODY")
    assert headers == {"location": "/x", "content-type": "a/b"}
    # non-HTTP content flows through unsplit
    assert warc.split_http_response(b"GET / HTTP/1.1") == (None, {}, b"GET / HTTP/1.1")
    # headerless/malformed status lines flow through too, never raise
    assert warc.split_http_response(b"HTTP/1.1 weird\r\n\r\nx")[0] is None

    recs = [
        {"headers": {"WARC-Type": "response", "WARC-Target-URI": "u0"},
         "content": b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n<p>hi</p>"},
        {"headers": {"WARC-Type": "request", "WARC-Target-URI": "u1"},
         "content": b"GET / HTTP/1.1"},
    ]
    rows = [Row(doc_id=1, payload=warc.write_warc(recs, gzip_members=True))]
    out = {
        r.rec_idx: r
        for r in warc.read_warc_records(
            spark.createDataFrame(rows), "doc_id", "payload", parse_http=True
        ).collect()
    }
    assert out[0].http_status == 200
    assert out[0].http_content_type == "text/html"
    assert out[0].body_text == "<p>hi</p>"
    assert out[1].http_status is None
    assert out[1].body_text == "GET / HTTP/1.1"


def test_warc_writer_header_hygiene_and_mandatory_fields():
    """r9 ADVICE: write_warc must reject CR/LF in header names/values
    (framing corruption / header smuggling from untrusted crawl
    headers) and auto-fill the ISO 28500 mandatory named fields
    (WARC-Type, WARC-Date, WARC-Record-ID) deterministically."""
    from llm_enhanced_data_pipeline_spark.sources import warc

    back = warc.parse_warc_records(
        warc.write_warc([{"headers": {}, "content": b"x"}])
    )
    assert back[0]["headers"]["warc-type"] == "resource"
    assert back[0]["headers"]["warc-date"] == "1970-01-01T00:00:00Z"
    assert back[0]["headers"]["warc-record-id"].startswith("<urn:uuid:")
    # deterministic: same records -> byte-identical stream
    recs = [{"headers": {"WARC-Type": "response"}, "content": b"abc"}]
    assert warc.write_warc(recs) == warc.write_warc(recs)
    # caller-supplied mandatory fields are preserved, not overwritten
    keep = warc.parse_warc_records(
        warc.write_warc(
            [{"headers": {"WARC-Date": "2020-01-02T03:04:05Z"},
              "content": b"y"}]
        )
    )
    assert keep[0]["headers"]["warc-date"] == "2020-01-02T03:04:05Z"
    for bad in [
        {"headers": {"X-Evil": "a\r\nWARC-Type: smuggled"}, "content": b""},
        {"headers": {"X\nY": "v"}, "content": b""},
        {"headers": {"A:B": "v"}, "content": b""},
        {"headers": {"": "v"}, "content": b""},
    ]:
        with pytest.raises(ValueError):
            warc.write_warc([bad])


def test_split_http_response_bare_lf_envelope():
    """r9 ADVICE: real crawl records terminate headers with bare LF
    too; CRLF-only splitting leaked raw HTTP headers into body_text."""
    from llm_enhanced_data_pipeline_spark.sources import warc

    status, headers, body = warc.split_http_response(
        b"HTTP/1.1 200 OK\nContent-Type: text/html\nX: y\n\n<p>hi</p>"
    )
    assert (status, body) == (200, b"<p>hi</p>")
    assert headers == {"content-type": "text/html", "x": "y"}
    # mixed: CRLF status line, LF-terminated header block
    status2, headers2, body2 = warc.split_http_response(
        b"HTTP/1.1 404 NF\r\nA: b\n\nBODY"
    )
    assert (status2, body2) == (404, b"BODY")
    assert headers2 == {"a": "b"}
    # CRLF envelope still splits on the CRLF boundary (no regression)
    s3, h3, b3 = warc.split_http_response(b"HTTP/1.1 200 OK\r\nA: b\r\n\r\nX")
    assert (s3, h3, b3) == (200, {"a": "b"}, b"X")
    # body containing \n\n after a CRLF separator is untouched
    s4, _, b4 = warc.split_http_response(b"HTTP/1.0 200 OK\r\n\r\na\n\nb")
    assert (s4, b4) == (200, b"a\n\nb")


def test_warc_autofilled_record_ids_hash_full_content():
    """r10 ADVICE: auto-filled WARC-Record-IDs digest the FULL content,
    so two records sharing position + a 64-byte prefix but diverging
    later get distinct IDs (merge-safe), while re-writing the same
    stream stays deterministic."""
    from llm_enhanced_data_pipeline_spark.sources import warc

    prefix = b"x" * 100
    a = warc.write_warc([{"headers": {}, "content": prefix + b"tail-A"}])
    b = warc.write_warc([{"headers": {}, "content": prefix + b"tail-B"}])

    def rid(blob):
        import re

        return re.search(rb"WARC-Record-ID: (<[^>]+>)", blob).group(1)

    assert rid(a) != rid(b)
    assert rid(a) == rid(warc.write_warc(
        [{"headers": {}, "content": prefix + b"tail-A"}]
    ))
