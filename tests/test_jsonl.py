"""JSONL source/sink roundtrip + malformed-line quarantine contract."""

from __future__ import annotations

import os

from iconic_data_science_spark.sources.jsonl import read_jsonl, write_jsonl


def test_jsonl_roundtrip_documents(spark, sf_dir, tmp_path):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = str(tmp_path / "docs_jsonl")
    write_jsonl(docs, out)
    back = read_jsonl(
        spark,
        out,
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    ).select(*docs.columns)
    a = sorted(map(tuple, docs.collect()))
    b = sorted(map(tuple, back.collect()))
    assert a == b
    # shard layout: one json file per partition, line-splittable
    parts = [f for f in os.listdir(out) if f.startswith("part-")]
    assert parts and all(f.endswith(".json") for f in parts)


def test_jsonl_malformed_lines_quarantine(spark, tmp_path):
    p = tmp_path / "mixed.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "good line"}\n'
        "this is not json at all\n"
        '{"doc_id": 2, "text": "also good"}\n'
        '{"doc_id": "NaNope", "text": 3}\n'
    )
    df = read_jsonl(
        spark, str(p), "doc_id bigint, text string", keep_corrupt=True
    )
    rows = df.collect()
    assert len(rows) == 4  # PERMISSIVE: nothing dropped, job never fails
    good = {r.doc_id: r.text for r in rows if r._corrupt_record is None}
    assert good == {1: "good line", 2: "also good"}
    bad = [r for r in rows if r._corrupt_record is not None]
    assert len(bad) == 2
    assert all(r.doc_id is None for r in bad)  # quarantine shape


def test_jsonl_malformed_lines_dropped_by_default(spark, tmp_path):
    """keep_corrupt=False (the default) must DROP malformed lines, not
    surface them as all-null ghost rows."""
    p = tmp_path / "mixed2.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "good line"}\n'
        "this is not json at all\n"
        "\n"  # blank line: from_json('') -> NULL struct, must not ghost
        "   \t \n"  # whitespace-only line, same hazard
        '{"doc_id": 2, "text": "also good"}\n'
    )
    df = read_jsonl(spark, str(p), "doc_id bigint, text string")
    assert df.columns == ["doc_id", "text"]  # corrupt column projected away
    rows = sorted(map(tuple, df.collect()))
    assert rows == [(1, "good line"), (2, "also good")]
    # .count() must survive Catalyst column pruning over the internal
    # corrupt-record column (Spark disallows plans that reference ONLY it)
    assert df.count() == 2


def test_jsonl_dropmalformed_mode_normalized(spark, tmp_path):
    """mode="DROPMALFORMED" with the default keep_corrupt=False: the
    datasource reader accepted it, so the from_json drop path must not
    raise (from_json only supports PERMISSIVE/FAILFAST) — the corrupt-
    null filter already implements DROPMALFORMED's semantics."""
    p = tmp_path / "mixed4.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "ok"}\nnot json\n{"doc_id": 2, "text": "ok2"}\n'
    )
    df = read_jsonl(spark, str(p), "doc_id bigint, text string", mode="DROPMALFORMED")
    assert sorted(map(tuple, df.collect())) == [(1, "ok"), (2, "ok2")]


def test_jsonl_failfast_mode_raises_on_malformed(spark, tmp_path):
    import pytest
    from py4j.protocol import Py4JJavaError

    p = tmp_path / "mixed3.jsonl"
    p.write_text('{"doc_id": 1, "text": "ok"}\nnot json\n')
    df = read_jsonl(spark, str(p), "doc_id bigint, text string", mode="FAILFAST")
    with pytest.raises(Exception):
        df.collect()
