"""Tests of the benchmark's own pieces (no Spark needed).

Run from the root of a checkout: ``python3 -m pytest perfbench -q``.
"""

import io
import json
import os
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import report  # noqa: E402
import tracing as tr  # noqa: E402


def _bytes(seed: int) -> bytes:
    c = gen.generate_corpus(300, seed)
    parts = [c.pages] + [b.updates for b in gen.change_batches(c, 3, seed)]
    buf = io.BytesIO()
    for t in parts:
        pq.write_table(t, buf)
    buf.write(json.dumps([gen.serve_queries(c, 50, seed),
                          gen.scale_queries(c, 12, seed)]).encode())
    return buf.getvalue()


def test_same_seed_same_bytes_other_seed_different():
    assert _bytes(7) == _bytes(7)
    assert _bytes(7) != _bytes(8)


def test_corpus_shape():
    c = gen.generate_corpus(1000, 3)
    pdf = c.pages.to_pandas()
    assert pdf["url"].is_unique
    assert pdf["text"].isna().sum() == 200            # every fifth row
    assert pdf["html"].map(lambda h: b"<script>" in h).sum() == 100
    text = " ".join(pdf["text"].dropna())
    assert "state-of-the-art" in text and "café" in text
    assert pdf["lang"].value_counts().idxmax() == "en"


def test_serve_log_hot_and_tail_shares():
    c = gen.generate_corpus(300, 4)
    log = gen.serve_queries(c, 1000, 4)
    tail = [q["pop"] == "tail" for q in log]
    assert all(sum(tail[i:i + 10]) == 3 for i in range(0, 1000, 10))
    hot_terms = set(c.vocab[:gen.HOT_TERMS])
    for q in log:
        if q["pop"] == "hot" and q["kind"] in ("match_or", "match_and",
                                               "bool_filter"):
            assert set(q["text"].split()) <= hot_terms


def test_batches_touch_each_url_once_and_mark_inserts():
    c = gen.generate_corpus(500, 5)
    batches = gen.change_batches(c, 4, 5)
    urls = [u for b in batches for u in b.updates.column("url").to_pylist()]
    assert len(urls) == len(set(urls)) + sum(len(b.deleted_inserts)
                                             for b in batches)
    for b in batches:
        texts = dict(zip(b.updates.column("url").to_pylist(),
                         b.updates.column("text").to_pylist()))
        for mark, url in b.inserts.items():
            assert texts[url].endswith(" " + mark)
    final = gen.apply_batches(c.pages, batches)
    live = set(final.column("url").to_pylist())
    for b in batches:
        assert not live & set(b.deleted_base)
        assert not live & set(b.deleted_inserts.values())


def test_self_time_subtracts_children():
    rec = tr.Recorder()
    with rec.span("op.x", 1):
        s = rec.begin("child")
        rec.end(s)
    (root,) = [x for x in rec.spans if x.name == "op.x"]
    (child,) = [x for x in rec.spans if x.name == "child"]
    assert child.parent == root.sid and child.rid == 1
    st = rec.self_times()
    assert st["op.x"] == pytest.approx((root.end - root.start)
                                       - (child.end - child.start))


def test_benchmark_json_matches_report():
    root = os.path.dirname(HERE)
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == \
        report.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == \
        report.PER_LAYER
    import workloads
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)
