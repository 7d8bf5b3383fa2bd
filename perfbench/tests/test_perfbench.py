"""The benchmark's own tests: seeded inputs, the re-crawl share, the metric
names against BENCHMARK.json, and span self times.

    python -m pytest perfbench/tests -q
"""

import argparse
import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import run, workloads  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402


def _files(d):
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            out[name] = f.read()
    return out


@pytest.mark.parametrize("workload", workloads.WORKLOADS)
def test_same_seed_same_bytes(tmp_path, workload):
    workloads.write_corpus(workload, str(tmp_path / "a"), 120, seed=7)
    workloads.write_corpus(workload, str(tmp_path / "b"), 120, seed=7)
    workloads.write_corpus(workload, str(tmp_path / "c"), 120, seed=8)
    a, b, c = (_files(tmp_path / x) for x in "abc")
    assert a == b
    assert a["pages.parquet"] != c["pages.parquet"]


def test_recrawl_share_and_copies():
    pages, _, trips, recrawls = workloads._recrawl_pages(2000, seed=3)
    assert abs(len(recrawls) / len(pages) - workloads.RECRAWL_SHARE) < 0.05
    by_url = {p["url"]: p for p in pages}
    order = {p["url"]: i for i, p in enumerate(pages)}
    truth: dict[str, list] = {}
    for url, *t in trips:
        truth.setdefault(url, []).append(tuple(t))
    originals = set()
    for url, orig in recrawls:
        copy, src = by_url[url], by_url[orig]
        assert order[orig] < order[url]  # re-crawls an EARLIER page
        assert copy["text"] == src["text"] and copy["html"] == src["html"]
        assert copy["lang"] == src["lang"]
        assert copy["warc_ts"] > src["warc_ts"]
        assert sorted(truth.get(url, [])) == sorted(truth.get(orig, []))
        assert len(src["text"]) < workloads.POPULAR_MAX_CHARS
        originals.add(orig)
    assert len(originals) <= workloads.POPULAR_PAGES
    texts = {p["text"] for p in pages}
    assert len(texts) == len(pages) - len(recrawls)


def test_uniform_texts_distinct(tmp_path):
    workloads.write_corpus("pipeline_uniform", str(tmp_path), 300, seed=5)
    props = workloads.input_properties(str(tmp_path))
    assert props["distinct_text_share"] == 1.0
    assert props["recrawl_share"] == 0.0


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_match_benchmark_json():
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)


@pytest.mark.parametrize("trace", [0, 1])
def test_result_prints_exactly_the_spec_metrics(trace):
    spec = _spec()
    args = argparse.Namespace(
        workload="pipeline_uniform", seed=1, seconds=1, trace=trace
    )
    r = run.Run(args, "unused", spec)
    r.attempted = 1
    key = "per_layer" if trace else "end_to_end"
    metrics = {m["name"]: 1.5 for m in spec[key]}
    out = r.result(metrics)
    assert out["correct"] and set(out["metrics"]) == set(metrics)
    assert all(v["unit"] for v in out["metrics"].values())
    metrics.popitem()
    with pytest.raises(RuntimeError):
        r.result(metrics)


def test_self_time_subtracts_children():
    tr = Tracer("t")
    with tr.span("outer"):
        with tr.span("inner"):
            pass
        with tr.span("inner"):
            pass
    (outer,) = tr.durations("outer")
    inner = sum(tr.durations("inner"))
    st = tr.self_times()
    assert st["inner"] == pytest.approx(inner)
    assert st["outer"] == pytest.approx(outer - inner)
    assert [s["parent"] for s in tr.spans] == [None, 0, 0]
