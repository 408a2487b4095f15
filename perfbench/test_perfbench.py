"""Tests of the benchmark itself (run from the repository root:
``python -m pytest perfbench -q``). They need no Spark session."""

from __future__ import annotations

import json
import os
import sys

import pandas as pd
import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import gen  # noqa: E402
import run  # noqa: E402
from spans import Span, StageTotals, Tracer  # noqa: E402


@pytest.fixture(scope="module")
def compare():
    return run.load_compare()


def _frame():
    return pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.25, 2.0], "s": ["a", "b", "c"]})


def test_compare_accepts_reordered_equal_rows(compare):
    assert compare("q", _frame(), _frame().iloc[::-1].reset_index(drop=True)) == []


def test_compare_rejects_perturbed_float(compare):
    bad = _frame()
    bad.loc[1, "v"] = 1.25 + 1e-9
    assert compare("q", _frame(), bad)


def test_compare_rejects_dropped_row(compare):
    assert compare("q", _frame(), _frame().iloc[:2])


def test_compare_rejects_extra_row(compare):
    extra = pd.concat([_frame(), _frame().iloc[:1]], ignore_index=True)
    assert compare("q", _frame(), extra)


SMALL = gen.Scale(sf=0.001, documents=40, embeddings=40)
def _files(d):
    return {t: open(os.path.join(d, f"{t}.parquet"), "rb").read() for t in gen.TABLES}


def test_generator_is_byte_identical_for_a_seed(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    gen.generate(a, 7, SMALL, copies=4)
    gen.generate(b, 7, SMALL, copies=4)
    gen.generate(c, 8, SMALL, copies=4)
    fa, fb, fc = _files(a), _files(b), _files(c)
    assert fa == fb
    # region and nation are fixed reference tables
    assert all(fa[t] != fc[t] for t in gen.TABLES if t not in ("region", "nation"))


def test_generator_manifest_counts_rows_and_bytes(tmp_path):
    m = gen.generate(str(tmp_path), 1, SMALL, copies=4)
    assert m["tables"]["documents"]["rows"] == 4 * SMALL.documents
    assert m["tables"]["embeddings"]["rows"] == 4 * SMALL.embeddings
    for t in gen.TABLES:
        assert m["tables"][t]["bytes"] == os.path.getsize(tmp_path / f"{t}.parquet")


def test_amplification_refuses_new_exact_duplicates():
    docs = pa.table({"doc_id": [0, 1], "text": ["zzz", "kkk"], "lang": ["en", "en"],
                     "source": ["s", "s"], "n_chars": [3, 3]})
    emb = pa.table({"vec_id": [0], "embedding": [[0.5, 0.5]], "label": [0]})
    with pytest.raises(ValueError, match="exact duplicates"):
        gen.amplify(docs, emb, 2)


def _benchmark():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def _tracer_with(spans):
    t = Tracer.__new__(Tracer)
    t.enabled, t.spans, t.unmapped_jobs, t._stack = False, spans, [], []
    return t


def _pass(traced, spans=(), op_s=(1.0, 0.5), op_cpu=1.0):
    p = run.Pass("warm", traced, wall=2.0, cpu_s=1.0)
    p.spans = list(spans)
    p.op_s, p.op_cpu = {"a": op_s, "b": op_s}, {"a": op_cpu, "b": op_cpu}
    return p


def test_end_to_end_names_match_benchmark_json():
    got = run.end_to_end([1.0, 2.0, 3.0], [_pass(False)])
    spec = _benchmark()["end_to_end"]
    assert list(got) == [m["name"] for m in spec]
    assert [u for _, u in got.values()] == [m["unit"] for m in spec]


def test_per_layer_names_match_benchmark_json():
    from workloads import CURATION_STAGES

    span = Span(0, "exec", "q", None, 0.0, 1.0, 1, StageTotals(stages=1, run_s=0.5))
    tracer = _tracer_with([span])
    got = run.per_layer(tracer, _pass(False), [_pass(False)], [_pass(True, [span])], [], {}, CURATION_STAGES)
    spec = _benchmark()["per_layer"]
    assert list(got) == [m["name"] for m in spec]
    assert [u for _, u in got.values()] == [m["unit"] for m in spec]


def test_warm_cost_is_the_sum_of_per_operation_medians():
    # one slow outlier per operation, in different passes, moves no median
    warm = [_pass(False, op_s=(1.0, 0.0), op_cpu=0.5) for _ in range(4)]
    warm[0].op_s["a"] = (9.0, 0.0)
    warm[1].op_s["b"] = (9.0, 0.0)
    assert run.end_to_end([1.0], warm)["warm_pass_s"] == (2.0, "s")
    assert run.warm_cpu_s(warm) == 1.0
