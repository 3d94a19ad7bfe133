"""Spark-free tests of the benchmark's generators, span arithmetic and
summary rules: ``python3 -m pytest perfbench -q``."""

from __future__ import annotations

import filecmp
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import compare  # noqa: E402
import gen_corpus  # noqa: E402
import gen_tables  # noqa: E402
from collect import parse_metric  # noqa: E402
from run import layer_values  # noqa: E402
from spans import Tracer, ns_to_ms, self_time, tail_percentile  # noqa: E402


def _corpus(tmp_path, name: str, seed: int) -> tuple[str, dict]:
    d = str(tmp_path / name)
    return d, gen_corpus.write(d, seed, docs=8, min_pages=6, max_pages=9)


def test_corpus_same_seed_is_byte_identical(tmp_path):
    a, ta = _corpus(tmp_path, "a", 7)
    b, tb = _corpus(tmp_path, "b", 7)
    names = sorted(os.listdir(a))
    assert names == sorted(os.listdir(b))
    match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert (mismatch, errors) == ([], [])
    assert ta == tb


def test_corpus_other_seed_differs(tmp_path):
    a, ta = _corpus(tmp_path, "a", 7)
    b, tb = _corpus(tmp_path, "b", 8)
    assert set(ta["docs"]) != set(tb["docs"])


def test_corpus_planted_text_decodes():
    import hashlib
    import random

    from test_dataengineer2026_spark.extraction.pdf import extract_pages

    rng = random.Random(3)
    pool = gen_corpus._filler_pool(rng, 20)
    doc, truth = gen_corpus._document(rng, pool, 6)
    cover = f"Technical Report for the {truth['project']['project_name']}"
    for mode in ("lit", "hex"):
        pages = extract_pages(gen_corpus.write_pdf(doc, mode, rng))
        assert len(pages) == 6
        assert cover in " ".join(pages[0][1].split())
    assert extract_pages(gen_corpus.write_pdf(6, "scan", rng)) == []
    assert hashlib.sha256(gen_corpus.write_pdf(doc, "lit", random.Random(1))).digest()


def test_tables_same_seed_identical_other_seed_differs():
    a = gen_tables.build(5, 0.001)
    b = gen_tables.build(5, 0.001)
    c = gen_tables.build(6, 0.001)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert sorted(a) == sorted(
        "region nation customer supplier part orders lineitem events documents embeddings".split()
    )


def _span(i, parent, start, end):
    return {"id": i, "parent": parent, "start": start, "end": end, "name": f"s{i}"}


def test_self_time_subtracts_merged_child_coverage():
    root = _span(1, None, 0.0, 10.0)
    spans = [
        root,
        _span(2, 1, 1.0, 4.0),
        _span(3, 1, 3.0, 5.0),  # overlaps span 2: covered 1..5 once
        _span(4, 1, 9.0, 12.0),  # clipped to the parent's end
        _span(5, 2, 1.5, 2.0),  # grandchild: not the root's direct child
    ]
    assert self_time(root, spans) == pytest.approx(10.0 - 4.0 - 1.0)
    assert self_time(spans[1], spans) == pytest.approx(3.0 - 0.5)
    assert self_time(spans[3], spans) == pytest.approx(3.0)


def test_tracer_nests_and_shares_op_id():
    tr = Tracer(True)
    tr.op = "q#1"
    with tr.span("op"):
        with tr.span("build"):
            pass
    by = {s["name"]: s for s in tr.spans}
    assert by["build"]["parent"] == by["op"]["id"]
    assert {s["op"] for s in tr.spans} == {"q#1"}
    assert tr.self_times()["op"] <= by["op"]["end"] - by["op"]["start"]
    off = Tracer(False)
    with off.span("op"):
        pass
    assert off.spans == []


def test_ns_to_ms():
    assert ns_to_ms(285_264_474) == pytest.approx(285.264474)


def test_tail_percentile_keeps_ten_samples_beyond():
    assert tail_percentile(list(range(10))) is None
    p, v = tail_percentile(list(range(1, 101)))
    assert (p, v) == (90, 90)  # 10 samples (91..100) lie beyond
    p, v = tail_percentile(list(range(1, 21)))
    assert p == 50 and v == 10
    assert sum(x > v for x in range(1, 21)) >= 10


def test_parse_metric_units():
    assert parse_metric("2,000") == 2000
    assert parse_metric("63.6 KiB") == pytest.approx(63.6 * 1024)
    assert parse_metric("total (min, med, max (stageId: taskId))\n3.9 s (817 ms, 1.0 s, 1.1 s (stage 3.0: task 5))") == pytest.approx(3900)
    assert parse_metric("") == 0.0


def test_layer_values_are_per_warm_pass():
    cold = {"exec.tasks": 50.0, "exec.run_ms": 900.0, "_wall_s": 1.0}
    one = {"exec.tasks": 10.0, "exec.run_ms": 400.0, "_wall_s": 0.5}
    two = {"exec.tasks": 12.0, "exec.run_ms": 200.0, "_wall_s": 0.5,
           "stream.input_rows": 100.0, "_stream_wall_s": 2.0}
    warm, c = layer_values({0: cold, 1: one, 2: two}, cores=4)
    assert warm["exec.tasks"] == 11.0 and c["exec.tasks"] == 50.0
    assert warm["exec.core_busy_frac"] == pytest.approx(300 / (1000 * 0.5 * 4))
    assert warm["stream.events_per_s"] == pytest.approx(50.0 / 1.0)
    assert not [k for k in warm if k.startswith("_")]
    # twice as many identical warm passes give the same values
    again, _ = layer_values({0: cold, 1: one, 2: two, 3: one, 4: two}, cores=4)
    assert again == pytest.approx(warm)


def test_compare_refuses_mixed_cpus():
    rec = {"workload": "w", "trace": 0, "steal_pct": 0.0, "e2e": {"x": 1.0}, "latencies": []}
    with pytest.raises(ValueError):
        compare.summarize([{**rec, "cpus": 4}, {**rec, "cpus": 8}])
    assert compare.summarize([{**rec, "cpus": 4}, {**rec, "cpus": 4}])


def test_runner_fails_without_the_package(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "heavy_tail", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert p.returncode != 0
    assert p.stdout == ""
