"""Self-tests of the benchmark: generator determinism, checker strictness, output names.

Run from the root of a checkout:

    python -m pytest perfbench/tests -q

The ``prints_every_metric`` tests run the benchmark itself (a few minutes);
deselect them with ``-k 'not prints_every_metric'`` for a quick pass.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
from sketch_spark.core import make_sketch  # noqa: E402
from sketch_spark.core.base import unique_with_counts  # noqa: E402
from sketch_spark.core.hashing import hash_strings  # noqa: E402
from sketch_spark.functions.text import ngram_occurrences  # noqa: E402
from sketch_spark.operators.aggregate import SketchResult  # noqa: E402

TINY = gen.Shape(pages=600, tokens_per_page=40, vocab=2_000)


def _files(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = f.read()
    return out


def _materialized(seed: int, out_dir) -> dict[str, bytes]:
    gen.materialize(TINY, seed, str(out_dir), run.CORES)
    return _files(str(out_dir))


def test_same_seed_gives_identical_input_and_answers(tmp_path):
    a = _materialized(5, tmp_path / "a")
    b = _materialized(5, tmp_path / "b")
    c = _materialized(6, tmp_path / "c")
    assert a == b
    assert a.keys() == c.keys()
    assert a["answers.json"] != c["answers.json"]
    parquet = [k for k in a if k.endswith(".parquet")]
    assert len(parquet) == 2 * run.CORES
    assert all(a[k] != c[k] for k in parquet)


@pytest.fixture(scope="module")
def pages():
    return gen.generate(TINY, 7)


@pytest.fixture(scope="module")
def ans(pages):
    return gen.answers(pages)


def _sketch_result(pages, ans, drop_token: int | None = None, skip: str = "") -> SketchResult:
    """A correct fused-pass result built with the core sketches, no Spark.

    ``drop_token`` leaves one vocabulary word out of the unigram states;
    ``skip`` names a spec whose state is left empty.
    """
    specs = {s.name: s for s in run.sketch_specs()}
    keys = hash_strings(pages.vocab, seed=1)
    counts = np.bincount(pages.ids, minlength=len(pages.vocab))
    if drop_token is not None:
        counts[drop_token] = 0
    present = counts > 0
    rows = []
    for name, spec in specs.items():
        sk = spec.make()
        if name == skip:
            pass
        elif name in ("cmcu1", "hll", "bloom"):
            sk.update_hashed(keys[present], counts[present])
        else:
            grams, _ = ngram_occurrences(pages.table["text"], 1, spec.ngram)
            sk.update_hashed(*unique_with_counts(grams))
        order = name[4:] if name.startswith("cmcu") else "1"
        rows.append({
            "spec": name, "state": sk.to_bytes(), "n_rows": ans["pages"],
            "n_values": ans["sketch_build"]["n_values"][order], "wall_ms": 0.0,
        })
    return SketchResult(rows, [])


def test_sketch_build_checker(pages, ans):
    assert check.sketch_build(_sketch_result(pages, ans), ans) == []
    result = _sketch_result(pages, ans)
    result.metrics[("cmcu3",)]["n_values"] += 1
    assert check.sketch_build(result, ans)
    top = int(np.argmax(np.bincount(pages.ids)))
    assert check.sketch_build(_sketch_result(pages, ans, drop_token=top), ans)
    # an n-gram state that never took its updates, with n_values still right
    assert check.sketch_build(_sketch_result(pages, ans, skip="cmcu3"), ans)


def _keyed_table(pages, ans) -> pa.Table:
    """Correct keyed-host rows built with the core sketches, no Spark."""
    host = pages.table["host"].to_pylist()
    url = pages.table["url"]
    crawl = pages.table["crawl_ms"].to_numpy()
    rows = {"host": [], "spec": [], "state": [], "n_rows": [], "n_values": []}
    for name in ans["keyed_hosts"]["hosts"]:
        idx = np.flatnonzero(np.array(host) == name)
        hll = make_sketch("hll", p=14, seed=1)
        hll.update_hashed(hash_strings(url.take(pa.array(idx)), seed=1))
        kll = make_sketch("kll", k=200, seed=1)
        kll.update_values(crawl[idx])
        for spec, sk in (("hll", hll), ("kll", kll)):
            for k, v in (("host", name), ("spec", spec), ("state", sk.to_bytes()),
                         ("n_rows", len(idx)), ("n_values", len(idx))):
                rows[k].append(v)
    return pa.table(rows)


def test_keyed_hosts_checker(pages, ans):
    table = _keyed_table(pages, ans)
    assert check.keyed_hosts(table, ans) == []
    n_rows = table["n_rows"].to_pylist()
    n_rows[0] += 1
    bumped = table.set_column(table.schema.get_field_index("n_rows"), "n_rows", pa.array(n_rows))
    assert check.keyed_hosts(bumped, ans)
    assert check.keyed_hosts(table.slice(1), ans)


def test_emerging_answer_holds_the_planted_tokens(ans):
    rows = {r[0] for r in ans["emerging_hh"]["rows"]}
    assert rows >= {f"emg{i}" for i in range(gen.N_EMERGING)}
    assert not rows & {"edge0", "edge1", "stb0"}


def test_emerging_checker(ans):
    want = ans["emerging_hh"]["rows"]
    cand = {t: c for t, c, _ in want}
    cand["stb0"] = ans["emerging_hh"]["threshold"]
    rows = [tuple(r) for r in want]
    assert check.emerging(cand, rows, ans) == []
    assert check.emerging(cand, rows[1:], ans)
    assert check.emerging({t: c for t, c in cand.items() if t != want[0][0]}, rows, ans)
    bumped = [(rows[0][0], rows[0][1] + 1, rows[0][2])] + rows[1:]
    assert check.emerging(cand, bumped, ans)
    assert check.emerging(dict(cand, **{want[0][0]: want[0][1] + 1}), rows, ans)


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_tables_match_benchmark_json():
    bench = _benchmark_json()
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == run.END_TO_END_UNITS
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == run.PER_LAYER_UNITS
    assert [w["name"] for w in bench["workloads"]] == list(run.workloads())


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("out", ".work"))
    bench = _benchmark_json()
    proc = subprocess.run(
        bench["command"] + ["--workload", "sketch_build", "--seed", "1", "--seconds", "1",
                            "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert "correct" not in proc.stdout


@pytest.mark.parametrize(
    "workload,trace",
    [("sketch_build", 0), ("sketch_build", 1), ("keyed_hosts", 0), ("keyed_hosts", 1)],
)
def test_run_prints_every_metric(workload, trace):
    bench = _benchmark_json()
    proc = subprocess.run(
        bench["command"] + ["--workload", workload, "--seed", "3", "--seconds", "1",
                            "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0
    want = bench["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in want} == {k: v["unit"] for k, v in res["metrics"].items()}
    assert all(isinstance(v["value"], (int, float)) for v in res["metrics"].values())
