"""Self-tests of the benchmark: generator, oracle, and every workload end to
end at a tiny size.

    python3 -m pytest perfbench/tests -q

The end-to-end tests start Spark in a subprocess each (about a minute per
run).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from perfbench import gen
from perfbench.oracle import Oracle, table_key
from perfbench.run import END_TO_END, PER_LAYER, ROOT, WORKLOADS
from perfbench.trace import check_tree

RUN = os.path.join(ROOT, "perfbench", "run.py")
TINY = ["--seconds", "1", "--scale", "0.05"]


def _run(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    env = {k: v for k, v in os.environ.items() if k != "PYTEST_CURRENT_TEST"}
    return subprocess.run([sys.executable, RUN, *args], cwd=cwd, env=env,
                          capture_output=True, text=True, timeout=600)


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    return out


@pytest.fixture()
def chunks(tmp_path):
    return gen.generate(str(tmp_path), 5, gen.Params(n_chunks=2, chunk_events=2000,
                                                     n_entities=1500))


def test_generator_is_seeded_and_cached(tmp_path, chunks):
    again = gen.generate(str(tmp_path / "b"), 5, gen.Params(2, 2000, 1500))
    other = gen.generate(str(tmp_path / "c"), 6, gen.Params(2, 2000, 1500))
    read = [pq.read_table(d) for d in (chunks[1], again[1], other[1])]
    assert read[0].equals(read[1])
    assert not read[0].equals(read[2])
    # a second call reuses the cache entry instead of regenerating
    mtime = os.path.getmtime(os.path.join(chunks[0], "part-00000.parquet"))
    gen.generate(str(tmp_path), 5, gen.Params(2, 2000, 1500))
    assert os.path.getmtime(os.path.join(chunks[0], "part-00000.parquet")) == mtime


def test_generator_properties(chunks):
    c0, c1 = (pq.read_table(d).to_pandas() for d in chunks)
    assert c1.event_id.duplicated().sum() >= 10                    # duplicate deliveries
    both = pd.concat([c0, c1])
    assert len(both.drop_duplicates()) == both.event_id.nunique()   # ... are exact copies
    assert c1.event_id.isin(c0.event_id).sum() >= 5                # redelivered across chunks
    assert 0.07 < (c1.op == "delete").mean() < 0.13                 # deletes
    assert 0.4 < (c1.repo == gen.MEGA_REPO).mean() < 0.6            # mega-repo skew
    assert c1.groupby(["repo", "path"]).size().max() >= 10          # hot keys
    last0 = c0.groupby(["repo", "path"]).event_ts.max()
    j = c1.join(last0.rename("prev_ts"), on=["repo", "path"], how="inner")
    assert (j.event_ts < j.prev_ts).sum() >= 20                     # cross-chunk late events
    assert c1.event_ts.is_monotonic_increasing is False             # out of order


def test_oracle_catches_one_wrong_row(chunks):
    o = Oracle(chunks)
    live = o.live(1)
    good = o._expected_table(1)
    assert o.check_repo_files(good, 1) == []
    commits = good.column("commit").to_pylist()
    commits[7] = "0" * 40
    bad = good.set_column(good.schema.get_field_index("commit"), "commit",
                          pc.cast(commits, "string"))
    assert len(o.check_repo_files(bad, 1)) == 2  # one unexpected, one missing
    keys = [table_key(r, p) for r, p in live]
    assert o.check_doc_keys(keys, 1) == []
    assert o.check_doc_keys(keys[1:], 1)
    assert o.check_doc_keys(keys + ["repofs://gold.x/y"], 1)


def test_oracle_lww_drops_late_events_and_deletes(chunks):
    o = Oracle(chunks)
    c = pq.read_table(chunks[0]).to_pandas().sort_values(["event_ts", "commit"])
    last = c.groupby(["repo", "path"]).tail(1).set_index(["repo", "path"])
    live = o.live(0)
    assert set(live) == {k for k, op in last.op.items() if op != "delete"}
    for k, v in list(live.items())[:50]:
        assert v[0] == last.loc[k, "commit"]


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_workload_tiny_untraced(workload):
    out = _result(_run("--workload", workload, "--seed", "3", "--trace", "0", *TINY))
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    assert {k: m["unit"] for k, m in out["metrics"].items()} == END_TO_END
    assert all(m["value"] > 0 for m in out["metrics"].values())


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_workload_tiny_traced_span_tree(workload, tmp_path):
    spans = tmp_path / "spans.json"
    out = _result(_run("--workload", workload, "--seed", "3", "--trace", "1", *TINY,
                       "--spans-out", str(spans)))
    assert out["correct"]
    assert {k: m["unit"] for k, m in out["metrics"].items()} == PER_LAYER
    tree = json.loads(spans.read_text())
    names = {s["name"] for s in tree}
    assert {"pipeline.apply_batch", "pipeline.prepare_winners", "lake.prepare_upsert",
            "lake.commit_prepared", "lake.read_for_keys", "lake.read_where",
            "lake.changes", "lake.current", "reader"} <= names
    assert check_tree(tree) == []


def test_check_tree_rejects_escaping_child():
    spans = [
        {"id": 0, "name": "a", "start": 0.0, "end": 1.0, "parent": None, "thread": "t"},
        {"id": 1, "name": "b", "start": 0.5, "end": 1.5, "parent": 0, "thread": "t"},
    ]
    assert check_tree(spans)


def test_fails_without_engine(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "bulk_replay",
                           "--seed", "1", "--seconds", "1", "--trace", "0"],
                          cwd=tmp_path, capture_output=True, text=True, timeout=120,
                          env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"})
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


def test_benchmark_json_names_every_metric():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)
