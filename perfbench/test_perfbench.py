"""The benchmark's own tests.

    python3 -m pytest perfbench/test_perfbench.py -q

The end-to-end tests run the benchmark itself, once per mode.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import inputs  # noqa: E402
from tracing import Span, Tracer, covered, layer_self_times, self_times  # noqa: E402


def declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"] for m in spec["end_to_end"]}, {m["name"] for m in spec["per_layer"]}


# -- span arithmetic ---------------------------------------------------------
def test_covered_merges_overlaps_and_clips():
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == pytest.approx(5.0)
    assert covered([(-2, 1), (9, 12)], 0, 10) == pytest.approx(2.0)
    assert covered([], 0, 10) == 0.0


def test_self_time_subtracts_children_union():
    spans = [
        Span(1, "emerging.parts", 1, None, 0.0, 10.0),
        Span(2, "aggregate.sketch_aggregate", 1, 1, 1.0, 3.0),
        Span(3, "emerging.candidate_token_counts", 1, 1, 3.0, 5.0),
        Span(4, "text.kernels", 1, 3, 3.5, 4.5),
        Span(5, "core.kernels", 2, None, 20.0, 21.5),
    ]
    own = self_times(spans)
    assert own[1] == pytest.approx(10.0 - 4.0)  # children cover [1, 5]
    assert own[3] == pytest.approx(2.0 - 1.0)
    assert own[5] == pytest.approx(1.5)
    layers = layer_self_times(spans)
    assert layers == pytest.approx({"emerging": 7.0, "aggregate": 2.0, "text": 1.0, "core": 1.5})
    # sequential children: self times add up to the roots' walls
    assert sum(layers.values()) == pytest.approx(10.0 + 1.5)


def test_tracer_records_parents_and_trace_ids():
    t = Tracer(True)
    with t.operation("emerging.parts"):
        with t.span("aggregate.sketch_aggregate"):
            pass
    with t.operation("dedup.minhash_near_duplicates"):
        pass
    by_name = {s.name: s for s in t.spans}
    child, parent = by_name["aggregate.sketch_aggregate"], by_name["emerging.parts"]
    assert child.parent == parent.span_id and child.trace_id == parent.trace_id
    assert by_name["dedup.minhash_near_duplicates"].trace_id != parent.trace_id
    off = Tracer(False)
    with off.operation("x"), off.span("y"):
        pass
    assert off.spans == []


# -- checker ------------------------------------------------------------------
def _cmcu_with_counts():
    from sketch_spark.core import CountMinCU

    rng = np.random.default_rng(3)
    tokens = [f"w{i}" for i in range(2000)]
    counts = rng.zipf(1.3, size=len(tokens)).astype(np.int64)
    sketch = CountMinCU(depth=4, log2_width=12, seed=1)
    import pyarrow as pa

    sketch.update_tokens(pa.array(tokens), counts)
    return sketch, tokens, counts


def test_check_cmcu_accepts_a_true_sketch_and_rejects_one_lowered_counter():
    import pyarrow as pa

    sketch, tokens, counts = _cmcu_with_counts()
    assert checks.check_cmcu(sketch, tokens, counts) is None
    heavy = int(np.argmax(counts))
    keys = sketch.hash_tokens(pa.array([tokens[heavy]]))
    idx = sketch._indices(keys)[:, 0]
    row = int(np.argmin(sketch.table[np.arange(sketch.depth), idx]))
    sketch.table[row, idx[row]] -= 1
    assert "underestimates" in checks.check_cmcu(sketch, tokens, counts)


def test_check_emerging_rejects_changed_answers():
    expected = {"hhemerge0": (400, 5)}
    good = [{"token": "hhemerge0", "freq": 400, "control_count": 5}]
    assert checks.check_emerging(good, expected, ["hhemerge0"], ["hhstable0"]) is None
    assert checks.check_emerging([], expected, ["hhemerge0"], []) is not None
    off_by_one = [{"token": "hhemerge0", "freq": 399, "control_count": 5}]
    assert checks.check_emerging(off_by_one, expected, [], []) is not None


def test_other_checks_reject_corrupted_outputs():
    assert checks.check_states_equal({"en": b"ab"}, {"en": b"ab"}, "cm") is None
    assert checks.check_states_equal({"en": b"ab"}, {"en": b"ac"}, "cm") is not None
    assert checks.check_pairs([{"id_a": 1, "id_b": 9}], [(1, 9), (2, 8)]) is not None
    assert checks.check_counts({"cmcu1": 10}, {"cmcu1": 11}, "updates") is not None
    assert checks.check_distinct({"en": 100.0}, {"en": 100}, 0.01, "hll") is None
    assert checks.check_distinct({"en": 150.0}, {"en": 100}, 0.01, "hll") is not None


# -- inputs --------------------------------------------------------------------
def test_pandas_inputs_depend_only_on_the_seed():
    def dedup_input(seed):
        return inputs.with_near_duplicates(inputs.planted_pages(500, seed), seed)

    a, pairs_a = dedup_input(5)
    b, pairs_b = dedup_input(5)
    c, _ = dedup_input(6)
    assert a.equals(b) and pairs_a == pairs_b
    assert not a["text"].equals(c["text"])
    assert inputs.stream_file(5, 2).equals(inputs.stream_file(5, 2))
    assert not inputs.stream_file(5, 2)["text"].equals(inputs.stream_file(5, 3)["text"])


def test_corpus_fingerprint_same_seed_same_input(monkeypatch):
    monkeypatch.setattr(inputs, "CORPUS_PAGES", 300)
    first = inputs.fingerprint(inputs.corpus_frame(7, 2))
    assert first == inputs.fingerprint(inputs.corpus_frame(7, 2))
    assert first != inputs.fingerprint(inputs.corpus_frame(8, 2))


# -- the benchmark end to end ----------------------------------------------------
def _run(cwd, *args, timeout=400):
    """Run the benchmark in a session of its own; return its outcome and
    the pids still in that session after it has exited."""
    proc = subprocess.Popen(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, start_new_session=True,
    )
    out, err = proc.communicate(timeout=timeout)
    return subprocess.CompletedProcess(proc.args, proc.returncode, out, err), _in_session(proc.pid)


def _in_session(sid: int) -> list[int]:
    pids = []
    for name in os.listdir("/proc"):
        try:
            with open(f"/proc/{name}/stat") as f:
                data = f.read()
        except (OSError, NotADirectoryError):
            continue
        if int(data[data.rindex(")") + 2 :].split()[3]) == sid:
            pids.append(int(name))
    return pids


@pytest.mark.parametrize("trace", ["0", "1"])
def test_printed_metrics_are_declared(trace):
    out, left = _run(ROOT, "--workload", "corpus_emerging", "--seed", "3", "--seconds", "1", "--trace", trace)
    assert out.returncode == 0, out.stderr[-2000:]
    assert left == [], "processes outlived the benchmark"
    line = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["correct"] and line["failed"] == 0 and line["attempted"] >= 1
    end_to_end, per_layer = declared()
    assert set(line["metrics"]) == (per_layer if trace == "1" else end_to_end)


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work", "__pycache__"))
    out, left = _run(str(tmp_path), "--workload", "corpus_emerging", "--seed", "1", "--seconds", "1", timeout=60)
    assert out.returncode != 0 and left == []
    assert '"metrics"' not in out.stdout
