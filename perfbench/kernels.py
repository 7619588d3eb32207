"""In-process timings of the ``core`` and ``text`` public functions.

Inputs are fixed arrays from a fixed seed (not the workload seed), so
these numbers move only when the kernels do.  Each figure is the median
of REPS timed repetitions.
"""

from __future__ import annotations

import statistics
import time

import numpy as np
import pyarrow as pa

from sketch_spark.core import HyperLogLog, KLL, CountMinCU, sketch_from_bytes
from sketch_spark.functions.text import ngram_occurrences, tokenize_batch

REPS = 3
N_DOCS = 1_000
DOC_TOKENS = 200
N_KEYS = 1 << 19
N_VALUES = 1 << 17  # KLL updates run near 1 M/s
CMCU_PARAMS = {"depth": 4, "log2_width": 14, "seed": 1}
# BASELINE.md: the C++ reference's single-thread CMCU rate.  Shown as a
# yardstick only; the reference binary is not rebuilt by this benchmark.
REFERENCE_CMCU_MUPD_PER_S = 13.3


def _median_s(fn) -> float:
    walls = []
    for _ in range(REPS):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


def fixed_inputs():
    rng = np.random.default_rng(20251017)
    ids = rng.zipf(1.07, size=N_DOCS * DOC_TOKENS * 2)
    ids = ids[ids <= 50_000][: N_DOCS * DOC_TOKENS]
    words = np.char.add("w", ids.astype("U8")).reshape(N_DOCS, DOC_TOKENS)
    texts = pa.array([" ".join(row) for row in words], pa.string())
    keys = rng.zipf(1.1, size=N_KEYS).astype(np.uint64) * np.uint64(0x9E3779B97F4A7C15)
    values = rng.lognormal(8.0, 1.0, size=N_VALUES)
    return texts, keys, values


def text_metrics(texts: pa.Array) -> dict[str, float]:
    n_tok = N_DOCS * DOC_TOKENS
    return {
        "text.tokenize_mtok_per_s": n_tok / _median_s(lambda: tokenize_batch(texts)) / 1e6,
        "text.ngram2_mocc_per_s": (n_tok - N_DOCS)
        / _median_s(lambda: ngram_occurrences(texts, 1, 2))
        / 1e6,
    }


def core_metrics(keys: np.ndarray, values: np.ndarray) -> dict[str, float]:
    out = {
        "core.cmcu_update_mupd_per_s": N_KEYS
        / _median_s(lambda: CountMinCU(**CMCU_PARAMS).update_hashed(keys))
        / 1e6,
        "core.hll_update_m_per_s": N_KEYS
        / _median_s(lambda: HyperLogLog(p=14, seed=1).update_hashed(keys))
        / 1e6,
        "core.kll_update_m_per_s": N_VALUES
        / _median_s(lambda: KLL(k=200, seed=1).update_values(values))
        / 1e6,
    }
    sketch = CountMinCU(**CMCU_PARAMS)
    sketch.update_hashed(keys)
    out["core.cmcu_estimate_mkeys_per_s"] = N_KEYS / _median_s(lambda: sketch.estimate_hashed(keys)) / 1e6
    blob = sketch.to_bytes()
    out["core.state_bytes"] = float(len(blob))
    out["core.state_merge_ms"] = (
        _median_s(lambda: sketch_from_bytes(blob).merge(sketch_from_bytes(blob)).to_bytes()) * 1e3
    )
    return out
