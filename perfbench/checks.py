"""Output checks.  Each returns None when the output is right, or a
one-line reason when it is not.  Exact answers come from plain JVM
``groupBy`` queries or numpy, never from the library under test.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

HLL_SIGMAS = 3.0  # HLL's stated error is one standard error, 1.04/sqrt(m)


def exact_token_counts(df):
    """(token, test_count, control_count) of whitespace tokens, as a JVM
    groupBy over ``df`` (which needs a ``window``)."""
    from pyspark.sql import functions as F

    words = F.explode(F.filter(F.split("text", r"\s+"), lambda t: t != ""))
    return (
        df.select("window", words.alias("token"))
        .groupBy("token")
        .agg(
            F.count_if(F.col("window") == "test").alias("test_count"),
            F.count_if(F.col("window") == "control").alias("control_count"),
        )
    )


def check_emerging(result_rows, expected: dict, must_have: list[str], must_not: list[str]) -> str | None:
    got = {r["token"]: (r["freq"], r["control_count"]) for r in result_rows}
    if len(got) != len(result_rows):
        return "emerging: duplicate tokens in the result"
    if got != expected:
        diff = sorted(set(got.items()) ^ set(expected.items()))[:4]
        return f"emerging: result differs from the exact groupBy answer, e.g. {diff}"
    missing = [t for t in must_have if t not in got]
    if missing:
        return f"emerging: planted emerging tokens missing: {missing}"
    wrong = [t for t in must_not if t in got]
    if wrong:
        return f"emerging: planted stable tokens reported: {wrong}"
    return None


def check_cmcu(sketch, tokens: list[str], counts: np.ndarray) -> str | None:
    """Zero underestimates, and the share of eps*N violations <= delta."""
    est = sketch.estimate_tokens(pa.array(tokens, pa.string()))
    under = int((est < counts).sum())
    if under:
        return f"cmcu: {under} underestimates of exact counts"
    rate = float((est - counts > sketch.error_bound()).mean()) if len(counts) else 0.0
    if rate > sketch.delta:
        return f"cmcu: violation rate {rate:.4f} > delta {sketch.delta:.4f}"
    return None


def check_counts(got: dict, want: dict, what: str) -> str | None:
    wrong = {k: (got.get(k), v) for k, v in want.items() if got.get(k) != v}
    return f"{what}: (got, exact) differ for {dict(list(wrong.items())[:4])}" if wrong else None


def check_distinct(estimates: dict, exact: dict, rel_err: float, what: str) -> str | None:
    if set(estimates) != set(exact):
        return f"{what}: key sets differ"
    for k, e in estimates.items():
        if abs(e - exact[k]) > HLL_SIGMAS * rel_err * exact[k]:
            return f"{what}: {k} estimate {e} vs exact {exact[k]} beyond {HLL_SIGMAS} x {rel_err:.4f}"
    return None


def check_pairs(rows, planted: list[tuple[int, int]]) -> str | None:
    got = {(r["id_a"], r["id_b"]) for r in rows}
    missing = [p for p in planted if p not in got]
    return f"minhash: planted pairs missing: {missing[:4]}" if missing else None


def check_states_equal(stream_states: dict, batch_states: dict, what: str) -> str | None:
    if set(stream_states) != set(batch_states):
        return f"{what}: state keys differ: {sorted(set(stream_states) ^ set(batch_states))}"
    diff = [k for k in batch_states if stream_states[k] != batch_states[k]]
    return f"{what}: states not byte-identical for {diff}" if diff else None
