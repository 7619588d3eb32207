"""Per-layer probes of the traced run.

Each probe calls one layer's public functions on the workload's own
input, with a span around every call, and derives that layer's metrics
from the spans and the calls' outputs.  Probes run after the timed loop,
so they never disturb its walls.
"""

from __future__ import annotations

import os

import checks
import inputs
from kernels import core_metrics, fixed_inputs, text_metrics
from sketch_spark.operators.aggregate import build_partials, merge_partials, sketch_aggregate
from sketch_spark.operators.dedup import lsh_candidate_pairs, minhash_near_duplicates, minhash_signatures
from sketch_spark.operators.emerging import broadcast_sketch, candidate_token_counts, emerging_heavy_hitters
from sketch_spark.sources.pages import load_pages
from workloads import EMERGING_THRESHOLD, GROWTH, MINHASH, StreamRun, cmcu_spec, windows

STREAM_PROBE_FILES = 3
DEDUP_PROBE_PAGES = 1_000


def _dur(span) -> float:
    return span.end - span.start


def scan(w) -> dict[str, float]:
    """Column-pruned full read of ``text`` into a ``noop`` sink."""
    li = w.layer_inputs()
    with w.tracer.operation("sources.load_pages") as sp:
        df = load_pages(w.spark, li["table_dir"]) if li["table_dir"] else li["table"]
        df.select("text").write.format("noop").mode("overwrite").save()
    return {"sources.scan_s": _dur(sp)}


def kernels(w) -> dict[str, float]:
    texts, keys, values = fixed_inputs()
    with w.tracer.operation("text.kernels"):
        out = text_metrics(texts)
    with w.tracer.operation("core.kernels"):
        out.update(core_metrics(keys, values))
    return out


def aggregate(w) -> dict[str, float]:
    """The three phases of sketch_aggregate, each materialised apart."""
    li = w.layer_inputs()
    groups = li["group_cols"]
    t = w.tracer
    with t.operation("aggregate.sketch_aggregate"):
        with t.span("aggregate.build_partials") as b:
            partials = build_partials(li["table"], li["specs"], groups).persist()
            n_partials = partials.count()
        with t.span("aggregate.merge_partials") as m:
            merged = merge_partials(partials, groups).persist()
            merged.count()
        with t.span("aggregate.collect") as c:
            rows = merged.collect()
    partials.unpersist()
    merged.unpersist()
    return {
        "aggregate.build_partials_s": _dur(b),
        "aggregate.merge_partials_s": _dur(m),
        "aggregate.collect_s": _dur(c),
        "aggregate.partials": float(n_partials),
        "aggregate.state_bytes_collected": float(sum(len(r["state"]) for r in rows)),
    }


def emerging(w) -> dict[str, float]:
    """The flagship's parts, called one by one: the sketch build, each
    window's candidate scan alone, then the flagship on the prebuilt
    sketch, which runs both scans as it schedules them plus the join."""
    test, control = windows(w.layer_inputs()["table"])
    t = w.tracer
    with t.operation("emerging.parts"):
        with t.span("aggregate.sketch_aggregate") as s:
            sketch = sketch_aggregate(test, [cmcu_spec()]).sketch("cmcu")
        bc = broadcast_sketch(w.spark, sketch)
        with t.span("emerging.candidate_token_counts") as ct:
            cands = candidate_token_counts(test, "text", bc, EMERGING_THRESHOLD).collect()
        with t.span("emerging.candidate_token_counts") as cc:
            candidate_token_counts(control, "text", bc, EMERGING_THRESHOLD).collect()
        with t.span("emerging.emerging_heavy_hitters") as j:
            rows = emerging_heavy_hitters(
                test, control, threshold=EMERGING_THRESHOLD, growth=GROWTH, mode="exact",
                prebuilt_sketch=sketch,
            ).collect()
    return {
        "emerging.sketch_s": _dur(s),
        "emerging.candidates_test_s": _dur(ct),
        "emerging.candidates_control_s": _dur(cc),
        "emerging.join_s": _dur(j),
        "emerging.candidate_yield": len(rows) / max(1, len(cands)),
    }


def dedup(w) -> dict[str, float]:
    """MinHash near-duplicates end to end on pages with planted
    near-duplicate pairs, then its candidate stage alone for the
    verified/candidate pair yield."""
    seed = w.bench.seed
    pages, planted = inputs.with_near_duplicates(inputs.planted_pages(DEDUP_PROBE_PAGES, seed), seed)
    table = w.spark.createDataFrame(pages)
    t = w.tracer
    with t.operation("dedup.minhash_near_duplicates") as sp:
        pairs = w.bench.op(
            "dedup.minhash_near_duplicates",
            lambda: minhash_near_duplicates(table, "doc_id", "text", store_shingles=False, **MINHASH).collect(),
            check=lambda rows: checks.check_pairs(rows, planted),
        )
    with t.operation("dedup.lsh_candidate_pairs"):
        sigs = minhash_signatures(
            table, "doc_id", "text", MINHASH["num_perm"], MINHASH["shingle_k"], 1, keep_shingles=False
        ).persist()
        n_cand = lsh_candidate_pairs(
            sigs, "doc_id", MINHASH["bands"], est_threshold=max(0.0, MINHASH["threshold"] - 0.15)
        ).count()
        sigs.unpersist()
    return {"dedup.minhash_s": _dur(sp), "dedup.pair_yield": len(pairs or []) / max(1, n_cand)}


def streaming(w) -> dict[str, float]:
    """stream_fold's own stream; for the other workloads a short one:
    land files one at a time, stop the query, land one more, restart it
    from its checkpoint, then check the final state against a batch
    build over every landed file."""
    if "stream" in w.layer_inputs():
        return w.stream.layer_metrics(w.resume_s[True])
    run = StreamRun(w, os.path.join(w.bench.work, "data", "stream_probe"))
    op = w.bench.op
    run.start()
    with w.tracer.operation("streaming.probe"):
        for i in range(STREAM_PROBE_FILES - 1):
            op("streaming.fold", lambda: run.fold(inputs.stream_file(w.bench.seed, i), True))
        resume_s = op("streaming.resume", lambda: run.resume(inputs.stream_file(w.bench.seed, i + 1)))
    run.stop()
    op("streaming.final_state", run.check, check=lambda reason: reason)
    return run.layer_metrics(resume_s)


PROBES = [scan, kernels, aggregate, emerging, dedup, streaming]


def layer_metrics(w) -> dict[str, float]:
    out: dict[str, float] = {}
    for probe in PROBES:
        out.update(probe(w))
    return out
