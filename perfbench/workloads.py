"""The workloads.  Each is a closed loop with one client: the next call
starts only when the previous one has returned.

corpus_emerging  the fused 4-order CMCU build (per-row tokenize, hash and
                 CMCU work), then the flagship query (mostly fixed
                 per-call cost: jobs, broadcasts, driver gaps).
stream_fold      pages land one small parquet file at a time into a
                 streaming sketch fold that re-reads and rewrites its
                 state table every epoch: merge plus state I/O dominate,
                 with a write path beside the reads.

Every workload defines ``generate`` (input from the seed, without Spark,
timed apart from set-up), ``run`` (one phase: warm-up iterations, then
the timed loop; all outputs are checked afterwards), ``check``,
``end_to_end``, ``report`` and, for the traced run, ``layer_inputs`` for
the per-layer probes.  An untraced run has one phase.  A traced run
adds a second, traced phase from a new JVM with the status UI on; its
tracing overhead is the traced phase's median unit-op wall minus the
untraced phase's.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from contextlib import ExitStack, nullcontext

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import checks
import inputs
from harness import tail, until
from sketch_spark.core import sketch_from_bytes
from sketch_spark.operators.aggregate import SketchSpec, sketch_aggregate
from sketch_spark.operators.emerging import emerging_heavy_hitters
from sketch_spark.sources.pages import load_pages
from sketch_spark.streaming.sketch_stream import streaming_sketch_query

CMCU = {"depth": 4, "log2_width": 14, "seed": 1}
GROWTH = 2.0
EMERGING_THRESHOLD = 300  # planted emerging tokens occur 400-600 times
MINHASH = {"num_perm": 64, "bands": 16, "shingle_k": 3, "threshold": 0.5}

PAGE_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("window", pa.string()),
    ]
)
EPOCH = "stream.epoch"  # accounting label of one streaming fold
PAGE_DDL = "url string, warc_ts timestamp, html binary, text string, lang string, window string"


def cmcu_spec(name: str = "cmcu", ngram: int = 1) -> SketchSpec:
    return SketchSpec(name, "cmcu", "text", mode="tokens", ngram=ngram, params=CMCU)


def build_specs() -> list[SketchSpec]:
    """The fused multi-length build: four n-gram orders in one pass."""
    return [cmcu_spec(f"cmcu{n}", n) for n in (1, 2, 3, 4)]


def stream_specs() -> list[SketchSpec]:
    return [
        cmcu_spec(),
        SketchSpec("cm", "cm", "text", mode="tokens", params=CMCU),
        SketchSpec("hll", "hll", "text", mode="tokens", params={"p": 14, "seed": 1}),
    ]


def windows(df):
    return df.filter(F.col("window") == "test"), df.filter(F.col("window") == "control")


def flagship(df):
    test, control = windows(df)
    return emerging_heavy_hitters(
        test, control, threshold=EMERGING_THRESHOLD, growth=GROWTH, mode="exact"
    ).collect()


def exact_counts(df):
    """Per-window exact token counts from a JVM groupBy, as pandas."""
    return checks.exact_token_counts(df).toPandas()


def exact_emerging(counts) -> dict[str, tuple[int, int]]:
    """The flagship's exact answer from exact per-window counts."""
    hit = counts[
        (counts["test_count"] >= EMERGING_THRESHOLD)
        & (counts["test_count"] / GROWTH > counts["control_count"])
    ]
    return {t: (int(a), int(b)) for t, a, b in zip(hit["token"], hit["test_count"], hit["control_count"])}


class Timed:
    """Walls of the loop's operations by kind of iteration: ``warm`` and
    ``untraced`` in the untraced phase, ``warm-traced`` and ``traced`` in
    the traced one."""

    def __init__(self):
        self.walls: dict[str, dict[str, list[float]]] = {}

    def add(self, name: str, wall: float, kind: str) -> None:
        self.walls.setdefault(kind, {}).setdefault(name, []).append(wall)

    def median(self, name: str, kind: str = "untraced") -> float:
        return statistics.median(self.walls[kind][name])

    def count(self, name: str, kind: str = "untraced") -> int:
        return len(self.walls.get(kind, {}).get(name, []))

    def warm_s(self) -> float:
        return sum(sum(v) for v in self.walls["warm"].values())


class Workload:
    name = ""
    unit_op = ""  # the span/accounting label of one unit of work
    min_iterations = 5  # the fewest samples a median is taken over
    warmups = 1  # untimed iterations on the real input before the timed ones

    def __init__(self, bench, tracer):
        self.bench, self.tracer = bench, tracer
        self.acct = None  # the traced phase's SparkAccounting
        self.timed = Timed()
        self.rss_peaks: list[int] = []  # per untraced iteration
        self.dir = os.path.join(bench.work, "data", self.name)

    @property
    def spark(self):
        return self.bench.spark

    def iterations(self, traced: bool):
        """Kinds of one phase's iterations: ``warmups`` iterations on the
        real input (the end of set-up), then timed ones for ``seconds``
        and at least ``min_iterations``."""
        for _ in range(self.warmups):
            yield "warm-traced" if traced else "warm"
        self.bench.rss.take()
        for _ in until(self.bench.seconds, self.min_iterations):
            yield "traced" if traced else "untraced"
            if not traced:
                self.rss_peaks.append(self.bench.rss.take())

    def timed_call(self, name: str, fn, kind: str):
        """One operation: span and job group when traced; the wall, taken
        outside both, always."""
        t0 = time.perf_counter()
        with ExitStack() as stack:
            if kind == "traced":
                stack.enter_context(self.tracer.span(name))
                stack.enter_context(self.acct.call(name))
            out = self.bench.op(name, fn)
        self.timed.add(name, time.perf_counter() - t0, kind)
        return out

    def spark_labels(self) -> list[str]:
        """Accounting labels whose per-call medians add up to one unit op."""
        return [self.unit_op]

    def peak_rss_mb(self) -> float:
        """Median over untraced iterations of the tree's peak RSS."""
        return statistics.median(self.rss_peaks) / 2**20

    def tracing_overhead(self) -> dict:
        t = self.timed
        return {
            "value": t.median(self.unit_op, "traced") - t.median(self.unit_op),
            "traced_samples": t.count(self.unit_op, "traced"),
            "untraced_samples": t.count(self.unit_op),
        }


# --------------------------------------------------------------------------
class CorpusEmerging(Workload):
    name = "corpus_emerging"
    unit_op = "emerging.emerging_heavy_hitters"
    warmups = 3  # the walls keep falling for about three iterations

    def generate(self):
        pages = inputs.corpus_frame(self.bench.seed, os.cpu_count())
        inputs.write_table(pages, self.dir)
        self.words = pages["text"].str.split().str.len().to_numpy()
        self.builds, self.results = [], []
        return {"pages": inputs.fingerprint(pages)}

    def run(self, traced: bool):
        self.df = load_pages(self.spark, self.dir)
        for kind in self.iterations(traced):
            t0 = time.perf_counter()
            res = self.timed_call("aggregate.sketch_aggregate", lambda: sketch_aggregate(self.df, build_specs()), kind)
            wall = time.perf_counter() - t0
            if res is not None:
                n = sum(res.metrics[(f"cmcu{k}",)]["n_values"] for k in (1, 2, 3, 4))
                self.builds.append((res, n, wall, kind))
            rows = self.timed_call(self.unit_op, lambda: flagship(self.df), kind)
            if rows is not None:
                self.results.append(rows)

    def check(self):
        exact = exact_counts(self.df)
        expected = exact_emerging(exact)
        hot, stable = inputs.planted_words(False), inputs.planted_words(True)
        for rows in self.results:
            self.bench.check(self.unit_op, lambda: checks.check_emerging(rows, expected, hot, stable))
        tokens = exact["token"].tolist()
        counts = (exact["test_count"] + exact["control_count"]).to_numpy(np.int64)
        # an n-gram order makes max(0, words - n + 1) updates per page
        want = {f"cmcu{k}": int(np.maximum(self.words - k + 1, 0).sum()) for k in (1, 2, 3, 4)}
        for res, *_ in self.builds:
            got = {name: res.metrics[(name,)]["n_values"] for name in want}
            self.bench.check("aggregate.sketch_aggregate", lambda: checks.check_counts(got, want, "updates")
                             or checks.check_cmcu(res.sketch("cmcu1"), tokens, counts))

    def end_to_end(self):
        return {
            "op_p50_s": self.timed.median(self.unit_op),
            "mupd_per_s": self.build_rate(),
        }

    def build_rate(self) -> float:
        """Median M updates/s of the untraced fused builds."""
        return statistics.median(n / w / 1e6 for _, n, w, kind in self.builds if kind == "untraced")

    def report(self):
        walls = self.timed.walls["untraced"][self.unit_op]
        return {
            "emerging_s": {"value": statistics.median(walls), "samples": len(walls)},
            "build_mupd_per_s": {
                "value": self.build_rate(),
                "samples": sum(1 for b in self.builds if b[3] == "untraced"),
                "updates_per_build": self.builds[0][1] if self.builds else None,
            },
        }

    def layer_inputs(self):
        return {"table": self.df, "table_dir": self.dir, "specs": build_specs(), "group_cols": []}


# --------------------------------------------------------------------------
def du(path: str, since: float = 0.0) -> int:
    """Bytes of the files under ``path`` modified at or after ``since``."""
    total = 0
    for dirpath, _, files in os.walk(path):
        for fn in files:
            try:
                st = os.stat(os.path.join(dirpath, fn))
            except FileNotFoundError:
                continue
            if st.st_mtime >= since:
                total += st.st_size
    return total


class StreamRun:
    """A ``streaming_sketch_query`` over a landing directory, fed one
    parquet file at a time by a producer that waits for each fold."""

    def __init__(self, workload, base: str):
        self.w = workload
        self.base = base
        shutil.rmtree(base, ignore_errors=True)
        self.land_dir, self.stage, self.state, self.ckpt = (
            os.path.join(base, d) for d in ("landing", "staging", "state", "checkpoint")
        )
        for d in (self.land_dir, self.stage, self.state):
            os.makedirs(d)
        self.files, self.rows = 0, 0
        self.ingest: list[float] = []
        self.jobs_per_epoch: list[int] = []
        self.written: list[int] = []
        self.progress: list[dict] = []
        self.query = None

    def start(self):
        spark = self.w.spark
        src = spark.readStream.schema(PAGE_DDL).parquet(self.land_dir)
        self.query = streaming_sketch_query(src, stream_specs(), self.state, self.ckpt, group_cols=["lang"])

    def stop(self):
        self.progress.extend(p for p in self.query.recentProgress if p.get("numInputRows"))
        self.query.stop()
        self.query = None

    def _put(self, pages) -> float:
        tmp = os.path.join(self.stage, f"f{self.files:05d}.parquet")
        pq.write_table(pa.Table.from_pandas(pages, schema=PAGE_SCHEMA, preserve_index=False), tmp)
        os.replace(tmp, os.path.join(self.land_dir, os.path.basename(tmp)))
        self.files += 1
        self.rows += len(pages)
        return time.time()

    def fold(self, pages, traced: bool):
        """Land one file; return seconds until its fold committed.  The
        wall is taken outside the span and the job bookkeeping, minus
        the time the file took to write."""
        t0 = time.perf_counter()
        with self.w.tracer.operation("streaming.fold") if traced else nullcontext():
            if traced:
                acct, group = self.w.acct, str(self.query.runId)
                before, cpu0 = acct.group_jobs(group), acct.worker_cpu_s()
            t_put = time.perf_counter()
            landed = self._put(pages)
            put_s = time.perf_counter() - t_put
            self.query.processAllAvailable()
            if traced:
                jobs = acct.group_jobs(group) - before
                acct.record(EPOCH, list(jobs), landed, time.time(), acct.worker_cpu_s() - cpu0)
                self.jobs_per_epoch.append(len(jobs))
        wall = time.perf_counter() - t0 - put_s
        self.written.append(du(self.state, landed) + du(self.ckpt, landed))
        self.ingest.append(wall)
        return wall

    def resume(self, pages) -> float:
        """Stop the query, land a file while it is down, restart it from
        its checkpoint and time the restart until it has caught up."""
        self.stop()
        self._put(pages)
        t0 = time.perf_counter()
        self.start()
        self.query.processAllAvailable()
        return time.perf_counter() - t0

    def state_rows(self):
        rows = self.w.spark.read.parquet(os.path.join(self.state, "current")).collect()
        return {(r["lang"], r["spec"]): r for r in rows}

    def check(self) -> str | None:
        """Final CM and HLL states byte-identical to a batch
        sketch_aggregate over every landed file; n_rows equal to the
        rows landed; CMCU never below an exact (lang, token) count; HLL
        within its bound of the exact distinct count per lang."""
        spark = self.w.spark
        stream = self.state_rows()
        batch = sketch_aggregate(spark.read.parquet(self.land_dir), stream_specs(), ["lang"])
        for spec in ("cm", "hll"):
            reason = checks.check_states_equal(
                {k[0]: bytes(r["state"]) for k, r in stream.items() if k[1] == spec},
                {k[0]: batch.sketch(spec, k[0]).to_bytes() for k in batch.keys() if k[1] == spec},
                f"stream {spec}",
            )
            if reason:
                return reason
        n_rows = sum(r["n_rows"] for k, r in stream.items() if k[1] == "cm")
        if n_rows != self.rows:
            return f"stream: n_rows {n_rows} != {self.rows} rows landed"
        words = F.explode(F.filter(F.split("text", r"\s+"), lambda t: t != "")).alias("token")
        exact = (
            spark.read.parquet(self.land_dir).select("lang", words).groupBy("lang", "token").count().toPandas()
        )
        distinct = {}
        for lang, grp in exact.groupby("lang"):
            distinct[lang] = len(grp)
            sketch = sketch_from_bytes(bytes(stream[(lang, "cmcu")]["state"]))
            if (sketch.estimate_tokens(pa.array(grp["token"].tolist(), pa.string())) < grp["count"].to_numpy()).any():
                return f"stream cmcu: underestimate for lang {lang}"
        hll = {k[0]: sketch_from_bytes(bytes(r["state"])) for k, r in stream.items() if k[1] == "hll"}
        return checks.check_distinct(
            {lang: s.estimate() for lang, s in hll.items()}, distinct,
            next(iter(hll.values())).relative_error, "stream hll",
        )

    def layer_metrics(self, resume_s: float) -> dict[str, float]:
        prog = self.progress
        return {
            "stream.trigger_s": statistics.median(p["durationMs"]["triggerExecution"] for p in prog) / 1e3,
            "stream.add_batch_s": statistics.median(p["durationMs"]["addBatch"] for p in prog) / 1e3,
            "stream.jobs_per_epoch": float(statistics.median(self.jobs_per_epoch)),
            "stream.state_bytes": float(du(os.path.join(self.state, "current"))),
            "stream.bytes_written_per_epoch": float(statistics.median(self.written)),
            "stream.resume_s": resume_s,
        }


class StreamFold(Workload):
    name = "stream_fold"
    unit_op = EPOCH
    min_iterations = 7  # six folds and the restart
    warmups = 4  # the first epoch has no state; the fold walls keep falling for ~3 more

    def generate(self):
        # the producer generates each file just before landing it
        self.stream, self.files = None, 0
        self.rates: list[float] = []
        self.resume_s: dict[bool, float] = {}  # by phase: traced or not
        return {"file_pages": inputs.STREAM_FILE_PAGES}

    def next_file(self):
        self.files += 1
        return inputs.stream_file(self.bench.seed, self.files - 1)

    def run(self, traced: bool):
        """Land files until ``seconds`` have passed; once, halfway, stop
        the query and restart it from its checkpoint.  The traced phase
        goes on with the same stream, restarted from its checkpoint in
        the new JVM."""
        if self.stream is None:
            self.stream = StreamRun(self, os.path.join(self.dir, "run"))
        run = self.stream
        run.start()
        resumed, folds, t0 = False, 0, None
        for kind in self.iterations(traced):
            pages = self.next_file()
            timed = not kind.startswith("warm")
            if timed and t0 is None:
                t0 = time.perf_counter()
            # halfway through the timed loop, by time and by count
            if (timed and not resumed and folds >= self.min_iterations // 2
                    and time.perf_counter() - t0 >= self.bench.seconds / 2):
                self.resume_s[traced] = self.bench.op("streaming.resume", lambda: run.resume(pages))
                resumed = True
                continue
            folds += timed
            wall = self.bench.op(self.unit_op, lambda: run.fold(pages, kind == "traced"))
            if wall is not None:
                self.timed.add(self.unit_op, wall, kind)
                if kind == "untraced":  # a file's tokens are its CMCU updates
                    self.rates.append(pages["text"].str.split().str.len().sum() / wall / 1e6)
        if not resumed:  # a run too short to reach halfway
            self.resume_s[traced] = self.bench.op("streaming.resume", lambda: run.resume(self.next_file()))
        run.stop()

    def check(self):
        self.bench.check("streaming.final_state", self.stream.check)

    def end_to_end(self):
        return {"op_p50_s": self.timed.median(self.unit_op), "mupd_per_s": statistics.median(self.rates)}

    def report(self):
        walls = self.timed.walls["untraced"][self.unit_op]
        pct, value, n = tail(walls)
        return {
            "ingest_p50_s": {"value": statistics.median(walls), "samples": len(walls)},
            "ingest_tail_s": {"value": value, "percentile": pct, "samples": n},
            "resume_s": {"value": self.resume_s[False]},
        }

    def layer_inputs(self):
        return {
            "table": self.spark.read.parquet(self.stream.land_dir),
            "table_dir": None,
            "specs": stream_specs(),
            "group_cols": ["lang"],
            "stream": self.stream,
        }


WORKLOADS = {w.name: w for w in (CorpusEmerging, StreamFold)}
