"""Seed-generated inputs for the workloads.

Every input comes from ``sketch_spark.sources.pages.generate_pages`` and
is a pure function of the seed: Zipf text (tokens ``w<id>``) plus
planted emerging and stable tokens with exact, known per-window counts,
and one planted emerging bigram, so the emerging-heavy-hitter answers
are never empty.  The MinHash probe's input also carries near-duplicate
pages at known ids.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd

from sketch_spark.sources.pages import PlantedToken, default_planted, generate_pages

# Sizes chosen so that one run of every workload, set-up included, fits
# the benchmark's per-run time budget on a 4-vCPU host.
CORPUS_PAGES = 10_000
FILES_PER_WINDOW = 4
NEAR_DUP_PAIRS = 20
NEAR_DUP_EDIT = 0.02  # share of a copy's tokens replaced
STREAM_FILE_PAGES = 300

PAGE_COLUMNS = ["url", "warc_ts", "html", "text", "lang", "window"]
PLANTED_BIGRAM = ("hhpair0", "hhpair1")


def planted_tokens() -> list[PlantedToken]:
    """Default planted set plus one emerging bigram (its two words
    always land side by side)."""
    return default_planted() + [PlantedToken(" ".join(PLANTED_BIGRAM), 450, 6)]


def planted_words(stable: bool) -> list[str]:
    """Words of the planted emerging (or, with ``stable``, stable) tokens."""
    return [w for p in planted_tokens() if p.token.startswith("hhstable") == stable for w in p.token.split(" ")]


def planted_pages(n_rows: int, seed) -> pd.DataFrame:
    pages, _ = generate_pages(n_rows, seed=seed, planted=planted_tokens(), with_html=False)
    return pages[PAGE_COLUMNS]


def _reset(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def corpus_chunk(args: tuple[int, int, int]) -> pd.DataFrame:
    seed, i, n_rows = args
    pages = planted_pages(n_rows, [seed, i])
    pages["url"] = pages["url"].str.replace("/p/", f"/p{i}/", regex=False)  # unique across chunks
    return pages


def corpus_frame(seed: int, processes: int) -> pd.DataFrame:
    """CORPUS_PAGES pages in ``processes`` chunks, each generated from
    (seed, chunk) in its own process; every chunk carries the planted
    set."""
    import gc
    import multiprocessing
    from multiprocessing import resource_tracker

    per = -(-CORPUS_PAGES // processes)
    jobs = [(seed, i, min(per, CORPUS_PAGES - i * per)) for i in range(processes)]
    with multiprocessing.get_context("spawn").Pool(processes) as pool:
        chunks = pool.map(corpus_chunk, jobs)
        pool.close()
        pool.join()
    del pool
    gc.collect()  # release the pool's semaphores while the tracker still runs
    # the pool started a resource-tracker process that would otherwise
    # outlive this one; end it and wait for it
    resource_tracker._resource_tracker._stop()
    return pd.concat(chunks, ignore_index=True)


def write_table(pages: pd.DataFrame, table_dir: str) -> str:
    """Write pages in ``load_pages``'s layout: window-partitioned parquet,
    FILES_PER_WINDOW files per window (the layout ``write_pages`` makes),
    so scans split into as many tasks."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    _reset(table_dir)
    for window, part in pages.groupby("window"):
        wdir = os.path.join(table_dir, "pages", f"window={window}")
        os.makedirs(wdir)
        table = pa.Table.from_pandas(part.drop(columns=["window"]), preserve_index=False)
        ts = table.schema.get_field_index("warc_ts")
        table = table.set_column(ts, "warc_ts", table["warc_ts"].cast(pa.timestamp("us")))
        per = -(-table.num_rows // FILES_PER_WINDOW)
        for i in range(FILES_PER_WINDOW):
            pq.write_table(table.slice(i * per, per), os.path.join(wdir, f"part-{i:04d}.parquet"))
    return table_dir


def with_near_duplicates(pages: pd.DataFrame, seed: int) -> tuple[pd.DataFrame, list[tuple[int, int]]]:
    """Add ``doc_id`` and NEAR_DUP_PAIRS edited copies of random pages.

    Each copy replaces NEAR_DUP_EDIT of its source's tokens with fresh
    words, which keeps the word-3-shingle Jaccard near 0.9, where the
    LSH banding misses a pair with probability below 1e-6.  Returns
    the pages and the planted (id_a, id_b) pairs, id_a < id_b.
    """
    rng = np.random.default_rng([seed, 1])
    pages = pages.reset_index(drop=True).copy()
    pages.insert(0, "doc_id", np.arange(len(pages), dtype=np.int64))
    sources = rng.choice(len(pages), size=NEAR_DUP_PAIRS, replace=False)
    copies, pairs = [], []
    for i, src in enumerate(sorted(int(s) for s in sources)):
        row = pages.iloc[src].copy()
        toks = row["text"].split(" ")
        for pos in rng.choice(len(toks), size=max(1, int(len(toks) * NEAR_DUP_EDIT)), replace=False):
            toks[pos] = f"edit{i}x{pos}"
        new_id = len(pages) + i
        row["doc_id"] = new_id
        row["text"] = " ".join(toks)
        row["url"] = f"{row['url']}?copy={i}"
        copies.append(row)
        pairs.append((src, new_id))
    return pd.concat([pages, pd.DataFrame(copies)], ignore_index=True), pairs


def stream_file(seed: int, i: int) -> pd.DataFrame:
    """The ``i``-th landed file of a stream: STREAM_FILE_PAGES pages with
    the full planted set, from a seed derived from (seed, i)."""
    return planted_pages(STREAM_FILE_PAGES, seed * 100_003 + i)


def fingerprint(pages: pd.DataFrame) -> str:
    """Order-independent content hash of a frame of pages."""
    cols = [c for c in ("doc_id", "url", "text", "lang", "window") if c in pages.columns]
    h = pd.util.hash_pandas_object(pages[cols], index=False).to_numpy()
    return f"{len(pages)}:{int(h.sum(dtype=np.uint64)):016x}"
