"""Seeded input generators.  The same seed gives byte-identical inputs.

Inputs are written once per (workload, seed, sizes) into the checkout's
``.perfbench_cache/`` directory, before any timed region, and reused by later
runs with the same seed.  The program under test only ever sees the files.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import config

BASE_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z, event-time origin
FLUSH_USER = -1

EVENT_SCHEMA = pa.schema([
    ("seq", pa.int64()),
    ("ts", pa.timestamp("us", tz="UTC")),
    ("user_id", pa.int64()),
    ("value", pa.int64()),
])


def _cache_dir(root: str, workload: str, seed: int, sizes: dict) -> str:
    digest = hashlib.sha256(
        json.dumps(sizes, sort_keys=True).encode()
    ).hexdigest()[:12]
    return os.path.join(root, ".perfbench_cache", "inputs", f"{workload}-{seed}-{digest}")


def _cached(root, workload, seed, sizes, build) -> str:
    """Return the input directory for this seed, building it if absent.
    A ``DONE`` marker is written last, so an interrupted build is redone."""
    out = _cache_dir(root, workload, seed, sizes)
    if os.path.exists(os.path.join(out, "DONE")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    build(out, np.random.default_rng(seed))
    with open(os.path.join(out, "DONE"), "w") as fh:
        fh.write("ok\n")
    return out


def _zipf_choice(rng, n: int, s: float, size: int) -> np.ndarray:
    """Bounded Zipf over ids 0..n-1 (id 0 is the most frequent)."""
    p = 1.0 / np.arange(1, n + 1) ** s
    return rng.choice(n, size=size, p=p / p.sum())


def _write_events(path: str, seq, ts_us, user, value) -> None:
    table = pa.table(
        {
            "seq": pa.array(seq, pa.int64()),
            "ts": pa.array(ts_us, pa.int64()).cast(pa.timestamp("us", tz="UTC")),
            "user_id": pa.array(user, pa.int64()),
            "value": pa.array(value, pa.int64()),
        },
        schema=EVENT_SCHEMA,
    )
    pq.write_table(table, path)


# -- stream_window_agg -------------------------------------------------------
def _stream_files(out_dir: str, rng, n_files: int, seq0: int, cfg: dict) -> None:
    """``n_files`` event files in event-time order, events shuffled inside
    each file, then one flush file whose single event lies far past the
    last window so that every data window becomes closable."""
    os.makedirs(out_dir)
    e = cfg["events_per_file"]
    span_us = int(cfg["file_event_span_s"] * 1_000_000)
    for i in range(n_files):
        ts = BASE_US + i * span_us + np.sort(rng.integers(0, span_us, e))
        perm = rng.permutation(e)
        seq = seq0 + i * e + np.arange(e)
        user = _zipf_choice(rng, cfg["n_users"], cfg["zipf_s"], e)
        value = rng.integers(0, cfg["value_max"], e)
        _write_events(
            os.path.join(out_dir, f"part-{i:05d}.parquet"),
            seq[perm], ts[perm], user[perm], value[perm],
        )
    flush_ts = BASE_US + (n_files + 10) * span_us
    _write_events(
        os.path.join(out_dir, f"part-{n_files:05d}.parquet"),
        [seq0 + n_files * e], [flush_ts], [FLUSH_USER], [cfg["filter_gt"] + 1],
    )


def stream_inputs(root: str, seed: int, seconds: float) -> str:
    cfg = dict(config.STREAM, live_files=config.live_files(seconds))

    def build(out, rng):
        _stream_files(os.path.join(out, "warm"), rng, cfg["warm_files"], 0, cfg)
        _stream_files(os.path.join(out, "backlog"), rng, cfg["backlog_files"], 0, cfg)
        _stream_files(os.path.join(out, "live"), rng, cfg["live_files"], 10**9, cfg)

    return _cached(root, "stream", seed, cfg, build)


# -- corpus_ingest -----------------------------------------------------------
def _doc(rng, cfg) -> list[int]:
    lo, hi = cfg["doc_words"]
    return rng.integers(0, cfg["vocab"], rng.integers(lo, hi + 1)).tolist()


def _text(words: list[int]) -> str:
    return " ".join(f"w{w}" for w in words)


def _near(rng, words: list[int], cfg) -> list[int]:
    """Replace a few words with words outside the vocabulary, so the copy
    is never byte-equal and its 3-shingle Jaccard stays around 0.9."""
    out = list(words)
    for pos in rng.choice(len(out), cfg["near_words_replaced"], replace=False):
        out[pos] = cfg["vocab"] + int(rng.integers(0, 10**6))
    return out


def corpus_inputs(root: str, seed: int, seconds: float) -> str:
    """Corpus + crawl batches with planted duplicates.  ``truth.json`` lists,
    per batch, every document id and whether ``CorpusState.ingest`` must
    keep it, with the kind of plant that decides it."""
    cfg = dict(config.CORPUS, batches=config.corpus_batches(seconds))

    def build(out, rng):
        next_id = 0
        corpus = []
        for _ in range(cfg["corpus_docs"]):
            corpus.append((next_id, _doc(rng, cfg)))
            next_id += 1
        _write_docs(os.path.join(out, "corpus.parquet"), corpus)
        survivors: list[list[int]] = []   # fresh survivors of earlier batches
        truth = []
        for b in range(cfg["batches"]):
            originals, decided = [], []
            n_plants = sum(
                cfg[k] for k in ("exact_of_corpus", "near_of_corpus",
                                 "in_batch_exact", "in_batch_near",
                                 "exact_of_survivor", "near_of_survivor")
            )
            n_fresh = cfg["batch_docs"] - n_plants
            fresh = [_doc(rng, cfg) for _ in range(n_fresh)]
            # fresh docs get the lowest ids of the batch, so in-batch copies
            # (higher ids) are the ones dropped (lowest id wins)
            for words in fresh:
                originals.append(words)
                decided.append((next_id, words, True, "fresh"))
                next_id += 1

            def plant(src_pool, count, kind, near):
                nonlocal next_id
                picks = rng.choice(len(src_pool), count, replace=False)
                for p in picks:
                    words = src_pool[int(p)]
                    copy = _near(rng, words, cfg) if near else list(words)
                    decided.append((next_id, copy, False, kind))
                    next_id += 1

            corpus_words = [w for _, w in corpus]
            plant(corpus_words, cfg["exact_of_corpus"], "exact_of_corpus", False)
            plant(corpus_words, cfg["near_of_corpus"], "near_of_corpus", True)
            plant(originals, cfg["in_batch_exact"], "in_batch_exact", False)
            plant(originals, cfg["in_batch_near"], "in_batch_near", True)
            if survivors:
                plant(survivors, cfg["exact_of_survivor"], "exact_of_survivor", False)
                plant(survivors, cfg["near_of_survivor"], "near_of_survivor", True)
            else:
                # no earlier batch yet: fill the slots with fresh documents
                for _ in range(cfg["exact_of_survivor"] + cfg["near_of_survivor"]):
                    words = _doc(rng, cfg)
                    decided.append((next_id, words, True, "fresh"))
                    next_id += 1
            order = rng.permutation(len(decided))
            rows = [decided[i] for i in order]
            _write_docs(
                os.path.join(out, f"batch-{b}.parquet"),
                [(i, w) for i, w, _, _ in rows],
            )
            truth.append([
                {"id": i, "keep": keep, "kind": kind} for i, _, keep, kind in rows
            ])
            survivors.extend(w for _, w, keep, _ in rows if keep)
        with open(os.path.join(out, "truth.json"), "w") as fh:
            json.dump(truth, fh)

    return _cached(root, "corpus", seed, cfg, build)


def _write_docs(path: str, docs) -> None:
    pq.write_table(
        pa.table({
            "doc_id": pa.array([d[0] for d in docs], pa.int64()),
            "text": pa.array([_text(d[1]) for d in docs], pa.string()),
        }),
        path,
    )


# -- window_join_batch --------------------------------------------------------
def join_inputs(root: str, seed: int, seconds: float) -> str:
    """Entry/exit camera tables (FIXTURES.md F4 shape) with Zipf-skewed
    vehicle ids.  Refuses a seed whose inner-join output would exceed
    ``max_output_multiple`` times the input rows."""
    cfg = config.JOIN

    def build(out, rng):
        n, span_us = cfg["rows_per_side"], cfg["span_s"] * 1_000_000
        win_us = cfg["window_s"] * 1_000_000
        cells = {}
        for side, loc in (("entry", "entry_loc"), ("exit", "exit_loc")):
            os.makedirs(os.path.join(out, side))
            ts = BASE_US + rng.integers(0, span_us, n)
            vid = _zipf_choice(rng, cfg["n_vehicles"], cfg["zipf_s"], n)
            locs = rng.integers(0, 50, n)
            cells[side] = np.unique(
                ((ts - BASE_US) // win_us) * cfg["n_vehicles"] + vid,
                return_counts=True,
            )
            chunk = -(-n // cfg["files_per_side"])
            for f in range(cfg["files_per_side"]):
                s = slice(f * chunk, (f + 1) * chunk)
                pq.write_table(
                    pa.table({
                        "seq": pa.array(np.arange(n)[s], pa.int64()),
                        "ts": pa.array(ts[s], pa.int64()).cast(
                            pa.timestamp("us", tz="UTC")),
                        "vehicle_id": pa.array(vid[s], pa.int64()),
                        loc: pa.array(locs[s], pa.int64()),
                    }),
                    os.path.join(out, side, f"part-{f:03d}.parquet"),
                )
        (lk, lc), (rk, rc) = cells["entry"], cells["exit"]
        _, li, ri = np.intersect1d(lk, rk, return_indices=True)
        inner_rows = int((lc[li] * rc[ri]).sum())
        if inner_rows > cfg["max_output_multiple"] * 2 * n:
            raise ValueError(
                f"join output {inner_rows} rows exceeds "
                f"{cfg['max_output_multiple']}x the input"
            )
        with open(os.path.join(out, "sizes.json"), "w") as fh:
            json.dump({"inner_rows": inner_rows, "input_rows": 2 * n}, fh)

    return _cached(root, "join", seed, cfg, build)
