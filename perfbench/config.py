"""Fixed workload sizes and rates.  Every number a run depends on lives here,
so two commits measured with the same benchmark code see the same inputs.

Sizes were chosen on a 4-core, 15 GB host so that one untraced run of any
workload (set-up included) ends in well under a minute; NOTES.md records how.
"""

from __future__ import annotations

# -- program environment ------------------------------------------------------
DRIVER_MEM = "1g"            # get_session's 24g default exceeds small hosts

# -- stream_window_agg ----------------------------------------------------------
# One file covers FILE_EVENT_SPAN_S of event time and is published every
# FILE_PERIOD_S of wall time, so event time runs FILE_EVENT_SPAN_S /
# FILE_PERIOD_S times faster than the wall clock.
STREAM = {
    "events_per_file": 2000,
    "file_period_s": 0.2,          # 10,000 events/s offered in the live phase
    "file_event_span_s": 1.0,
    "window_s": 1,                 # tumbling, keyed by user_id
    "n_users": 2000,
    "zipf_s": 1.1,
    "value_max": 100,              # integer values in [0, value_max)
    "filter_gt": 9,                # greater(9)
    "warmup_files": 5,             # live windows closed by these are not sampled
    "live_share": 0.75,            # live phase = this share of --seconds
    "backlog_files": 30,           # staged backlog for the drain phase
    "warm_files": 5,               # untimed warm-up drain before the timed ones
    "max_files_per_trigger": 20,
    "trigger": "0 seconds",        # processing-time trigger of the live query
    "tail_pct": 75,                # highest percentile with >=10 samples beyond
}

# -- corpus_ingest ----------------------------------------------------------------
CORPUS = {
    "corpus_docs": 300,
    "seconds_per_batch": 10,       # batches = max(2, --seconds / this)
    "batch_docs": 100,
    "vocab": 5000,
    "doc_words": (100, 140),
    # per batch: planted duplicates (the rest of the batch is fresh text)
    "exact_of_corpus": 8,
    "near_of_corpus": 8,
    "in_batch_exact": 4,
    "in_batch_near": 4,
    "exact_of_survivor": 4,        # of an earlier batch's fresh survivor
    "near_of_survivor": 4,
    "near_words_replaced": 2,      # Jaccard of 3-shingle sets stays >= ~0.9
    # CorpusState parameters: 8 bands of 2 rows put the LSH miss chance of
    # a Jaccard-0.9 pair near 1e-5 (threshold 0.5, exact verification)
    "n": 3,
    "k": 16,
    "rows_per_band": 2,
    "threshold": 0.5,
}

# -- window_join_batch -----------------------------------------------------------
JOIN = {
    "rows_per_side": 60_000,
    "files_per_side": 4,
    "n_vehicles": 15_000,
    "zipf_s": 0.75,                # skewed vehicle_id: inner join ~0.8x the input
    "span_s": 3600,                # event times over one hour
    "window_s": 60,                # join window
    "slide_len_s": 300,            # sliding batch_count: 5 min every 1 min
    "slide_step_s": 60,
    "max_output_multiple": 4.0,    # inner-join rows / input rows, checked
    "warmup_passes": 2,            # untimed: pass times fall ~30% over the first three
    "seconds_per_pass": 2,         # timed passes = max(3, --seconds / this)
}


def live_files(seconds: float) -> int:
    """Live-phase files (warm-up included) for a run of ``seconds``."""
    return round(STREAM["live_share"] * seconds / STREAM["file_period_s"])


def corpus_batches(seconds: float) -> int:
    return max(2, round(seconds / CORPUS["seconds_per_batch"]))


def join_passes(seconds: float) -> int:
    return max(3, round(seconds / JOIN["seconds_per_pass"]))
