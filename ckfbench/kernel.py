"""The `core` section of the traced run: the numpy kernel alone, in one
process, on the workload's own keys and at its load. It is the ceiling that
the Spark-level throughput of the same workload is read against."""

from __future__ import annotations

import statistics
import time

import numpy as np

from cuckoofilter4j_spark.core import CuckooFilter, IndexTagGen, validate_params
from cuckoofilter4j_spark.operators.build import words_from_arrow_binary

CODECS = ("packed", "semisort", "sparse")


def _median_s(fn, reps: int) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def kernel_metrics(members, absent, max_keys: int, fpp: float, sizing: str, seed: int, reps: int = 3) -> dict:
    """`members` and `absent` are pyarrow binary arrays. One filter sized for
    `max_keys` (the workload's largest shard or group) takes every member.
    Small filters get more repetitions, so each timing covers ~200k keys."""
    nb, tb = validate_params(max_keys, fpp, sizing)
    n = len(members)
    reps = max(reps, min(50, 200_000 // max(n, 1)))
    out = {}

    words = words_from_arrow_binary(members)
    out["core.decode_keys_per_s"] = n / _median_s(lambda: words_from_arrow_binary(members), reps)

    gen = IndexTagGen(nb, tb, seed)

    def hash_all():
        i1, tag = gen.generate(words)
        gen.alt(i1, tag)

    out["core.hash_keys_per_s"] = n / _median_s(hash_all, reps)

    i1, tag = gen.generate(words)
    filters = []

    def place():
        f = CuckooFilter(nb, tb, seed, rng_seed=seed)
        f.put_fingerprints(i1, tag)
        filters.append(f)

    out["core.place_keys_per_s"] = n / _median_s(place, reps)
    filt = filters[-1]
    out["core.kicks_per_key"] = filt.kicks / n
    out["core.failed_inserts"] = filt.failed_inserts
    out["core.load_factor"] = filt.load_factor()

    probe_words = np.concatenate([words, words_from_arrow_binary(absent)]) if len(absent) else words
    out["core.probe_keys_per_s"] = len(probe_words) / _median_s(lambda: filt.contains_batch(probe_words), reps)

    del_words = words[: max(n // 10, 1)]

    def delete():
        filt.copy().delete_batch(del_words)

    copy_s = _median_s(filt.copy, reps)
    out["core.delete_keys_per_s"] = len(del_words) / max(_median_s(delete, reps) - copy_s, 1e-9)

    for codec in CODECS:
        blob = filt.to_bytes(codec=codec)
        out[f"core.{codec}.from_bytes_s"] = _median_s(lambda: CuckooFilter.from_bytes(blob), reps)
        out[f"core.{codec}.sketch_bytes_per_key"] = len(blob) / n
    return out
