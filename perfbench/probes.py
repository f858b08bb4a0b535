"""Layer probes: Spark-free kernels (tokenizer, codec) and Spark job floors.

Each probe repeats its measurement and reports the median, on inputs drawn
from the run's seed.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

from dart_importer_spark.datagen import generate_transcripts_pandas
from dart_importer_spark.functions import codec
from dart_importer_spark.functions.tokenizer import tokenize_series

REPS = 5


def _median_time(fn, reps: int = REPS) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def tokenizer_docs_per_s(seed: int, n_convs: int) -> float:
    texts = generate_transcripts_pandas(n_convs, seed=seed)["text"]
    tokenize_series(texts)  # warm the regex and pandas paths
    return len(texts) / _median_time(lambda: tokenize_series(texts))


def posting_runs(seed: int, n_values: int) -> tuple[list[np.ndarray], np.ndarray]:
    """Sorted doc-id runs and term frequencies shaped like postings: each
    run's doc-id gaps are geometric with a Zipf-drawn density, and tfs are
    1 + geometric."""
    rng = np.random.default_rng(seed)
    runs, total = [], 0
    while total < n_values:
        n = int(rng.integers(128, 1 << 14))
        density = min(1.0, 1.0 / float(rng.zipf(1.5)))
        runs.append(np.cumsum(rng.geometric(density, size=n)).astype(np.uint64))
        total += n
    tfs = (1 + rng.geometric(0.6, size=total)).astype(np.uint64)
    return runs, tfs


def codec_mb_per_s(seed: int, n_values: int = 1 << 20) -> tuple[float, float, bool]:
    """(encode MB/s, decode MB/s, round trip exact), both rates over the
    encoded bytes. Each run is delta-coded on its own, as the index does."""
    runs, tfs = posting_runs(seed, n_values)

    def encode():
        return [codec.delta_encode(r) for r in runs], codec.varbyte_encode(tfs)

    blobs, tf_blob = encode()
    n_bytes = sum(len(b) for b in blobs) + len(tf_blob)

    def decode():
        return [codec.delta_decode(b) for b in blobs], codec.varbyte_decode(tf_blob)

    ids_back, tfs_back = decode()
    exact = all(np.array_equal(a, b) for a, b in zip(ids_back, runs)) and bool(
        np.array_equal(tfs_back, tfs)
    )
    mb = n_bytes / 1e6
    return mb / _median_time(encode), mb / _median_time(decode), exact


def spark_job_floors(spark) -> tuple[float, float]:
    """(JVM-only job, Python-stage job) wall time on a one-row input."""
    one = spark.range(0, 1, 1, 1)
    jvm = _median_time(lambda: one.collect())
    py = one.mapInPandas(lambda it: it, schema="id long")
    py.collect()
    return jvm, _median_time(lambda: py.collect())
