"""The benchmark's workloads, each a closed loop with one client.

``query_heavy``: BM25 queries full of stopwords, and stopword phrases, on a
positional index, where postings and positions decode dominate the action.
``ingest_mix``: a base build, then cycles of append, a fixed set of selective
queries on a freshly opened index, and a delete, then a compaction and the
same queries again: writes beside reads on the same layers.

Only public functions of ``dart_importer_spark`` are called. Every public call
is one operation, timed by a span; an operation that raises or returns a
wrong answer counts as failed.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
import traceback

from pyspark.sql import functions as F

from dart_importer_spark.datagen import generate_transcripts
from dart_importer_spark.index.build import BuildConfig, append_index, build_index
from dart_importer_spark.index.merge import compact_index
from dart_importer_spark.query.engine import InvertedIndex

import probes
from queries import CLASSES, HEAVY, SELECTIVE, OracleCheck, QueryGen
from tracing import Tracer

# corpus sizes in conversations (datagen averages ~9 turns each)
SIZES = {
    "full": {
        "query_heavy": {"convs": 2000, "setups": 2},
        "ingest_mix": {"convs": 500, "batch_convs": 50, "max_cycles": 3, "setups": 2},
    },
    "tiny": {
        "query_heavy": {"convs": 120, "setups": 1},
        "ingest_mix": {"convs": 120, "batch_convs": 10, "max_cycles": 2, "setups": 1},
    },
}
WRITE_PROBE_CONVS = 50  # traced query_heavy: one append of this many conversations
WARM_ROUNDS = 3  # query_heavy: latencies keep falling into the third round
PROBES_PER_CLASS = 2  # traced runs query every class this many times
CHECKS_PER_CLASS = 2  # timed queries per class checked against the oracle
CONFIG = BuildConfig(store_positions=True)


def conv_key(c: int) -> str:
    """datagen's conversation id of ordinal ``c`` (ids sort by ordinal)."""
    return f"conv{c:08d}"


def convs_between(df, lo: int, hi: int):
    return df.filter((F.col("conv_id") >= conv_key(lo)) & (F.col("conv_id") < conv_key(hi)))


def index_files_bytes(path: str) -> tuple[int, int]:
    """(parquet data files, bytes of all files) under an index directory."""
    n_files = n_bytes = 0
    for dirpath, _, names in os.walk(path):
        for name in names:
            n_bytes += os.path.getsize(os.path.join(dirpath, name))
            n_files += name.endswith(".parquet")
    return n_files, n_bytes


def median(xs) -> float:
    return float(statistics.median(xs))


class Bench:
    """One run: the Spark session, its tracer, op accounting and metrics."""

    def __init__(self, spark, tmp: str, seed: int, seconds: float,
                 trace: bool, session_start_s: float, oracle_cls):
        self.spark = spark
        self.tmp = tmp
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.session_start_s = session_start_s
        self.oracle_cls = oracle_cls
        self.tracer = Tracer(spark, trace)
        self.attempted = 0
        self.failed = 0
        self.metrics: dict[str, tuple[float, str]] = {}
        self.files_peak = 0
        self.append_files: list[int] = []
        self.delete_files: list[int] = []
        self.compact_files = 0
        self.t0 = time.perf_counter()

    def path(self, name: str) -> str:
        return os.path.join(self.tmp, name)

    def put(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)

    def log(self, what: str) -> None:
        print(f"perfbench: {time.perf_counter() - self.t0:7.1f}s {what}", file=sys.stderr)

    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"perfbench: FAILED {what}", file=sys.stderr)

    def op(self, name: str, fn, rid: str | None = None):
        """One timed public call. Returns (result, span); the result is None
        when the call raised, which counts as a failed operation."""
        self.attempted += 1
        with self.tracer.span(name, rid) as sp:
            try:
                out = fn()
            except Exception:  # a failed operation is counted, not fatal
                traceback.print_exc(file=sys.stderr)
                out = None
        if out is None:
            self.fail(f"{name} raised")
        return out, sp

    def query(self, ix, q, rid: str):
        def call():
            with self.tracer.span(f"engine.{q.cls}.construct"):
                df = q.run(ix)
            with self.tracer.span(f"engine.{q.cls}.action"):
                rows = df.collect()
            return [(int(r["doc_id"]), float(r["score"])) for r in rows]

        return self.op(f"query.{q.cls}", call, rid)

    def note_files(self, index_dir: str) -> None:
        self.files_peak = max(self.files_peak, index_files_bytes(index_dir)[0])

    # -- set-up -------------------------------------------------------------

    def corpus(self, n_convs: int):
        """The seeded transcripts, cached in Spark and copied to pandas for
        the oracle. Making inputs is not part of any timed figure."""
        tx = generate_transcripts(self.spark, n_convs, seed=self.seed).cache()
        pdf = tx.toPandas()
        pdf["text_bytes"] = pdf["text"].str.encode("utf-8").str.len()
        self.log(f"corpus of {len(pdf)} turns ready")
        return tx, pdf

    def setups(self, tx_base, n: int) -> tuple[InvertedIndex, str]:
        """Build and open the index ``n`` times from scratch; the last one is
        kept. setup_s is the session start plus the median set-up. The first
        set-up runs cold (JIT compilation, first Python workers), as a
        user's first build does; the later ones run warm."""
        setup_s, build_s, ix, d = [], [], None, None
        self.build_phases = []
        for i in range(n):
            if d is not None:
                shutil.rmtree(d)
            d = self.path(f"index{i}")
            with self.tracer.span("setup", rid=f"setup{i}") as sp:
                with self.tracer.span("build_index") as bsp:
                    res = build_index(self.spark, tx_base, d, CONFIG)
                with self.tracer.span("engine.open"):
                    ix = InvertedIndex(self.spark, d)
            setup_s.append(sp.dur)
            build_s.append(bsp.dur)
            self.build_phases.append(res["phases"])
        self.put("setup_s", self.session_start_s + median(setup_s), "s")
        self.build_s = build_s[-1]  # warm: build throughput at steady state
        self.log(f"{n} set-ups done, median {median(setup_s):.2f}s")
        return ix, d

    # -- checks ---------------------------------------------------------------

    def oracle_for(self, ix, pdf) -> OracleCheck:
        """Oracle over the live documents of ``ix`` (one Spark job)."""
        live = ix.doc_stats().select("doc_id", "conv_id", "turn_idx").toPandas()
        docs = live.merge(pdf, on=["conv_id", "turn_idx"], how="left")
        return OracleCheck(self.oracle_cls, docs)

    def check(self, oracle: OracleCheck, results) -> None:
        """Check the first CHECKS_PER_CLASS answers of each class."""
        seen: dict[str, int] = {}
        for q, got in results:
            if got is None or seen.get(q.cls, 0) >= CHECKS_PER_CLASS:
                continue
            seen[q.cls] = seen.get(q.cls, 0) + 1
            bad = oracle.mismatch(q, got)
            if bad:
                self.fail(f"oracle mismatch {bad}")

    # -- traced-run layer figures -------------------------------------------

    def probe_classes(self, ix, timed: tuple[str, ...]) -> None:
        """Traced runs: query each class the timed loop does not run
        PROBES_PER_CLASS times, so every workload reports every
        engine.<class> figure."""
        gen = QueryGen(self.seed + 7, self.n_convs)
        for cls in (c for c in CLASSES if c not in timed):
            for rep in range(PROBES_PER_CLASS):
                self.query(ix, gen.draw(cls), rid=f"probe-{cls}-{rep}")

    def layer_metrics(self, loop_query_s: list[float]) -> None:
        tr = self.tracer
        spans = [s for s in tr.spans if not (s.rid or "").startswith("warm")]

        def med(name, attr="dur"):
            vals = [
                s.dur if attr == "dur" else tr.total(s, attr)
                for s in spans if s.name == name
            ]
            return median(vals) if vals else float("nan")

        self.put("session.start_s", self.session_start_s, "s")
        jvm, py = probes.spark_job_floors(self.spark)
        self.put("spark.jvm_job_floor_s", jvm, "s")
        self.put("spark.python_job_floor_s", py, "s")
        self.put("engine.open_s", med("engine.open"), "s")
        for cls in CLASSES:
            self.put(f"engine.{cls}.construct_s", med(f"engine.{cls}.construct"), "s")
            self.put(f"engine.{cls}.action_s", med(f"engine.{cls}.action"), "s")
            for attr in ("jobs", "stages", "tasks"):
                self.put(f"engine.{cls}.{attr}", med(f"query.{cls}", attr), "count")
        enc, dec, exact = probes.codec_mb_per_s(self.seed)
        if not exact:
            self.fail("codec round trip")
        self.put("codec.encode_mb_per_s", enc, "MB/s")
        self.put("codec.decode_mb_per_s", dec, "MB/s")
        self.put("tokenizer.docs_per_s", probes.tokenizer_docs_per_s(self.seed, 500), "1/s")
        for p in sorted({p for ph in self.build_phases for p in ph}):
            self.put(f"build.{p}_s", median(ph.get(p, 0.0) for ph in self.build_phases), "s")
        self.put("build.jobs", med("build_index", "jobs"), "count")
        self.put("append.s", med("append_index"), "s")
        self.put("append.jobs", med("append_index", "jobs"), "count")
        self.put("append.files_written", median(self.append_files), "count")
        self.put("delete.s", med("delete_by_query"), "s")
        self.put("delete.files_written", median(self.delete_files), "count")
        self.put("merge.compact_s", med("compact_index"), "s")
        self.put("merge.files_after", self.compact_files, "count")
        self.put("index.files_peak", self.files_peak, "count")
        q_spans = [s for s in spans if s.name.startswith("query.")]
        self.put("trace.query_p50_s", median(loop_query_s), "s")
        self.put("trace.hook_ms_per_span", 1e3 * tr.hook_s / len(tr.spans), "ms")
        self.put("client.self_ms", 1e3 * median(tr.self_time(s) for s in q_spans), "ms")
        self.put("queries.count", len(loop_query_s), "count")

    def append(self, ix_dir: str, batch, tag: str):
        """Append ``batch`` and open the grown index (None if either failed)."""
        before = index_files_bytes(ix_dir)[0]
        self.op("append_index",
                lambda: append_index(self.spark, batch, ix_dir, batch_tag=tag))
        self.append_files.append(index_files_bytes(ix_dir)[0] - before)
        ix, _ = self.op("engine.open", lambda: InvertedIndex(self.spark, ix_dir))
        return ix

    def delete(self, ix, ix_dir: str, conv_id: str) -> None:
        """Delete one conversation through ``ix``."""
        before = index_files_bytes(ix_dir)[0]
        self.op("delete_by_query",
                lambda: ix.delete_by_query(F.col("conv_id") == conv_id))
        self.delete_files.append(index_files_bytes(ix_dir)[0] - before)
        self.note_files(ix_dir)

    def compact(self, ix_dir: str):
        out = ix_dir + "_compacted"
        self.op("compact_index", lambda: compact_index(self.spark, ix_dir, out))
        self.compact_files = index_files_bytes(out)[0]
        return out


def query_heavy(b: Bench, size: dict) -> None:
    n = b.n_convs = size["convs"]
    tx, pdf = b.corpus(n + (WRITE_PROBE_CONVS if b.trace else 0))
    base_pdf = pdf[pdf["conv_id"] < conv_key(n)]
    ix, ix_dir = b.setups(convs_between(tx, 0, n), size["setups"])
    b.note_files(ix_dir)
    warm = QueryGen(b.seed + 1, n)
    for i in range(WARM_ROUNDS):
        for cls in HEAVY:
            b.query(ix, warm.draw(cls), rid=f"warm{i}-{cls}")

    gen = QueryGen(b.seed, n)
    results, lat = [], []
    t0 = time.perf_counter()
    rounds = 0  # a round runs each class once, so every run has the same mix
    while rounds == 0 or time.perf_counter() - t0 < b.seconds:
        for cls in HEAVY:
            q = gen.draw(cls)
            got, sp = b.query(ix, q, rid=f"r{rounds}-{cls}")
            results.append((q, got))
            lat.append(sp.dur)
        rounds += 1
    loop_s = time.perf_counter() - t0
    b.log(f"{len(lat)} timed queries in {loop_s:.1f}s: " + ", ".join(
        f"{q.cls} {t:.2f}" for (q, _), t in zip(results, lat)))

    b.put("query_p50_s", median(lat), "s")
    b.put("ops_per_s", len(lat) / loop_s, "1/s")
    b.put("build.turns_per_s", len(base_pdf) / b.build_s, "1/s")
    n_files, n_bytes = index_files_bytes(ix_dir)
    b.put("index_bytes_per_text_byte", n_bytes / base_pdf["text_bytes"].sum(), "B/B")
    b.check(b.oracle_for(ix, pdf), results)
    b.log("oracle check done")

    if b.trace:
        b.probe_classes(ix, HEAVY)
        ix2 = b.append(ix_dir, convs_between(tx, n, n + WRITE_PROBE_CONVS), "probe")
        if ix2 is not None:
            b.delete(ix2, ix_dir, conv_key(n // 2))
        b.compact(ix_dir)
        b.layer_metrics(lat)
        b.put("index.files", n_files, "count")
        b.put("index.bytes", n_bytes, "B")


def ingest_mix(b: Bench, size: dict) -> None:
    n = b.n_convs = size["convs"]
    batch, max_cycles = size["batch_convs"], size["max_cycles"]
    tx, pdf = b.corpus(n + batch * max_cycles)
    ix, ix_dir = b.setups(convs_between(tx, 0, n), size["setups"])
    b.note_files(ix_dir)
    gen = QueryGen(b.seed, n)
    qset = [gen.draw(cls) for cls in SELECTIVE]
    # first-call costs are per engine entry point: warm topk and search
    for q in (qset[0], qset[SELECTIVE.index("dsl_bool")]):
        b.query(ix, q, rid=f"warm-{q.cls}")
    # doc ids are dense in key order and appends continue the numbering, so
    # the conversation of a hit is known without asking the engine
    conv_of_doc = pdf.sort_values(["conv_id", "turn_idx"])["conv_id"].to_numpy()

    # results: (deletes done before the query, query, hits)
    results, lat, deleted = [], [], []
    t0 = time.perf_counter()
    cycle = 0
    while cycle < max_cycles and (cycle == 0 or time.perf_counter() - t0 < b.seconds):
        victim = None
        lo = n + cycle * batch
        ix = b.append(ix_dir, convs_between(tx, lo, lo + batch), f"cycle{cycle}")
        if ix is None:
            break
        for q in qset:
            got, sp = b.query(ix, q, rid=f"c{cycle}-{q.cls}")
            results.append((cycle, q, got))
            lat.append(sp.dur)
            if victim is None and got:
                victim = conv_of_doc[got[0][0]]
        victim = victim or conv_key(cycle + 1)
        b.delete(ix, ix_dir, victim)
        deleted.append(victim)
        # the query set again: the first query's top hit was just deleted
        for q in qset:
            got, sp = b.query(ix, q, rid=f"c{cycle}-deleted-{q.cls}")
            results.append((cycle + 1, q, got))
            lat.append(sp.dur)
        cycle += 1
    pre_compact = b.spark.read.parquet(os.path.join(ix_dir, "doc_stats")).select(
        "doc_id", "conv_id").toPandas()
    out = b.compact(ix_dir)
    ixc, _ = b.op("engine.open", lambda: InvertedIndex(b.spark, out))
    final = [(q, b.query(ixc, q, rid=f"final-{q.cls}")[0]) for q in qset]
    total_s = time.perf_counter() - t0
    b.log(f"{cycle} cycles, compaction and final queries in {total_s:.1f}s; reads: "
          + ", ".join(f"{q.cls} {t:.2f}" for (_, q, _), t in zip(results, lat)))
    timed_ops = [s for s in b.tracer.spans if s.parent is None and s.start >= t0]

    b.put("query_p50_s", median(lat), "s")
    b.put("ops_per_s", len(timed_ops) / total_s, "1/s")
    b.put("build.turns_per_s", int((pdf["conv_id"] < conv_key(n)).sum()) / b.build_s, "1/s")
    live = pdf[(pdf["conv_id"] < conv_key(n + cycle * batch)) & ~pdf["conv_id"].isin(deleted)]
    n_files, n_bytes = index_files_bytes(out)
    b.put("index_bytes_per_text_byte", n_bytes / live["text_bytes"].sum(), "B/B")

    # deleted documents never appear once their delete has returned
    ids_of = pre_compact.groupby("conv_id")["doc_id"].apply(set).to_dict()
    for n_deleted, q, got in results:
        gone = set().union(*(ids_of.get(v, set()) for v in deleted[:n_deleted]))
        if got is not None and gone & {d for d, _ in got}:
            b.fail(f"deleted doc returned after {n_deleted} deletes: {q}")
    # after compaction, ranks and scores equal the oracle over the live rows
    if ixc is not None:
        oracle = b.oracle_for(ixc, pdf)
        for q, got in final:
            if got is not None and (bad := oracle.mismatch(q, got)):
                b.fail(f"oracle mismatch after compaction {bad}")
    b.log("oracle check done")
    if b.trace and ixc is not None:
        b.probe_classes(ixc, SELECTIVE)
        b.layer_metrics(lat)
        b.put("index.files", n_files, "count")
        b.put("index.bytes", n_bytes, "B")


WORKLOADS = {"query_heavy": query_heavy, "ingest_mix": ingest_mix}
