#!/usr/bin/env python3
"""fuzzy_wiki_spark benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload serve_batch --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. ``--trace 0`` prints every end-to-end
metric; ``--trace 1`` runs the same workload with spans, the Spark event
log and the in-process kernel replay, and prints every per-layer metric.
The last line of standard output is the result object; the lines before
it are diagnostics (input digests, phase control, versions). See
perfbench/README.md for what each workload and metric is for.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
T = time.perf_counter
K = 10
# set-up samples per run, after the session's first (cold) build
SETUP_REPS = 2
WORKLOADS = ("serve_batch", "ingest")
# nproc, capped so a large host does not multiply memory use
CPUS = min(8, len(os.sched_getaffinity(0)))

END_TO_END = {
    "setup_s": "s",
    "index_docs_per_s": "docs/s",
    "request_iqm_s": "s",
    "search_qps": "queries/s",
    "index_bytes_per_input_byte": "B/B",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "analyzer.tokens_per_s": "tokens/s",
    "postings.build_s": "s",
    "postings.rows": "count",
    "segments.encode_write_s": "s",
    "segments.exchange_bytes": "B",
    "segments.rows": "count",
    "segments.bytes": "B",
    "engine.stats_s": "s",
    "engine.open_s": "s",
    "engine.term_dict_s": "s",
    "engine.term_dict_misses": "count",
    "query.compile_s": "s",
    "segment_query.plan_s": "s",
    "kernel.read_s": "s",
    "kernel.topk_s": "s",
    "kernel.meta_decode_s": "s",
    "kernel.rows_in": "count",
    "kernel.bytes_in": "B",
    "codec.doc_decode_calls": "count",
    "codec.doc_decode_s": "s",
    "codec.tf_decode_s": "s",
    "segments.positions_decode_calls": "count",
    "segments.positions_decode_s": "s",
    "spark.job_s": "s",
    "spark.collect_s": "s",
    "spark.overhead_s": "s",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "B",
    "spark.shuffle_read_bytes": "B",
    "spark.input_bytes": "B",
    "incremental.append_s": "s",
    "incremental.open_s": "s",
    "incremental.read_amp": "ratio",
    "incremental.compact_s": "s",
    "incremental.compact_docs_per_s": "docs/s",
    "incremental.generations": "count",
    "trace.coverage": "fraction",
    "trace.request_self_s": "s",
    "trace.overhead_request_p50_s": "s",
    "trace.overhead_index_docs_per_s": "docs/s",
}


def _pin_environment(work: str) -> None:
    """Re-exec once with the settings that keep runs comparable: a fixed
    hash seed (set before the interpreter starts), a driver heap that fits
    a small box (``get_spark`` defaults to 48g), and every temporary file
    inside the checkout."""
    env = dict(os.environ)
    env.update(
        PYTHONHASHSEED="0",
        PERFBENCH_WORK=work,
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_GRAFT_DRIVER_MEM="2g",
        SPARK_GRAFT_CPUS=str(CPUS),
        PYSPARK_PYTHON=sys.executable,
    )
    for d in (env["TMPDIR"], env["SPARK_LOCAL_DIRS"]):
        os.makedirs(d, exist_ok=True)
    os.execve(sys.executable, [sys.executable, *sys.argv], env)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _iqm(xs):
    """Interquartile mean: the mean of the middle half of the values. Like
    a median it ignores a stray slow request; unlike one it averages the
    fast and slow requests a run mixes (see perfbench/README.md)."""
    xs = sorted(xs)
    cut = len(xs) // 4
    return statistics.fmean(xs[cut : len(xs) - cut]) if xs else 0.0


def _steal_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole host so far, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def _dir_bytes(path: str) -> int:
    """Bytes of the data files under ``path`` (hidden .crc files skipped)."""
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(path)
        for f in fs
        if not f.startswith(".")
    )


def _parquet_rows(root: str) -> int:
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
        for d, _, fs in os.walk(root)
        for f in fs
        if f.endswith(".parquet")
    )


def _peak_rss_mb(diag: dict) -> float:
    """Sum of VmHWM over this process and every descendant: the JVM and
    the Python workers it forked. Each process's share goes to ``diag``."""
    children = defaultdict(list)
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children[ppid].append(int(pid))
    total_kb, todo, parts = 0, [os.getpid()], []
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        kb = int(fields.get("VmHWM", "0 kB").split()[0])
        total_kb += kb
        parts.append(f"{fields['Name'].strip()}:{kb // 1024}")
    diag["peak_rss_parts_mb"] = parts
    return total_kb / 1024.0


def _write_parquet(pdf, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)


class Run:
    """State of one benchmark run: the session, the operation tally and
    the metrics collected so far."""

    def __init__(self, args, work: str):
        from tracing import Tracer

        self.args = args
        self.work = work
        self.traced = bool(args.trace)
        self.tracer = Tracer()
        self.attempted = 0
        self.failures: list[str] = []
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = defaultdict(float)
        self.diag: dict = {"seed": args.seed, "workload": args.workload, "nproc": CPUS}
        self.spark = None
        self.requests: list[str] = []  # traced search request ids
        self.untraced_lat: list[float] = []
        self.traced_lat: list[float] = []
        self.replays: list[dict] = []
        self.trace_coin = random.Random(f"{args.seed}:trace")
        self.t0 = T()

    # -- bookkeeping ---------------------------------------------------
    def mark(self, phase: str) -> None:
        """Diagnostics: wall time since the run started, per phase."""
        self.diag.setdefault("phase_end_s", {})[phase] = round(T() - self.t0, 2)

    def check(self, what: str, reason: str | None) -> None:
        """Count one operation; record it as failed if ``reason``."""
        self.attempted += 1
        if reason is not None:
            self.failures.append(f"{what}: {reason}")

    def start_spark(self) -> None:
        from fuzzy_wiki_spark import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work}/tmp -XX:-UsePerfData",
            "spark.local.dir": f"{self.work}/spark-local",
        }
        if self.traced:
            os.makedirs(f"{self.work}/events", exist_ok=True)
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = f"file://{self.work}/events"
            conf["spark.eventLog.rolling.enabled"] = "false"
            conf["spark.eventLog.compress"] = "false"
        t0 = T()
        self.spark = get_spark(
            "perfbench", master=f"local[{CPUS}]", shuffle_partitions=CPUS, extra_conf=conf
        )
        self.start_s = T() - t0
        self.layer["session.start_s"] = self.start_s
        self.spark.sparkContext.setLogLevel("ERROR")

    def stop_spark(self) -> None:
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None
        self.spark = None

    def describe(self, desc: str | None) -> None:
        if self.traced:
            self.spark.sparkContext.setJobDescription(desc)

    @contextmanager
    def section(self, rid: str, traced: bool, desc: str | None = None):
        """Everything inside belongs to request ``rid``: spans are recorded
        if ``traced``, and in a traced run its Spark jobs carry ``desc``
        (default ``rid``) as their description."""
        tr = self.tracer
        tr.request, tr.active = rid, traced
        self.describe(desc or rid)
        try:
            yield
        finally:
            tr.active = False
            self.describe(None)

    def request(self, rid: str, queries: list[str], plan, parse, replay):
        """Time one search request: ``plan()`` builds the result DataFrame,
        its rows are collected and ``parse``d into per-query hits. In a
        traced run a seeded half of the requests is traced (spans, job
        description, kernel replay of ``queries``) and the rest are not, so
        the tracing overhead is measured inside the same run. A coin, not
        every other request: ingest sends its probes in rounds of 4, and
        alternation would trace the same 2 probe shapes every round."""
        traced = self.traced and self.trace_coin.random() < 0.5
        tr = self.tracer
        t0 = T()
        try:
            with self.section(rid, traced, f"{rid}:search" if traced else None):
                with tr.span("request"):
                    df = plan()
                    with tr.span("spark.collect"):
                        rows = df.collect()
                    hits = parse(rows)
        finally:
            dt = T() - t0
        (self.traced_lat if traced else self.untraced_lat).append(dt)
        if traced:
            self.requests.append(rid)
            self.replays.append(self.replay_check(replay, queries, hits))
        return hits, dt

    # -- shared helpers ------------------------------------------------
    def tokenizer_rate(self, texts) -> None:
        import pandas as pd

        from fuzzy_wiki_spark.analyzer import tokenize_series

        s = pd.Series(texts)
        n = sum(len(x) for x in tokenize_series(s))
        rates = []
        for _ in range(3):
            t0 = T()
            tokenize_series(s)
            rates.append(n / (T() - t0))
        self.layer["analyzer.tokens_per_s"] = _median(rates)

    def replay_check(self, replay, queries, spark_hits) -> dict:
        """Replay a traced request's queries in-process and require the
        same top-k as the Spark path. Returns the replay's kernel metrics."""
        from checks import same_topk

        got, m = replay.run(queries)
        for q, g, s in zip(queries, got, spark_hits):
            self.check(f"replay {q!r}", same_topk(g, s))
        return m

    def finish_layers(self) -> None:
        """Fold spans, event-log counts and replays into per-request
        medians (the per-layer metrics of the traced run)."""
        from tracing import critical_path, spark_event_stats

        tr = self.tracer
        tr.finish()
        reqs = tr.per_request(self.requests)
        ev = spark_event_stats(f"{self.work}/events")
        L = self.layer
        spark_keys = [k for k in PER_LAYER if k.startswith("spark.") and k != "spark.overhead_s"]
        per = []
        for rid, spans, rep in zip(self.requests, reqs, self.replays):
            s = ev.get(f"{rid}:search", {})
            row = {k: s.get(k, 0.0) for k in spark_keys}
            row["query.compile_s"] = spans.get("query.compile", 0.0)
            row["engine.term_dict_s"] = spans.get("engine.term_dict", 0.0)
            row["segment_query.plan_s"] = spans.get("segment_query.plan", 0.0)
            row["trace.request_self_s"] = spans.get("request.self", 0.0)
            row["spark.collect_s"] = spans.get("spark.collect", 0.0)
            row.update({k: v for k, v in rep.items() if k in PER_LAYER})
            # what the kernel adds to the job is its critical path over the
            # scoring stage's tasks
            kernel_s = critical_path(rep.get("kernel.bucket_s", []), int(s.get("score_tasks", 1)))
            row["spark.overhead_s"] = row["spark.job_s"] - kernel_s
            covered = (
                row["query.compile_s"] + row["engine.term_dict_s"]
                + row["segment_query.plan_s"] + row["spark.job_s"]
            )
            row["trace.coverage"] = covered / spans["request"] if spans.get("request") else 0.0
            per.append(row)
        # a request whose queries analyse to nothing does no kernel work:
        # its replay reports no kernel keys, and counts as 0 for them
        for key in set().union(*per):
            L[key] = _median([r.get(key, 0.0) for r in per])
        L["engine.term_dict_misses"] = tr.counts["engine.term_dict_misses"]
        L["trace.overhead_request_p50_s"] = _median(self.traced_lat) - _median(self.untraced_lat)
        writes = [v for d, v in ev.items() if d == "build" or d.startswith("append:")]
        if writes:
            L["segments.exchange_bytes"] = _median([w.get("spark.shuffle_write_bytes", 0.0) for w in writes])
        writers = tr.per_request(["build", "compact"])
        for key, name in (
            ("postings.build_s", "postings.build"),
            ("segments.encode_write_s", "segments.encode_write"),
            ("engine.stats_s", "engine.stats"),
        ):
            L[key] = sum(w.get(name, 0.0) for w in writers)
        L["postings.rows"] = tr.counts["postings.rows"]
        tr.write(os.path.join(ROOT, ".perfbench_out", f"spans-{self.args.workload}-{self.args.seed}.json"))


# ---------------------------------------------------------------------------
# serve_batch: one-shot build of the word corpus, then batches of 64
# queries through SegmentIndex.search_many in a closed loop
# ---------------------------------------------------------------------------


def _batch_hits(rows, n: int) -> list[list[tuple[int, float]]]:
    out: list[list] = [[] for _ in range(n)]
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        out[r["query_id"]].append((int(r["doc_id"]), float(r["score"])))
    return out


def _single_hits(rows) -> list[tuple[int, float]]:
    return [(int(r["doc_id"]), float(r["score"])) for r in rows]


def serve_batch(run: Run) -> None:
    import inputs
    from checks import Oracle, check_hits, same_topk
    from fuzzy_wiki_spark.engine import SegmentIndex
    from tracing import KernelReplay, install_wrappers, uninstall

    seed, n_docs = run.args.seed, inputs.SERVE_BATCH_DOCS
    corpus = inputs.make_corpus(n_docs, seed)
    stream = inputs.query_stream(corpus, seed, inputs.BATCH_SIZE * 120, "serve")
    gate = inputs.shaped_queries(corpus, seed, "gate", inputs.query_shapes())
    # every word the stream can send, one query each: the warm-up batch
    warm = sorted({w for q in stream for w in q.split()})
    redirects = {int(d) for d, c in zip(corpus["doc_id"], corpus["content"]) if inputs.is_redirect(c)}
    run.diag.update(
        corpus_digest=inputs.corpus_digest(corpus),
        queries_digest=inputs.queries_digest(stream + gate),
        docs=n_docs,
    )
    docs_path = f"{run.work}/docs.parquet"
    _write_parquet(corpus, docs_path)

    run.mark("inputs")
    run.start_spark()
    run.mark("spark")
    spark = run.spark
    docs = spark.read.parquet(docs_path)
    restore = install_wrappers(run.tracer, spark) if run.traced else []

    # correctness gate, before timing, on the index that is then served.
    # Its build is the session's first and pays the first-job costs (JIT,
    # Python worker start), so it is not a set-up sample. Every query shape
    # against the oracle over the whole corpus, and a seeded sample of
    # batch answers against single search calls
    serve_path = f"{run.work}/served"
    idx = SegmentIndex.build(spark, docs, serve_path, n_buckets=CPUS)
    gate_hits = _batch_hits(idx.search_many(gate, k=K).collect(), len(gate))
    oracle = Oracle(corpus)
    for q, hits in zip(gate, gate_hits):
        run.check(f"oracle {q!r}", oracle.check(q, hits, K))
    for j in random.Random(f"{seed}:single").sample(range(len(gate)), 2):
        single = _single_hits(idx.search(gate[j], k=K).collect())
        run.check(f"single vs batch {gate[j]!r}", same_topk(single, gate_hits[j]))
    run.mark("gate")

    # set-up = build (repeated into fresh directories; the median counts)
    # + one warm-up batch that memoises every word the stream can send.
    # The builds run between blocks of timed requests, so that builds and
    # requests alike are spread over the whole run instead of sampling one
    # stretch of the host's load each
    builds = []

    def build(i: int) -> None:
        t0 = T()
        # a traced run traces its last build only
        with run.section("build", run.traced and i == SETUP_REPS - 1):
            with run.tracer.span("build"):
                SegmentIndex.build(spark, docs, f"{run.work}/index{i}", n_buckets=CPUS)
        builds.append(T() - t0)

    t0 = T()
    idx.search_many(warm, k=K).collect()
    warm_s = T() - t0
    if run.traced:
        t0 = T()
        SegmentIndex(spark, serve_path)
        run.layer["engine.open_s"] = T() - t0
        run.layer["segments.rows"] = _parquet_rows(f"{serve_path}/segments")
        run.layer["segments.bytes"] = _dir_bytes(f"{serve_path}/segments")
        run.tokenizer_rate(corpus["content"].head(500).tolist())

    run.mark("setup")
    replay = KernelReplay(
        [f"{serve_path}/segments"], f"{serve_path}/term_stats/*.parquet", idx.field_stats, K
    )
    # closed loop, one client; the clock counts requests only, so neither
    # the builds between blocks nor a traced run's kernel replays shorten
    # the stream
    lat, n_queries, b, spent = [], 0, 0, 0.0
    block_s = run.args.seconds / (SETUP_REPS + 1)
    while spent < run.args.seconds:
        if len(builds) < SETUP_REPS and spent >= block_s * (len(builds) + 1):
            build(len(builds))
        batch = stream[b * inputs.BATCH_SIZE : (b + 1) * inputs.BATCH_SIZE]
        b += 1
        t0 = T()
        try:
            hits, dt = run.request(
                f"b{b}", batch,
                lambda: idx.search_many(batch, k=K),
                lambda rows: _batch_hits(rows, len(batch)),
                replay,
            )
        except Exception as e:  # a failed request counts, it is not retried
            spent += T() - t0
            for q in batch:
                run.check(f"batch {b} {q!r}", f"{type(e).__name__}: {e}")
            continue
        spent += dt
        lat.append(dt)
        n_queries += len(batch)
        for q, h in zip(batch, hits):
            run.check(f"batch {b} {q!r}", check_hits(h, K, redirects))
    while len(builds) < SETUP_REPS:
        build(len(builds))
    run.e2e["setup_s"] = run.start_s + _median(builds) + warm_s
    run.e2e["index_docs_per_s"] = n_docs / _median(builds)
    run.e2e["index_bytes_per_input_byte"] = _dir_bytes(serve_path) / inputs.input_bytes(corpus)
    if run.traced:
        # the same build into a fresh directory, traced against untraced
        run.layer["trace.overhead_index_docs_per_s"] = n_docs / builds[-1] - n_docs / _median(builds[:-1])
    run.e2e["request_iqm_s"] = _iqm(lat)
    run.e2e["search_qps"] = n_queries / sum(lat) if lat else 0.0
    run.diag["request_p50_s"] = _median(lat)
    run.diag["request_s"] = [round(x, 3) for x in lat]
    run.diag["build_s"] = [round(x, 3) for x in builds]
    run.e2e["peak_rss_mb"] = _peak_rss_mb(run.diag)
    run.diag["requests"] = len(lat)
    run.mark("timed")
    uninstall(restore)


# ---------------------------------------------------------------------------
# ingest: word-corpus generations appended through append_batch, probe
# searches over the growing union after each, then compaction
# ---------------------------------------------------------------------------


def ingest(run: Run) -> None:
    import inputs
    from checks import Oracle, check_hits, same_topk
    from fuzzy_wiki_spark.engine import SegmentIndex
    from fuzzy_wiki_spark.streaming.incremental import (
        append_batch,
        compact_generations,
        list_generations,
        open_incremental,
        read_amplification,
    )
    from tracing import KernelReplay, install_wrappers, uninstall

    seed, per_gen = run.args.seed, inputs.INGEST_GEN_DOCS
    n_gens = 1 + inputs.INGEST_APPENDS
    corpus = inputs.make_corpus(per_gen * n_gens, seed)
    probes = inputs.shaped_queries(corpus, seed, "probe", inputs.INGEST_PROBE_SHAPES)
    base_corpus = corpus.head(per_gen)
    gate = inputs.shaped_queries(base_corpus, seed, "gate", inputs.INGEST_PROBE_SHAPES)
    redirects = {int(d) for d, c in zip(corpus["doc_id"], corpus["content"]) if inputs.is_redirect(c)}
    run.diag.update(
        corpus_digest=inputs.corpus_digest(corpus),
        queries_digest=inputs.queries_digest(probes + gate),
        docs=len(corpus),
    )
    gen_paths = []
    for g in range(n_gens):
        p = f"{run.work}/gen{g}.parquet"
        _write_parquet(corpus.iloc[g * per_gen : (g + 1) * per_gen], p)
        gen_paths.append(p)

    run.mark("inputs")
    run.start_spark()
    run.mark("spark")
    spark = run.spark
    gens = [spark.read.parquet(p) for p in gen_paths]
    restore = install_wrappers(run.tracer, spark) if run.traced else []

    def append(g: int, out: str, traced: bool) -> float:
        t0 = T()
        with run.section(f"append:{g}", traced):
            with run.tracer.span("incremental.append"):
                append_batch(spark, gens[g], g, out, n_buckets=CPUS)
        return T() - t0

    def check_stats(ix, n_expected: int, what: str):
        bad = {f: dc for f, (dc, _) in ix.field_stats.items() if dc != n_expected}
        run.check(what, f"doc_count {bad} != {n_expected}" if bad else None)

    def probe(rid: str, ix, q: str, replay, lat: list):
        """One timed single search; its top-k, or None if it raised."""
        try:
            hits, dt = run.request(
                rid, [q], lambda: ix.search(q, k=K), lambda rows: [_single_hits(rows)], replay
            )
        except Exception as e:  # counted, not retried
            run.check(f"probe {rid} {q!r}", f"{type(e).__name__}: {e}")
            return None
        lat.append(dt)
        run.check(f"probe {rid} {q!r}", check_hits(hits[0], K, redirects))
        return hits[0]

    # correctness gate, before timing, on the directory that then grows.
    # Its base-generation append is the session's first and pays the
    # first-job costs (JIT, Python worker start), so it is not a set-up
    # sample. The probe shapes against the oracle on that generation
    out = f"{run.work}/inc"
    append_batch(spark, gens[0], 0, out, n_buckets=CPUS)
    ix = open_incremental(spark, out)
    check_stats(ix, per_gen, "gate field stats")
    oracle = Oracle(base_corpus)
    for q, hits in zip(gate, _batch_hits(ix.search_many(gate, k=K).collect(), len(gate))):
        run.check(f"oracle {q!r}", oracle.check(q, hits, K))
    run.mark("gate")

    # set-up = base generation append + open (repeated into fresh
    # directories; the median counts) + one warm-up probe. The set-up
    # appends run between the timed generations, so appends and probes
    # alike are spread over the whole run
    base_s, gen_s, open_s, setups = [], [], [], []

    def setup(i: int) -> None:
        d = f"{run.work}/base{i}"
        t0 = T()
        # a traced run traces the last set-up append
        base_s.append(append(0, d, run.traced and i == SETUP_REPS - 1))
        ix = open_incremental(spark, d)
        setups.append(T() - t0)
        check_stats(ix, per_gen, f"setup {i} field stats")

    t0 = T()
    ix.search(probes[0], k=K).collect()
    warm_s = T() - t0
    run.mark("setup")

    lat, last = [], None
    for g in range(1, n_gens):
        gen_s.append(append(g, out, run.traced))
        t0 = T()
        ix = open_incremental(spark, out)
        open_s.append(T() - t0)
        check_stats(ix, per_gen * (g + 1), f"gen {g} field stats")
        roots = sorted(f"{out}/segments/gen={x}" for x in list_generations(out))
        replay = KernelReplay(roots, f"{out}/term_stats/gen=*/*.parquet", ix.field_stats, K)
        last = [probe(f"g{g}p{j}", ix, q, replay, lat) for j, q in enumerate(probes)]
        if len(setups) < SETUP_REPS:
            setup(len(setups))
    while len(setups) < SETUP_REPS:
        setup(len(setups))
    run.e2e["setup_s"] = run.start_s + _median(setups) + warm_s
    append_s = base_s + gen_s
    # docs appended ÷ time spent in append_batch, over every warm append
    run.e2e["index_docs_per_s"] = per_gen * len(append_s) / sum(append_s)
    run.diag["append_s"] = [round(x, 3) for x in append_s]
    run.e2e["request_iqm_s"] = _iqm(lat)
    run.diag["request_p50_s"] = _median(lat)
    run.diag["request_s"] = [round(x, 3) for x in lat]
    run.e2e["index_bytes_per_input_byte"] = _dir_bytes(out) / inputs.input_bytes(corpus)
    if run.traced:
        run.layer["incremental.read_amp"] = read_amplification(spark, out)
        run.layer["incremental.generations"] = len(list_generations(out))
        run.layer["segments.rows"] = _parquet_rows(f"{out}/segments")
        run.layer["segments.bytes"] = _dir_bytes(f"{out}/segments")
        run.tokenizer_rate(corpus["content"].head(500).tolist())

    run.mark("timed")
    # compaction, then the probe set as single searches on the compacted
    # on-disk index: a fresh instance, so its term-dictionary memo is empty
    # and every probe pays a pyarrow term fetch plus one Spark job. Each
    # must give the top-k the union gave before compaction.
    cdir, cx, compact_s, single = f"{run.work}/compacted", None, 0.0, []
    with run.section("compact", run.traced):
        t0 = T()
        try:
            cx = compact_generations(spark, out, cdir, n_buckets=CPUS)
            compact_s = T() - t0
        except Exception as e:  # counted, not retried
            run.check("compaction", f"{type(e).__name__}: {e}")
    if cx is not None:
        check_stats(cx, len(corpus), "compacted field stats")
        replay = KernelReplay([f"{cdir}/segments"], f"{cdir}/term_stats/*.parquet", cx.field_stats, K)
        for j, (q, before) in enumerate(zip(probes, last)):
            after = probe(f"c{j}", cx, q, replay, single)
            if before is not None and after is not None:
                run.check(f"compacted {q!r}", same_topk(after, before))
    run.diag["compacted_request_s"] = [round(x, 3) for x in single]
    # every single search, union and on-disk: probes are interleaved with
    # appends, so their own time is the wall
    run.e2e["search_qps"] = len(lat + single) / sum(lat + single) if lat + single else 0.0
    run.e2e["peak_rss_mb"] = _peak_rss_mb(run.diag)
    run.diag["requests"] = len(lat)
    run.mark("compact")
    if run.traced:
        run.layer["incremental.append_s"] = _median(append_s)
        run.layer["incremental.open_s"] = _median(open_s)
        run.layer["incremental.compact_s"] = compact_s
        run.layer["incremental.compact_docs_per_s"] = len(corpus) / compact_s if compact_s else 0.0
        # the same base-generation append into a fresh directory: the
        # last set-up append ran traced, the others untraced
        rates = [per_gen / s for s in base_s]
        run.layer["trace.overhead_index_docs_per_s"] = rates[-1] - _median(rates[:-1])
        t0 = T()
        SegmentIndex(spark, cdir)
        run.layer["engine.open_s"] = T() - t0
    uninstall(restore)


def _phase_control() -> float:
    """``phase.phase_control()`` in a child process, so its 1 GB of
    arrays never counts in this process's peak RSS."""
    out = subprocess.run(
        [sys.executable, "-c", "from fuzzy_wiki_spark.phase import phase_control; print(phase_control(reps=1))"],
        cwd=ROOT, capture_output=True, text=True, check=True, timeout=120,
    )
    return float(out.stdout)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "fuzzy_wiki_spark", "__init__.py")):
        print(f"perfbench: no fuzzy_wiki_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    if os.environ.get("PERFBENCH_WORK") != work:
        _pin_environment(work)  # does not return
    sys.path.insert(0, ROOT)
    # a terminated run still stops Spark and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    import numpy
    import pandas
    import pyarrow
    import pyspark

    run = Run(args, work)
    run.diag["versions"] = {
        "python": sys.version.split()[0], "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__, "pandas": pandas.__version__, "numpy": numpy.__version__,
    }
    steal0 = _steal_ticks()
    try:
        run.diag["control_before_s"] = _phase_control()
        try:
            {"serve_batch": serve_batch, "ingest": ingest}[args.workload](run)
        finally:
            run.stop_spark()
        run.mark("stop")
        run.diag["control_after_s"] = _phase_control()
        steal1 = _steal_ticks()
        # CPU time the hypervisor gave to other guests while this run went
        run.diag["host_steal_pct"] = round(100 * (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]), 2)
        if run.traced:
            run.finish_layers()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it

    names = PER_LAYER if run.traced else END_TO_END
    src = run.layer if run.traced else run.e2e
    metrics = {k: {"value": float(src.get(k, 0.0)), "unit": u} for k, u in names.items()}
    run.diag["failures"] = run.failures
    print(json.dumps({"diagnostics": run.diag}))
    print(json.dumps({
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
