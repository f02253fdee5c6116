"""Traced-run instrumentation, kept entirely on the benchmark side.

- ``Tracer``: in-memory spans (name, start, end, parent, request id) around
  calls into the engine's layers, with self time computed at the end.
- ``install_wrappers``: wraps engine entry points through their module
  attributes, in this process only, so an unmodified ``SegmentIndex.search``
  call reports its compile / term-dictionary / plan phases, and an
  unmodified ``SegmentIndex.build`` its postings / encode-write / stats
  phases.
- ``spark_event_stats``: per-request Spark counts read back from the event
  log, keyed by the job description the benchmark sets per request.
- ``KernelReplay``: the term-pruned bucket rows of a request re-read with
  pyarrow and scored in-process through ``segment_query.bucket_topk``,
  cold, warm, and with the codec functions counted.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

import numpy as np

T = time.perf_counter


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.active = False
        self.request: str | None = None
        self.counts: dict[str, float] = defaultdict(float)

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "request": self.request,
            "start": T(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = T()
            self._stack.pop()

    def finish(self) -> None:
        """Self time = duration minus the time covered by child spans
        (children of one span never overlap: one client thread)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        for s in self.spans:
            s["dur"] = s["end"] - s["start"]
            s["self"] = s["dur"] - child[s["id"]]

    def per_request(self, request_ids) -> list[dict[str, float]]:
        """For each request: summed duration per span name, counting only the
        outermost span of a name (a wrapped function may call itself through
        a second wrapped name)."""
        by_id = {s["id"]: s for s in self.spans}
        out = {r: defaultdict(float) for r in request_ids}
        for s in self.spans:
            if s["request"] not in out:
                continue
            p = by_id.get(s["parent"])
            if p is not None and p["name"] == s["name"]:
                continue
            out[s["request"]][s["name"]] += s["dur"]
            if s["parent"] is None:
                out[s["request"]]["request.self"] += s["self"]
        return [out[r] for r in request_ids]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _wrap(tracer: Tracer, module, attr: str, name: str, restore: list):
    fn = getattr(module, attr)

    def wrapped(*a, **kw):
        if not tracer.active:
            return fn(*a, **kw)
        with tracer.span(name):
            return fn(*a, **kw)

    setattr(module, attr, wrapped)
    restore.append((module, attr, fn))


def install_wrappers(tracer: Tracer, spark) -> list:
    """Wrap the engine's per-request entry points. Returns the list that
    ``uninstall`` takes to restore the originals."""
    from fuzzy_wiki_spark import engine
    from fuzzy_wiki_spark.operators import postings, segment_query, segments

    restore: list = []
    sc = spark.sparkContext

    def count_misses(owner, _ts, terms, fetch=None):
        seen = getattr(owner, "_tdf_seen", set())
        tracer.counts["engine.term_dict_misses"] += len(set(terms) - seen)

    _wrap(tracer, engine, "compile_query", "query.compile", restore)
    _wrap(tracer, engine, "write_index_stats", "engine.stats", restore)
    _wrap(tracer, segment_query, "search_segments", "segment_query.plan", restore)
    _wrap(tracer, segment_query, "search_segments_batch", "segment_query.plan", restore)
    # the engine's build reaches these through the module attributes;
    # build_index_segments only plans, the encode-and-write job runs
    # inside write_segments
    _wrap(tracer, segments, "build_index_segments", "segments.encode_write", restore)
    _wrap(tracer, segments, "write_segments", "segments.encode_write", restore)

    # split the build at its layer boundary: materialise the postings the
    # build persists anyway, so tokenizing is timed apart from encoding
    build_postings = postings.build_postings

    def split_postings(*a, **kw):
        if not tracer.active:
            return build_postings(*a, **kw)
        with tracer.span("postings.build"):
            df = build_postings(*a, **kw).persist()
            tracer.counts["postings.rows"] += df.count()
        return df

    postings.build_postings = split_postings
    restore.append((postings, "build_postings", build_postings))

    # a term-dictionary probe may run its own Spark job (an incremental
    # union has no local term_stats file): tag it apart from the search job
    memo = engine._memo_term_df

    def term_dict(*a, **kw):
        if not tracer.active:
            return memo(*a, **kw)
        count_misses(*a, **kw)
        sc.setJobDescription(f"{tracer.request}:term_dict")
        try:
            with tracer.span("engine.term_dict"):
                return memo(*a, **kw)
        finally:
            sc.setJobDescription(f"{tracer.request}:search")

    engine._memo_term_df = term_dict
    restore.append((engine, "_memo_term_df", memo))
    return restore


def uninstall(restore: list) -> None:
    for module, attr, fn in reversed(restore):
        setattr(module, attr, fn)


def spark_event_stats(event_dir: str) -> dict[str, dict[str, float]]:
    """Job description → summed Spark counts of the jobs, stages and tasks
    that ran under it. Job time is the union of job intervals, so
    overlapping jobs of one request are not double-counted. ``score_tasks``
    is the task count of the description's first shuffle-reading stage."""
    stage_desc: dict[int, str] = {}
    job_desc: dict[int, str] = {}
    job_start: dict[int, float] = {}
    intervals: dict[str, list] = defaultdict(list)
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    stage_tasks: dict[int, int] = defaultdict(int)
    shuffle_readers: set[int] = set()
    for path in glob.glob(os.path.join(event_dir, "**", "*"), recursive=True):
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    d = (ev.get("Properties") or {}).get("spark.job.description")
                    if d:
                        job_desc[ev["Job ID"]] = d
                        job_start[ev["Job ID"]] = ev["Submission Time"]
                        for sid in ev.get("Stage IDs", []):
                            stage_desc.setdefault(sid, d)
                elif kind == "SparkListenerJobEnd":
                    j = ev["Job ID"]
                    if j in job_desc:
                        intervals[job_desc[j]].append(
                            (job_start[j], ev["Completion Time"])
                        )
                elif kind == "SparkListenerStageSubmitted":
                    d = (ev.get("Properties") or {}).get("spark.job.description")
                    if d:
                        stage_desc[ev["Stage Info"]["Stage ID"]] = d
                elif kind == "SparkListenerStageCompleted":
                    d = stage_desc.get(ev["Stage Info"]["Stage ID"])
                    if d:
                        out[d]["spark.stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    d = stage_desc.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if not d or not m:
                        continue
                    o = out[d]
                    o["spark.tasks"] += 1
                    stage_tasks[ev["Stage ID"]] += 1
                    o["spark.task_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    o["spark.task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    o["spark.gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    sr = m.get("Shuffle Read Metrics") or {}
                    read = sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    o["spark.shuffle_read_bytes"] += read
                    if read:
                        shuffle_readers.add(ev["Stage ID"])
                    sw = m.get("Shuffle Write Metrics") or {}
                    o["spark.shuffle_write_bytes"] += sw.get(
                        "Shuffle Bytes Written", 0
                    )
                    o["spark.input_bytes"] += (m.get("Input Metrics") or {}).get(
                        "Bytes Read", 0
                    )
    # a search job scans the pruned segment rows, shuffles them by bucket
    # and scores them: the scoring stage is the first that reads a shuffle
    for sid in sorted(shuffle_readers, reverse=True):
        out[stage_desc[sid]]["score_tasks"] = stage_tasks[sid]
    for d, iv in intervals.items():
        iv.sort()
        total, cur_s, cur_e = 0.0, None, None
        for s, e in iv:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    total += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            total += cur_e - cur_s
        out[d]["spark.job_s"] = total / 1e3
    return out


def critical_path(bucket_s: list[float], n_tasks: int) -> float:
    """The kernel's share of a Spark job's wall time when its buckets are
    scored by ``n_tasks`` parallel tasks: the buckets packed longest first
    onto the least loaded task, and the busiest task's load. Adaptive
    execution coalesces the small post-shuffle partitions, so one task
    often scores every bucket (the serial total); with one task per
    bucket it is the slowest bucket."""
    loads = [0.0] * max(1, n_tasks)
    for t in sorted(bucket_s, reverse=True):
        loads[loads.index(min(loads))] += t
    return max(loads)


class KernelReplay:
    """In-process replay of the serving kernel over one index's segment
    files, modelled on ``scripts/mp_query_control.py``. Codec counts come
    from the warm pass, so they count posting decodes, not meta decodes.

    ``segment_roots`` are directories holding ``bucket=<n>/`` parquet
    partitions: one for a one-shot or compacted index, one per generation
    for an incremental union. ``field_stats`` is the index's own
    (doc_count, avgdl) map, and ``term_stats_glob`` its term_stats files
    (summed across generations)."""

    def __init__(self, segment_roots, term_stats_glob: str, field_stats, k: int):
        self.roots = segment_roots
        self.ts_files = sorted(glob.glob(term_stats_glob))
        self.field_stats = field_stats
        self.k = k

    def _term_df(self, terms):
        import pyarrow.parquet as pq

        out: dict = defaultdict(int)
        for f in self.ts_files:
            t = pq.read_table(f, filters=[("term", "in", terms)], columns=["field", "term", "df"])
            for fld, term, df in zip(*(t.column(c).to_pylist() for c in ("field", "term", "df"))):
                out[(fld, term)] += df
        return dict(out)

    def run(self, queries: list[str]):
        """→ (per-query top-k lists, metrics). Scoring mirrors
        ``search_segments_batch``: one decode cache per bucket shared by
        the request's queries, MaxScore on, global (-score, doc_id) cut."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from fuzzy_wiki_spark.operators import segment_query as sq
        from fuzzy_wiki_spark.plans.query import compile_query

        compiled = {i: compile_query(q) for i, q in enumerate(queries)}
        compiled = {i: c for i, c in compiled.items() if c}
        m: dict[str, float] = defaultdict(float)
        results: list[list[tuple[int, float]]] = [[] for _ in queries]
        if not compiled:
            return results, m
        terms = sorted({t for cls in compiled.values() for c in cls for t in c.terms})
        doc_counts = {f: dc for f, (dc, _) in self.field_stats.items()}
        avgdl = {f: a for f, (_, a) in self.field_stats.items()}
        tdf = self._term_df(terms)
        weights = {i: sq._query_weights(c, tdf, doc_counts) for i, c in compiled.items()}
        all_terms = terms + [sq.META_DL, sq.META_REDIRECT, sq.META_DELETED]

        by_bucket: dict[str, list] = defaultdict(list)
        for root in self.roots:
            for f in glob.glob(os.path.join(root, "bucket=*", "*.parquet")):
                by_bucket[os.path.basename(os.path.dirname(f))].append(f)
        groups, read_s = [], []
        for b in sorted(by_bucket):
            t0 = T()
            tbl = pa.concat_tables(
                [pq.read_table(f, filters=[("term", "in", all_terms)]) for f in by_bucket[b]]
            )
            groups.append(tbl.to_pandas())
            read_s.append(T() - t0)
            m["kernel.rows_in"] += tbl.num_rows
            m["kernel.bytes_in"] += tbl.nbytes
        m["kernel.read_s"] = sum(read_s)

        def score(warm_meta):
            parts = defaultdict(list)
            metas, bucket_s = [], []
            for i, g in enumerate(groups):
                t0 = T()
                cache = {"meta": warm_meta[i]} if warm_meta else {}
                for qid, cls in compiled.items():
                    r = sq.bucket_topk(g, cls, weights[qid], avgdl, self.k, use_maxscore=True, cache=cache)
                    parts[qid].append(r)
                metas.append(cache["meta"])
                bucket_s.append(T() - t0)
            return parts, metas, bucket_s

        parts, metas, topk_s = score(None)
        m["kernel.topk_s"] = sum(topk_s)
        # each bucket's read plus top-k, for the critical path of the
        # Spark stage that scores them (``critical_path``)
        m["kernel.bucket_s"] = [r + t for r, t in zip(read_s, topk_s)]
        # warm pass: the per-bucket meta decode (dl maps, exclusion set) is
        # reused, every posting is decoded again, with the codec counted
        counted = _count_codec(sq, m)
        t0 = T()
        try:
            score(metas)
        finally:
            counted()
        m["kernel.meta_decode_s"] = m["kernel.topk_s"] - (T() - t0)

        for qid, rs in parts.items():
            ids = np.concatenate([r["doc_id"].to_numpy(np.int64) for r in rs])
            sc = np.concatenate([r["score"].to_numpy(np.float64) for r in rs])
            o = np.lexsort((ids, -sc))[: self.k]
            results[qid] = [(int(d), float(s)) for d, s in zip(ids[o], sc[o])]
        return results, m


def _count_codec(sq, m):
    """Count and time the decode functions the kernel calls, through the
    ``segment_query`` module attributes. Returns the undo function."""
    groups = {
        "delta_decode_blocked": "codec.doc_decode",
        "decode_doc_block": "codec.doc_decode",
        "decode_tfs": "codec.tf_decode",
        "decode_tf_block": "codec.tf_decode",
        "decode_positions": "segments.positions_decode",
    }
    saved = {}
    for attr, key in groups.items():
        fn = getattr(sq, attr)
        saved[attr] = fn

        def wrapped(*a, _fn=fn, _key=key, **kw):
            t0 = T()
            try:
                return _fn(*a, **kw)
            finally:
                m[_key + "_s"] += T() - t0
                m[_key + "_calls"] += 1

        setattr(sq, attr, wrapped)

    def undo():
        for attr, fn in saved.items():
            setattr(sq, attr, fn)

    return undo
