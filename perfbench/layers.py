"""Metric definitions and their computation from a finished run.

End-to-end metrics come from the untraced run's samples.  Per-layer metrics
come from the traced run: its spans (one per call into a layer), the job
counts the status tracker reported for each span's job group, and the
executor / Python-worker metrics read back from the event log.  Times and
counts are per call of the layer unless the README says otherwise; a layer
the workload never calls reads 0.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

import numpy as np

# (name, unit) in BENCHMARK.json order; selftest.py checks the two agree
END_TO_END = [
    ("setup_s", "s"),
    ("docs_per_s", "docs/s"),
    ("bytes_written_per_doc_byte", "ratio"),
    ("bytes_stored_per_doc_byte", "ratio"),
    ("qps", "1/s"),
    ("commit_p50_ms", "ms"),
    ("peak_rss_mb", "MB"),
]
# Query latency medians are printed with their sample counts but are not
# part of the result: a run has 10-40 samples (about a dozen on ingest,
# where queries contend with the writer), too few for a median that holds
# within a bound from seed to seed.  qps, which for one closed-loop client
# is the inverse of the mean latency, is the reported read metric.
QUERY_KINDS = ("query", "bm25", "tfidf", "boolean")

PER_LAYER = [
    ("corpus.load_s", "s"),
    ("corpus.jobs", "count"),
    ("corpus.shuffle_write_bytes", "bytes"),
    ("analysis.tokenize_s", "s"),
    ("analysis.python_worker_s", "s"),
    ("analysis.query_analyze_ms", "ms"),
    ("index.build.s", "s"),
    ("index.build.jobs", "count"),
    ("index.build.stages", "count"),
    ("index.build.tasks", "count"),
    ("index.build.failed_tasks", "count"),
    ("index.build.executor_run_s", "s"),
    ("index.build.executor_cpu_s", "s"),
    ("index.build.gc_s", "s"),
    ("index.build.python_worker_s", "s"),
    ("index.build.python_bytes_sent", "bytes"),
    ("index.build.shuffle_write_bytes", "bytes"),
    ("index.build.spill_bytes", "bytes"),
    ("index.build.postings_rows", "count"),
    ("index.compress.bytes_per_posting", "bytes"),
    ("index.compress.decode_s", "s"),
    ("index.write.s", "s"),
    ("index.write.bytes", "bytes"),
    ("index.write.files", "count"),
    ("index.write.jobs", "count"),
    ("index.warm.s", "s"),
    ("index.warm.cached_bytes", "bytes"),
    ("search.ranking.construct_ms", "ms"),
    ("search.ranking.exec_ms", "ms"),
    ("search.ranking.py4j_calls", "count"),
    ("search.ranking.catalyst_ms", "ms"),
    ("search.ranking.jobs_per_query", "count"),
    ("search.ranking.stages_per_query", "count"),
    ("search.ranking.tasks_per_query", "count"),
    ("search.ranking.executor_run_ms", "ms"),
    ("search.ranking.background_jobs", "count"),
    ("search.ranking.cold_term_share", "ratio"),
    ("search.boolean.construct_ms", "ms"),
    ("search.boolean.exec_ms", "ms"),
    ("search.boolean.py4j_calls", "count"),
    ("search.boolean.catalyst_ms", "ms"),
    ("search.boolean.jobs_per_query", "count"),
    ("search.boolean.tasks_per_query", "count"),
    ("index.merge.compact_s", "s"),
    ("index.merge.compactions", "count"),
    ("index.merge.bytes_rewritten", "bytes"),
    ("streaming.ingest.segment_build_s", "s"),
    ("streaming.ingest.write_segment_s", "s"),
    ("streaming.ingest.delete_s", "s"),
    ("streaming.ingest.open_reader_ms", "ms"),
    ("streaming.ingest.live_segments", "count"),
    ("streaming.snapshots.commits", "count"),
    ("streaming.snapshots.conflicts", "count"),
    ("streaming.snapshots.snapshot_files", "count"),
    ("trace.overhead_ms", "ms"),
]

MEMO_FILL_GROUP = "bm25-df-memo-fill"


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _pct(xs, p: float) -> float:
    return float(np.percentile(xs, p)) if xs else 0.0


def end_to_end(run) -> tuple[dict, dict]:
    """(metric → value, metric → sample count) from an untraced run."""
    s, v = run.samples, run.values

    def med(name):
        return v[name] if name in v else statistics.median(s[name])

    vals = {
        "setup_s": med("setup_s"),
        "docs_per_s": med("docs_per_s"),
        "bytes_written_per_doc_byte": med("bytes_written_per_doc_byte"),
        "bytes_stored_per_doc_byte": med("bytes_stored_per_doc_byte"),
        "qps": v["qps"],
        "commit_p50_ms": _pct(s["commit_ms"], 50),
        "peak_rss_mb": v["peak_rss_mb"],
    }
    n = {name: len(s.get(name, ())) or 1 for name in vals}
    n.update(qps=run.info.get("reader_queries_timed", len(s["query_ms"])), commit_p50_ms=len(s["commit_ms"]))
    for kind in QUERY_KINDS:
        if s.get(f"{kind}_ms"):
            vals[f"{kind}_p50_ms"] = _pct(s[f"{kind}_ms"], 50)
            n[f"{kind}_p50_ms"] = len(s[f"{kind}_ms"])
    return vals, n


def per_layer(run, spans: list[dict], status: dict, events: dict) -> tuple[dict, dict]:
    """(metric → value, metric → number of calls it averages over)."""
    kids = defaultdict(list)
    for sp in spans:
        kids[sp["parent"]].append(sp)

    def subtree(sp):
        yield sp
        for c in kids[sp["id"]]:
            yield from subtree(c)

    def dur(sp) -> float:
        return sp["end"] - sp["start"]

    def calls(layer, *fns):
        return [sp for sp in spans if sp["layer"] == layer and (not fns or sp["fn"] in fns)]

    def total(sp, src, key) -> float:
        return sum(src.get(x["group"], {}).get(key, 0) for x in subtree(sp))

    def per_call(sps, src, key, scale=1.0) -> float:
        return _mean(total(sp, src, key) * scale for sp in sps)

    m: dict[str, float] = {}
    n: dict[str, int] = {}

    loads = calls("corpus")
    m["corpus.load_s"] = _mean(dur(sp) for sp in loads)
    m["corpus.jobs"] = per_call(loads, status, "jobs")
    m["corpus.shuffle_write_bytes"] = per_call(loads, events, "shuffle_write_bytes")
    for k in ("corpus.load_s", "corpus.jobs", "corpus.shuffle_write_bytes"):
        n[k] = len(loads)

    builds = calls("index.build")
    nb = max(1, len(builds))
    in_builds = [x for b in builds for x in subtree(b)]
    m["analysis.tokenize_s"] = sum(dur(x) for x in in_builds if x["layer"] == "analysis") / nb
    m["analysis.python_worker_s"] = per_call(builds, events, "py_run_ms.analysis", 1e-3)
    queries = calls("search.ranking") + calls("search.boolean")
    analyzes = [x for q in queries for x in subtree(q) if x["layer"] == "analysis"]
    m["analysis.query_analyze_ms"] = sum(dur(x) for x in analyzes) * 1e3 / max(1, len(queries))
    n.update({"analysis.tokenize_s": len(builds), "analysis.python_worker_s": len(builds),
              "analysis.query_analyze_ms": len(queries)})

    m["index.build.s"] = _mean(dur(sp) for sp in builds)
    for key in ("jobs", "stages", "tasks", "failed_tasks"):
        m[f"index.build.{key}"] = per_call(builds, status, key)
    m["index.build.executor_run_s"] = per_call(builds, events, "executor_run_ms", 1e-3)
    m["index.build.executor_cpu_s"] = per_call(builds, events, "executor_cpu_ns", 1e-9)
    m["index.build.gc_s"] = per_call(builds, events, "gc_ms", 1e-3)
    m["index.build.python_worker_s"] = per_call(builds, events, "py_run_ms", 1e-3)
    m["index.build.python_bytes_sent"] = per_call(builds, events, "py_sent_bytes")
    m["index.build.shuffle_write_bytes"] = per_call(builds, events, "shuffle_write_bytes")
    m["index.build.spill_bytes"] = per_call(builds, events, "spill_bytes")
    m["index.build.postings_rows"] = _mean(run.samples.get("postings_rows", ()))
    for k in m:
        if k.startswith("index.build."):
            n[k] = len(builds)

    m["index.compress.bytes_per_posting"] = run.values.get("bytes_per_posting", 0.0)
    n["index.compress.bytes_per_posting"] = 1
    m["index.compress.decode_s"] = sum(events.get(sp["group"], {}).get("py_run_ms.decode", 0)
                                       for sp in spans) * 1e-3
    n["index.compress.decode_s"] = 1

    writes = calls("index.write")
    m["index.write.s"] = _mean(dur(sp) for sp in writes)
    m["index.write.bytes"] = _mean(sp.get("bytes", 0) for sp in writes)
    m["index.write.files"] = _mean(sp.get("files", 0) for sp in writes)
    m["index.write.jobs"] = per_call(writes, status, "jobs")
    for k in ("s", "bytes", "files", "jobs"):
        n[f"index.write.{k}"] = len(writes)

    warms = calls("index.warm", "warm")
    m["index.warm.s"] = sum(dur(sp) for sp in calls("index.warm")) / max(1, len(warms))
    m["index.warm.cached_bytes"] = _mean(sp.get("cached_bytes", 0) for sp in warms)
    n["index.warm.s"] = n["index.warm.cached_bytes"] = len(warms)

    for layer, keys in (
        ("search.ranking", ("construct_ms", "exec_ms", "py4j_calls", "catalyst_ms", "jobs_per_query",
                            "stages_per_query", "tasks_per_query", "executor_run_ms")),
        ("search.boolean", ("construct_ms", "exec_ms", "py4j_calls", "catalyst_ms", "jobs_per_query",
                            "tasks_per_query")),
    ):
        qs = calls(layer)
        got = {
            "construct_ms": _mean(sp.get("construct_ms", 0) for sp in qs),
            "exec_ms": _mean(sp.get("exec_ms", 0) for sp in qs),
            "py4j_calls": _mean(sum(x.get("py4j", 0) for x in subtree(sp)) for sp in qs),
            "catalyst_ms": _mean(sp.get("catalyst_ms", 0) for sp in qs),
            "jobs_per_query": per_call(qs, status, "jobs"),
            "stages_per_query": per_call(qs, status, "stages"),
            "tasks_per_query": per_call(qs, status, "tasks"),
            "executor_run_ms": per_call(qs, events, "executor_run_ms"),
        }
        for k in keys:
            m[f"{layer}.{k}"] = got[k]
            n[f"{layer}.{k}"] = len(qs)
    bm25 = calls("search.ranking", "bm25")
    m["search.ranking.background_jobs"] = status.get(MEMO_FILL_GROUP, {}).get("jobs", 0) / max(1, len(bm25))
    with_terms = [sp for sp in bm25 if "terms" in sp]
    m["search.ranking.cold_term_share"] = sum(sp["cold_terms"] for sp in with_terms) / max(
        1, sum(sp["terms"] for sp in with_terms))
    n["search.ranking.background_jobs"] = len(bm25)
    n["search.ranking.cold_term_share"] = len(with_terms)

    compactions = [sp for sp in calls("index.merge", "maybe_compact") if sp.get("compacted")]
    m["index.merge.compact_s"] = _mean(dur(sp) for sp in compactions)
    m["index.merge.compactions"] = len(compactions)
    m["index.merge.bytes_rewritten"] = sum(sp.get("bytes_rewritten", 0) for sp in compactions)
    for k in ("compact_s", "compactions", "bytes_rewritten"):
        n[f"index.merge.{k}"] = len(compactions)

    segs = calls("streaming.ingest", "write_segment")
    batch_ids = {sp["trace"] for sp in segs}
    seg_build = [sp for sp in spans if sp["trace"] in batch_ids and sp["layer"] in ("corpus", "index.build")
                 and sp["parent"] is None]
    m["streaming.ingest.segment_build_s"] = sum(dur(sp) for sp in seg_build) / max(1, len(segs))
    m["streaming.ingest.write_segment_s"] = _mean(dur(sp) for sp in segs)
    m["streaming.ingest.delete_s"] = _mean(dur(sp) for sp in calls("streaming.ingest", "delete_docs"))
    opens = calls("streaming.ingest", "open_reader")
    m["streaming.ingest.open_reader_ms"] = _mean(dur(sp) * 1e3 for sp in opens)
    m["streaming.ingest.live_segments"] = _mean(sp.get("live_segments", 0) for sp in opens)
    n.update({"streaming.ingest.segment_build_s": len(segs), "streaming.ingest.write_segment_s": len(segs),
              "streaming.ingest.delete_s": len(calls("streaming.ingest", "delete_docs")),
              "streaming.ingest.open_reader_ms": len(opens), "streaming.ingest.live_segments": len(opens)})

    commits = calls("streaming.snapshots", "commit_snapshot")
    m["streaming.snapshots.commits"] = len(commits)
    m["streaming.snapshots.conflicts"] = sum(1 for sp in commits if sp.get("error") == "CommitConflictError")
    m["streaming.snapshots.snapshot_files"] = run.info.get("snapshot_files", 0)
    for k in ("commits", "conflicts", "snapshot_files"):
        n[f"streaming.snapshots.{k}"] = len(commits)

    m["trace.overhead_ms"] = run.tracer.self_s * 1e3 / max(1, len(spans))
    n["trace.overhead_ms"] = len(spans)
    return m, n
