"""One-command physical-plan audit: run the flagship operators at a small
SF, capture each FINAL (post-AQE) executed plan, and check the structural
invariants the 100 TB design claims — filter pushdown reaching the parquet
scan, broadcasts where the design says broadcast, no SortMergeJoin where
the design says none, whole-stage codegen on hot paths. Pytest asserts
most of these per-operator already; this tool re-checks them all in one
pass and writes a reviewable report (BENCH/PLAN_AUDIT.md + .json).

Usage: python tools/plan_audit.py [sf_dir]   (default /root/testdata/sf0.001)
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def final_plan(df) -> str:
    df.collect()  # finalize AQE
    return df._jdf.queryExecution().executedPlan().toString()


def query_exchanges(df) -> list[str]:
    """Exchange nodes of ``df``'s executed plan (final once it has run),
    each as ``"<node name> <output partitioning>"``, not counting the plan
    of a cached relation it scans (a warm index's layout was
    range-partitioned once, at warm time)."""
    found = []

    def walk(node):
        kind = node.getClass().getSimpleName()
        if "Exchange" in node.nodeName():
            found.append(f"{node.nodeName()} {node.outputPartitioning().toString()}")
        if kind == "AdaptiveSparkPlanExec":
            return walk(node.executedPlan())
        if kind.endswith("QueryStageExec"):
            return walk(node.plan())
        children = node.children()
        for i in range(children.size()):
            walk(children.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return found


def build_exchanges(postings, docs) -> list[str]:
    """The exchanges ``postings``' plan adds above those of ``docs``, its
    input corpus."""
    added = query_exchanges(postings)
    for ex in query_exchanges(docs):
        if ex in added:
            added.remove(ex)
    return added


def audit(sf_dir: str) -> list[dict]:
    from pyspark.sql import functions as F

    from mini_search_engine_spark.corpus import load_documents
    from mini_search_engine_spark.index.build import build_index
    from mini_search_engine_spark.ops import (
        decontaminate,
        incremental_minhash_flags,
        minhash_candidate_pairs,
        read_minhash_store,
        write_minhash_store,
    )
    from mini_search_engine_spark.search import bm25_topk, bm25_topk_batch
    from mini_search_engine_spark.session import get_spark

    spark = get_spark(app_name="plan-audit", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    docs = load_documents(spark, sf_dir)
    idx = build_index(docs, analyzer="punct_nostem")

    checks: list[dict] = []

    def check(name, plan, want: dict[str, bool], notes=""):
        results = {}
        ok = True
        for pat, expected in want.items():
            present = pat in plan
            results[pat] = {"expected": expected, "present": present}
            ok &= present == expected
        checks.append({"op": name, "ok": ok, "patterns": results, "notes": notes})
        print(("OK  " if ok else "FAIL") + f" {name}")
        return ok

    # 1. BM25 top-k: term-id IN predicate must reach the parquet scan
    #    (row-group pruning); final op is TakeOrderedAndProject (bounded
    #    heap, no global sort); df probe is a collect, not a join.
    p = final_plan(bm25_topk(idx, ["spark", "merge"], 10))
    check(
        "bm25_topk",
        p,
        {
            "PushedFilters: [": True,
            "TakeOrderedAndProject": True,
            "SortMergeJoin": False,
            "*(": True,  # whole-stage-codegen stage marker in toString()
        },
        "tid IN pushdown + bounded top-k heap, zero joins",
    )

    # 2. batch BM25: ONE broadcast of the (qid, tid, w) weights, still no
    #    sort-merge join, per-qid window for top-k.
    p = final_plan(bm25_topk_batch(idx, {"qa": ["spark"], "qb": ["merge", "filter"]}, 5))
    check(
        "bm25_topk_batch",
        p,
        {
            "PushedFilters: [": True,
            "BroadcastHashJoin": True,
            "SortMergeJoin": False,
        },
        "union-tid scan + one broadcast weight join",
    )

    # 3. minhash LSH pairs: intra-bucket enumeration — exactly ONE
    #    aggregate-shuffle chain, no self-join of the band table.
    p = final_plan(minhash_candidate_pairs(docs.limit(200)))
    check(
        "minhash_pairs",
        p,
        {"SortMergeJoin": False, "BroadcastHashJoin": False},
        "no join at all: pairs enumerated inside each bucket",
    )

    # 4. incremental dedup: store streamed under broadcast probes.
    store_dir = os.path.join(tempfile.gettempdir(), "plan_audit_store")
    write_minhash_store(docs.filter(F.col("docid") % 4 != 0), store_dir)
    p = final_plan(
        incremental_minhash_flags(
            docs.filter(F.col("docid") % 4 == 0),
            read_minhash_store(spark, store_dir),
        )
    )
    check(
        "incremental_dedup",
        p,
        {
            "BroadcastHashJoin": True,
            "SortMergeJoin": False,
            "ShuffledHashJoin": False,
        },
        "batch broadcasts, store never shuffles",
    )

    # 5. decontamination: eval window hashes broadcast; train side shuffles
    #    only for its own per-doc aggregation.
    ev = docs.filter(F.col("docid") % 19 == 0)
    tr = docs.filter(F.col("docid") % 19 != 0)
    p = final_plan(decontaminate(tr, ev, window=8))
    check(
        "decontaminate",
        p,
        {"BroadcastHashJoin": True, "SortMergeJoin": False},
        "eval hash set broadcast -> map-side semi-join",
    )

    # 6. source partition pruning: documents written partitioned by lang,
    #    a lang filter must land in PartitionFilters (scan-level pruning).
    part_dir = os.path.join(tempfile.gettempdir(), "plan_audit_bylang")
    docs.write.mode("overwrite").partitionBy("lang").parquet(part_dir)
    p = final_plan(
        spark.read.parquet(part_dir).filter(F.col("lang") == "en").select("docid")
    )
    import re as _re

    pf = _re.findall(r"PartitionFilters: \[([^\]]*)\]", p)
    ok = any("lang" in x for x in pf)
    checks.append(
        {
            "op": "partition_pruning",
            "ok": ok,
            "patterns": {"PartitionFilters contains lang": {"expected": True, "present": ok}},
            "notes": "lang filter prunes at the directory level",
        }
    )
    print(("OK  " if ok else "FAIL") + " partition_pruning")

    # 7. duplicate_spans (r5 single-exchange shape): the dup verdict is a
    #    window aggregate on the stream itself — no verdict-table join, no
    #    count_distinct Expand; exactly two hash exchanges total (h, docid).
    from mini_search_engine_spark.ops import duplicate_spans

    p = final_plan(duplicate_spans(docs, window=8))
    n_ex = len(_re.findall(r"Exchange hashpartitioning", _dedupe_aqe(p)))
    ok = (
        "Join" not in p
        and "Expand" not in p
        and "Window" in p
        and n_ex == 2
    )
    checks.append(
        {
            "op": "duplicate_spans",
            "ok": ok,
            "patterns": {
                "no Join": {"expected": True, "present": "Join" not in p},
                "no Expand": {"expected": True, "present": "Expand" not in p},
                "Window verdict": {"expected": True, "present": "Window" in p},
                "exactly 2 hash exchanges": {"expected": True, "present": n_ex == 2},
            },
            "notes": "window stream shuffles once on h, once on docid",
        }
    )
    print(("OK  " if ok else "FAIL") + " duplicate_spans")

    # 8. two-phase retrieval: candidate set broadcasts into the rescore,
    #    both cuts are bounded TakeOrderedAndProject, no sort-merge join.
    from mini_search_engine_spark.index.prune import champion_index
    from mini_search_engine_spark.search import rescore_topk

    tier = champion_index(idx, n_per_term=8)
    p = final_plan(rescore_topk(idx, tier, ["spark", "merge"], fetch_k=30, topk=10))
    check(
        "rescore_topk",
        p,
        {
            "BroadcastHashJoin": True,
            "SortMergeJoin": False,
            "TakeOrderedAndProject": True,
            "PushedFilters: [": True,
        },
        "bounded candidate broadcast; rescore scan reads query-term postings only",
    )

    # 9. warm serving: warm()'s block-range layout carries the partitioning
    #    every query kind needs — groups and order on (block, docid) — so
    #    no query adds an exchange above the cached relation (one job each).
    from mini_search_engine_spark.search import (
        search_and,
        search_keyword,
        search_or,
        search_phrase,
        search_tfidf,
    )

    warm = build_index(
        docs, analyzer="punct_nostem", positional=True, compress=True, block_span=64
    ).warm()
    warm_queries = {
        "warm_bm25_topk": bm25_topk(warm, ["spark", "merge"], 10),
        "warm_search_tfidf": search_tfidf(warm, ["spark", "merge"], 10),
        "warm_search_keyword": search_keyword(warm, "spark"),
        "warm_search_and": search_and(warm, ["spark", "merge"]),
        "warm_search_or": search_or(warm, ["vector", "window"]),
        "warm_search_phrase": search_phrase(warm, "batch batch"),
    }
    for name, df in warm_queries.items():
        df.collect()  # finalize AQE
        ex = query_exchanges(df)
        checks.append(
            {
                "op": name,
                "ok": not ex,
                "patterns": {"Exchange above the cache": {"expected": False, "present": bool(ex)}},
                "notes": "grouped and ordered on (block, docid) over the block-range layout",
            }
        )
        print(("OK  " if not ex else "FAIL") + f" {name}")
    warm.unpersist()

    # 10. index build: the postings plan build_index persists adds no
    #     exchange over docid-ranged input (load_corpus with
    #     num_partitions; persisted, so its own range exchange sits inside
    #     the cache) and exactly one range exchange on docid over
    #     round-robin partitions, whose docid intervals overlap.
    from mini_search_engine_spark.corpus import load_corpus
    from mini_search_engine_spark.index.build import _docid_ranged, _fused_blocked_postings

    raw = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ranged = load_corpus(raw, num_partitions=4).persist()
    unranged = load_corpus(raw).persist()
    for name, corpus, label, want in (
        ("build_ranged", ranged, "Exchange added by the build", []),
        (
            "build_unranged",
            unranged.repartition(4),
            "one range Exchange on docid added by the build",
            ["rangepartitioning(docid"],
        ),
    ):
        postings = _fused_blocked_postings(_docid_ranged(corpus)[0], 64, compress=True)
        postings.collect()  # finalize AQE
        added = build_exchanges(postings, corpus)
        ok = len(added) == len(want) and all(w in e for w, e in zip(want, added))
        checks.append(
            {
                "op": name,
                "ok": ok,
                "patterns": {label: {"expected": bool(want), "present": ok if want else bool(added)}},
                "notes": "postings plan build_index persists, over "
                + ("load_corpus(num_partitions=4) output" if not want else "round-robin partitions"),
            }
        )
        print(("OK  " if ok else "FAIL") + f" {name}")
    ranged.unpersist()
    unranged.unpersist()

    spark.stop()
    return checks


def _dedupe_aqe(plan: str) -> str:
    """executedPlan().toString() prints the AQE final plan followed by the
    initial plan — keep only the final section so node counts aren't
    doubled."""
    cut = plan.find("+- == Initial Plan ==")
    return plan if cut < 0 else plan[:cut]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    checks = audit(sf_dir)
    out = {"sf_dir": sf_dir, "checks": checks, "all_ok": all(c["ok"] for c in checks)}
    with open(os.path.join(REPO, "BENCH", "plan_audit.json"), "w") as f:
        json.dump(out, f, indent=1)
    lines = [
        "# Plan audit — structural invariants of the flagship operators",
        "",
        f"`python tools/plan_audit.py {sf_dir}` — every row re-checked from the",
        "FINAL (post-AQE) executed plan in one run; per-operator pytest asserts",
        "cover the same invariants continuously.",
        "",
        "| operator | invariant | ok |",
        "|---|---|---|",
    ]
    for c in checks:
        pats = ", ".join(
            f"{'has' if v['expected'] else 'no'} {k.split(':')[0].strip()}"
            for k, v in c["patterns"].items()
        )
        lines.append(f"| {c['op']} | {pats} — {c['notes']} | {'✓' if c['ok'] else '✗ FAIL'} |")
    lines.append("")
    with open(os.path.join(REPO, "BENCH", "PLAN_AUDIT.md"), "w") as f:
        f.write("\n".join(lines))
    print(json.dumps(out["all_ok"] and {"all_ok": True} or out))


if __name__ == "__main__":
    main()
