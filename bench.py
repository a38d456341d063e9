#!/usr/bin/env python
"""Benchmark harness: times every suite query at the bench scale factor and
prints ONE JSON line:

    {"metric": "suite_total", "value": <sec>, "unit": "sec",
     "queries": {"agg_hash": <sec>, ...}, "sf": 0.1}

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS   (default 32),
     BENCH_QUERIES      (comma list to subset, default all),
     BENCH_SESSION_CHUNK (queries per SparkSession, default 100).

Each query is timed as plan-build + execution to completion via a count-ish
materialization (``df.write.format("noop")`` — full computation, no driver
collect cost, the honest measure of executor-side work).

Session recycling (VERDICT r04 task 4): one 315-query session accumulates
state — cached/checkpointed blocks, listener queues, broadcast-cleanup
backlog — that inflates LATE-suite queries ~0.2 s each while their plans
are unchanged (r04: suite median rose 0.52→0.75 while per-plan A/Bs were
flat). The suite therefore runs in fresh-session chunks of
``BENCH_SESSION_CHUNK`` queries; each session re-pays the JVM/Python-path
warmup explicitly OUTSIDE the per-query timers. Cross-round medians are
comparable per chunk-size; the chunk size is recorded in the output.

Memo-cluster alignment (ADVICE r05): queries that consume the same
session-memoized shared artifact (shingles/LSH/jaccard pairs, the ANN
PQ+IVF indexes, the k-gram inverted index, embedding pairs) are kept in
ONE session — a chunk boundary through such a family would rebuild the
shared index in the fresh session and bill it to the first consumer
instead of its named ``*_build`` query. The clusters are discovered by a
source scan of the suite modules (query function → ``shared_*`` calls,
transitively closed over memo→memo calls), queries are ordered so each
cluster is contiguous with its ``*_build`` members first, and chunk
boundaries only ever land between clusters.

Spike-proof timing (VERDICT r05 task 1, retime policy revised per
ADVICE r06): a single-shot measurement lets one host-load spike fake a
5× regression in the permanent record (r05: two dedup entries recorded
25-32 s that re-measured at 4-9 s). Any query whose first measurement
exceeds ``BENCH_RETIME_SEC`` (default 2 s) is re-run twice more and the
MEDIAN of the three is recorded — min-of-2 (the r06 policy) removed
spikes but biased the record optimistically, since second runs benefit
from warm OS page cache and JIT state; the median of three is robust to
one spike in either direction without favoring the warmest run. All
samples + a ``retimed`` flag land in BENCH_DETAIL.json so cross-round
comparisons can weigh retimed entries. Memo-cluster FIRST-TOUCH queries
(every ``*_build`` and any cluster without a named build) are exempt —
their re-run would hit the session memo and measure probe-only,
silently erasing the build cost — so their single-shot nature is
flagged with a 1-sample list in the detail.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import pandas as pd  # noqa: E402
from pyspark.sql.functions import pandas_udf  # noqa: E402

from datacooker_dist_spark.session import build_session  # noqa: E402
from datacooker_dist_spark.suite import QUERIES  # noqa: E402


def _python_path_warmup(spark) -> None:
    """Warm the Python-worker daemon + Arrow serde on all three eval paths
    (mapInPandas, mapInArrow, pandas UDF): the forks cost ~3-4 s once per
    session and otherwise land on whichever pandas/Arrow query runs first
    (the r02 'udf regressions' were exactly this attribution)."""

    @pandas_udf("long")
    def _warm(s: pd.Series) -> pd.Series:
        return s

    tiny = spark.range(0, 64, 1, 32)
    tiny.mapInPandas(lambda it: it, "id long").write.format("noop").mode(
        "overwrite"
    ).save()
    tiny.mapInArrow(lambda it: it, "id long").write.format("noop").mode(
        "overwrite"
    ).save()
    tiny.select(_warm("id")).write.format("noop").mode("overwrite").save()


def _table_warmup(spark, sf_dir: str) -> None:
    """Prime each table's parquet footer/schema (memoized per session in
    suite.table) and one tiny scan, so a fresh chunk session doesn't bill
    footer inference to its first query."""
    from datacooker_dist_spark.suite import table

    for t in (
        "region nation customer supplier part orders lineitem "
        "events documents embeddings"
    ).split():
        try:
            table(spark, sf_dir, t).limit(1).write.format("noop").mode(
                "overwrite"
            ).save()
        except Exception:
            pass



def _is_build(name: str) -> bool:
    """True for named one-time build/train queries (`*_build`,
    `*_build_<x>`, `*_train`, or the EM fits `*_em`): they sort first in
    their memo cluster and are retime-exempt (a re-run hits the session
    memo and would measure probe-only). `_train` joined the rule in r8:
    without it the quality-classifier cluster ran alphabetically
    score-before-train, so the SCORE entry was billed the whole 20-step
    EM fit (r8 measured: score 40.2 s / train 1.6 s, exactly inverted
    from reality); `_em` covers the unigram-tokenizer and
    Fellegi–Sunter fits the same way."""
    import re
    return re.search(r"_build(_|$)|_train$|_em$", name) is not None

def _memo_clusters(names: list[str]) -> dict[str, str]:
    """query name -> cluster anchor for queries sharing a session memo.

    Discovered from the suite SOURCE (not hardcoded lists that go stale):
    every ``@query``-decorated function's body is scanned for
    ``shared_*`` identifiers; ``shared_*`` definitions are likewise
    scanned so memo→memo chains (jaccard_pairs → lsh_candidates →
    shingles) merge into one cluster. Queries sharing any memo (directly
    or transitively) get the same anchor: the cluster's alphabetically
    first name, with ``*_build`` members winning so one-time shared work
    is billed to its named build query.

    Edges count ONLY for names that resolve to a MODULE-LEVEL
    ``shared_*`` function decorated with ``memo`` (ADVICE r06): a local
    variable, helper parameter, or non-memoized helper that merely
    starts with ``shared_`` can no longer forge a cluster edge and
    silently merge unrelated clusters (which would move chunk
    boundaries and retime exemptions)."""
    import ast
    import glob

    suite_dir = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "datacooker_dist_spark", "suite",
    )
    def _shared_names(node: ast.FunctionDef) -> set[str]:
        # Walk actual identifier nodes (Name/Attribute/ImportFrom) so a
        # docstring or comment MENTIONING a memo can't forge a cluster
        # edge and silently reorder the bench (review r06).
        used: set[str] = set()
        for n in ast.walk(node):
            if isinstance(n, ast.Name) and n.id.startswith("shared_"):
                used.add(n.id)
            elif isinstance(n, ast.Attribute) and n.attr.startswith(
                "shared_"
            ):
                used.add(n.attr)
            elif isinstance(n, ast.ImportFrom):
                used.update(
                    a.name
                    for a in n.names
                    if a.name.startswith("shared_")
                )
        used.discard(node.name)
        return used

    trees: list = []
    for path in sorted(glob.glob(os.path.join(suite_dir, "*.py"))):
        txt = open(path).read()
        try:
            trees.append(ast.parse(txt))
        except SyntaxError:
            continue

    # Pass 1 — the memo registry (ADVICE r06): a name is a memo edge
    # target only if it is a MODULE-LEVEL ``shared_*`` def decorated
    # with ``memo`` (``@memo`` or ``@<module>.memo``). Everything else
    # that happens to start with ``shared_`` (locals, params, plain
    # helpers) is ignored by the edge scan below.
    memo_funcs: set[str] = {
        node.name
        for tree in trees
        for node in tree.body  # module level only
        if isinstance(node, ast.FunctionDef)
        and node.name.startswith("shared_")
        and any(
            getattr(d, "id", getattr(d, "attr", None)) == "memo"
            for d in node.decorator_list
        )
    }

    memo_edges: dict[str, set[str]] = {}
    query_memos: dict[str, set[str]] = {}
    for tree in trees:
        for node in ast.walk(tree):
            if not isinstance(node, ast.FunctionDef):
                continue
            used = _shared_names(node) & memo_funcs
            if node.name.startswith("shared_"):
                if node.name in memo_funcs:
                    memo_edges.setdefault(node.name, set()).update(used)
                continue
            qname = None
            for dec in node.decorator_list:
                if (
                    isinstance(dec, ast.Call)
                    and getattr(dec.func, "id", "") == "query"
                    and dec.args
                    and isinstance(dec.args[0], ast.Constant)
                ):
                    qname = dec.args[0].value
            if qname and used:
                query_memos[qname] = used

    # Union-find over memo names (chained memos → one root).
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a: str, b: str) -> None:
        parent[find(a)] = find(b)

    for memo, deps in memo_edges.items():
        for d in deps:
            union(memo, d)
    for memos in query_memos.values():
        first = next(iter(memos))
        for m in memos:
            union(first, m)

    by_root: dict[str, list[str]] = {}
    for q in names:
        memos = query_memos.get(q)
        if memos:
            by_root.setdefault(find(next(iter(memos))), []).append(q)
    anchors: dict[str, str] = {}
    for members in by_root.values():
        anchor = min(
            members, key=lambda n: (not _is_build(n), n)
        )
        for m in members:
            anchors[m] = anchor
    return anchors


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    subset = os.environ.get("BENCH_QUERIES")
    names = subset.split(",") if subset else sorted(QUERIES)
    retime_sec = float(os.environ.get("BENCH_RETIME_SEC", "2.0"))

    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    chunk = int(os.environ.get("BENCH_SESSION_CHUNK", "100"))

    # Order: memo clusters contiguous (build queries first within each),
    # everything else alphabetical around them.
    anchors = _memo_clusters(names)
    names = sorted(
        names,
        key=lambda n: (
            anchors.get(n, n),
            not _is_build(n),
            n,
        ),
    )
    # A cluster's FIRST query (in running order) pays the shared memo
    # build, so its re-run would hit the memo and measure probe-only —
    # min-of-2 would silently erase the build cost from the record (the
    # exact failure mode the retime guard exists to prevent faking the
    # other way). Exempt first-touchers from re-timing; by construction
    # the `*_build` members sort first, so this also covers them, and it
    # covers clusters that have NO named build query (review r06:
    # the shared_embedding_pairs family).
    first_touch: set[str] = set()
    seen_clusters: set[str] = set()
    for n in names:
        a = anchors.get(n)
        if a is not None and a not in seen_clusters:
            seen_clusters.add(a)
            first_touch.add(n)

    # Chunk boundaries never split a cluster: close a chunk only when the
    # next query belongs to a different cluster (or none).
    chunks: list[list[str]] = [[]]
    for n in names:
        cur = chunks[-1]
        if (
            len(cur) >= chunk
            and not (
                cur
                and anchors.get(n) is not None
                and anchors.get(cur[-1]) == anchors.get(n)
            )
        ):
            chunks.append([n])
        else:
            cur.append(n)

    timings: dict[str, float] = {}
    samples: dict[str, list[float]] = {}
    for ci, chunk_names in enumerate(chunks):
        if not chunk_names:
            continue
        spark = build_session(app_name=f"dds-bench-{ci}", cpus=cpus)
        spark.sparkContext.setLogLevel("ERROR")

        # JVM/codegen warmup on a trivial job so the first query isn't
        # charged session startup.
        spark.range(1_000_000).selectExpr("sum(id)").collect()

        # r03 A/B: the r02 "udf_broadcast_dict 0.25→2.45 s regression" was
        # the session's Python-worker startup cost mis-attributed (warm
        # per-query times are 0.24-0.47 s); charge it to warmup, not to a
        # query.
        _python_path_warmup(spark)
        _table_warmup(spark, sf_dir)

        for name in chunk_names:
            fn = QUERIES[name]

            def _run_once() -> float:
                t0 = time.perf_counter()
                fn(spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                return round(time.perf_counter() - t0, 3)

            t1 = _run_once()
            vals = [t1]
            # Spike guard: median-of-3 for heavy queries (ADVICE r06 —
            # min-of-2 biased toward warm-cache re-runs). Memo-cluster
            # first-touchers (every `*_build` query and any cluster
            # without one) are exempt — their re-run hits the session
            # memo and would record a meaningless probe-only time.
            if (
                t1 > retime_sec
                and name not in first_touch
                and not _is_build(name)
            ):
                vals.append(_run_once())
                vals.append(_run_once())
            timings[name] = sorted(vals)[len(vals) // 2]
            samples[name] = vals

        spark.stop()

    total = round(sum(timings.values()), 3)
    ordered = sorted(timings.values())
    median = round(ordered[len(ordered) // 2], 3) if ordered else 0.0
    slowest = dict(
        sorted(timings.items(), key=lambda kv: kv[1], reverse=True)[:10]
    )

    # Full per-query map goes to an artifact file; stdout gets a compact line
    # (the driver's capture window truncates multi-KB lines — VERDICT r01).
    here = os.path.dirname(os.path.abspath(__file__))
    detail_path = os.path.join(here, "BENCH_DETAIL.json")
    # Round-stamped archive (VERDICT r07 task 5): BENCH_DETAIL.json is
    # overwritten every run, which destroyed r6's per-query detail before
    # the r7 judge could diff it. Mirror each run's detail to
    # BENCH_DETAIL_r0N.json. N = one past the newest CORRECTNESS_r0N
    # record — the driver writes CORRECTNESS at round END, so the stamp
    # is stable for the WHOLE round; the previous rule (one past the
    # newest BENCH_r0N) mislabeled any re-run that happened after the
    # driver had already recorded the current round's bench, pushing the
    # detail into the NEXT round's slot.
    import re as _re

    rounds = [
        int(m.group(1))
        for f in os.listdir(here)
        if (m := _re.fullmatch(r"CORRECTNESS_r(\d+)\.json", f))
    ]
    archive_path = os.path.join(
        here, f"BENCH_DETAIL_r{(max(rounds, default=0) + 1):02d}.json"
    )
    detail = {
        "metric": "suite_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "samples": samples,
        "retimed": sorted(n for n, v in samples.items() if len(v) > 1),
        "retime_policy": "median_of_3",
        "retime_sec": retime_sec,
        "sf": sf,
        "cpus": cpus,
        "session_chunk": chunk,
    }
    # A BENCH_QUERIES subset run is a dev loop, not the round record —
    # it must never clobber the round archive with a 5-query detail
    # (r8: exactly that happened during spot-checks).
    out_paths = (
        (detail_path,) if os.environ.get("BENCH_QUERIES")
        else (detail_path, archive_path)
    )
    for out_path in out_paths:
        with open(out_path, "w") as fh:
            json.dump(detail, fh, indent=1, sort_keys=True)

    # Compact summary is the LAST stdout line so the driver's tail capture
    # always holds one complete, parse-able JSON object.
    print(
        json.dumps(
            {
                "metric": "suite_total",
                "value": total,
                "unit": "sec",
                "queries": slowest,
                "n_queries": len(timings),
                "median_sec": median,
                "session_chunk": chunk,
                "detail": "BENCH_DETAIL.json",
                "sf": sf,
            }
        )
    )


if __name__ == "__main__":
    main()
