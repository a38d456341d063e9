"""Dump one normalised optimized plan per suite query, so two trees can be
compared with ``diff -r``: the "plans and outputs unchanged" check of a
refactor.

Usage:
  python tools/dump_plans.py OUT_DIR [--sf /root/testdata/sf0.001] \
      [--rows] [--queries q1,q2,...]

Writes ``OUT_DIR/<query>.plan`` for every suite query (sorted by name,
built in that order in one session). Normalised means that expression
ids (``#123``), the counters in lambda variable names, plan ids,
scratch paths (``dds_<tag>_...`` directories) and the hex suffixes of
session-scoped tables are stripped, so two runs of one tree print the
same text. With ``--rows`` each query also runs,
and ``OUT_DIR/<query>.rows`` holds its row count and the
order-independent sum of ``xxhash64`` over each row's columns.

Runs against the tree the script lives in (``sys.path`` pinned to its own
repo root), so the same command in a copy of the parent commit dumps the
before state::

    python /path/to/parent/tools/dump_plans.py /tmp/before
    python tools/dump_plans.py /tmp/after
    diff -r /tmp/before /tmp/after

The session mirrors the test suite's (``local[8]``, 8 shuffle
partitions). A query that fails to build or run writes its error class
instead of a plan or a checksum.

Queries whose optimized plans differ between two runs of the same tree,
so a diff in them says nothing about a change: ``layout_skipping_report``,
``funnel_steps``, ``eval_contamination_report``, ``kgram_rows_build``
and ``join_bucketed``.
"""

from __future__ import annotations

import argparse
import os
import re
import sys

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)

from datacooker_dist_spark.session import build_session  # noqa: E402

_NORMALISE = [
    (re.compile(r"#\d+"), "#"),
    (re.compile(r"(lambda [a-z]+)_\d+"), r"\1"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"dds_[^/\s,\]\)]*"), "dds_<scratch>"),
    (re.compile(r"\b(bk_[a-z]+)_[0-9a-f]{8}\b"), r"\1_<tag>"),
]


def normalise(plan: str) -> str:
    for pat, repl in _NORMALISE:
        plan = pat.sub(repl, plan)
    return plan


def row_digest(df) -> str:
    """``rows=<n> xxhash64_sum=<s>``: the sum is order-independent and
    accumulated as a decimal, so it cannot overflow."""
    from pyspark.errors import AnalysisException
    from pyspark.sql import functions as F

    pos = df.toDF(*[f"_c{i}" for i in range(len(df.columns))])
    try:
        h = F.xxhash64(*[F.col(c) for c in pos.columns])
        pos.select(h).schema  # map columns cannot be hashed directly
    except AnalysisException:
        h = F.xxhash64(F.to_json(F.struct(*pos.columns)))
    n, s = pos.select(h.cast("decimal(38,0)").alias("_h")).agg(
        F.count(F.lit(1)), F.sum("_h")
    ).first()
    return f"rows={n} xxhash64_sum={s}\n"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("out_dir")
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("--rows", action="store_true")
    ap.add_argument("--queries", default=None)
    args = ap.parse_args()

    from datacooker_dist_spark.suite import QUERIES

    names = sorted(args.queries.split(",") if args.queries else QUERIES)
    unknown = set(names) - set(QUERIES)
    if unknown:
        sys.exit(f"unknown queries: {sorted(unknown)}")
    os.makedirs(args.out_dir, exist_ok=True)
    spark = build_session(
        app_name="dds-dump-plans", cpus=8, shuffle_partitions=8
    )
    spark.sparkContext.setLogLevel("ERROR")
    failed = []
    for name in names:
        outputs = {}
        try:
            df = QUERIES[name](spark, args.sf)
            outputs["plan"] = normalise(
                df._jdf.queryExecution().optimizedPlan().toString()
            )
            if args.rows:
                outputs["rows"] = row_digest(df)
        except Exception as e:  # recorded, so a diff shows it
            failed.append(name)
            print(f"{name}: {e!r}"[:500], file=sys.stderr, flush=True)
            err = f"ERROR: {type(e).__name__}\n"
            outputs.setdefault("plan", err)
            if args.rows:
                outputs["rows"] = err
        for ext, text in outputs.items():
            with open(os.path.join(args.out_dir, f"{name}.{ext}"), "w") as fh:
                fh.write(text)
        print(f"{name}: {'error' if failed[-1:] == [name] else 'ok'}",
              flush=True)
    spark.stop()
    print(f"DONE: {len(names)} queries, {len(failed)} errors", flush=True)


if __name__ == "__main__":
    main()
