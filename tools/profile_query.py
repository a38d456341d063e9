"""Per-query profiler for the optimization rounds (guide §1: measure
first). For each named query this runs the bench-identical session shape
(local[$SPARK_GRAFT_CPUS], same build_session confs), warms the Python
paths exactly like bench.py, then:

  - times plan-build (the Python call, which for memoized builders
    includes their driver-synchronized jobs) and the noop-sink execution
    separately;
  - counts the Spark jobs + stages + tasks the query scheduled (via a
    job group), separating plan-build-time jobs from execution jobs;
  - counts the py4j round trips of the plan build (every
    ``send_command`` of the gateway client, status reads excluded), the
    driver cost of building a plan through the Column API;
  - optionally dumps ``explain("formatted")`` to a file.

Usage:
  python tools/profile_query.py q1,q2,... [--plans-dir plans/r11 \
      --suffix before] [--sf /root/testdata/sf0.1] [--repeat N]

Job/stage counts come from the status tracker, so numbers are per
queryname and comparable across runs regardless of host load — wall
times are still host-sensitive; treat them as indicative, the bench is
the record.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from datacooker_dist_spark.session import build_session  # noqa: E402
from datacooker_dist_spark.suite import QUERIES  # noqa: E402


def _job_stats(sc, group: str) -> dict:
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    n_stages = 0
    n_tasks = 0
    for j in jobs:
        ji = st.getJobInfo(j)
        if ji is None:
            continue
        for sid in ji.stageIds:
            si = st.getStageInfo(sid)
            if si is not None:
                n_stages += 1
                n_tasks += si.numTasks
    return {"jobs": len(jobs), "stages": n_stages, "tasks": n_tasks}


def _count_py4j(sc) -> list[int]:
    """Wrap the gateway client's ``send_command`` so each py4j round trip
    from this process adds one to the returned one-element counter."""
    client = sc._gateway._gateway_client
    calls = [0]
    send = client.send_command

    def counted(*args, **kwargs):
        calls[0] += 1
        return send(*args, **kwargs)

    client.send_command = counted
    return calls


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries")
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--plans-dir", default=None)
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--repeat", type=int, default=1)
    ap.add_argument("--json-out", default=None)
    args = ap.parse_args()

    names = args.queries.split(",")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = build_session(app_name="dds-profile", cpus=cpus)
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    # bench.py's warmups so first-query attribution matches the bench.
    import bench

    bench._python_path_warmup(spark)
    bench._table_warmup(spark, args.sf)
    py4j_calls = _count_py4j(sc)

    results = {}
    for name in names:
        fn = QUERIES[name]
        for rep in range(args.repeat):
            tag = f"prof-{name}-{rep}"
            sc.setJobGroup(tag, name)
            c0 = py4j_calls[0]
            t0 = time.perf_counter()
            df = fn(spark, args.sf)
            t_build = time.perf_counter() - t0
            build_py4j = py4j_calls[0] - c0
            build_stats = _job_stats(sc, tag)

            if args.plans_dir and rep == 0:
                os.makedirs(args.plans_dir, exist_ok=True)
                buf = io.StringIO()
                with contextlib.redirect_stdout(buf):
                    df.explain(mode="formatted")
                with open(
                    os.path.join(
                        args.plans_dir, f"{name}_{args.suffix}.txt"
                    ),
                    "w",
                ) as fh:
                    fh.write(buf.getvalue())

            tag2 = f"prof-exec-{name}-{rep}"
            sc.setJobGroup(tag2, name)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t_exec = time.perf_counter() - t1
            exec_stats = _job_stats(sc, tag2)
            sc.setJobGroup("idle", "idle")
            rec = {
                "build_sec": round(t_build, 3),
                "exec_sec": round(t_exec, 3),
                "total_sec": round(t_build + t_exec, 3),
                "build_py4j": build_py4j,
                "build_jobs": build_stats,
                "exec_jobs": exec_stats,
            }
            results.setdefault(name, []).append(rec)
            print(json.dumps({"query": name, "rep": rep, **rec}), flush=True)

    if args.json_out:
        with open(args.json_out, "w") as fh:
            json.dump(results, fh, indent=1)
    spark.stop()


if __name__ == "__main__":
    main()
