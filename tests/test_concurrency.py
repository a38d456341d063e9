"""session.concurrently and session.scoped_conf: legs keep the caller's
job tags, results and errors come back in list order, and session conf
never changes under another thread's running legs."""

from __future__ import annotations

import sys
import threading
import time
import uuid
import warnings

import pytest

from datacooker_dist_spark.session import concurrently, scoped_conf

KEY = "spark.sql.shuffle.partitions"


def _bounded(fn, timeout=60):
    """Run ``fn`` on a daemon thread and fail instead of hanging."""
    out = []

    def run():
        try:
            out.append(("ok", fn()))
        except BaseException as e:
            out.append(("err", e))

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(timeout)
    assert not t.is_alive(), "deadlocked"
    kind, value = out[0]
    if kind == "err":
        raise value
    return value


def _recent_job_tags(spark, newest=50):
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty(10000)
    jobs = sc._jsc.sc().statusStore().jobsList(None)
    out = []
    for i in range(min(jobs.size(), newest)):
        tags = jobs.apply(i).jobTags()
        out.append({tags.apply(k) for k in range(tags.size())})
    return out


def test_leg_jobs_carry_the_callers_job_tag(spark):
    tag = f"caller-{uuid.uuid4().hex[:8]}"
    spark.addTag(tag)
    try:
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            out = concurrently(spark, [lambda: spark.range(7).count()], 1)
    finally:
        spark.removeTag(tag)
    assert out == [7]
    assert not [w for w in caught if "Tags will not" in str(w.message)]
    # Session tags reach a job as "spark-session-<id>-...-<tag>".
    assert any(
        t.endswith("-" + tag) for tags in _recent_job_tags(spark) for t in tags
    )


def test_legs_do_not_share_local_properties(spark):
    """Each leg starts from its own copy of the caller's local
    properties, so one leg's property (a SQL execution id, a job
    description) never shows in a sibling leg."""
    sc = spark.sparkContext
    key = f"dds.test.leg-{uuid.uuid4().hex[:8]}"
    both = threading.Barrier(2, timeout=10)

    def setter():
        sc.setLocalProperty(key, "set by leg 0")
        both.wait()
        both.wait()

    def reader():
        both.wait()
        seen = sc.getLocalProperty(key)
        both.wait()
        return seen

    assert _bounded(lambda: concurrently(spark, [setter, reader], 2)) == [
        None, None
    ]
    assert sc.getLocalProperty(key) is None


def test_results_in_list_order_and_first_failure_after_all_legs(spark):
    done = []

    def slow():
        time.sleep(0.3)
        done.append("slow")
        return "slow"

    def fail(msg):
        def leg():
            raise ValueError(msg)

        return leg

    assert concurrently(spark, [slow, lambda: "fast"], 2) == ["slow", "fast"]
    done.clear()
    with pytest.raises(ValueError, match="first"):
        concurrently(spark, [slow, fail("first"), fail("second")], 3)
    assert done == ["slow"]


def test_scope_on_another_thread_waits_for_running_legs(spark):
    before = spark.conf.get(KEY)
    started = threading.Event()
    seen, order = [], []

    def leg():
        seen.append(spark.conf.get(KEY))
        started.set()
        time.sleep(0.5)
        seen.append(spark.conf.get(KEY))
        order.append("leg done")

    def other():
        started.wait(10)
        with scoped_conf(spark, KEY, int(before) + 1):
            order.append("scope entered")

    t = threading.Thread(target=other, daemon=True)
    t.start()
    _bounded(lambda: concurrently(spark, [leg], 1))
    t.join(10)
    assert not t.is_alive()
    assert seen == [before, before]
    assert order == ["leg done", "scope entered"]
    assert spark.conf.get(KEY) == before


def test_scope_inside_a_leg_raises(spark):
    before = spark.conf.get(KEY)

    def leg():
        with scoped_conf(spark, KEY, 3):
            pass

    with pytest.raises(RuntimeError, match=KEY):
        _bounded(lambda: concurrently(spark, [leg], 1))
    assert spark.conf.get(KEY) == before


def test_legs_see_the_callers_scope_and_may_nest(spark):
    def run():
        with scoped_conf(spark, KEY, 3):
            return concurrently(
                spark,
                [
                    lambda: spark.conf.get(KEY),
                    lambda: concurrently(
                        spark, [lambda: spark.conf.get(KEY)], 1
                    ),
                ],
                2,
            )

    assert _bounded(run) == ["3", ["3"]]


def test_scopes_and_legs_on_many_threads_never_see_a_foreign_value(spark):
    """8 threads (more than the test session's cores) alternate conf
    scopes and legs; a scope or leg that saw another thread's value
    mid-flight would record a mismatch."""
    before = spark.conf.get(KEY)
    mismatches = []

    def scopes(v):
        for _ in range(5):
            with scoped_conf(spark, KEY, v):
                time.sleep(0.001)
                if spark.conf.get(KEY) != str(v):
                    mismatches.append(v)

    def legs():
        def leg():
            first = spark.conf.get(KEY)
            time.sleep(0.005)
            if spark.conf.get(KEY) != first:
                mismatches.append("leg")

        for _ in range(3):
            concurrently(spark, [leg, leg], 2)

    workers = [lambda v=v: scopes(v) for v in range(11, 17)] + [legs, legs]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=w, daemon=True) for w in workers]
        for t in threads:
            t.start()
        for t in threads:
            t.join(120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert mismatches == []
    assert spark.conf.get(KEY) == before
