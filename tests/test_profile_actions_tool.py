"""tools/profile_actions.py records what actually ran: one event per
outermost action (``first()`` reaches ``collect()`` inside Spark 4's
DataFrame), with the Spark jobs that action started and the classes
Janino compiled for it."""

import sys
import uuid

sys.path.insert(0, ".")
from tools.profile_actions import ActionProfiler  # noqa: E402


def test_first_is_one_event_with_its_jobs(spark):
    sc = spark.sparkContext
    group = sc.getLocalProperty("spark.jobGroup.id")
    # a literal no earlier query used: its whole-stage code is new to the
    # codegen cache, so at least one class must be compiled
    k = uuid.uuid4().int % 1_000_000_007
    df = spark.range(5).selectExpr(f"id * {k} + 1 AS x")
    with ActionProfiler(spark) as prof:
        assert df.first()["x"] == 1
    prof.resolve()
    assert [e.method for e in prof.events] == ["first"]
    assert prof.events[0].jobs >= 1
    assert prof.events[0].stages >= prof.events[0].jobs
    assert prof.events[0].classes >= 1
    # the job group is restored and the wrappers are gone
    assert sc.getLocalProperty("spark.jobGroup.id") == group
    df.count()
    assert len(prof.events) == 1
