"""Self-test: the benchmark's answer checks catch a wrong answer.

Runs each workload once at its smallest size against a real local Spark
session, shows that every recorded answer passes, then plants one wrong
expected value per op in turn and shows that exactly that op fails, so
``fail_frac`` rises from 0.  Run from the root of a checkout::

    python3 -m pytest tickbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [os.path.dirname(BENCH), BENCH]

import workloads  # noqa: E402
from tracing import Tracer  # noqa: E402


@pytest.fixture(scope="module")
def ctx(tmp_path_factory):
    from zdb_spark import get_spark

    from run import stop_spark

    work = str(tmp_path_factory.mktemp("tickbench"))
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    spark = get_spark("tickbench-selftest", extra_conf={
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse")})
    yield workloads.Ctx(spark, work, seed=3, seconds=1,
                        tracer=Tracer(spark, False))
    stop_spark(spark)


def fail_frac(ok: list[bool]) -> float:
    return ok.count(False) / len(ok)


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_planted_wrong_value_raises_fail_frac(ctx, name):
    out = workloads.WORKLOADS[name](ctx)
    ok = out.verify(None)
    assert fail_frac(ok) == 0.0, [o.error for o in out.ops]
    checked = [i for i, o in enumerate(out.ops) if o.cls != "append"]
    assert checked
    for i in checked:
        bad = out.verify(i)
        assert [j for j, b in enumerate(bad) if not b] == [i]
        assert fail_frac(bad) == 1 / len(bad)
