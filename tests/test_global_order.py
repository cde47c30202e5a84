"""Distributed-exact global-order windows (plans/relational.py): the staged
range-bucket shape (forced via GLOBAL_WINDOW_MAX_INPUT=0) must
return byte-identical rows to the classic single-partition-window shape,
and the staged physical plan must not run a data-sized single-partition
Window."""

import pytest

from cdk_datalake_analytics_comercial_spark.plans import relational as R
from cdk_datalake_analytics_comercial_spark.plans.relational import (
    q_customer_value_deciles,
    q_orders_abc_pareto,
)

SF = "/root/testdata/sf0.001"


@pytest.mark.parametrize(
    "q", [q_customer_value_deciles, q_orders_abc_pareto]
)
def test_staged_matches_single_partition(q, spark, monkeypatch):
    classic = {tuple(r) for r in q(spark, SF).collect()}
    monkeypatch.setattr(R, "GLOBAL_WINDOW_MAX_INPUT", 0)
    staged = {tuple(r) for r in q(spark, SF).collect()}
    assert staged == classic and classic


def test_staged_plan_has_no_data_single_partition_window(spark, monkeypatch):
    monkeypatch.setattr(R, "GLOBAL_WINDOW_MAX_INPUT", 0)
    df = q_customer_value_deciles(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the data window is hash-partitioned by the range bucket; the only
    # single-partition exchange feeds the P-row bucket-count window
    assert "windowspecdefinition(_b" in plan
