"""Physical-plan regression gate: the scale-critical plan properties
(pushdown, pruning, broadcast, group-limit, agg phases) assert against
explain(formatted) output — a slow-plan regression fails CI, not a 100 TB
run. Rules live in scripts/audit_plans.py (also runnable standalone)."""

import sys

import pytest

from scripts.audit_plans import (
    EXTRA_RULES,
    RULES,
    bucketed_payload_plans,
    mapinpandas_kernels,
    plan_of,
)

import __spark_entry__ as entry_mod


@pytest.fixture(scope="module")
def plans(spark, sf001):
    qs = entry_mod.queries()
    out = {}
    for qname, _rule, _pred in RULES:
        if qname not in out:
            out[qname] = plan_of(qs[qname](spark, sf001))
    return out


@pytest.mark.parametrize(
    "qname,rule,pred", RULES, ids=[f"{q}::{r[:40]}" for q, r, _ in RULES]
)
def test_plan_rule(plans, qname, rule, pred):
    plan = plans[qname]
    assert pred(plan), f"{qname}: {rule}\n--- plan ---\n{plan[:4000]}"


@pytest.fixture(scope="module")
def bucketed_plans(spark):
    return bucketed_payload_plans(spark)


@pytest.mark.parametrize(
    "key,rule,pred", EXTRA_RULES, ids=[f"payload_bucketed[{k}]" for k, _r, _p in EXTRA_RULES]
)
def test_bucketed_payload_join_rule(bucketed_plans, key, rule, pred):
    plan = bucketed_plans[key]
    assert pred(plan), f"payload_bucketed[{key}]: {rule}\n--- plan ---\n{plan[:4000]}"


def test_wave_plan_kernels_are_named_per_check(bucketed_plans):
    """The all-checks wave plan's one Python pass carries the fused decode
    kernel's name, so a plan's (and Spark's per-operator metrics')
    MapInPandas node maps back to the decode checks it runs."""
    names = mapinpandas_kernels(bucketed_plans["wave_all_checks"])
    assert names == ["fused_checks_kernel"], names
