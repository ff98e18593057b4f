"""Golden-plan snapshot battery (the Spark analog of the reference's 163
pinned optimized-plan XMLs in flink-table-planner-blink's
src/test/resources/.../plan/): every plan-sensitive catalog query's
normalized `explain(formatted)` physical plan must match the checked-in
snapshot. Catches silent plan regressions — a broadcast flipping to
sort-merge, a lost PushedFilters, a new shuffle — that value tests can't
see. Regenerate after an INTENDED plan change with:

    python tools/plan_snapshots.py [name...]
"""

from __future__ import annotations

import difflib
import os

import pytest

from tools.plan_snapshots import (
    SF_DIR,
    SNAP_DIR,
    SNAPSHOT_QUERIES,
    normalize_plan,
    plan_for,
)


@pytest.mark.parametrize("name", SNAPSHOT_QUERIES)
def test_plan_matches_snapshot(name, spark):
    path = os.path.join(SNAP_DIR, f"{name}.txt")
    assert os.path.exists(path), (
        f"no snapshot for {name}; run: python tools/plan_snapshots.py {name}"
    )
    with open(path) as f:
        want = f.read()
    got = plan_for(spark, name, SF_DIR)
    if got != want:
        diff = "\n".join(
            difflib.unified_diff(
                want.splitlines(), got.splitlines(),
                fromfile=f"snapshot/{name}", tofile=f"current/{name}",
                lineterm="", n=2,
            )
        )
        pytest.fail(
            f"physical plan changed for {name} — if intended, regenerate "
            f"with `python tools/plan_snapshots.py {name}`:\n{diff[:8000]}"
        )


def test_snapshot_dir_has_no_orphans():
    """Every checked-in snapshot corresponds to a query still in the
    battery (a renamed query must not leave a stale golden file)."""
    files = {f[:-4] for f in os.listdir(SNAP_DIR) if f.endswith(".txt")}
    assert files == set(SNAPSHOT_QUERIES)


def test_normalize_plan_masks_only_the_partition_count():
    """The trailing count of a partitioning call depends on the session's
    shuffle setting or the host's cores and is masked; literals inside its
    keys are plan shape and stay, e.g. the 0 of coalesce(x, 0)."""
    raw = (
        "Arguments: hashpartitioning(coalesce(i_brand_id#12L, 0), "
        "isnull(i_brand_id#12L), coalesce(i_class_id#13L, 0), 32), "
        "ENSURE_REQUIREMENTS, [plan_id=71]\n"
        "Arguments: rangepartitioning(x#4 ASC NULLS FIRST, 4), "
        "ENSURE_REQUIREMENTS, [plan_id=9]\n"
        "Arguments: RoundRobinPartitioning(8), REPARTITION_BY_NUM, [plan_id=3]\n"
    )
    assert normalize_plan(raw) == (
        "Arguments: hashpartitioning(coalesce(i_brand_id#L, 0), "
        "isnull(i_brand_id#L), coalesce(i_class_id#L, 0), N), "
        "ENSURE_REQUIREMENTS, [plan_id=]\n"
        "Arguments: rangepartitioning(x# ASC NULLS FIRST, N), "
        "ENSURE_REQUIREMENTS, [plan_id=]\n"
        "Arguments: RoundRobinPartitioning(N), REPARTITION_BY_NUM, [plan_id=]\n"
    )
