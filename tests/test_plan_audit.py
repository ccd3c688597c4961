"""Registry-wide plan regression guard.

Builds every registry query's physical plan through the same audit
used for PLAN_AUDIT.md and fails when:

1. any scale-hazard flag (BNLJ / CartesianProduct / global
   whole-dataset Sort) appears on a query not explicitly reviewed in
   tools/plan_audit.FLAG_NOTES — a new query that accidentally plans
   a nested-loop join breaks the suite instead of shipping silently;
2. a query's SHUFFLE EXCHANGE count exceeds what the committed
   PLAN_AUDIT.md records — a silent plan regression (lost broadcast,
   lost exchange reuse, new unplanned shuffle) fails loudly. An
   intentional plan change must regenerate the audit
   (``python tools/plan_audit.py /root/testdata/sf0.01``), making the
   new shuffle count a reviewed diff instead of an accident.

Both checks run at sf0.01 — the same dir the committed audit was
generated at — so size-based planner choices (broadcast thresholds)
are identical and the comparison is deterministic.
"""

from __future__ import annotations

import re
import subprocess
import sys
from pathlib import Path

from nycitibike_data_transform_spark.queries import all_queries

from tools.plan_audit import EAGER_NOTES, FLAG_NOTES, audit_one

_AUDIT_SF_DIR = "/root/testdata/sf0.01"
_ROW = re.compile(r"^\| (\w+) \| (\d+) \| \d+ \| \d+ \| \d+ \| ([^|]+) \|$")


def _committed_audit() -> dict[str, int]:
    out = {}
    with open("PLAN_AUDIT.md") as f:
        for line in f:
            m = _ROW.match(line.strip())
            if m:
                out[m.group(1)] = int(m.group(2))
    return out


def test_no_unreviewed_hazards_and_no_exchange_regressions(spark):
    committed = _committed_audit()
    unreviewed = {}
    regressed = {}
    missing = []
    for name, spec in all_queries().items():
        if name in EAGER_NOTES:
            # driver-training queries: constructing them executes the
            # full training and returns a LocalTableScan — nothing to
            # audit, and rebuilding here would double the cost
            continue
        row = audit_one(spec.spark(spark, _AUDIT_SF_DIR))
        if row["flags"] != "-" and name not in FLAG_NOTES:
            unreviewed[name] = row["flags"]
        if name not in committed:
            missing.append(name)
        elif row["exch"] != committed[name]:
            # != not >: a plan IMPROVEMENT (fewer exchanges) must also
            # regenerate the audit, else the committed baseline goes
            # stale and a later regression back to the old count would
            # pass silently (ADVICE r5)
            regressed[name] = (committed[name], row["exch"])
    assert not unreviewed, (
        f"unreviewed plan hazards: {unreviewed} — either fix the plan or "
        "add a reviewed justification to tools/plan_audit.FLAG_NOTES"
    )
    assert not missing, (
        f"queries absent from PLAN_AUDIT.md: {missing} — regenerate it "
        "(python tools/plan_audit.py /root/testdata/sf0.01)"
    )
    assert not regressed, (
        f"shuffle-exchange drift vs committed PLAN_AUDIT.md "
        f"{{name: (committed, now)}}: {regressed} — if intentional "
        "(including improvements), regenerate the audit so the new "
        "plan shape is a reviewed diff"
    )


_WINDOW_LOG_SCRIPT = """
import sys
sys.path.insert(0, {root!r})
from nycitibike_data_transform_spark.queries import all_queries
from nycitibike_data_transform_spark.session import get_spark
spark = get_spark("window-log", master="local[2]", shuffle_partitions=2)
assert all_queries()["weighted_sample"].spark(spark, {sf_dir!r}).collect()
root = spark._jvm.org.apache.logging.log4j.LogManager.getRootLogger()
print("root-level", root.getLevel().toString())
spark.stop()
"""


def test_reviewed_window_warning_is_not_logged(sf_dir):
    """The unpartitioned-window WARN carries no signal: every GWIN plan
    is reviewed in FLAG_NOTES (the test above fails an unreviewed one).
    A fresh ``get_spark`` session that runs ``weighted_sample`` (a
    reviewed GWIN) prints no such line, and the session stays at WARN."""
    assert "weighted_sample" in FLAG_NOTES
    root = str(Path(__file__).resolve().parent.parent)
    out = subprocess.run(
        [sys.executable, "-c", _WINDOW_LOG_SCRIPT.format(root=root, sf_dir=sf_dir)],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "root-level WARN" in out.stdout
    assert "No Partition Defined" not in out.stderr
