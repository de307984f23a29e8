"""Round-4 batch k planted truth: lineage rows read back from the
checkpoint table equal the stage's true per-partition cell counts,
incomplete rows stay invisible to stage_metrics, and a part's newest row
decides."""

from __future__ import annotations

import datetime as dt
import os
import tempfile


def test_checkpoint_lineage_audit_planted(spark):
    from mintpy_spark.queries_tiers import checkpoint_lineage_audit

    t0 = dt.datetime(2024, 3, 1)
    rows = []
    eid = 0
    # user 1 (part 1): 3 distinct days, one day twice -> 3 cells
    for day in (0, 0, 1, 2):
        rows.append((1, t0 + dt.timedelta(days=day), eid, "v", 1.0, None))
        eid += 1
    # user 9 (part 1 as well): 2 cells -> part 1 totals 5
    for day in (0, 5):
        rows.append((9, t0 + dt.timedelta(days=day), eid, "v", 1.0, None))
        eid += 1
    # user 2 (part 2): 1 cell
    rows.append((2, t0, eid, "v", 1.0, None))
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long,"
        " event_type string, value double, props string",
    )
    with tempfile.TemporaryDirectory() as d:
        df.coalesce(1).write.parquet(os.path.join(d, "events.parquet"))
        got = {r.part_id: r.row_count
               for r in checkpoint_lineage_audit(spark, d).collect()}
    assert got == {1: 5, 2: 1}


def test_stage_metrics_ignores_incomplete_rows():
    from mintpy_spark.plans.checkpoint import CheckpointTable

    with tempfile.TemporaryDirectory() as d:
        ck = CheckpointTable(d)
        ck.append(
            [
                {"run_id": "r", "stage": "s", "part_id": 0,
                 "input_fp": "f", "row_count": 10, "wall_ms": 1,
                 "status": "complete"},
                {"run_id": "r", "stage": "s", "part_id": 1,
                 "input_fp": "f", "row_count": 99, "wall_ms": 1,
                 "status": "running"},
            ]
        )
        assert ck.stage_metrics("s") == {0: 10}
        # the row appended last decides, whatever its fingerprint; a part
        # whose last row is 'empty' holds no rows
        def row(part, n, status, fp):
            return {"run_id": "r", "stage": "s", "part_id": part,
                    "input_fp": fp, "row_count": n, "wall_ms": 1,
                    "status": status}

        ck.append([row(2, 5, "complete", "g")])
        ck.append([row(0, 12, "complete", "h"), row(2, 0, "empty", "h")])
        assert ck.stage_metrics("s") == {0: 12}
