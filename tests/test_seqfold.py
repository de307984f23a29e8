"""The generic sequential fold (streaming/seqfold.py), parametrized over its
five recursions: two restarts equal the batch operator (sessions: the
batch sessions minus each key's open tail), a replay is a no-op, late rows
are skipped and counted under hash-interleaved arrival, and a fold killed
at any step between its writes and its garbage collection replays to
exactly-once output. Then the recursion-specific hand cases."""

from __future__ import annotations

import datetime as dt
import zlib
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pytest

from mintpy_spark.operators.crawlsched import TokenBucket, token_bucket
from mintpy_spark.operators.holtwinters import HoltWinters, holt_winters_additive
from mintpy_spark.operators.kalman import LocalLevel, kalman_level
from mintpy_spark.operators.sessionize import GapSessions, sessionize
from mintpy_spark.operators.stats import Welford, welford_moments
from mintpy_spark.streaming.seqfold import STATE, SeqFold, run_seq_fold

SCHEMA = "user_id long, ts timestamp, value double"
GAP = 3600  # the session gap: 1 hour
T0 = dt.datetime(2024, 1, 1)


def _us(t: dt.datetime) -> int:
    return (t - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1)


def _kalman_batch(spark, rows):
    hist = spark.createDataFrame(rows, SCHEMA)
    return {(r["user_id"], r["rn"]): r["level"]
            for r in kalman_level(hist, "value", key="user_id", ts="ts").collect()}


def _hw_batch(spark, rows):
    hist = spark.createDataFrame(rows, SCHEMA)
    return {
        (r["user_id"], r["rn"]): (r["level"], r["trend"], r["seasonal"])
        for r in holt_winters_additive(hist, "value", key="user_id", ts="ts").collect()
    }


def _welford_batch(spark, rows):
    hist = spark.createDataFrame(rows, SCHEMA)
    return {r["user_id"]: (r["n"], r["mean"], r["m2"])
            for r in welford_moments(hist, "value").collect()}


def _welford_view(rows):
    last = {}
    for r in rows:  # the running state after each row; the last is the answer
        if r["n"] > last.get(r["user_id"], (0,))[0]:
            last[r["user_id"]] = (r["n"], r["mean"], r["m2"])
    return last


def _bucket_batch(spark, rows):
    hist = spark.createDataFrame(rows, SCHEMA)
    return {r["user_id"]: (r["n_events"], r["n_admitted"], r["final_tokens_mt"])
            for r in token_bucket(hist).collect()}


def _bucket_view(rows):
    by: dict = {}  # user -> (events, admitted, tokens after the last event)
    for r in sorted(rows, key=lambda r: r["rn"]):
        adm = by.get(r["user_id"], (0, 0, 0))[1]
        by[r["user_id"]] = (r["rn"], adm + r["admitted"], r["tokens_mt"])
    return by


def _session_row(r):
    vsum = None if r["vsum"] is None else round(r["vsum"], 6)
    return (r["session_end"], r["duration_us"], r["n_events"], vsum)


def _sessions_batch(spark, rows):
    """The batch sessions minus each key's last (still open) one."""
    hist = spark.createDataFrame(rows, SCHEMA)
    by_user: dict = {}
    for r in sessionize(hist, gap=f"{GAP} seconds").collect():
        by_user.setdefault(r["user_id"], []).append(r)
    return {
        (u, r["session_start"]): _session_row(r)
        for u, rs in by_user.items()
        for r in sorted(rs, key=lambda r: r["session_start"])[:-1]
    }


@dataclass
class Case:
    name: str
    make: Callable
    value_col: str | None
    uniq: tuple[str, ...]  # the columns naming one output row
    view: Callable  # output rows -> comparable dict
    batch: Callable  # (spark, history rows) -> the same dict, from batch


CASES = [
    Case("kalman", lambda: LocalLevel(0.04, 1.0), "value", ("user_id", "rn"),
         lambda rows: {(r["user_id"], r["rn"]): r["level"] for r in rows},
         _kalman_batch),
    Case("holt_winters", HoltWinters, "value", ("user_id", "rn"),
         lambda rows: {(r["user_id"], r["rn"]): (r["level"], r["trend"], r["seasonal"])
                       for r in rows},
         _hw_batch),
    Case("welford", Welford, "value", ("user_id", "n"), _welford_view,
         _welford_batch),
    Case("token_bucket", TokenBucket, None, ("user_id", "rn"), _bucket_view,
         _bucket_batch),
    Case("sessions", lambda: GapSessions(GAP), "value", ("user_id", "session_start"),
         lambda rows: {(r["user_id"], r["session_start"]): _session_row(r)
                       for r in rows},
         _sessions_batch),
]
CASE = {c.name: c for c in CASES}
by_case = pytest.mark.parametrize("case", CASES, ids=list(CASE))


@pytest.fixture()
def paths(tmp_path):
    return (
        str(tmp_path / "in"),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    )


def _run(spark, case, paths, rows=None, schema=SCHEMA):
    """Land ``rows`` (if any) as a new input file, then run one pass."""
    inp, outp, ckpt = paths
    if rows is not None:
        spark.createDataFrame(rows, schema).write.mode("append").parquet(inp)
    return run_seq_fold(spark, case.make(), inp, outp, ckpt, schema, case.value_col)


def _out(spark, case, outp) -> dict:
    rows = spark.read.parquet(outp).collect()
    assert len({tuple(r[c] for c in case.uniq) for r in rows}) == len(rows)  # no row twice
    return case.view(rows)


def _late_by_batch(fold) -> list[int]:
    # one row per batch: a replayed batch appends its counts again
    late = fold.metrics.stage_metrics(f"{fold.rec.name}_late")
    return [late[b] for b in sorted(late)]


def _series(uid, seed, n, start=0):
    """n rows of one key in hourly slots with a random minute offset, so
    consecutive gaps vary in (0, 2 h): sessions both merge and close."""
    rng = np.random.default_rng(seed)
    mins = rng.integers(0, 60, n)
    vals = rng.normal(50, 5, n).round(2)
    return [
        (uid, T0 + dt.timedelta(hours=start + i, minutes=int(m)), float(v))
        for i, (m, v) in enumerate(zip(mins, vals))
    ]


@by_case
def test_two_restarts_equal_batch(spark, paths, case):
    rows1 = _series(1, 5, 16) + _series(2, 6, 9)
    # a NULL value: dropped by kalman/holt_winters/welford, an event to
    # the bucket, extends a session without counting
    rows1[3] = (1, rows1[3][1], None)
    # a NULL ts: skipped by the fold and by the batch operator
    rows1.append((2, None, 99.0))
    _run(spark, case, paths, rows1)
    # continuation after a RESTART: state must resume, not re-init. Key 1
    # carries 15 values, so Holt-Winters resumes mid-season (15 % 7 == 1).
    rows2 = _series(1, 7, 12, start=16) + _series(3, 8, 5)
    _run(spark, case, paths, rows2)
    got = _out(spark, case, paths[1])
    assert got and got == case.batch(spark, rows1 + rows2)  # bit-identical


@by_case
def test_replay_is_noop(spark, paths, case):
    rows = _series(1, 9, 12)
    _run(spark, case, paths, rows)
    got = _out(spark, case, paths[1])
    assert got == case.batch(spark, rows)
    # redeliver the SAME rows (new files, old timestamps) plus a row with
    # no timestamp: all skipped
    redelivered = rows + [(1, None, 3.0)]
    fold = _run(spark, case, paths, redelivered)
    assert _out(spark, case, paths[1]) == got
    assert _late_by_batch(fold) == [0, len(redelivered)]  # skipped, and counted


@by_case
def test_hash_interleaved_arrivals_skip_and_count_late_rows(spark, paths, case):
    """Rows land in four batches chosen by a hash of (key, ts), so most
    keys see timestamps arrive out of order. A row at or behind its key's
    committed watermark is skipped: the output equals the batch operator
    over the accepted rows, and each batch's ``<name>_late`` lineage row
    equals the number of late rows it carried."""
    hist = _series(1, 41, 24) + _series(2, 42, 18) + _series(3, 43, 9)
    batches = [[] for _ in range(4)]
    for row in hist:
        h = zlib.crc32(f"{row[0]}-{row[1].isoformat()}".encode())
        batches[h % 4].append(row)
    watermark: dict[int, dt.datetime] = {}
    accepted, late = [], []
    for rows in batches:
        fold = _run(spark, case, paths, rows)
        # the policy, replayed in Python: committed watermark per key
        ok = [r for r in rows if r[0] not in watermark or r[1] > watermark[r[0]]]
        for r in ok:
            watermark[r[0]] = max(r[1], watermark.get(r[0], r[1]))
        accepted += ok
        late.append(len(rows) - len(ok))
    assert sum(late) > 0 and len(accepted) > len(hist) // 4  # both cases hit
    assert _late_by_batch(fold) == late
    assert _out(spark, case, paths[1]) == case.batch(spark, accepted)


def _replayed_state(case, rows) -> dict:
    """Each key's state after one fold over its rows in ts order."""
    rec, by = case.make(), {}
    drop = rec.drop_nulls and case.value_col
    for uid, t, y in sorted(rows, key=lambda r: (r[0], r[1])):
        if not (drop and y is None):
            by.setdefault(uid, ([], []))
            by[uid][0].append(_us(t))
            by[uid][1].append(y)
    return {uid: tuple(rec.fold(ts, ys, None)[1]) for uid, (ts, ys) in by.items()}


@pytest.mark.parametrize("kill", ["_commit", "_publish", "_gc"])
@by_case
def test_killed_fold_replays_exactly_once(spark, paths, monkeypatch, case, kill):
    """Kill the second batch's fold after its output and state are written
    but before the commit marker (``_commit``), after the marker but
    before the output moves (``_publish``), and after both but before
    garbage collection (``_gc``). The replay leaves the batch operator's
    answer in the output with no row twice, the state at the committed
    version, and one late count per batch."""
    rows1 = _series(1, 51, 8) + _series(2, 52, 5)
    rows2 = _series(1, 53, 6, start=8) + _series(3, 54, 4)
    redelivered = rows1[2]  # behind key 1's watermark: late in batch 1
    _run(spark, case, paths, rows1)
    before = _out(spark, case, paths[1])

    real = getattr(SeqFold, kill)

    def crash(self, spark_, *version):
        if kill == "_publish" and version[0] != 1:
            return real(self, spark_, *version)  # the roll-forward of v0
        raise RuntimeError(f"killed in {kill}")

    monkeypatch.setattr(SeqFold, kill, crash)
    with pytest.raises(Exception, match=f"killed in {kill}"):
        _run(spark, case, paths, rows2 + [redelivered])
    monkeypatch.setattr(SeqFold, kill, real)
    if kill != "_gc":  # readers never see an unmoved batch's rows
        assert _out(spark, case, paths[1]) == before

    fold = _run(spark, case, paths)
    assert _out(spark, case, paths[1]) == case.batch(spark, rows1 + rows2)
    assert fold.committed_version(spark) == 1
    assert _late_by_batch(fold) == [0, 1]
    names = [c.split()[0] for c in fold.rec.state]
    state = {
        r["user_id"]: tuple(r[c] for c in names)
        for r in fold.read_tier(spark, STATE).collect()
    }
    assert state == _replayed_state(case, rows1 + rows2)


def test_sessions_exact_gap_merges_and_null_extends(spark, paths):
    """Hand-counted sessions: an event exactly ``GAP`` after its
    predecessor merges, a NULL value extends a session but is not
    counted (a session of NULLs sums to NULL, as sum(value) does), and
    only closed sessions are emitted."""
    case = CASE["sessions"]

    def at(minutes):
        return T0 + dt.timedelta(minutes=minutes)

    rows1 = [
        # user 1, session A: three events incl. a NULL (extends, not counted)
        (1, at(0), 10.0), (1, at(30), None), (1, at(90), 5.0),
        # exactly-gap event MERGES (<= keeps)
        (1, at(150), 2.0),
        # user 2, lone event (stays open until batch 2)
        (2, at(10), 7.0),
        # user 3, a session of one NULL: no counted event, sum NULL
        (3, at(0), None),
    ]
    _run(spark, case, paths, rows1)
    assert _out(spark, case, paths[1]) == {}  # nothing closed yet

    rows2 = [
        # > gap after user 1's last event: closes session A, opens B
        (1, at(150 + 61), 1.0),
        # closes user 2's session, opens another
        (2, at(10 + 2000), 3.0),
        # user 2 again within gap (same open session)
        (2, at(10 + 2030), 4.0),
        # closes user 3's NULL session
        (3, at(200), 1.0),
    ]
    _run(spark, case, paths, rows2)
    got = _out(spark, case, paths[1])
    # closed: user1 session A [0, 150] with 3 counted events sum 17,
    #         user2 session [10, 10] with 1 event sum 7,
    #         user3 session [0, 0] with no counted event
    assert got == {
        (1, at(0)): (at(150), 150 * 60 * 1_000_000, 3, 17.0),
        (2, at(10)): (at(10), 0, 1, 7.0),
        (3, at(0)): (at(0), 0, 0, None),
    }
    assert got == _sessions_batch(spark, rows1 + rows2)


def test_token_bucket_burst_steady_cap_across_restarts(spark, paths):
    """Hand-counted admissions (cap 3 tokens, 1 token/event, 1 token/h),
    on the value-less (key, ts) input."""
    case, schema = CASE["token_bucket"], "user_id long, ts timestamp"

    def at(minutes):
        return T0 + dt.timedelta(minutes=minutes)

    def decisions():
        return {r["rn"]: (r["admitted"], r["tokens_mt"])
                for r in spark.read.parquet(paths[1]).collect()}

    # burst of 5 within a minute: 3 admitted from the full bucket, 2
    # rejected (sub-minute refill is 0 or 16 mt)
    rows1 = [(1, at(i)) for i in range(5)]
    _run(spark, case, paths, rows1, schema)
    got1 = decisions()
    assert [got1[i][0] for i in range(1, 6)] == [True, True, True, False, False]

    # after a restart: 10 h later the bucket is back at cap; steady
    # 1-per-2h events all admit (refill 2000 >= cost 1000)
    rows2 = [(1, at(600 + 120 * i)) for i in range(4)]
    _run(spark, case, paths, rows2, schema)
    got2 = decisions()
    assert all(got2[i][0] for i in range(6, 10))
    # the bucket saturates at cap between sparse events
    assert got2[6][1] == 2000  # cap 3000 refilled, minus cost
    want = _bucket_batch(spark, [(u, t, None) for u, t in rows1 + rows2])
    assert want == {1: (9, sum(v[0] for v in got2.values()), got2[9][1])}


def test_equal_ts_rows_of_one_batch_are_all_folded(spark, paths):
    """Two rows of one key with the same ts in one batch are both folded,
    in (ts, value) order, as the batch operator ranks them."""
    case = CASE["welford"]
    rows = _series(1, 61, 6)
    rows.append((1, rows[2][1], 1.0))  # same ts as row 2, another value
    fold = _run(spark, case, paths, rows)
    got = _out(spark, case, paths[1])
    assert got == case.batch(spark, rows) and got[1][0] == len(rows)
    assert _late_by_batch(fold) == [0]
