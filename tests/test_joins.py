"""Temporal join operators: as-of join and range (interval) join.

Correctness is checked against a naive per-row Python reference on crafted
inputs (boundary inclusivity, ties, tolerance, no-match), and the physical
plans are asserted to have the promised scale shape — the as-of join must
contain NO join operator at all (union + window), and the range join must
never degrade to a BroadcastNestedLoopJoin/CartesianProduct.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import io

import pytest
from pyspark.sql import functions as F

from sample_dms_kinesis_rds_mariadb_spark.operators.joins import (
    asof_join,
    range_join,
)


def _ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


def _plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def quotes(spark):
    # build side: per-key state updates (like a quote feed)
    rows = [
        (1, _ts("2024-01-01 00:00:00"), 10.0),
        (1, _ts("2024-01-01 00:05:00"), 11.0),
        (1, _ts("2024-01-01 00:10:00"), 12.0),
        (2, _ts("2024-01-01 00:07:00"), 99.0),
    ]
    return spark.createDataFrame(rows, "k int, ts timestamp, px double")


@pytest.fixture(scope="module")
def trades(spark):
    # probe side, incl. exact-tie ts, before-any-build ts, and a key with no
    # build rows at all
    rows = [
        (100, 1, _ts("2024-01-01 00:03:00")),   # -> 10.0
        (101, 1, _ts("2024-01-01 00:05:00")),   # tie: inclusive -> 11.0
        (102, 1, _ts("2024-01-01 00:59:00")),   # -> 12.0 (or null w/ tolerance)
        (103, 2, _ts("2024-01-01 00:06:59")),   # before any quote -> null
        (104, 3, _ts("2024-01-01 00:10:00")),   # no quotes for key 3 -> null
    ]
    return spark.createDataFrame(rows, "trade_id int, k int, ts timestamp")


def test_asof_backward_inclusive(spark, quotes, trades):
    out = asof_join(trades, quotes, on="k", ts="ts")
    got = {r["trade_id"]: r["asof"] for r in out.collect()}
    assert got[100]["px"] == 10.0
    assert got[101]["px"] == 11.0  # equal ts matches (inclusive >=)
    assert got[102]["px"] == 12.0
    assert got[103] is None
    assert got[104] is None
    assert out.count() == trades.count()  # left semantics: every probe row


def test_asof_tolerance_drops_stale_matches(spark, quotes, trades):
    out = asof_join(trades, quotes, on="k", ts="ts", tolerance_seconds=600)
    got = {r["trade_id"]: r["asof"] for r in out.collect()}
    assert got[100]["px"] == 10.0
    # trade 102 is 49 min after the last quote: outside the 10-min horizon
    assert got[102] is None


def test_asof_tie_break_picks_greatest(spark, trades):
    rows = [
        (1, _ts("2024-01-01 00:05:00"), 1.0, 7),
        (1, _ts("2024-01-01 00:05:00"), 2.0, 9),
        (1, _ts("2024-01-01 00:05:00"), 3.0, 8),
    ]
    build = spark.createDataFrame(rows, "k int, ts timestamp, px double, seq int")
    out = asof_join(trades, build, on="k", ts="ts", tie_break="seq")
    got = {r["trade_id"]: r["asof"] for r in out.collect()}
    assert got[101]["px"] == 2.0  # seq=9 wins among the tied build rows


def test_asof_separate_build_ts_column(spark, trades):
    rows = [(1, _ts("2024-01-01 00:00:00"), 5.0)]
    build = spark.createDataFrame(rows, "k int, effective_at timestamp, px double")
    out = asof_join(trades, build, on="k", ts="ts", build_ts="effective_at")
    got = {r["trade_id"]: r["asof"] for r in out.collect()}
    assert got[100]["px"] == 5.0
    assert got[100]["effective_at"] == _ts("2024-01-01 00:00:00")


def test_asof_plan_has_no_join_operator(spark, quotes, trades):
    import re

    plan = _plan_of(asof_join(trades, quotes, on="k", ts="ts"))
    assert "Join" not in plan  # union + window: zero join operators
    assert "Window" in plan
    # exactly one exchange node: the key hash-partitioning for the window
    assert len(re.findall(r"^\(\d+\) Exchange$", plan, re.M)) == 1
    assert "hashpartitioning(k" in plan


@pytest.fixture(scope="module")
def interval_data(spark):
    probe = spark.createDataFrame(
        [
            (1, _ts("2024-01-01 00:00:00")),  # == start: included
            (2, _ts("2024-01-01 00:04:59")),
            (3, _ts("2024-01-01 00:05:00")),  # == end: excluded (half-open)
            (4, _ts("2024-01-01 01:00:30")),  # inside the long interval only
            (5, _ts("2024-01-03 00:00:00")),  # matches nothing
        ],
        "pid int, ts timestamp",
    )
    intervals = spark.createDataFrame(
        [
            (10, _ts("2024-01-01 00:00:00"), _ts("2024-01-01 00:05:00")),
            # long interval spanning many buckets
            (11, _ts("2024-01-01 00:30:00"), _ts("2024-01-01 02:00:00")),
            # overlapping interval: probe rows can match several intervals
            (12, _ts("2024-01-01 00:04:00"), _ts("2024-01-01 00:06:00")),
        ],
        "iid int, start_ts timestamp, end_ts timestamp",
    )
    return probe, intervals


def _naive_pairs(probe, intervals):
    ps = [(r["pid"], r["ts"]) for r in probe.collect()]
    ivs = [(r["iid"], r["start_ts"], r["end_ts"]) for r in intervals.collect()]
    return sorted(
        (pid, iid) for pid, ts in ps for iid, s, e in ivs if s <= ts < e
    )


@pytest.mark.parametrize("bucket_seconds", [60, 300, 3600])
def test_range_join_matches_naive(spark, interval_data, bucket_seconds):
    probe, intervals = interval_data
    out = range_join(
        probe, intervals, ts="ts", start="start_ts", end="end_ts",
        bucket_seconds=bucket_seconds,
    )
    got = sorted((r["pid"], r["iid"]) for r in out.collect())
    assert got == _naive_pairs(probe, intervals)


def test_range_join_no_duplicate_pairs(spark, interval_data):
    probe, intervals = interval_data
    out = range_join(
        probe, intervals, ts="ts", start="start_ts", end="end_ts",
        bucket_seconds=60,
    )
    pairs = [(r["pid"], r["iid"]) for r in out.collect()]
    assert len(pairs) == len(set(pairs))  # one bucket per probe row: no dedupe needed


def test_range_join_plan_is_equi_join(spark, interval_data):
    probe, intervals = interval_data
    plan = _plan_of(
        range_join(probe, intervals, ts="ts", start="start_ts", end="end_ts")
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # the bucket equi-join plans as a plain equi-join strategy
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_range_join_rejects_column_collision(spark, interval_data):
    probe, intervals = interval_data
    with pytest.raises(ValueError, match="collision"):
        range_join(
            probe.withColumnRenamed("pid", "iid"), intervals,
            ts="ts", start="start_ts", end="end_ts",
        )


def test_range_join_guards_runaway_interval(spark, interval_data):
    probe, intervals = interval_data
    # a year-wide interval at 300s buckets would explode to ~105k rows; the
    # guard turns the silent skew/overflow into an explicit per-row error
    wide = intervals.union(
        spark.createDataFrame(
            [(999, _ts("2024-01-01 00:00:00"), _ts("2025-01-01 00:00:00"))],
            intervals.schema,
        )
    )
    with pytest.raises(Exception, match="max_buckets_per_interval"):
        range_join(
            probe, wide, ts="ts", start="start_ts", end="end_ts",
            bucket_seconds=300, max_buckets_per_interval=10_000,
        ).collect()
    # raising the cap (or widening buckets) lets the same data through
    ok = range_join(
        probe, wide, ts="ts", start="start_ts", end="end_ts",
        bucket_seconds=300, max_buckets_per_interval=200_000,
    )
    base = range_join(probe, intervals, ts="ts", start="start_ts", end="end_ts")
    assert ok.count() >= base.count()


# -- randomized cross-checks vs a naive Python reference ---------------------
# seeded (deterministic) random instances; one Spark job each, covering tie
# clusters, empty keys, tolerance edges, and zero-width / nested intervals


def test_asof_randomized_matches_python_reference(spark):
    import random

    rng = random.Random(0xA50F)
    base = dt.datetime(2024, 1, 1)
    build_rows = [
        (
            rng.randint(1, 8),
            base + dt.timedelta(seconds=rng.randint(0, 3600)),
            float(i),
            i,
        )
        for i in range(120)
    ]
    probe_rows = [
        (i, rng.randint(1, 10), base + dt.timedelta(seconds=rng.randint(0, 3600)))
        for i in range(200)
    ]
    build = spark.createDataFrame(build_rows, "k int, ts timestamp, px double, seq int")
    probe = spark.createDataFrame(probe_rows, "pid int, k int, ts timestamp")

    for tol in (None, 300.0):
        out = asof_join(
            probe, build, on="k", ts="ts", tie_break="seq", tolerance_seconds=tol
        )
        got = {r["pid"]: r["asof"] for r in out.collect()}
        assert len(got) == len(probe_rows)
        for pid, k, ts in probe_rows:
            cands = [b for b in build_rows if b[0] == k and b[1] <= ts]
            if tol is not None:
                cands = [b for b in cands if (ts - b[1]).total_seconds() <= tol]
            if not cands:
                assert got[pid] is None, (pid, got[pid])
            else:
                # greatest ts, then greatest tie-break
                want = max(cands, key=lambda b: (b[1], b[3]))
                assert got[pid]["px"] == want[2], (pid, got[pid], want)


def test_range_join_randomized_matches_naive(spark):
    import random

    rng = random.Random(0x7A0E)
    base = dt.datetime(2024, 1, 1)
    probe_rows = [
        (i, base + dt.timedelta(seconds=rng.randint(0, 7200))) for i in range(150)
    ]
    iv_rows = []
    for i in range(60):
        s = rng.randint(0, 7200)
        width = rng.choice([0, 1, 60, 600, 3000])  # incl. zero-width intervals
        iv_rows.append(
            (i, base + dt.timedelta(seconds=s), base + dt.timedelta(seconds=s + width))
        )
    probe = spark.createDataFrame(probe_rows, "pid int, ts timestamp")
    intervals = spark.createDataFrame(iv_rows, "iid int, start_ts timestamp, end_ts timestamp")

    out = range_join(
        probe, intervals, ts="ts", start="start_ts", end="end_ts", bucket_seconds=600
    )
    got = sorted((r["pid"], r["iid"]) for r in out.collect())
    want = sorted(
        (pid, iid)
        for pid, ts in probe_rows
        for iid, s, e in iv_rows
        if s <= ts < e
    )
    assert got == want


def test_asof_epoched_equals_plain_on_skewed_data(spark):
    """The epoch decomposition must be semantics-preserving: row-for-row
    equal to the plain per-key window on a skewed randomized instance
    (one key holds ~70% of all rows), across epoch widths and tolerance."""
    import random

    from sample_dms_kinesis_rds_mariadb_spark.operators.joins import (
        asof_join_epoched,
    )

    rng = random.Random(0x5CEB)
    base = dt.datetime(2024, 1, 1)

    def key():
        return 1 if rng.random() < 0.7 else rng.randint(2, 6)  # hot key 1

    build_rows = [
        (key(), base + dt.timedelta(seconds=rng.randint(0, 86400)), float(i), i)
        for i in range(300)
    ]
    probe_rows = [
        (i, key(), base + dt.timedelta(seconds=rng.randint(0, 86400)))
        for i in range(400)
    ]
    build = spark.createDataFrame(build_rows, "k int, ts timestamp, px double, seq int")
    probe = spark.createDataFrame(probe_rows, "pid int, k int, ts timestamp")

    for epoch_s, tol in ((3600, None), (600, None), (3600, 1800.0), (86400 * 2, None)):
        plain = {
            r["pid"]: r["asof"]
            for r in asof_join(
                probe, build, on="k", ts="ts", tie_break="seq",
                tolerance_seconds=tol,
            ).collect()
        }
        epoched = {
            r["pid"]: r["asof"]
            for r in asof_join_epoched(
                probe, build, on="k", ts="ts", tie_break="seq",
                tolerance_seconds=tol, epoch_seconds=epoch_s,
            ).collect()
        }
        assert epoched == plain, (epoch_s, tol)


def test_asof_epoched_partitions_by_key_and_epoch(spark, quotes, trades):
    from sample_dms_kinesis_rds_mariadb_spark.operators.joins import (
        asof_join_epoched,
    )

    plan = _plan_of(
        asof_join_epoched(trades, quotes, on="k", ts="ts", epoch_seconds=60)
    )
    # the hot-path window must partition on (key, epoch), not key alone
    assert "hashpartitioning(k" in plan and "_epoch" in plan


def test_asof_forward_and_nearest(spark, quotes, trades):
    fwd = {
        r["trade_id"]: r["asof"]
        for r in asof_join(trades, quotes, on="k", ts="ts", direction="forward").collect()
    }
    assert fwd[100]["px"] == 11.0   # next quote at 00:05
    assert fwd[101]["px"] == 11.0   # equal ts matches forward too (inclusive)
    assert fwd[102] is None         # nothing after 00:59
    assert fwd[103]["px"] == 99.0   # 00:07 quote follows 00:06:59
    near = {
        r["trade_id"]: r["asof"]
        for r in asof_join(trades, quotes, on="k", ts="ts", direction="nearest").collect()
    }
    assert near[100]["px"] == 11.0  # 00:03: back 00:00 is 3m, fwd 00:05 is 2m
    assert near[102]["px"] == 12.0  # only a backward match exists
    assert near[103]["px"] == 99.0  # only a forward match exists


def test_asof_nearest_tie_prefers_backward(spark):
    build = spark.createDataFrame(
        [
            (1, _ts("2024-01-01 00:00:00"), 1.0),
            (1, _ts("2024-01-01 00:02:00"), 2.0),
        ],
        "k int, ts timestamp, px double",
    )
    probe = spark.createDataFrame(
        [(10, 1, _ts("2024-01-01 00:01:00"))], "pid int, k int, ts timestamp"
    )
    got = asof_join(probe, build, on="k", ts="ts", direction="nearest").first()
    assert got["asof"]["px"] == 1.0  # equidistant -> backward (pandas semantics)


def test_asof_nearest_forward_tie_picks_greatest(spark):
    # Two build rows share the same FUTURE ts; the greatest tie_break must
    # win in nearest mode exactly as it does in plain forward mode. (The
    # nearest layout sorts ties ascending for the backward arm, so the
    # forward pick must not lean on frame order — regression for the
    # first()-picks-smallest bug.)
    build = spark.createDataFrame(
        [
            (1, _ts("2024-01-01 00:05:00"), 1.0, 7),
            (1, _ts("2024-01-01 00:05:00"), 2.0, 9),
        ],
        "k int, ts timestamp, px double, seq int",
    )
    probe = spark.createDataFrame(
        [(10, 1, _ts("2024-01-01 00:04:00"))], "pid int, k int, ts timestamp"
    )
    for direction in ("forward", "nearest"):
        got = asof_join(
            probe, build, on="k", ts="ts", tie_break="seq", direction=direction
        ).first()
        assert got["asof"]["px"] == 2.0, direction  # seq=9 wins both ways


def test_asof_randomized_forward_nearest_match_reference(spark):
    import random

    rng = random.Random(0xFA57)
    base = dt.datetime(2024, 1, 1)
    build_rows = [
        (rng.randint(1, 6), base + dt.timedelta(seconds=rng.randint(0, 3600)), float(i), i)
        for i in range(100)
    ]
    probe_rows = [
        (i, rng.randint(1, 8), base + dt.timedelta(seconds=rng.randint(0, 3600)))
        for i in range(150)
    ]
    build = spark.createDataFrame(build_rows, "k int, ts timestamp, px double, seq int")
    probe = spark.createDataFrame(probe_rows, "pid int, k int, ts timestamp")

    for direction, tol in (("forward", None), ("forward", 300.0), ("nearest", None), ("nearest", 600.0)):
        got = {
            r["pid"]: r["asof"]
            for r in asof_join(
                probe, build, on="k", ts="ts", tie_break="seq",
                direction=direction, tolerance_seconds=tol,
            ).collect()
        }
        for pid, k, pts in probe_rows:
            back = [b for b in build_rows if b[0] == k and b[1] <= pts]
            fwd = [b for b in build_rows if b[0] == k and b[1] >= pts]
            if tol is not None:
                back = [b for b in back if (pts - b[1]).total_seconds() <= tol]
                fwd = [b for b in fwd if (b[1] - pts).total_seconds() <= tol]
            best_back = max(back, key=lambda b: (b[1], b[3])) if back else None
            best_fwd = min(fwd, key=lambda b: (b[1], -b[3])) if fwd else None
            if direction == "forward":
                want = best_fwd
            else:
                if best_back is None:
                    want = best_fwd
                elif best_fwd is None:
                    want = best_back
                else:
                    d_b = (pts - best_back[1]).total_seconds()
                    d_f = (best_fwd[1] - pts).total_seconds()
                    want = best_fwd if d_f < d_b else best_back
            if want is None:
                assert got[pid] is None, (direction, tol, pid)
            else:
                assert got[pid] is not None and got[pid]["px"] == want[2], (
                    direction, tol, pid, got[pid], want,
                )


def test_asof_invalid_direction(spark, quotes, trades):
    with pytest.raises(ValueError, match="direction"):
        asof_join(trades, quotes, on="k", ts="ts", direction="sideways")


def test_range_join_with_equi_key(spark):
    probe = spark.createDataFrame(
        [
            (1, 7, _ts("2024-01-01 00:01:00")),   # user 7 inside user-7 window
            (2, 8, _ts("2024-01-01 00:01:00")),   # user 8: same time, no window
            (3, 7, _ts("2024-01-01 09:00:00")),   # user 7 outside any window
        ],
        "pid int, user_id int, ts timestamp",
    )
    windows = spark.createDataFrame(
        [
            (7, _ts("2024-01-01 00:00:00"), _ts("2024-01-01 00:05:00")),
            (8, _ts("2024-01-01 05:00:00"), _ts("2024-01-01 06:00:00")),
        ],
        "user_id int, start_ts timestamp, end_ts timestamp",
    )
    out = range_join(
        probe, windows, ts="ts", start="start_ts", end="end_ts", on="user_id"
    )
    assert [r["pid"] for r in out.collect()] == [1]
    # key columns are allowed to share names; other collisions still rejected
    with pytest.raises(ValueError, match="collision"):
        range_join(
            probe.withColumnRenamed("pid", "start_ts"), windows,
            ts="ts", start="start_ts", end="end_ts", on="user_id",
        )


def test_asof_time_travel_over_cdc_history(spark):
    """SCD2-style time travel from the engine's own CDC envelope stream:
    encode a change batch (inserts + updates with commit timestamps) through
    the wire codec, parse it back, and as-of join events against the change
    HISTORY — each event sees the balance that was current at its event
    time. This is the temporal-join payoff of keeping the change feed:
    state-as-of-any-time without storing snapshots."""
    from pyspark.sql import functions as F2

    from sample_dms_kinesis_rds_mariadb_spark.envelope import (
        parse_json_records,
        to_json_records,
    )
    from sample_dms_kinesis_rds_mariadb_spark.spec import TaskSettings
    from sample_dms_kinesis_rds_mariadb_spark.envelope import (
        encode_change_batch,
    )

    changes = [
        (1, "insert", "2024-01-01T00:00:00", {"id": "7", "balance": "100"}),
        (2, "update", "2024-01-03T00:00:00", {"id": "7", "balance": "250"}),
        (3, "update", "2024-01-05T00:00:00", {"id": "7", "balance": "50"}),
        (4, "insert", "2024-01-02T00:00:00", {"id": "8", "balance": "900"}),
    ]
    feed = spark.createDataFrame(
        [
            (seq, "main", "accounts", op, f"txn-{seq}", ts, data, None)
            for seq, op, ts, data in changes
        ],
        "seq long, schema string, table string, op string, txn_id string, "
        "commit_ts string, data map<string,string>, before map<string,string>",
    )
    wire = to_json_records(
        encode_change_batch(
            feed, TaskSettings(partition_key_type="primary-key"),
            {("main", "accounts"): "id"},
        )
    )
    parsed = parse_json_records(wire)
    history = parsed.filter(
        F2.col("metadata")["operation"].isin("insert", "update")
    ).select(
        F2.col("data")["id"].cast("long").alias("account_id"),
        F2.to_timestamp(F2.col("metadata")["timestamp"]).alias("valid_from"),
        F2.col("data")["balance"].cast("long").alias("balance"),
    )

    events = spark.createDataFrame(
        [
            (100, 7, "2024-01-02T12:00:00"),  # between insert and 1st update -> 100
            (101, 7, "2024-01-03T00:00:00"),  # exactly at the update -> 250
            (102, 7, "2024-01-06T00:00:00"),  # after everything -> 50
            (103, 8, "2024-01-01T00:00:00"),  # before account 8 existed -> null
            (104, 8, "2024-01-04T00:00:00"),  # -> 900
        ],
        "event_id long, account_id long, ts_s string",
    ).withColumn("ts", F2.to_timestamp("ts_s")).drop("ts_s")

    out = asof_join(events, history, on="account_id", ts="ts", build_ts="valid_from")
    got = {r["event_id"]: r["asof"] for r in out.collect()}
    assert got[100]["balance"] == 100
    assert got[101]["balance"] == 250
    assert got[102]["balance"] == 50
    assert got[103] is None
    assert got[104]["balance"] == 900


def test_asof_nearest_still_single_shuffle(spark, quotes, trades):
    import re

    plan = _plan_of(asof_join(trades, quotes, on="k", ts="ts", direction="nearest"))
    assert "Join" not in plan
    # both frame directions ride ONE key sort: exactly one exchange
    assert len(re.findall(r"^\(\d+\) Exchange$", plan, re.M)) == 1


def test_range_join_null_bounds_drop_silently(spark, interval_data):
    """An interval with NULL start/end carries no containment information —
    it must drop like any NULL join key, not trip the runaway guard."""
    probe, intervals = interval_data
    with_null = intervals.union(
        spark.createDataFrame(
            [(998, _ts("2024-01-01 00:00:00"), None)], intervals.schema
        )
    )
    base = sorted(
        (r["pid"], r["iid"])
        for r in range_join(
            probe, intervals, ts="ts", start="start_ts", end="end_ts"
        ).collect()
    )
    got = sorted(
        (r["pid"], r["iid"])
        for r in range_join(
            probe, with_null, ts="ts", start="start_ts", end="end_ts"
        ).collect()
    )
    assert got == base  # NULL-bounded interval contributes nothing


def test_asof_composite_key(spark):
    """on= accepts multiple key columns; matches must require BOTH keys."""
    build = spark.createDataFrame(
        [
            (1, "x", _ts("2024-01-01 00:00:00"), 10.0),
            (1, "y", _ts("2024-01-01 00:00:00"), 20.0),
            (2, "x", _ts("2024-01-01 00:00:00"), 30.0),
        ],
        "k int, side string, ts timestamp, px double",
    )
    probe = spark.createDataFrame(
        [
            (1, 1, "x", _ts("2024-01-01 00:01:00")),
            (2, 1, "y", _ts("2024-01-01 00:01:00")),
            (3, 2, "y", _ts("2024-01-01 00:01:00")),  # no (2, y) build row
        ],
        "pid int, k int, side string, ts timestamp",
    )
    got = {
        r["pid"]: r["asof"]
        for r in asof_join(probe, build, on=["k", "side"], ts="ts").collect()
    }
    assert got[1]["px"] == 10.0
    assert got[2]["px"] == 20.0
    assert got[3] is None


def test_range_join_inverted_interval_drops_not_explodes(spark, interval_data):
    """end < start contains no timestamp, so the row must DROP — without
    the n_buckets < 1 branch it would bypass the width guard (negative
    counts pass `<= max`) and explode through Spark's implicit DESCENDING
    sequence: here ~3.9e9 bucket rows at 1s buckets, a hard sequence
    failure."""
    probe, intervals = interval_data
    inverted = intervals.union(
        spark.createDataFrame(
            [(997, _ts("2024-06-01 00:00:00"), _ts("1900-01-01 00:00:00"))],
            intervals.schema,
        )
    )
    base = sorted(
        (r["pid"], r["iid"])
        for r in range_join(
            probe, intervals, ts="ts", start="start_ts", end="end_ts",
            bucket_seconds=1,
        ).collect()
    )
    got = sorted(
        (r["pid"], r["iid"])
        for r in range_join(
            probe, inverted, ts="ts", start="start_ts", end="end_ts",
            bucket_seconds=1,
        ).collect()
    )
    assert got == base


def test_asof_broadcast_equals_plain_all_directions(spark):
    """asof_join_broadcast must be row-equal to asof_join on randomized
    data (ties, tolerance, missing keys) for every direction."""
    import random

    from sample_dms_kinesis_rds_mariadb_spark.operators.joins import (
        asof_join_broadcast,
    )

    rng = random.Random(0xB0AD)
    base = dt.datetime(2024, 1, 1)
    build_rows = [
        (
            rng.randint(1, 6),
            base + dt.timedelta(seconds=rng.choice([0, 60, 60, 300, 900, 1800])),
            float(i),
            i,
        )
        for i in range(80)
    ]
    probe_rows = [
        (i, rng.randint(1, 8), base + dt.timedelta(seconds=rng.randint(0, 2000)))
        for i in range(150)
    ]
    # NULL keys: the window form groups them together, so the broadcast
    # form must match them too (null-safe join)
    build_rows += [
        (None, base + dt.timedelta(seconds=100), 777.0, 900),
        (None, base + dt.timedelta(seconds=500), 888.0, 901),
    ]
    probe_rows += [(9001, None, base + dt.timedelta(seconds=300)),
                   (9002, None, base + dt.timedelta(seconds=50))]
    build = spark.createDataFrame(build_rows, "k int, ts timestamp, px double, seq int")
    probe = spark.createDataFrame(probe_rows, "pid int, k int, ts timestamp")

    for direction in ("backward", "forward", "nearest"):
        for tol in (None, 300.0):
            kw = dict(
                on="k", ts="ts", tie_break="seq",
                tolerance_seconds=tol, direction=direction,
            )
            want = {
                r["pid"]: r["asof"]
                for r in asof_join(probe, build, **kw).collect()
            }
            got = {
                r["pid"]: r["asof"]
                for r in asof_join_broadcast(probe, build, **kw).collect()
            }
            assert got == want, (direction, tol)


def test_asof_broadcast_probe_side_not_shuffled(spark, quotes, trades):
    """The whole point: the probe side must reach the join without an
    exchange — only the (small) build side aggregates, then broadcasts."""
    import re

    from sample_dms_kinesis_rds_mariadb_spark.operators.joins import (
        asof_join_broadcast,
    )

    plan = _plan_of(asof_join_broadcast(trades, quotes, on="k", ts="ts"))
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan and "Sort" not in plan.replace("sort_array", "")
    # exactly one hash exchange: the build-side groupBy; none on the probe
    assert len(re.findall(r"hashpartitioning\(k", plan)) == 1


def test_asof_broadcast_invalid_direction(spark, quotes, trades):
    from sample_dms_kinesis_rds_mariadb_spark.operators.joins import (
        asof_join_broadcast,
    )

    with pytest.raises(ValueError, match="direction"):
        asof_join_broadcast(trades, quotes, on="k", ts="ts", direction="sideways")
