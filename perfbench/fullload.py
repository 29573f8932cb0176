"""``full_load_query``: full load, then a repeated query mix (batch, then
reads).

Set-up (untimed): seeded TPC-H ``customer``, ``orders`` and ``lineitem``
parquet as ``tools/make_testdata.py`` generates them, registered through
``ReplicationEngine.register_table``. Phase 1 (timed): a
``full-load-and-cdc`` task from ``start_task`` until its CDC query is in
``spark.streams.active`` — envelopes are in the stream and the baselines
are materialized. The task is then stopped. Phase 2 (timed): a fixed query
mix over the replicated tables via ``ReplicationEngine.query`` and
``validate_table``, each result checked against DuckDB over the same
parquet; one untimed warm-up mix, then ``TIMED_MIXES`` timed ones. Like
``cdc_bulk``, the run is a fixed amount of work, so ``seconds`` does not
apply here."""

from __future__ import annotations

import contextlib
import os
import random
import sys
import time

import oracle
from common import SCHEMA, SOURCE, cpu_seconds, peak_rss_mb, quantile

TASK = "full-load-cdc"
SF = 0.03
# lineitem has a composite key; the replicated copy is keyed on a derived
# unique l_id = l_orderkey * 8 + l_linenumber (at most 7 lines per order)
TABLES = {"customer": "c_custkey", "orders": "o_orderkey", "lineitem": "l_id"}

QUERIES = {
    "group_count": (
        "SELECT o_orderstatus AS s, count(*) AS n FROM orders GROUP BY o_orderstatus"
    ),
    "fk_join": (
        "SELECT c_mktsegment AS s, count(*) AS n, sum(o_totalprice) AS v "
        "FROM customer JOIN orders ON c_custkey = o_custkey GROUP BY c_mktsegment"
    ),
}
PK_LOOKUP = "SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey = {k}"
VALIDATE_TABLE = "orders"
# one of each kind but the point lookup, whose random keys vary the reads;
# the validation is about half of a mix's time. One mix takes 6-8 s
PK_LOOKUPS_PER_MIX = 3
VALIDATES_PER_MIX = 1
TIMED_MIXES = 2


def make_tables(out: str, seed: int) -> dict[str, int]:
    """customer/orders/lineitem at ``SF``, drawn from one generator in the
    same order as ``make_testdata.py --seed``."""
    import numpy as np
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    import make_testdata as mt

    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * SF), int(10_000 * SF)
    n_part, n_orders = int(200_000 * SF), int(1_500_000 * SF)
    os.makedirs(out, exist_ok=True)
    with contextlib.redirect_stdout(sys.stderr):
        mt.make_customer(rng, out, n_cust)
        mt.make_supplier(rng, out, n_supp)
        mt.make_part(rng, out, n_part)
        mt.make_orders_lineitem(rng, out, n_orders, n_cust, n_part, n_supp)
    path = os.path.join(out, "lineitem.parquet")
    li = pq.read_table(path)
    l_id = pc.add(pc.multiply(li["l_orderkey"], 8), pc.cast(li["l_linenumber"], "int64"))
    pq.write_table(li.add_column(0, "l_id", l_id), path)
    return {t: pq.ParquetFile(os.path.join(out, f"{t}.parquet")).metadata.num_rows
            for t in TABLES}


def _engine(spark, workdir: str, data: str):
    from sample_dms_kinesis_rds_mariadb_spark.engine import ReplicationEngine
    from sample_dms_kinesis_rds_mariadb_spark.spec import (
        EndpointSpec,
        PipelineSpec,
        SelectionRule,
        TaskSpec,
    )

    spec = PipelineSpec(
        endpoints=[EndpointSpec(SOURCE, "memory", {
            "schema_name": SCHEMA,
            "changefeed_path": os.path.join(workdir, "feed"),
        })],
        tasks=[TaskSpec(TASK, SOURCE, "full-load-and-cdc", [SelectionRule(SCHEMA, "%")])],
    )
    eng = ReplicationEngine(spark, spec, os.path.join(workdir, "engine"))
    for t, pk in TABLES.items():
        df = spark.read.parquet(os.path.join(data, f"{t}.parquet"))
        eng.register_table(SOURCE, SCHEMA, t, df, pk)
    return eng


def _duck(data: str):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(data, t + '.parquet')}')"
        )
    return con


def _canon_rows(rows) -> list[tuple]:
    """Sorted rows with floats rounded, for Spark-vs-DuckDB comparison."""
    out = []
    for r in rows:
        out.append(tuple(round(float(v), 2) if isinstance(v, float) else
                         (float(v) if hasattr(v, "as_tuple") else v) for v in r))
    return sorted(out, key=repr)


def _mix(rng, n_orders: int) -> list[tuple[str, str | None]]:
    mix = [("pk_lookup", PK_LOOKUP.format(k=rng.randrange(n_orders)))
           for _ in range(PK_LOOKUPS_PER_MIX)]
    return mix + list(QUERIES.items()) + [("validate", None)] * VALIDATES_PER_MIX


def _run_mix(eng, duck, mix, n_orders: int, times: dict[str, list[float]],
             wall: list[float], cpu: list[float]) -> int:
    """One mix; each query's wall time goes to ``times`` by kind and to
    ``wall``, its CPU time to ``cpu``. Returns the number of results that
    differ from DuckDB."""
    bad = 0
    for kind, sql in mix:
        c0 = cpu_seconds()
        q0 = time.perf_counter()
        if sql is None:
            got = eng.validate_table(SOURCE, SCHEMA, VALIDATE_TABLE)
        else:
            got = eng.query(sql).collect()
        ms = (time.perf_counter() - q0) * 1000.0
        cpu.append((cpu_seconds() - c0) * 1000.0)
        times[kind].append(ms)
        wall.append(ms)
        if sql is None:
            ok = (got["ValidationState"] == "Validated"
                  and got["SourceRows"] == n_orders)
        else:
            ok = _canon_rows(got) == _canon_rows(duck.execute(sql).fetchall())
        if not ok:
            print(f"oracle: query {kind} mismatch: {got}", file=sys.stderr)
            bad += 1
    return bad


def _phase2(eng, duck, rng, n_orders: int, times: dict[str, list[float]]) -> dict:
    """One untimed warm-up mix (its first query pays the view refresh, its
    others the JIT compilation of each plan), then ``TIMED_MIXES`` mixes.
    Wall times of every query go to ``times`` by kind."""
    t0 = time.perf_counter()
    bad = _run_mix(eng, duck, _mix(rng, n_orders), n_orders, times, [], [])
    t_warm = time.perf_counter()
    wall: list[float] = []
    mixes: list[list[float]] = []
    for _ in range(TIMED_MIXES):
        mixes.append([])
        bad += _run_mix(eng, duck, _mix(rng, n_orders), n_orders, times, wall, mixes[-1])
    return {"bad": bad, "warm_s": t_warm - t0, "timed_s": time.perf_counter() - t_warm,
            "wall": wall, "cpu": mixes}


def run(spark, work: str, seed: int, seconds: float, tracer) -> dict:
    import layers

    data = os.path.join(work, "data")
    t = time.perf_counter()
    counts = make_tables(data, seed)
    gen_s = time.perf_counter() - t
    t = time.perf_counter()
    eng = _engine(spark, os.path.join(work, "flc"), data)
    preload_s = time.perf_counter() - t
    duck = _duck(data)
    n_rows = sum(counts.values())
    n_orders = counts["orders"]
    if tracer:
        tracer[0].reset()
        tracer[1].clear()
        jobs0 = tracer[0].jobs()
        versions0 = layers.manifest_versions(eng.materializer.path)

    # phase 1: full load until the CDC query is live
    c0 = cpu_seconds()
    t0 = time.perf_counter()
    eng.start_task(TASK)
    while not spark.streams.active:
        if eng.task_status(TASK) == "failed":
            break
        time.sleep(0.02)
    t1 = time.perf_counter()
    phase1_cpu_s = cpu_seconds() - c0
    failed_task = eng.task_status(TASK) != "running"
    # no change arrives after the snapshot: stop the CDC query, whose
    # triggers would otherwise add CPU time to every query of phase 2
    eng.stop_task(TASK)
    # phase 2: the query mix
    times: dict[str, list[float]] = {k: [] for k in layers.QUERY_KINDS}
    q = _phase2(eng, duck, random.Random(seed), n_orders, times)
    t2 = time.perf_counter()
    duck.close()
    if tracer:
        jobs = tracer[0].jobs() - jobs0
        buckets, rows_written = layers.rows_in_versions(
            eng.materializer.path, versions0,
            layers.manifest_versions(eng.materializer.path))
    rss = peak_rss_mb()
    t_oracle = time.perf_counter()

    # oracle: stream contents, statistics, replicated state. orders is
    # validated in every mix and customer feeds the join's checked
    # aggregates; lineitem is validated here
    want = {}
    for t, n in counts.items():
        want[(t, "load")] = n
        want[(t, "drop-table")] = 1
        want[(t, "create-table")] = 1
    want[(oracle.EXCEPTIONS_TABLE, "create-table")] = 1
    grouped = oracle.stream_records(eng)
    bad = n_rows if failed_task else 0
    bad += oracle.check_stream_counts(grouped, want)
    bad += oracle.check_statistics(eng, TASK, want)
    v = eng.validate_table(SOURCE, SCHEMA, "lineitem")
    if v["ValidationState"] != "Validated":
        print(f"oracle: validate lineitem: {v}", file=sys.stderr)
        bad += max(1, v["MismatchedRows"])

    result = {
        "throughput_per_cpu_s": n_rows / phase1_cpu_s,
        "op_cpu_p50_ms": quantile([sum(m) / len(m) for m in q["cpu"]], 0.5),
        "op_cpu_tail_ms": quantile([max(m) for m in q["cpu"]], 0.5),
        "setup_parts": (gen_s, preload_s),
        "peak_rss_mb": rss,
        "attempted": n_rows + sum(len(x) for x in times.values()),
        "failed": min(bad, n_rows) + q["bad"],
        "wall": {
            "full_load_rows_per_s": n_rows / (t1 - t0),
            "query_p50_ms": quantile(q["wall"], 0.5),
            "query_p90_ms": quantile(q["wall"], 0.9),
        },
        "notes": {"query_p50_ms": {k: quantile(x, 0.5) for k, x in times.items()},
                  "query_cpu_ms": q["cpu"], "source_rows": n_rows,
                  "phase1_cpu_s": phase1_cpu_s, "phase1_s": t1 - t0,
                  "warm_up_s": q["warm_s"], "phase2_s": q["timed_s"],
                  "oracle_s": time.perf_counter() - t_oracle},
    }
    if tracer:
        result["layers"] = dict(
            wall_s=t2 - t0, jobs=jobs, changes=n_rows, file_waits=[],
            rows_written=rows_written, buckets_rewritten=buckets,
            sink_files=sum(f.endswith(".parquet") for f in os.listdir(
                os.path.join(eng.store.path, "records"))),
            query_ms=times,
            refresh_views_s=tracer[0].total("query.refresh_views"),
        )
    return result
