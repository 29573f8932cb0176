"""File-based binlog CDC, end to end: a MariaDB-style binlog FILE decoded
into the change feed, consumed by the engine's CDC machinery — the
reference's actual CDC wire format (ROW/Full, dms_sample/stack.py:372-376)
without a database server.

The binlog bytes are synthesized by the test suite's independent
spec-derived writer (tests/binlog_writer.py) — in production the file
comes from the server's log directory or `mysqlbinlog --read-from-remote`.

Run:  cd /root/repo && python examples/binlog_file_cdc.py
"""

from __future__ import annotations

import os
import sys
import tempfile

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)
sys.path.insert(0, os.path.join(_ROOT, "tests"))

from binlog_writer import LONG, VARCHAR, BinlogWriter, Col  # noqa: E402

from sample_dms_kinesis_rds_mariadb_spark import get_session  # noqa: E402
from sample_dms_kinesis_rds_mariadb_spark.sources.binlog import (  # noqa: E402
    BinlogTail,
)
from sample_dms_kinesis_rds_mariadb_spark.sources.changefeed import (  # noqa: E402
    ChangeFeed,
)
from sample_dms_kinesis_rds_mariadb_spark.streaming.apply import (  # noqa: E402
    TableMaterializer,
)
from sample_dms_kinesis_rds_mariadb_spark.streaming.schema_evolution import (  # noqa: E402
    TableRegistry,
)


def main() -> None:
    spark = get_session(cpus=4, shuffle_partitions=4)
    work = tempfile.mkdtemp(prefix="binlog-cdc-")
    binlog = os.path.join(work, "mariadb-bin.000001")

    cols = [Col("id", LONG), Col("name", VARCHAR, (80,))]

    # --- "the server" writes its binlog -------------------------------
    w = BinlogWriter(binlog)
    w.query("shop", "CREATE TABLE customers (id INT PRIMARY KEY, name VARCHAR(80))")
    w.begin("shop")
    w.write_rows("shop", "customers", cols, [
        {"id": 1, "name": "Alice"}, {"id": 2, "name": "Bob"},
    ])
    w.xid()
    w.flush()

    # --- the engine tails the FILE ------------------------------------
    feed = ChangeFeed(spark, os.path.join(work, "feed"))
    tail = BinlogTail(binlog, state_path=os.path.join(work, "tail.state"))
    print("pump 1:", tail.pump(feed), "records (create + 2 inserts)")

    registry = TableRegistry()
    registry.register_from_df(
        "shop", "customers",
        spark.createDataFrame([], "id long, name string"),
        primary_key="id",
    )
    mat = TableMaterializer(spark, registry, os.path.join(work, "state"))
    mat.overwrite("shop", "customers", spark.createDataFrame([], "id long, name string"))
    mat.apply_change_batch(feed.read_batch())
    print("after snapshot:", sorted(
        (r["id"], r["name"]) for r in mat.table("shop", "customers").collect()
    ))

    # --- more commits: an UPDATE with its paired before-image ---------
    w.begin("shop")
    w.update_rows("shop", "customers", cols,
                  [({"id": 2, "name": "Bob"}, {"id": 2, "name": "Robert"})])
    w.delete_rows("shop", "customers", cols, [{"id": 1, "name": "Alice"}])
    w.xid()
    w.flush()
    print("pump 2:", tail.pump(feed), "records (update + delete)")
    upd = [r for r in feed.read_batch().collect() if r["op"] == "update"][0]
    print("before-image:", dict(upd["before"]), "->", dict(upd["data"]))

    mat.apply_change_batch(feed.read_batch())
    print("final state:", sorted(
        (r["id"], r["name"]) for r in mat.table("shop", "customers").collect()
    ))
    print("pump 3 (quiescent):", tail.pump(feed), "records")


if __name__ == "__main__":
    main()
