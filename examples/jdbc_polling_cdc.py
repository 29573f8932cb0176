"""Query-based incremental CDC from a LIVE JDBC database (embedded Derby),
end to end: polling capture → change feed → bucketed materializer → SQL.

The capture fallback for sources without grantable binlog access
(sources/jdbc_poll.py): a cursor-column high-water mark, pushed into the
JDBC WHERE clause, pumping increments into the same ChangeFeed the binlog
analog writes — everything downstream is unchanged engine machinery.

Run:  cd /root/repo && python examples/jdbc_polling_cdc.py
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sample_dms_kinesis_rds_mariadb_spark import get_session
from sample_dms_kinesis_rds_mariadb_spark.catalog import (
    EndpointSpec,
    SourceCatalog,
)
from sample_dms_kinesis_rds_mariadb_spark.sources.changefeed import ChangeFeed
from sample_dms_kinesis_rds_mariadb_spark.sources.jdbc_poll import (
    JdbcPollingCapture,
)
from sample_dms_kinesis_rds_mariadb_spark.streaming.apply import TableMaterializer
from sample_dms_kinesis_rds_mariadb_spark.streaming.schema_evolution import (
    TableRegistry,
)


def main() -> None:
    spark = get_session(app_name="jdbc-polling-cdc", cpus=8, shuffle_partitions=8)
    workdir = tempfile.mkdtemp(prefix="polling-cdc-")
    db = os.path.join(workdir, "sourcedb")

    # --- a live relational source (embedded Derby over real JDBC) ----------
    jvm = spark._jvm
    jvm.java.lang.System.setProperty(
        "derby.stream.error.file", os.path.join(workdir, "derby.log")
    )
    conn = jvm.java.sql.DriverManager.getConnection(f"jdbc:derby:{db};create=true")
    st = conn.createStatement()
    st.executeUpdate(
        "CREATE TABLE accounts (id INT PRIMARY KEY, balance INT, version INT)"
    )
    st.executeUpdate("INSERT INTO accounts VALUES (1, 100, 1), (2, 200, 1)")
    st.close()

    cat = SourceCatalog(spark)
    cat.register_endpoint(
        EndpointSpec(
            "derby-src",
            "jdbc",
            {
                "url": f"jdbc:derby:{db}",
                "driver": "org.apache.derby.jdbc.EmbeddedDriver",
                "tables": ["APP.accounts"],
                "schema_name": "APP",
            },
        )
    )
    cap = JdbcPollingCapture(
        cat, "derby-src", "APP", "accounts", cursor_col="VERSION"
    )
    feed = ChangeFeed(spark, os.path.join(workdir, "feed"))

    # --- target state: the engine's merge-on-read materializer -------------
    registry = TableRegistry()
    shape = spark.createDataFrame([], "ID long, BALANCE long, VERSION long")
    registry.register_from_df("APP", "accounts", shape, primary_key="ID")
    mat = TableMaterializer(spark, registry, os.path.join(workdir, "state"))
    mat.overwrite("APP", "accounts", shape)

    def apply_feed() -> None:
        # read_batch already carries the full feed schema (incl. ddl)
        assert mat.apply_change_batch(feed.read_batch()) == []

    n = cap.pump(feed)
    apply_feed()
    state = {r["ID"]: r["BALANCE"] for r in mat.table("APP", "accounts").collect()}
    print(f"initial snapshot: {n} rows captured -> state {state}")

    print(f"quiescent poll: {cap.pump(feed)} rows (boundary not re-delivered)")

    st = conn.createStatement()
    st.executeUpdate("UPDATE accounts SET balance = 150, version = 2 WHERE id = 1")
    st.executeUpdate("INSERT INTO accounts VALUES (3, 300, 2)")
    st.close()
    n = cap.pump(feed)
    apply_feed()
    state = {r["ID"]: r["BALANCE"] for r in mat.table("APP", "accounts").collect()}
    print(f"incremental poll: {n} rows captured -> state {state}")
    assert state == {1: 150, 2: 200, 3: 300}

    # --- delete capture: snapshot key-diff reconciliation ------------------
    # polling cannot observe deletes (a vanished row never advances the
    # cursor); reconcile() anti-joins the replica's PK set against the
    # source's and emits op=delete events — fully distributed, ids only
    st = conn.createStatement()
    st.executeUpdate("DELETE FROM accounts WHERE id = 2")
    st.close()
    assert cap.pump(feed) == 0  # invisible to the poll, by design
    n = cap.reconcile(feed, mat.table("APP", "accounts"), "ID")
    apply_feed()
    state = {r["ID"]: r["BALANCE"] for r in mat.table("APP", "accounts").collect()}
    print(f"reconcile: {n} delete(s) captured -> state {state}")
    assert state == {1: 150, 3: 300}
    print("done.")


if __name__ == "__main__":
    main()
