"""Binlog over TCP: the replication-protocol client (sources/binlog_net)
against an INDEPENDENT fake server (tests/fake_mysql_server — the server
half of the public protocol, written from the spec, streaming fixture
binlogs produced by the independent file writer). Round-trip contract:
the spooled files are BYTE-IDENTICAL to the server's own logs, so one
decoder serves both transports."""

from __future__ import annotations

import os

import pytest

from sample_dms_kinesis_rds_mariadb_spark.sources.binlog import (
    BinlogTail,
    decode_binlog,
)
from sample_dms_kinesis_rds_mariadb_spark.sources.binlog_net import (
    BinlogDumpClient,
    BinlogSpool,
    ServerError,
    native_password_scramble,
)
from sample_dms_kinesis_rds_mariadb_spark.sources.changefeed import ChangeFeed
from tests.binlog_writer import LONG, VARCHAR, BinlogWriter, Col

COLS = [Col("id", LONG), Col("v", VARCHAR, (40,))]


def _write_chain(srv_dir, checksum=True):
    """Two-file rotated chain: 3 committed txns spanning the rotation."""
    os.makedirs(srv_dir, exist_ok=True)
    f1 = os.path.join(srv_dir, "bin.000001")
    f2 = os.path.join(srv_dir, "bin.000002")
    w1 = BinlogWriter(f1, checksum=checksum)
    w1.begin("db")
    w1.write_rows("db", "t", COLS, [{"id": 1, "v": "one"}])
    w1.xid()
    w1.begin("db")
    w1.update_rows("db", "t", COLS,
                   [({"id": 1, "v": "one"}, {"id": 1, "v": "uno"})])
    w1.xid()
    w1.rotate("bin.000002")
    w1.flush()
    w2 = BinlogWriter(f2, checksum=checksum)
    w2.begin("db")
    w2.write_rows("db", "t", COLS, [{"id": 2, "v": "two"}, {"id": 3, "v": "three"}])
    w2.xid()
    w2.flush()
    return f1, f2


@pytest.fixture
def server(tmp_path):
    from tests.fake_mysql_server import FakeMySQLServer

    srv_dir = str(tmp_path / "server-binlogs")
    _write_chain(srv_dir)
    srv = FakeMySQLServer(srv_dir, user="repl", password="s3cret")
    yield srv, srv_dir
    srv.close()


def test_scramble_is_the_published_formula():
    """mysql_native_password against a hand-computed vector."""
    import hashlib

    scramble = bytes(range(20))
    pw = "s3cret"
    sha_pw = hashlib.sha1(pw.encode()).digest()
    want = bytes(
        a ^ b
        for a, b in zip(
            sha_pw,
            hashlib.sha1(scramble + hashlib.sha1(sha_pw).digest()).digest(),
        )
    )
    assert native_password_scramble(pw, scramble) == want
    assert native_password_scramble("", scramble) == b""


def test_dump_spools_byte_identical_files(server, tmp_path):
    srv, srv_dir = server
    spool_dir = str(tmp_path / "spool")
    with BinlogDumpClient("127.0.0.1", srv.port, "repl", "s3cret") as c:
        c.connect()
        c.query_ok("SET @master_binlog_checksum= 'CRC32'")
        c.register_slave()
        n = BinlogSpool(spool_dir).run(c, "bin.000001", 4)
    assert n > 0
    assert srv.queries == ["SET @master_binlog_checksum= 'CRC32'"]
    assert srv.registered == [1234]
    for fname in ("bin.000001", "bin.000002"):
        with open(os.path.join(srv_dir, fname), "rb") as f:
            want = f.read()
        with open(os.path.join(spool_dir, fname), "rb") as f:
            got = f.read()
        assert got == want, f"{fname} not byte-identical"
    # one decoder, two transports: records identical
    recs, _ = decode_binlog(os.path.join(spool_dir, "bin.000001"))
    assert [r["op"] for r in recs] == ["insert", "update"]
    recs2, _ = decode_binlog(os.path.join(spool_dir, "bin.000002"))
    assert [r["data"]["id"] for r in recs2] == ["2", "3"]


def test_spooled_chain_drives_binlog_tail(server, tmp_path, spark):
    """End-to-end: network dump → spool → the EXISTING BinlogTail file
    machinery replays the chain into a ChangeFeed across the rotation."""
    srv, _srv_dir = server
    spool_dir = str(tmp_path / "spool")
    with BinlogDumpClient("127.0.0.1", srv.port, "repl", "s3cret") as c:
        c.connect()
        BinlogSpool(spool_dir).run(c, "bin.000001", 4)
    feed = ChangeFeed(spark, str(tmp_path / "feed"))
    tail = BinlogTail(
        os.path.join(spool_dir, "bin.000001"),
        state_path=str(tmp_path / "tail.state"),
    )
    total = 0
    for _ in range(4):
        total += tail.pump(feed)
    assert total == 4  # insert + update + 2 inserts, across the rotate
    rows = feed.read_batch().collect()
    assert sorted(r["data"]["id"] for r in rows if r["op"] == "insert") == [
        "1", "2", "3",
    ]
    upd = [r for r in rows if r["op"] == "update"]
    assert len(upd) == 1 and upd[0]["before"]["v"] == "one"


def test_mid_file_resume_over_the_wire(server, tmp_path):
    """Dump from a committed mid-file offset: the server replays the FDE
    (checksum algorithm) then events >= pos; the spooled tail file decodes
    to exactly the remaining records."""
    srv, srv_dir = server
    orig = os.path.join(srv_dir, "bin.000001")
    # resume offset: the second transaction's BEGIN event (QUERY body:
    # 13 fixed bytes, zero status vars, schema, NUL, sql)
    from tests.fake_mysql_server import _file_events

    begins = [
        off for off, ev in _file_events(orig)
        if ev[4] == 2 and ev[19 + 13 :].split(b"\x00", 1)[1][:5] == b"BEGIN"
    ]
    resume = begins[1]
    spool_dir = str(tmp_path / "spool-resume")
    with BinlogDumpClient("127.0.0.1", srv.port, "repl", "s3cret") as c:
        c.connect()
        BinlogSpool(spool_dir).run(c, "bin.000001", resume)
    recs, _ = decode_binlog(os.path.join(spool_dir, "bin.000001"))
    assert [r["op"] for r in recs] == ["update"]
    assert recs[0]["before"] == {"id": "1", "v": "one"}


def test_wrong_password_rejected(server, tmp_path):
    srv, _ = server
    with BinlogDumpClient("127.0.0.1", srv.port, "repl", "wrong") as c:
        with pytest.raises(ServerError, match="Access denied"):
            c.connect()


def test_checksumless_chain_round_trips(tmp_path):
    from tests.fake_mysql_server import FakeMySQLServer

    srv_dir = str(tmp_path / "nockshum")
    _write_chain(srv_dir, checksum=False)
    srv = FakeMySQLServer(srv_dir, user="repl", password="")
    try:
        spool_dir = str(tmp_path / "spool")
        with BinlogDumpClient("127.0.0.1", srv.port, "repl", "") as c:
            c.connect()
            BinlogSpool(spool_dir).run(c, "bin.000001", 4)
        for fname in ("bin.000001", "bin.000002"):
            with open(os.path.join(srv_dir, fname), "rb") as f:
                want = f.read()
            with open(os.path.join(spool_dir, fname), "rb") as f:
                assert f.read() == want, fname
    finally:
        srv.close()


def test_network_capture_reconnect_and_growing_log(tmp_path, spark):
    """NetworkBinlogCapture pumps incrementally: drain + EOF disconnect,
    commits appended to the server's log AFTER the first dump arrive on a
    later pump via reconnect-from-spool-high-water; nothing re-delivers."""
    from tests.fake_mysql_server import FakeMySQLServer

    srv_dir = str(tmp_path / "srv")
    os.makedirs(srv_dir)
    f1 = os.path.join(srv_dir, "bin.000001")
    w = BinlogWriter(f1)
    w.begin("db")
    w.write_rows("db", "t", COLS, [{"id": 1, "v": "one"}])
    w.xid()
    w.flush()
    srv = FakeMySQLServer(srv_dir, user="repl", password="pw")
    try:
        from sample_dms_kinesis_rds_mariadb_spark.sources.binlog_net import (
            NetworkBinlogCapture,
        )

        cap = NetworkBinlogCapture(
            "127.0.0.1", srv.port, "repl", "pw",
            spool_dir=str(tmp_path / "spool"),
            first_file="bin.000001",
            state_path=str(tmp_path / "tail.state"),
        )
        feed = ChangeFeed(spark, str(tmp_path / "feed"))
        assert cap.pump(feed) == 1
        assert cap.pump(feed) == 0  # caught up: reconnect finds nothing new

        # server's log grows (a commit + a rotation into a new file)
        w.begin("db")
        w.write_rows("db", "t", COLS, [{"id": 2, "v": "two"}])
        w.xid()
        w.rotate("bin.000002")
        w.flush()
        w2 = BinlogWriter(os.path.join(srv_dir, "bin.000002"))
        w2.begin("db")
        w2.write_rows("db", "t", COLS, [{"id": 3, "v": "three"}])
        w2.xid()
        w2.flush()
        got = 0
        for _ in range(4):
            got += cap.pump(feed)
            if got >= 2:
                break
        assert got == 2
        ids = sorted(r["data"]["id"] for r in feed.read_batch().collect())
        assert ids == ["1", "2", "3"]
        # the spool mirrors the server's chain byte-for-byte
        for fname in ("bin.000001", "bin.000002"):
            with open(os.path.join(srv_dir, fname), "rb") as f:
                want = f.read()
            with open(os.path.join(tmp_path / "spool", fname), "rb") as f:
                assert f.read() == want, fname
        cap.close()
    finally:
        srv.close()


def test_network_capture_drives_task_lifecycle(tmp_path, spark):
    """The reference's full transport under the task state machine: a
    PollingReplicationTask whose capture is the NETWORK client — RUNNING,
    server-side commits materialize on schedule, STOPPED cleanly."""
    import time as _time

    from tests.fake_mysql_server import FakeMySQLServer

    from sample_dms_kinesis_rds_mariadb_spark.catalog import SourceCatalog
    from sample_dms_kinesis_rds_mariadb_spark.sinks.stream_sink import (
        StreamStore,
    )
    from sample_dms_kinesis_rds_mariadb_spark.sources.binlog_net import (
        NetworkBinlogCapture,
    )
    from sample_dms_kinesis_rds_mariadb_spark.spec import (
        SelectionRule,
        TaskSpec,
    )
    from sample_dms_kinesis_rds_mariadb_spark.streaming.apply import (
        TableMaterializer,
    )
    from sample_dms_kinesis_rds_mariadb_spark.streaming.schema_evolution import (
        TableRegistry,
    )
    from sample_dms_kinesis_rds_mariadb_spark.streaming.statistics import (
        StatisticsService,
    )
    from sample_dms_kinesis_rds_mariadb_spark.streaming.task import (
        PollingReplicationTask,
    )

    cols = [Col("id", LONG), Col("balance", LONG)]
    srv_dir = str(tmp_path / "srv")
    os.makedirs(srv_dir)
    w = BinlogWriter(os.path.join(srv_dir, "bin.000001"))
    w.begin("appdb")
    w.write_rows("appdb", "accounts", cols,
                 [{"id": 1, "balance": 100}, {"id": 2, "balance": 200}])
    w.xid()
    w.flush()
    srv = FakeMySQLServer(srv_dir, user="repl", password="pw")
    try:
        feed = ChangeFeed(spark, str(tmp_path / "feed"))
        cap = NetworkBinlogCapture(
            "127.0.0.1", srv.port, "repl", "pw",
            spool_dir=str(tmp_path / "spool"),
            first_file="bin.000001",
            state_path=str(tmp_path / "tail.state"),
        )
        spec = TaskSpec(
            "netlog-task-1", "binlog-src", "cdc",
            [SelectionRule("%", "%", "include")],
        )
        store = StreamStore(spark, str(tmp_path / "stream"))
        stats = StatisticsService()
        registry = TableRegistry()
        shape = spark.createDataFrame([], "id long, balance long")
        registry.register_from_df("appdb", "accounts", shape, primary_key="id")
        mat = TableMaterializer(spark, registry, str(tmp_path / "state"))
        mat.overwrite("appdb", "accounts", shape)
        task = PollingReplicationTask(
            spark, spec, SourceCatalog(spark), store, stats, registry,
            materializer=mat, changefeed=feed,
            capture=cap, poll_interval=0.3,
        )

        def wait_for(pred, timeout=90):
            deadline = _time.time() + timeout
            while _time.time() < deadline:
                if pred():
                    return
                _time.sleep(0.2)
            raise TimeoutError("condition not met")

        task.start()
        task.wait_for_status("running")
        wait_for(lambda: mat.table("appdb", "accounts").count() == 2)

        # a commit on the SERVER mid-run reaches the materialized table
        w.begin("appdb")
        w.update_rows("appdb", "accounts", cols,
                      [({"id": 2, "balance": 200}, {"id": 2, "balance": 250})])
        w.xid()
        w.flush()
        wait_for(lambda: {
            (r["id"], r["balance"])
            for r in mat.table("appdb", "accounts").collect()
        } == {(1, 100), (2, 250)})
        task.stop()
        assert task.status == "stopped"
        by_name = {
            r["TableName"]: r for r in stats.table_statistics("netlog-task-1")
        }
        assert by_name["accounts"]["Inserts"] == 2
        assert by_name["accounts"]["Updates"] == 1
    finally:
        srv.close()


# -- GTID + caching_sha2_password (r9) --------------------------------------


def test_sha2_scramble_is_the_published_formula():
    """caching_sha2_password against a hand-computed vector."""
    import hashlib

    from sample_dms_kinesis_rds_mariadb_spark.sources.binlog_net import (
        sha2_password_scramble,
    )

    scramble = bytes(range(20))
    pw = "s3cret"
    p1 = hashlib.sha256(pw.encode()).digest()
    want = bytes(
        a ^ b
        for a, b in zip(
            p1,
            hashlib.sha256(hashlib.sha256(p1).digest() + scramble).digest(),
        )
    )
    assert sha2_password_scramble(pw, scramble) == want
    assert sha2_password_scramble("", scramble) == b""


def _write_gtid_chain(srv_dir):
    """Two-file chain, every txn GTID-stamped (MariaDB style: the GTID
    event OPENS the txn, no BEGIN): file1 has seqs 1-3, file2 has seq 4."""
    os.makedirs(srv_dir, exist_ok=True)
    w1 = BinlogWriter(os.path.join(srv_dir, "bin.000001"))
    for seq in (1, 2, 3):
        w1.gtid(0, seq)
        w1.write_rows("db", "t", COLS, [{"id": seq, "v": f"v{seq}"}])
        w1.xid()
    w1.rotate("bin.000002")
    w1.flush()
    w2 = BinlogWriter(os.path.join(srv_dir, "bin.000002"))
    w2.gtid(0, 4)
    w2.write_rows("db", "t", COLS, [{"id": 4, "v": "v4"}])
    w2.xid()
    w2.flush()


def test_gtid_decode_and_tail_high_water(tmp_path, spark):
    """The file decoder tracks the GTID of the last COMMITTED txn; the
    tail persists it across restarts; an uncommitted trailing txn never
    advances it; the MySQL uuid:gno flavor decodes too."""
    import json

    path = str(tmp_path / "g.000001")
    w = BinlogWriter(path)
    w.gtid(0, 1)  # MariaDB style: GTID opens the txn
    w.write_rows("db", "t", COLS, [{"id": 1, "v": "a"}])
    w.xid()
    w.gtid(0, 2, standalone=True)  # standalone GTID brackets the DDL
    w.query("db", "CREATE TABLE t2 (id INT)")
    w.gtid(0, 3)  # open txn, never committed (still being written)
    w.write_rows("db", "t", COLS, [{"id": 9, "v": "x"}])
    w.flush()
    feed = ChangeFeed(spark, str(tmp_path / "feed"))
    state = str(tmp_path / "tail.state")
    tail = BinlogTail(path, state_path=state)
    n = tail.pump(feed)
    assert n == 2  # insert + create-table; open txn held back
    assert tail.gtid == "0-1-2"  # the DDL's standalone GTID committed last
    with open(state) as f:
        assert json.load(f)["gtid"] == "0-1-2"
    # restart: high-water reloads
    tail2 = BinlogTail(path, state_path=state)
    assert tail2.gtid == "0-1-2"
    # MySQL flavor
    path2 = str(tmp_path / "m.000001")
    w2 = BinlogWriter(path2)
    sid = bytes(range(16))
    w2.gtid_mysql(sid, 7)
    w2.begin("db")
    w2.write_rows("db", "t", COLS, [{"id": 5, "v": "m"}])
    w2.xid()
    w2.flush()
    t3 = BinlogTail(path2)
    assert t3.pump(feed) == 1
    u = sid.hex()
    assert t3.gtid == f"{u[:8]}-{u[8:12]}-{u[12:16]}-{u[16:20]}-{u[20:]}:7"


def test_gtid_resume_across_rotation_e2e(tmp_path, spark):
    """The failover story: a fresh host with an EMPTY spool and only the
    GTID high-water resumes mid-chain — the server locates the first txn
    AFTER the GTID (mid-file1 here), its pseudo-rotate names the spool
    file, and only un-shipped txns arrive; the chain still follows the
    rotation into file2."""
    from tests.fake_mysql_server import FakeMySQLServer

    from sample_dms_kinesis_rds_mariadb_spark.sources.binlog_net import (
        NetworkBinlogCapture,
    )

    srv_dir = str(tmp_path / "srv")
    _write_gtid_chain(srv_dir)
    srv = FakeMySQLServer(srv_dir, user="repl", password="pw")
    try:
        # phase 1: a normal replica ships everything and records the gtid
        feed_a = ChangeFeed(spark, str(tmp_path / "feed-a"))
        cap_a = NetworkBinlogCapture(
            "127.0.0.1", srv.port, "repl", "pw",
            spool_dir=str(tmp_path / "spool-a"),
            first_file="bin.000001",
            state_path=str(tmp_path / "tail-a.state"),
        )
        got = 0
        for _ in range(4):
            got += cap_a.pump(feed_a)
            if got >= 4:
                break
        assert got == 4
        assert cap_a._tail.gtid == "0-1-4"
        cap_a.close()

        # phase 2: failover — fresh spool, resume by GTID "0-1-2"
        feed_b = ChangeFeed(spark, str(tmp_path / "feed-b"))
        cap_b = NetworkBinlogCapture(
            "127.0.0.1", srv.port, "repl", "pw",
            spool_dir=str(tmp_path / "spool-b"),
            first_file="ignored-in-gtid-mode",
            state_path=str(tmp_path / "tail-b.state"),
            resume_gtid="0-1-2",
        )
        got = 0
        for _ in range(4):
            got += cap_b.pump(feed_b)
            if got >= 2:
                break
        assert got == 2  # txns 3 and 4 only — nothing re-delivered
        ids = sorted(r["data"]["id"] for r in feed_b.read_batch().collect())
        assert ids == ["3", "4"]
        # the server named the spool file via its pseudo-rotate
        assert cap_b.first_file == "bin.000001"
        assert cap_b._tail.gtid == "0-1-4"
        # the GTID position travelled as @slave_connect_state
        assert any("@slave_connect_state" in q for q in srv.queries)
        cap_b.close()
    finally:
        srv.close()


def test_caching_sha2_fast_auth(tmp_path):
    """A MySQL-8-style server (caching_sha2_password default): the client
    answers the greeting with the SHA256 fast-auth token and drives the
    0x01 0x03 + OK conversation; wrong password is denied."""
    from tests.fake_mysql_server import FakeMySQLServer

    srv_dir = str(tmp_path / "srv")
    _write_chain(srv_dir)
    srv = FakeMySQLServer(
        srv_dir, user="repl", password="pw8",
        auth_plugin="caching_sha2_password",
    )
    try:
        spool_dir = str(tmp_path / "spool")
        with BinlogDumpClient("127.0.0.1", srv.port, "repl", "pw8") as c:
            c.connect()
            n = BinlogSpool(spool_dir).run(c, "bin.000001", 4)
        assert n > 0
        recs, _ = decode_binlog(os.path.join(spool_dir, "bin.000001"))
        assert [r["op"] for r in recs] == ["insert", "update"]
        with BinlogDumpClient("127.0.0.1", srv.port, "repl", "nope") as c:
            with pytest.raises(ServerError, match="Access denied"):
                c.connect()
    finally:
        srv.close()


@pytest.mark.parametrize(
    "greeting_plugin,account_plugin",
    [
        ("caching_sha2_password", "mysql_native_password"),
        ("mysql_native_password", "caching_sha2_password"),
    ],
)
def test_auth_switch_request(tmp_path, greeting_plugin, account_plugin):
    """The account's plugin differs from the server default: the server
    answers the HandshakeResponse with an AuthSwitchRequest carrying a
    FRESH scramble; the client recomputes with the requested plugin. Both
    switch directions; wrong password still denied through the switch."""
    from tests.fake_mysql_server import FakeMySQLServer

    srv_dir = str(tmp_path / "srv")
    _write_chain(srv_dir)
    srv = FakeMySQLServer(
        srv_dir, user="repl", password="swpw",
        auth_plugin=greeting_plugin, switch_to=account_plugin,
    )
    try:
        with BinlogDumpClient("127.0.0.1", srv.port, "repl", "swpw") as c:
            c.connect()
            n = BinlogSpool(str(tmp_path / "spool")).run(c, "bin.000001", 4)
        assert n > 0
        with BinlogDumpClient("127.0.0.1", srv.port, "repl", "bad") as c:
            with pytest.raises(ServerError, match="Access denied"):
                c.connect()
    finally:
        srv.close()


def test_mysql_gtid_resume_via_binlog_dump_gtid(tmp_path, spark):
    """The MySQL-8 flavor of GTID failover: COM_BINLOG_DUMP_GTID carries
    the executed set ({sid: [1, gno+1)}); the server streams every
    transaction OUTSIDE it. Fresh spool + uuid:gno high-water receives
    only un-shipped txns across a rotation."""
    from tests.fake_mysql_server import FakeMySQLServer

    from sample_dms_kinesis_rds_mariadb_spark.sources.binlog_net import (
        NetworkBinlogCapture,
    )

    sid = bytes(range(16))
    srv_dir = str(tmp_path / "srv")
    os.makedirs(srv_dir)
    w1 = BinlogWriter(os.path.join(srv_dir, "bin.000001"))
    for gno in (1, 2, 3):
        w1.gtid_mysql(sid, gno)
        w1.begin("db")  # MySQL still writes BEGIN after the GTID event
        w1.write_rows("db", "t", COLS, [{"id": gno, "v": f"v{gno}"}])
        w1.xid()
    w1.rotate("bin.000002")
    w1.flush()
    w2 = BinlogWriter(os.path.join(srv_dir, "bin.000002"))
    w2.gtid_mysql(sid, 4)
    w2.begin("db")
    w2.write_rows("db", "t", COLS, [{"id": 4, "v": "v4"}])
    w2.xid()
    w2.flush()
    srv = FakeMySQLServer(srv_dir, user="repl", password="pw")
    try:
        u = sid.hex()
        uuid = f"{u[:8]}-{u[8:12]}-{u[12:16]}-{u[16:20]}-{u[20:]}"
        feed = ChangeFeed(spark, str(tmp_path / "feed"))
        cap = NetworkBinlogCapture(
            "127.0.0.1", srv.port, "repl", "pw",
            spool_dir=str(tmp_path / "spool"),
            first_file="ignored-in-gtid-mode",
            state_path=str(tmp_path / "tail.state"),
            resume_gtid=f"{uuid}:2",
            gtid_flavor="mysql",
        )
        got = 0
        for _ in range(4):
            got += cap.pump(feed)
            if got >= 2:
                break
        assert got == 2  # txns gno=3 and gno=4 only
        ids = sorted(r["data"]["id"] for r in feed.read_batch().collect())
        assert ids == ["3", "4"]
        assert cap.first_file == "bin.000001"  # resume landed mid-file1
        assert cap._tail.gtid == f"{uuid}:4"
        cap.close()
    finally:
        srv.close()


def test_gtid_failover_reuses_old_state_path(tmp_path, spark):
    """THE shipped failover combination (review finding): the replica's
    state_path survives but the spool doesn't. The GTID reconnect must
    drop the stale (path, pos) coordinates — the fresh spool file shares
    the old log's NAME but not its bytes — and ship exactly the
    un-shipped transactions. Also exercises the CHECKSUMMED dump-start
    pseudo-rotate (the capture negotiates CRC32, so the server appends a
    trailer the name parse must strip)."""
    import shutil

    from tests.fake_mysql_server import FakeMySQLServer

    from sample_dms_kinesis_rds_mariadb_spark.sources.binlog_net import (
        NetworkBinlogCapture,
    )

    srv_dir = str(tmp_path / "srv")
    _write_gtid_chain(srv_dir)
    srv = FakeMySQLServer(srv_dir, user="repl", password="pw")
    try:
        state = str(tmp_path / "tail.state")
        feed_a = ChangeFeed(spark, str(tmp_path / "feed-a"))
        cap_a = NetworkBinlogCapture(
            "127.0.0.1", srv.port, "repl", "pw",
            spool_dir=str(tmp_path / "spool"),
            first_file="bin.000001",
            state_path=state,
        )
        got = 0
        for _ in range(4):
            got += cap_a.pump(feed_a)
            if got >= 4:
                break
        assert got == 4
        gtid = cap_a._tail.gtid
        assert gtid == "0-1-4"
        cap_a.close()

        # disaster: the spool disk dies; the state file survives
        shutil.rmtree(str(tmp_path / "spool"))
        feed_b = ChangeFeed(spark, str(tmp_path / "feed-b"))
        cap_b = NetworkBinlogCapture(
            "127.0.0.1", srv.port, "repl", "pw",
            spool_dir=str(tmp_path / "spool"),
            first_file="bin.000001",
            state_path=state,          # SAME state file as before
            resume_gtid="0-1-2",       # high-water from the old tail
        )
        got = 0
        for _ in range(4):
            got += cap_b.pump(feed_b)
            if got >= 2:
                break
        assert got == 2  # txns 3 and 4 only; stale offsets never consulted
        ids = sorted(r["data"]["id"] for r in feed_b.read_batch().collect())
        assert ids == ["3", "4"]
        assert cap_b.first_file == "bin.000001"  # CRC-stripped name parse
        cap_b.close()
    finally:
        srv.close()
