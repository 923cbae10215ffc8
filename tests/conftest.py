from __future__ import annotations

import os

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from clickhouse_mergetree_spark.session import get_spark

    s = get_spark("tests", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck(sf_dir):
    """DuckDB connection with the driver's pre-registered table views."""
    import duckdb

    from clickhouse_mergetree_spark.tables import TABLE_NAMES

    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.fixture()
def py4j_answers(monkeypatch):
    """Lengths of every py4j answer the JVM sends while the test runs.
    Answers over 8,192 characters overflow the gateway's 8 KiB socket
    buffer and cost ~44 ms each (PERF_NOTES, "the py4j stall")."""
    import py4j.clientserver

    lengths: list[int] = []
    send = py4j.clientserver.ClientServerConnection.send_command

    def recording(self, command):
        answer = send(self, command)
        lengths.append(len(answer))
        return answer

    monkeypatch.setattr(py4j.clientserver.ClientServerConnection,
                        "send_command", recording)
    return lengths
