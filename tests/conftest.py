import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from schema_inference_spark.functions import get_spark
    # no master: get_spark's default, local[<usable cores>]
    s = get_spark(app_name="tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def fixture_root(tmp_path_factory):
    """The four FIXTURES.md snapshots, generated once per test session."""
    from schema_inference_spark.sources.transcripts import generate_fixture_snapshots
    root = str(tmp_path_factory.mktemp("snapshots"))
    generate_fixture_snapshots(root, n_conv=60, n_buckets=8)
    return root


@pytest.fixture(scope="session")
def catalog(fixture_root):
    from schema_inference_spark.sources.catalog import SnapshotCatalog
    return SnapshotCatalog(fixture_root)


@pytest.fixture()
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture()
def py4j_calls(monkeypatch):
    """A one-element list counting the Py4J commands (driver -> JVM round
    trips) sent during the test; read it before and after a step."""
    from py4j.clientserver import ClientServerConnection
    calls = [0]
    send = ClientServerConnection.send_command

    def counting(self, command):
        calls[0] += 1
        return send(self, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    return calls
