"""validate()'s per-op plans enter the JVM as SQL text.

Built one ``Column`` node at a time, a plan costs three Py4J round trips
per ``F.*`` call; a warm validate() made ~4,700 of them. The budgets
below are about 1.5x the counts of the SQL-text plans. User values
(vocabulary entries, the snapshot id) are bound parameters, so
quotes, backslashes, backticks, newlines, ``:name`` markers and braces
in them reach the output unchanged on every check path.
"""

import datetime
import json

import pyarrow as pa
import pytest

from schema_inference_spark.operators import checks as C
from schema_inference_spark.operators.clustered import check_rowlevel_clustered
from schema_inference_spark.operators.infer import (snapshot_census,
                                                    sql_partition_states)
from schema_inference_spark.pipeline import ROLE_VOCAB, TOOL_VOCAB, validate
from schema_inference_spark.sources.catalog import SnapshotCatalog
from schema_inference_spark.sources.transcripts import write_snapshot


def _warm_round_trips(py4j_calls, step) -> int:
    """Round trips of the second of two calls of ``step``: one-time JVM
    class lookups and compiles stay out of the count."""
    step()
    n0 = py4j_calls[0]
    step()
    n = py4j_calls[0] - n0
    assert n > 0, "the counter does not see the session's connection"
    return n


def test_fused_check_plan_budget(spark, catalog, py4j_calls):
    df = catalog.read_snapshot(spark, "s1")
    n = _warm_round_trips(py4j_calls, lambda: C.check_rowlevel_fused(
        df, "s1", ROLE_VOCAB, TOOL_VOCAB))
    assert n <= 100, n


def test_stable_order_budget(spark, catalog, py4j_calls):
    v = C.empty_violations(spark)
    n = _warm_round_trips(py4j_calls, lambda: C.stable_order(v))
    assert n <= 11, n


def test_sql_partition_states_budget(spark, catalog, py4j_calls):
    df = catalog.read_snapshot(spark, "s1")
    census = snapshot_census(spark, catalog, "s1", catalog.partition_ids("s1"))
    n = _warm_round_trips(py4j_calls,
                          lambda: sql_partition_states(df, census))
    assert n <= 21, n


def test_read_violations_budget(spark, fixture_root, tmp_path, py4j_calls):
    cat = SnapshotCatalog(fixture_root, audit_root=str(tmp_path / "audit"),
                          violations_root=str(tmp_path / "violations"))
    cat.append_violations(
        validate(spark, cat, "s1", write_audit=False).violations, "s1")
    n = _warm_round_trips(py4j_calls, lambda: cat.read_violations(
        spark, "s1", partitions=[0, 1, -1]))
    assert n <= 32, n


def test_clustered_check_budget(spark, catalog, py4j_calls):
    """The whole clustered check: split table, scan, both checkpoints,
    the layout verification and the violation frames."""
    pids = catalog.partition_ids("s4")
    n = _warm_round_trips(py4j_calls, lambda: check_rowlevel_clustered(
        spark, catalog, "s4", pids, ROLE_VOCAB, TOOL_VOCAB))
    assert n <= 177, n


@pytest.mark.parametrize("clustered", [False, True],
                         ids=["fused", "clustered"])
def test_warm_validate_op_budget(spark, fixture_root, tmp_path, py4j_calls,
                                 clustered):
    """A warm validate() in production shape (audit and violation stores
    written): ~4,700 (fused) and ~4,000 (clustered) round trips when its
    plans were built from Column objects, ~310 and ~330 as SQL text."""
    cat = SnapshotCatalog(fixture_root, audit_root=str(tmp_path / "audit"),
                          violations_root=str(tmp_path / "violations"))
    n = _warm_round_trips(py4j_calls, lambda: validate(
        spark, cat, "s1", resume=False, write_audit=True,
        clustered_checks=clustered))
    assert n <= (500 if clustered else 470), n


# ---------------------------------------------------------------------------
# hostile literals
# ---------------------------------------------------------------------------

# every character that would break a value spliced into SQL text or into
# the str.format pass spark.sql runs over it; no "/": the snapshot id also
# names the clustered path's snapshot directory
HOSTILE = "it's \\ \"q\" `b`\n:name {} {0}"
HOSTILE_SNAP = "snap " + HOSTILE
HOSTILE_ROLES = ROLE_VOCAB + ["role " + HOSTILE]
HOSTILE_TOOLS = TOOL_VOCAB + ["tool " + HOSTILE]


def _hostile_table() -> pa.Table:
    """Rows sorted by (conv_id, turn_idx, ts), with in-vocab and
    out-of-vocab hostile values, a duplicate key, a gap and a timestamp
    regression."""
    base = datetime.datetime(2026, 1, 1, tzinfo=datetime.timezone.utc)
    rows = [  # (conv, turn, role, tool, minute)
        ("c0", 0, "role " + HOSTILE, None, 0),
        ("c0", 1, "assistant", "tool " + HOSTILE, 1),
        ("c0", 1, "assistant", None, 2),                   # duplicate key
        ("c0", 4, "bad " + HOSTILE, None, 3),              # gap, bad role
        ("c1", 0, "user", "other " + HOSTILE, 5),          # bad tool
        ("c1", 1, None, None, 4),                          # ts regression
        ("c2", 0, "role " + HOSTILE, "tool " + HOSTILE, 0),
        ("c2", 1, "assistant", "search", 1),
    ]
    return pa.table({
        "conv_id": pa.array([r[0] for r in rows], pa.string()),
        "turn_idx": pa.array([r[1] for r in rows], pa.int32()),
        "role": pa.array([r[2] for r in rows], pa.string()),
        "text": pa.array([f"t{i}" for i in range(len(rows))], pa.string()),
        "tool": pa.array([r[3] for r in rows], pa.string()),
        "ts": pa.array([base + datetime.timedelta(minutes=r[4])
                        for r in rows], pa.timestamp("us", tz="UTC")),
    })


def test_hostile_literals_match_on_every_check_path(spark, tmp_path):
    """Same violation rows from the fused plan, the separate reference
    plans and the clustered kernel when the vocabularies and the
    snapshot id hold SQL and format metacharacters."""
    root = str(tmp_path)
    table = _hostile_table()
    # the clustered path reads the snapshot by id with pyarrow; the JVM
    # scan of the other two reads an identical copy under a plain name
    # (Spark treats braces and backslashes in a path as a glob)
    write_snapshot(root, HOSTILE_SNAP, table, n_buckets=2,
                   declare_write_order=True)
    write_snapshot(root, "plain", table, n_buckets=2)
    cat = SnapshotCatalog(root)
    df = cat.read_snapshot(spark, "plain")

    def rows_of(v):
        return [r.asDict() for r in C.stable_order(v).collect()]

    fused = rows_of(C.check_rowlevel_fused(df, HOSTILE_SNAP, HOSTILE_ROLES,
                                           HOSTILE_TOOLS))
    separate = C.check_unique_key(df, HOSTILE_SNAP)
    for v in (C.check_referential(df, HOSTILE_SNAP, "role", HOSTILE_ROLES,
                                  "ref_role"),
              C.check_referential(df, HOSTILE_SNAP, "tool", HOSTILE_TOOLS,
                                  "ref_tool", nullable=True),
              C.check_ordering_blocked(df, HOSTILE_SNAP)):
        separate = separate.unionByName(v)
    clustered = rows_of(check_rowlevel_clustered(
        spark, cat, HOSTILE_SNAP, cat.partition_ids(HOSTILE_SNAP),
        HOSTILE_ROLES, HOSTILE_TOOLS))

    assert fused == rows_of(separate)
    assert fused == clustered
    assert {r["snapshot_id"] for r in fused} == {HOSTILE_SNAP}
    by_check = {}
    for r in fused:
        by_check.setdefault(r["check_id"], []).append(r)
    assert sorted(by_check) == ["ref_role", "ref_tool", "ts_order",
                                "turn_dup", "turn_gap", "unique_key"]
    # only the out-of-vocab values are flagged, JSON-escaped intact
    assert {json.loads(r["payload"]).get("value")
            for r in by_check["ref_role"]} == {None, "bad " + HOSTILE}
    assert [json.loads(r["payload"])["value"]
            for r in by_check["ref_tool"]] == ["other " + HOSTILE]
    assert json.loads(by_check["ref_role"][0]["schema_2"])["values"] == \
        sorted(HOSTILE_ROLES)
