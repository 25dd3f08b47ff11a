"""Driver-built frames are JVM local relations, and a warm validate()
re-uses the previous op's compiled code.

A frame made with ``spark.createDataFrame(<python list>)`` is a Python
RDD: every action over it starts Python-worker tasks. validate() builds
its small driver-side frames (verdicts, driver violation rows, empty
stores, the clustered split table, vocabularies) with
``functions.session.local_frame`` instead, which plans as a
``LocalTableScan``.
"""

import json
import os
import subprocess
import sys

import pytest
from pyspark.sql import SparkSession

from schema_inference_spark.functions import local_frame
from schema_inference_spark.operators import checks as C
from schema_inference_spark.operators.clustered import SPLIT_DDL
from schema_inference_spark.pipeline import VERDICT_DDL, validate
from schema_inference_spark.plans.registry import TRANSCRIPTS_CONTRACT
from schema_inference_spark.sources.catalog import (AUDIT_SCHEMA,
                                                    VIOLATION_DDL,
                                                    SnapshotCatalog)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _assert_local(df) -> None:
    plan = _plan(df)
    assert "LocalTableScan" in plan, plan
    assert "ExistingRDD" not in plan and "PythonRDD" not in plan, plan


ROUND_TRIP = {
    "violation": (VIOLATION_DDL, [
        ("s1", 3, "unique_key", None, None, None, "c7", 2 ** 40,
         '{"n_copies":2}'),
        ("s1", -1, "schema_merge", "non_equal", '{"type":"int"}',
         '{"type":"string"}', None, None, None),
    ]),
    "audit": (AUDIT_SCHEMA, [
        ("s1", 0, "pass", 120, 0, 950, '{"role":{}}'),
        ("s1", 5, "error", 7, 0, 950, None),
    ]),
    "verdict": (VERDICT_DDL, [
        ("s1", 0, "fail", 120, 3, 950, "{}"),
        ("s1", -1, "fail", 0, 1, 950, None),
    ]),
    "split": (SPLIT_DDL, [
        (0, 0, "/data/s1/bucket=0/part-0.parquet", 0, 0, 2, 0),
        (1, 0, "/data/s1/bucket=0/part-0.parquet", 0, 2, 3, None),
    ]),
}


@pytest.mark.parametrize("name", sorted(ROUND_TRIP))
def test_local_frame_round_trip(spark, name):
    """Same schema (nullability included) and rows as createDataFrame,
    for empty input too, and a LocalTableScan plan."""
    schema, rows = ROUND_TRIP[name]
    for data in (rows, []):
        got = local_frame(spark, data, schema)
        want = spark.createDataFrame(data, schema)
        # select("*") re-derives the schema from the JVM plan
        assert got.select("*").schema == want.select("*").schema
        assert got.collect() == want.collect()
        _assert_local(got)


@pytest.fixture()
def built_frames(monkeypatch):
    """Every DataFrame made through SparkSession.createDataFrame."""
    frames = []
    orig = SparkSession.createDataFrame

    def spy(self, *args, **kwargs):
        df = orig(self, *args, **kwargs)
        frames.append(df)
        return df

    monkeypatch.setattr(SparkSession, "createDataFrame", spy)
    return frames


def test_validate_builds_only_local_relations(spark, fixture_root, tmp_path,
                                              built_frames):
    cat = SnapshotCatalog(fixture_root,
                          audit_root=str(tmp_path / "audit"),
                          violations_root=str(tmp_path / "violations"))
    # fused path; s2's cross-partition type conflict is a driver row
    r2 = validate(spark, cat, "s2", contract=TRANSCRIPTS_CONTRACT)
    assert r2.violations.filter("check_id = 'schema_merge'").count() > 0
    # clustered path: the split table
    assert validate(spark, cat, "s1", clustered_checks=True).check_path \
        == "clustered"
    # separate path: the referential checks' vocabularies
    validate(spark, cat, "s4", fused_checks=False, write_audit=False)
    # nothing pending: empty violations and empty stats
    done = validate(spark, cat, "s1")
    assert done.check_path == "none"
    assert done.snapshot_stats.count() == 0
    # empty audit and violation stores
    empty = SnapshotCatalog(fixture_root,
                            audit_root=str(tmp_path / "no_audit"),
                            violations_root=str(tmp_path / "no_violations"))
    assert empty.read_audit(spark, "s1").count() == 0
    assert empty.read_violations(spark, "s1").count() == 0
    assert empty.completed_partitions(spark, "s1") == []

    seen = {tuple(df.columns) for df in built_frames}
    for cols in (C.VIOLATION_COLS, [f.name for f in AUDIT_SCHEMA.fields],
                 ["split_id", "fid", "path", "partition_id", "rg_start",
                  "rg_end", "pos0"],
                 ["snapshot_id", "partition_id", "verdict", "n_rows",
                  "n_violations", "wall_ms", "state_json"],
                 ["snapshot_id", "column"], ["role"], ["tool"]):
        assert tuple(cols) in seen, cols
    for df in built_frames:
        _assert_local(df)


# Runs in a child process: the codegen cache is JVM-wide, so only a fresh
# JVM makes the first op's compile count independent of earlier tests.
_WARM_OPS = r"""
import json, os, shutil, sys
from schema_inference_spark.functions import get_spark
from schema_inference_spark.pipeline import validate
from schema_inference_spark.sources.catalog import SnapshotCatalog

root, work, clustered = sys.argv[1], sys.argv[2], sys.argv[3] == "1"
spark = get_spark(app_name="warm-ops", master="local[2]",
                  shuffle_partitions=4)
compiles = (spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
            .METRIC_COMPILATION_TIME())
cat = SnapshotCatalog(root, audit_root=os.path.join(work, "audit"),
                      violations_root=os.path.join(work, "violations"))
counts = []
for _ in range(2):
    shutil.rmtree(work, ignore_errors=True)
    c0 = compiles.getCount()
    validate(spark, cat, "s1", clustered_checks=clustered)
    counts.append(compiles.getCount() - c0)
spark.stop()
print(json.dumps(counts))
"""


@pytest.mark.parametrize("clustered", [False, True],
                         ids=["fused", "clustered"])
def test_warm_op_reuses_compiled_code(fixture_root, tmp_path, clustered):
    """The second of two back-to-back validate() calls compiles fewer
    than a tenth of the classes the first one did: the codegen cache
    holds a whole op."""
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("PYSPARK_GATEWAY")}
    env.update(SPARK_GRAFT_DRIVER_MEM="1g",
               PYTHONPATH=os.pathsep.join(
                   p for p in (REPO, env.get("PYTHONPATH")) if p))
    out = subprocess.run(
        [sys.executable, "-c", _WARM_OPS, fixture_root,
         str(tmp_path / "work"), "1" if clustered else "0"],
        env=env, cwd=REPO, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-4000:]
    first, second = json.loads(out.stdout.strip().splitlines()[-1])
    assert second < first / 10, (first, second)
