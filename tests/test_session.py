"""Master and heap resolution for the deployment entry point
(functions/session.py).

A spark-submit child (PYSPARK_GATEWAY_PORT set) must NOT have its
submitted --master overridden by get_spark's local[cpus] fallback;
a plain `python` launch must still get the local default; an explicit
master argument always wins. Verified end-to-end against real
spark-submit once per round (see BENCH/notes); unit-tested here so the
decision logic can't regress silently.
"""

from schema_inference_spark.functions.session import (_driver_heap,
                                                       _resolve_master)


def test_plain_python_defaults_to_local_cpus():
    assert _resolve_master(None, "32", {}) == "local[32]"
    assert _resolve_master(None, "8", {"PATH": "/bin"}) == "local[8]"


def test_spark_submit_defers_to_submitted_master():
    env = {"PYSPARK_GATEWAY_PORT": "46165"}
    assert _resolve_master(None, "32", env) is None


def test_explicit_master_always_wins():
    env = {"PYSPARK_GATEWAY_PORT": "46165"}
    assert _resolve_master("local[2]", "32", env) == "local[2]"
    assert _resolve_master("local[2]", "32", {}) == "local[2]"


GB = 1 << 30


def test_heap_defaults_to_a_share_of_physical_memory():
    """The default heap is a quarter of physical memory, capped at 32g,
    and is pre-touched; a 15 GB host gets a heap it can commit."""
    assert _driver_heap({}, 15 * GB) == ("3840m", True)
    assert _driver_heap({}, 512 * GB) == ("32768m", True)


def test_heap_override_is_pre_touched_only_within_the_share():
    assert _driver_heap({"SPARK_GRAFT_DRIVER_MEM": "3g"}, 15 * GB) == \
        ("3g", True)
    assert _driver_heap({"SPARK_GRAFT_DRIVER_MEM": "8g"}, 15 * GB) == \
        ("8g", False)
    assert _driver_heap({"SPARK_GRAFT_DRIVER_MEM": "32g"}, 15 * GB) == \
        ("32g", False)
    assert _driver_heap({"SPARK_GRAFT_DRIVER_MEM": "4096m"}, 16 * GB) == \
        ("4096m", True)
