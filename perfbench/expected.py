"""Expected validate() output, computed by DuckDB over the written parquet.

This is an independent statement of the row-level check semantics
(uniqueness, turn ordering, role/tool vocabulary), so every op's
violation counts and per-partition verdicts are checked against
something that did not come from the engine.
"""

from __future__ import annotations

from typing import Dict, List

import duckdb


def expected_output(snap_dir: str, n_buckets: int, role_vocab: List[str],
                    tool_vocab: List[str]) -> Dict:
    """{"checks": {check_id: rows}, "verdicts": {partition_id: (verdict,
    n_violations)}} as validate() must report them for a fresh run over
    every partition of the snapshot at ``snap_dir``."""
    roles = ", ".join(f"'{r}'" for r in role_vocab)
    tools = ", ".join(f"'{t}'" for t in tool_vocab)
    sql = f"""
    WITH w AS (
      SELECT bucket::INT AS bucket, conv_id, turn_idx, ts, role, tool,
             lag(turn_idx) OVER o AS p_idx, lag(ts) OVER o AS p_ts,
             count(*) OVER (PARTITION BY conv_id, turn_idx) AS n_same
      FROM read_parquet('{snap_dir}/bucket=*/*.parquet',
                        hive_partitioning = true)
      WINDOW o AS (PARTITION BY conv_id ORDER BY turn_idx, ts))
    SELECT bucket, check_id, count(*) AS n FROM (
      SELECT bucket, 'ref_role' AS check_id FROM w
        WHERE role IS NULL OR role NOT IN ({roles})
      UNION ALL SELECT bucket, 'ref_tool' FROM w
        WHERE tool IS NOT NULL AND tool NOT IN ({tools})
      UNION ALL SELECT min(bucket), 'unique_key' FROM w
        WHERE n_same > 1 GROUP BY conv_id, turn_idx
      UNION ALL SELECT bucket, 'turn_gap' FROM w WHERE turn_idx > p_idx + 1
      UNION ALL SELECT bucket, 'turn_dup' FROM w WHERE turn_idx = p_idx
      UNION ALL SELECT bucket, 'ts_order' FROM w WHERE ts < p_ts)
    GROUP BY ALL"""
    con = duckdb.connect()
    try:
        counts = con.sql(sql).fetchall()
    finally:
        con.close()
    checks: Dict[str, int] = {}
    per_part = dict.fromkeys(range(n_buckets), 0)
    for b, c, n in counts:
        checks[c] = checks.get(c, 0) + n
        per_part[b] += n
    verdicts = {p: ("fail" if n else "pass", n) for p, n in per_part.items()}
    return {"checks": checks, "verdicts": verdicts}
