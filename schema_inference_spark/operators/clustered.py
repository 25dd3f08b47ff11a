"""Layout-aware row-level checks: ZERO-shuffle validation over clustered
snapshots.

``check_rowlevel_fused`` (checks.py) pays one Exchange + one full sort —
the memory-bandwidth-bound stage that caps its N->4N scaling at ~0.74
(BENCH/BASELINE.md). But a transcripts table written the way an Iceberg
pipeline would write it — bucket-partitioned by conv_id with a declared
write sort order of (conv_id, turn_idx, ts) — already has every
conversation's turns contiguous and sorted on disk. Validation then needs
NO shuffle at all: every check is a sequential lag over rows in scan
order, evaluated vectorized per input split, with conversations spanning
split boundaries stitched by per-segment boundary rows (a few hundred
rows, not 10^12).

Plan shape:

    manifest -> row-group-aligned splits (a tiny DataFrame of split rows)
      -> mapInArrow: each task reads its parquet range NATIVELY with
         pyarrow (C++ decode — the JVM->Python Arrow feed was 14.5s for
         a trivial passthrough of 19.1M rows where a JVM-only count is
         0.31s; see _native_split_reader) and runs the vectorized lag
         logic (no per-row Python)
           emits: violation rows            (sparse)
                  unique-key candidates     (sparse: dup runs + edges)
                  one boundary row per contiguous segment
                  one extent row per (conv, segment)  (contiguity proof)
      -> two-level stitch over boundary rows (cross-split pairs)
      -> tiny agg over unique-key rows       (split-spanning dup runs)
      -> conv-extent verification            (global layout proof)

The scan is embarrassingly parallel (file splits), so scaling follows the
scan, not a sort; a hot conv_id is handled by the same mechanism that
handles big files — byte-range splitting + boundary stitching — instead
of turn-block salting. Output is row-identical to
``check_rowlevel_fused`` (asserted in tests).

Trust model: the path is selected only when the snapshot manifest
declares the write order (``write_order`` — the Iceberg sort-order
contract). The UDF *verifies* the declaration per split (conv contiguity
via a seen-set, (turn_idx, ts) monotonicity per conv) and raises on a
layout lie — a metadata/infrastructure failure, which is the one thing
the engine is allowed to throw on (SURVEY.md §2.B: data errors are rows,
never exceptions).

Reference semantics carried over: violations are the same failure-object
rows (util.clj:153-155) the shuffle path emits.
"""

from __future__ import annotations

import json
from typing import Iterator, List

from pyspark.sql import SparkSession

from ..functions.session import local_frame
from .checks import TS_FORMAT_SQL

ROLE_NULL_SCHEMA = '{"type":"enum","values":[null]}'

_OUT_DDL = (
    "kind int, partition_id int, check_id string, mgu_failure string, "
    "schema_1 string, schema_2 string, conv_id string, turn_idx bigint, "
    "payload string, cnt bigint, fid int, pos bigint, "
    "f_conv string, f_turn bigint, f_ts bigint, f_bucket int, "
    "l_conv string, l_turn bigint, l_ts bigint"
)

# one row per scan split, as _plan_splits returns them
SPLIT_DDL = ("split_id long, fid int, path string, partition_id int, "
             "rg_start int, rg_end int, pos0 long")


def _vocab_json(vocab: List[str]) -> str:
    return json.dumps({"type": "enum", "values": sorted(vocab)},
                      sort_keys=True, separators=(",", ":"))


def _ts_str(us: int) -> str:
    """Second-precision UTC render matching Spark's
    date_format(ts, "yyyy-MM-dd'T'HH:mm:ssXXX") under a UTC session tz
    (XXX prints 'Z' at zero offset). Asserted byte-equal in tests."""
    import datetime as _dt
    return _dt.datetime.fromtimestamp(us // 1_000_000,
                                      _dt.timezone.utc
                                      ).strftime("%Y-%m-%dT%H:%M:%SZ")


def _jstr(v) -> str:
    return json.dumps(v, ensure_ascii=False)


def _segment_checker(fid_of: dict, role_schema2: str, tool_schema2: str):
    """Build the mapInArrow function. All per-row work is pyarrow/numpy;
    Python objects materialize only for violation rows (sparse)."""
    import numpy as np

    def fn(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:  # noqa: F821
        import pyarrow as pa
        import pyarrow.compute as pc
        try:
            pa.set_cpu_count(1)
            pa.set_io_thread_count(1)
        except Exception:
            pass

        out: list = []

        def emit_v(bucket, check_id, mgu, s1, s2, conv, turn, payload):
            out.append((0, int(bucket), check_id, mgu, s1, s2, conv,
                        int(turn), payload, None, None, None,
                        None, None, None, None, None, None, None))

        def emit_uk(bucket, conv, turn, cnt):
            out.append((2, int(bucket), None, None, None, None, conv,
                        int(turn), None, int(cnt), None, None,
                        None, None, None, None, None, None, None))

        def emit_c3(conv_v, fid, pos0, is_first, is_last):
            # conv-extent row: one per (conv, segment), flags packed into
            # cnt (1 = conv is the segment's first conv, 2 = its last).
            # Feeds the GLOBAL contiguity verification — a conv
            # reappearing in a NON-adjacent segment is invisible to both
            # the per-split seen-set and the adjacent-boundary stitch.
            out.append((3, None, None, None, None, None, conv_v,
                        None, None,
                        (1 if is_first else 0) | (2 if is_last else 0),
                        fid, pos0,
                        None, None, None, None, None, None, None))

        # segment state (a segment = maximal run of rows from one file
        # split, in scan order)
        seg = None  # dict: fid, pos0, first=(conv,turn,ts,bucket), prev=(...)
        run = None  # dict: conv, turn, cnt, bucket, at_seg_start
        seen_convs: set = set()

        def close_run(at_seg_end: bool):
            nonlocal run
            if run is None:
                return
            if run["cnt"] >= 2 or run["at_seg_start"] or at_seg_end:
                emit_uk(run["bucket"], run["conv"], run["turn"], run["cnt"])
            run = None

        def close_segment():
            nonlocal seg, seen_convs
            if seg is None:
                return
            close_run(at_seg_end=True)
            if seg["open_conv"] is not None:
                emit_c3(seg["open_conv"], seg["fid"], seg["pos0"],
                        seg["open_is_first"], True)
            f_conv, f_turn, f_ts, f_bucket = seg["first"]
            l_conv, l_turn, l_ts, _ = seg["prev"]
            out.append((1, None, None, None, None, None, None, None, None,
                        None, seg["fid"], seg["pos0"],
                        f_conv, int(f_turn), int(f_ts), int(f_bucket),
                        l_conv, int(l_turn), int(l_ts)))
            seg = None
            seen_convs = set()

        def flush() -> Iterator["pa.RecordBatch"]:
            nonlocal out
            if out:
                cols = list(zip(*out))
                names = [f.strip().split(" ")[0] for f in _OUT_DDL.split(",")]
                types = [pa.int32(), pa.int32(), pa.string(), pa.string(),
                         pa.string(), pa.string(), pa.string(), pa.int64(),
                         pa.string(), pa.int64(), pa.int32(), pa.int64(),
                         pa.string(), pa.int64(), pa.int64(), pa.int32(),
                         pa.string(), pa.int64(), pa.int64()]
                yield pa.RecordBatch.from_arrays(
                    [pa.array(c, type=t) for c, t in zip(cols, types)],
                    names=names)
                out = []

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            col = {name: batch.column(i)
                   for i, name in enumerate(batch.schema.names)}
            # nulls in the clustering/sort keys make the numpy lag
            # comparisons garbage (NaN -> undefined int64), and the
            # declared sort order cannot hold for null keys anyway —
            # refuse and let validate() fall back to the fused path,
            # whose SQL null semantics are well-defined (ADVICE r2).
            for k in ("conv_id", "turn_idx", "ts"):
                if col[k].null_count:
                    raise ValueError(
                        f"clustered checks: null {k} in scan batch — the "
                        "declared write order cannot hold for null keys; "
                        "shuffle path (check_rowlevel_fused) required")
            fh = col["_fh"].to_numpy(zero_copy_only=False)
            conv = col["conv_id"]  # stays an Arrow string array
            turn = col["turn_idx"].to_numpy(zero_copy_only=False)
            # timestamp[us] -> epoch-us int64 (zero-copy buffer view)
            ts = col["ts"].cast(pa.int64()).to_numpy(zero_copy_only=False)
            bucket = col["bucket"].to_numpy(zero_copy_only=False)
            pos = col["pos"].to_numpy(zero_copy_only=False)
            rb = col["rb"].to_numpy(zero_copy_only=False)
            tb = col["tb"].to_numpy(zero_copy_only=False)
            rv, tv = col["rv"], col["tv"]

            # vocab checks: flags computed JVM-side; only flagged rows
            # materialize their string value here
            for i in np.flatnonzero(rb):
                v = rv[i].as_py()
                emit_v(bucket[i], "ref_role", "non_equal",
                       ('{"type":"enum","values":[' + _jstr(v) + "]}"
                        if v is not None else ROLE_NULL_SCHEMA),
                       role_schema2, conv[int(i)].as_py(), turn[i],
                       '{"value":' + _jstr(v) + "}" if v is not None else "{}")
            for i in np.flatnonzero(tb):
                v = tv[i].as_py()
                emit_v(bucket[i], "ref_tool", "non_equal",
                       '{"type":"enum","values":[' + _jstr(v) + "]}",
                       tool_schema2, conv[int(i)].as_py(), turn[i],
                       '{"value":' + _jstr(v) + "}")

            # split the batch at file-split changes (rare): each chunk is
            # one contiguous piece of one segment
            change = np.flatnonzero(fh[1:] != fh[:-1]) + 1
            starts = np.concatenate(([0], change, [n]))
            for s, e in zip(starts[:-1], starts[1:]):
                s, e = int(s), int(e)
                if seg is not None and seg["fh"] != fh[s]:
                    close_segment()
                seg_started_here = seg is None
                if seg is None:
                    fid = fid_of.get(int(fh[s]))
                    if fid is None:
                        raise ValueError(
                            "clustered checks: scan produced a file not in "
                            "the snapshot manifest")
                    seg = {"fh": fh[s], "fid": fid, "pos0": int(pos[s]),
                           "first": (conv[s].as_py(), turn[s], ts[s],
                                     bucket[s]),
                           "prev": None,
                           "open_conv": None, "open_is_first": False}

                # lag arrays for the chunk; index 0 pairs with seg["prev"]
                m = e - s
                c_same = np.empty(m, dtype=bool)
                if m > 1:
                    c_same[1:] = np.asarray(
                        pc.equal(conv.slice(s + 1, m - 1),
                                 conv.slice(s, m - 1)).fill_null(False))
                p_turn = np.empty(m, dtype=np.int64)
                p_ts = np.empty(m, dtype=np.int64)
                p_turn[1:] = turn[s:e - 1]
                p_ts[1:] = ts[s:e - 1]
                if seg["prev"] is not None:
                    pv_conv, pv_turn, pv_ts, _ = seg["prev"]
                    c_same[0] = (conv[s].as_py() == pv_conv)
                    p_turn[0], p_ts[0] = pv_turn, pv_ts
                else:
                    c_same[0] = False
                    p_turn[0], p_ts[0] = 0, 0
                t_ = turn[s:e]
                ts_ = ts[s:e]
                b_ = bucket[s:e]

                # layout verification: within a conv, (turn, ts) must be
                # non-decreasing in scan order (the declared sort order)
                bad_sort = c_same & ((t_ < p_turn)
                                     | ((t_ == p_turn) & (ts_ < p_ts)))
                if bad_sort.any():
                    i = int(np.flatnonzero(bad_sort)[0])
                    raise ValueError(
                        "clustered checks: manifest declares sort order "
                        "(conv_id, turn_idx, ts) but conv "
                        f"{conv[s + i].as_py()!r} is out of order at scan "
                        f"position {int(pos[s + i])} — falling back to the "
                        "shuffle path (check_rowlevel_fused) is required")
                # conv contiguity: a conv may not reappear after changing.
                # Batch-extract the changed conv values (take+to_pylist ~
                # 10x per-index as_py) — one string per conversation, not
                # per row.
                chg = np.flatnonzero(~c_same)
                for cv in conv.take(pa.array(chg + s)).to_pylist():
                    if cv in seen_convs:
                        raise ValueError(
                            "clustered checks: manifest declares clustering "
                            f"by conv_id but conv {cv!r} is non-contiguous "
                            "in scan order — shuffle path required")
                    seen_convs.add(cv)
                    # close the previous conv's extent row, open this one
                    is_first = seg["open_conv"] is None
                    if not is_first:
                        emit_c3(seg["open_conv"], seg["fid"], seg["pos0"],
                                seg["open_is_first"], False)
                    seg["open_conv"] = cv
                    seg["open_is_first"] = is_first

                gap = c_same & (t_ > p_turn + 1)
                dup = c_same & (t_ == p_turn)
                tsb = c_same & (ts_ < p_ts)
                for i in np.flatnonzero(gap):
                    emit_v(bucket[s + i], "turn_gap", None, None, None,
                           conv[s + int(i)].as_py(), t_[i],
                           '{"prev_idx":%d,"missing":%d}'
                           % (p_turn[i], t_[i] - p_turn[i] - 1))
                for i in np.flatnonzero(dup):
                    emit_v(bucket[s + i], "turn_dup", None, None, None,
                           conv[s + int(i)].as_py(), t_[i],
                           '{"prev_idx":%d}' % p_turn[i])
                for i in np.flatnonzero(tsb):
                    emit_v(bucket[s + i], "ts_order", None, None, None,
                           conv[s + int(i)].as_py(), t_[i],
                           '{"prev_ts":"%s","ts":"%s"}'
                           % (_ts_str(int(p_ts[i])), _ts_str(int(ts_[i]))))

                # unique-key runs: maximal runs of equal (conv, turn).
                # dup[i] == row i has the same key as row i-1, so a new
                # run starts exactly where ~dup. Python touches ONLY the
                # runs that can matter — duplicate runs (sparse), the
                # chunk's first run (may continue the carried run), and
                # the chunk's last run (carried forward) — never one
                # iteration per row.
                run_starts = np.flatnonzero(~dup)
                if len(run_starts) == 0:
                    # whole chunk continues the carried run
                    run["cnt"] += m
                    run["bucket"] = min(run["bucket"], int(b_.min()))
                else:
                    first = int(run_starts[0])
                    if first > 0:
                        # rows [0, first) extend the carried run
                        run["cnt"] += first
                        run["bucket"] = min(run["bucket"],
                                            int(b_[:first].min()))
                    close_run(at_seg_end=False)
                    lens = np.diff(np.append(run_starts, m))
                    nruns = len(run_starts)
                    # complete runs (all but the last) that must emit:
                    # cnt >= 2, or the segment-first run
                    emit = np.flatnonzero(lens[:nruns - 1] >= 2)
                    if (seg_started_here and run_starts[0] == 0
                            and nruns > 1 and lens[0] < 2):
                        emit = np.concatenate(([0], emit))
                    if len(emit):
                        convs = conv.take(
                            pa.array(run_starts[emit] + s)).to_pylist()
                        for cv, j in zip(convs, emit):
                            rs, cnt = int(run_starts[j]), int(lens[j])
                            emit_uk(b_[rs:rs + cnt].min(), cv,
                                    t_[rs], cnt)
                    # last run becomes the carried run
                    rs, cnt = int(run_starts[-1]), int(lens[-1])
                    run = {"conv": conv[s + rs].as_py(),
                           "turn": int(t_[rs]),
                           "cnt": cnt,
                           "bucket": int(b_[rs:rs + cnt].min()),
                           "at_seg_start": rs == 0 and seg_started_here}
                seg["prev"] = (conv[e - 1].as_py(), turn[e - 1], ts[e - 1],
                               bucket[e - 1])
            yield from flush()
        close_segment()
        yield from flush()

    return fn


def _plan_splits(catalog, snapshot_id: str, pending: List[int],
                 target_rows: int, spark=None) -> List[tuple]:
    """Manifest -> row-group-aligned scan splits:
    [(split_id, fid, path, partition_id, rg_start, rg_end, pos0)].

    Row groups are parquet's split granularity (Spark's byte-range
    splits align to row-group boundaries too); files bigger than
    ``target_rows`` become several splits — the hot-conversation /
    giant-file escape hatch, same boundary-stitch semantics. Footer
    reads are metadata-only (~1ms each) but NOT free at manifest scale:
    they run in a driver thread pool, and above the same 512-file
    threshold ``infer.physical_census`` uses they distribute as a Spark
    job (a 10^5-file manifest must not serialize minutes of footer I/O
    through one thread). Split/file ids stay manifest-ordered either
    way — the boundary stitch depends on that order.
    """
    import os as _os

    import pyarrow.parquet as pq

    man = catalog.manifest(snapshot_id)
    keep = set(pending)
    snap_dir = _os.path.join(catalog.root, snapshot_id)
    files = []  # (fid, path, partition_id) in manifest order
    for p in man["partitions"]:
        if p["partition_id"] not in keep:
            continue
        for fname in p["files"]:
            files.append((len(files),
                          _os.path.abspath(_os.path.join(snap_dir, p["path"],
                                                         fname)),
                          p["partition_id"]))

    from .infer import keyed_footer_map

    def rg_rows_of(item) -> tuple:
        fid, path = item
        md = pq.ParquetFile(path).metadata
        return fid, [md.row_group(i).num_rows
                     for i in range(md.num_row_groups)]

    rows_by_fid = keyed_footer_map(spark, [(f[0], f[1]) for f in files],
                                   rg_rows_of)

    splits = []
    for fid, path, pid in files:
        rg_rows = rows_by_fid[fid]
        pos0, rg0, acc = 0, 0, 0
        for i, n in enumerate(rg_rows):
            acc += n
            if acc >= target_rows and i + 1 < len(rg_rows):
                splits.append((len(splits), fid, path, pid, rg0, i + 1, pos0))
                pos0 += acc
                rg0, acc = i + 1, 0
        if acc > 0 or rg0 < len(rg_rows) or not rg_rows:
            splits.append((len(splits), fid, path, pid, rg0, len(rg_rows),
                           pos0))
    return splits


_SCAN_COLS = ["conv_id", "turn_idx", "role", "tool", "ts"]


def _native_split_reader(checker, role_vocab: List[str],
                         tool_vocab: List[str], batch_rows: int,
                         state_cols: List[str] | None = None):
    """mapInArrow over SPLIT rows: each task reads its parquet row-group
    range natively with pyarrow (C++ decode, zero JVM row->Arrow
    conversion) and streams checker-schema batches into
    ``_segment_checker``.

    Why native: Spark's JVM->Python Arrow feed converts UnsafeRows
    column-by-column under a shared allocator lock — measured 14.5s for
    a TRIVIAL passthrough of this corpus at 8 cores while the same scan
    as a JVM-only count is 0.31s, and it anti-scales with cores (the
    same finding that made infer use the JVM hash-agg state engine).
    Reading the (pruned) columns straight from parquet in the worker
    keeps the whole pass in C++ at pyarrow speed and makes the stage
    embarrassingly parallel across splits. The seam: prod object-store
    catalogs need worker-side filesystem access (pyarrow.fs handles
    s3://, hdfs://); a catalog that can't offer it keeps the JVM-scan
    shuffle path.

    With ``state_cols`` the same decoded batches ALSO feed the inference
    column-state monoid (infer._arrow_col_state — per-column null counts,
    min/max, observed type): the one extra read is the columns the checks
    prune (``text``), and it replaces the infer stage's ENTIRE second
    corpus scan. States ride the same output schema as kind=4 rows
    (partition_id + state JSON in ``payload``), one row per (split,
    partition) — metadata-sized.
    """
    import numpy as np

    def fn(batches):
        import json as _json

        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        from schema_inference_spark.operators.infer import (
            _arrow_col_state,
            _json_safe,
            merge_part_states,
        )
        try:
            pa.set_cpu_count(1)
            pa.set_io_thread_count(1)
        except Exception:
            pass
        role_set = pa.array(role_vocab, pa.string())
        tool_set = pa.array(tool_vocab, pa.string())
        read_cols = (_SCAN_COLS if state_cols is None else
                     list(dict.fromkeys([*_SCAN_COLS, *state_cols])))
        states: dict = {}  # pid -> PartState
        errors: dict = {}  # pid -> read-error message (by-value :throw)

        def one_split(row):
            pf = pq.ParquetFile(row["path"])
            if row["rg_start"] >= row["rg_end"]:
                return
            pos = row["pos0"]
            pid = row["partition_id"]
            if state_cols is not None:
                # physical truth comes from the footer schema:
                # pyarrow may decode e.g. string as large_string
                # in memory, but `phys` records what the FILE
                # stores (what the census and the Spark-feed
                # engine report)
                fsch = pf.schema_arrow
                phys_of = {c: str(fsch.field(c).type)
                           for c in state_cols}
            for full in pf.iter_batches(
                    batch_size=batch_rows,
                    row_groups=range(row["rg_start"], row["rg_end"]),
                    columns=read_cols):
                if state_cols is not None:
                    st = {}
                    for c in state_cols:
                        cs = _arrow_col_state(
                            full.column(
                                full.schema.get_field_index(c)),
                            pid)
                        if cs["phys"]:
                            cs["phys"] = [phys_of[c]]
                        st[c] = cs
                    states[pid] = (merge_part_states(states[pid], st)
                                   if pid in states else st)
                b = full.select(_SCAN_COLS)
                n = b.num_rows
                ix = b.schema.get_field_index
                role = b.column(ix("role"))
                tool = b.column(ix("tool"))
                rb = pc.or_kleene(
                    role.is_null(),
                    pc.invert(pc.is_in(role, value_set=role_set))
                    .fill_null(True))
                tb = pc.and_(
                    tool.is_valid(),
                    pc.invert(pc.is_in(tool, value_set=tool_set))
                    .fill_null(False))
                yield pa.RecordBatch.from_arrays([
                    pa.array(np.full(n, row["partition_id"],
                                     np.int32)),
                    b.column(ix("conv_id")).cast(pa.string()),
                    b.column(ix("turn_idx")).cast(pa.int64()),
                    b.column(ix("ts")),
                    rb,
                    pc.if_else(rb, role, pa.nulls(n, pa.string())),
                    tb,
                    pc.if_else(tb, tool, pa.nulls(n, pa.string())),
                    pa.array(np.full(n, row["split_id"], np.int64)),
                    pa.array(np.arange(pos, pos + n, dtype=np.int64)),
                ], names=["bucket", "conv_id", "turn_idx", "ts",
                          "rb", "rv", "tb", "tv", "_fh", "pos"])
                pos += n

        def checker_batches():
            for sp in batches:
                for row in sp.to_pylist():
                    try:
                        yield from one_split(row)
                    except Exception as exc:  # noqa: BLE001 — by-value
                        # :throw at partition granularity: a corrupt data
                        # page / unreadable file errors its PARTITION (a
                        # kind=5 row), never the job. Rows this split (or
                        # its partition's other splits) already emitted
                        # are discarded by the pid filter downstream —
                        # check_rowlevel_clustered drops every row of an
                        # errored partition before any check consumes it.
                        errors[row["partition_id"]] = (
                            f"{row['path']}: rg[{row['rg_start']}:"
                            f"{row['rg_end']}]: "
                            f"{type(exc).__name__}: {exc}")

        yield from checker(checker_batches())
        if errors:
            pids = sorted(errors)
            yield pa.RecordBatch.from_arrays([
                pa.array([5] * len(pids), pa.int32()),
                pa.array(pids, pa.int32()),
                *[pa.nulls(len(pids), pa.string()) for _ in range(5)],
                pa.nulls(len(pids), pa.int64()),
                pa.array([errors[p] for p in pids], pa.string()),
                *[pa.nulls(len(pids), t) for t in
                  (pa.int64(), pa.int32(), pa.int64(), pa.string(),
                   pa.int64(), pa.int64(), pa.int32(), pa.string(),
                   pa.int64(), pa.int64())],
            ], names=[f.strip().split(" ")[0] for f in _OUT_DDL.split(",")])
        if states:
            # checker() fully drains checker_batches before returning, so
            # the accumulator is complete here. One row per (split,
            # partition): kind=4, pid, state JSON in payload.
            pids = sorted(states)
            yield pa.RecordBatch.from_arrays([
                pa.array([4] * len(pids), pa.int32()),
                pa.array(pids, pa.int32()),
                *[pa.nulls(len(pids), pa.string()) for _ in range(5)],
                pa.nulls(len(pids), pa.int64()),
                pa.array([_json.dumps(states[p], default=_json_safe)
                          for p in pids], pa.string()),
                *[pa.nulls(len(pids), t) for t in
                  (pa.int64(), pa.int32(), pa.int64(), pa.string(),
                   pa.int64(), pa.int64(), pa.int32(), pa.string(),
                   pa.int64(), pa.int64())],
            ], names=[f.strip().split(" ")[0] for f in _OUT_DDL.split(",")])

    return fn


# The plans below read the two checkpointed stores of
# check_rowlevel_clustered: {out} (every UDF row) and {rowsrc} (all but the
# kind=3 extent rows). Each enters the JVM as one SQL text: built from
# Column objects, they would cost ~2,600 Py4J round trips per call.
#
# Cross-split pairs, TWO-LEVEL: boundary rows ordered by manifest file
# order + in-file position reconstruct global scan order. Level 1 pairs
# segments WITHIN each file (window per fid — parallel across files, so
# 10^5-10^6 byte-range splits of a few big files never funnel through
# one task). Level 2 pairs each file's first segment with the previous
# present file's last segment — the only driver-order pass, one row per
# FILE (manifest-sized), broadcast to the join. Only pairs that continue
# one conversation across the seam are kept.
_PAIRS_SQL = """
WITH bnd AS (
  SELECT fid, pos, f_conv, f_turn, f_ts, f_bucket, l_conv, l_turn, l_ts
  FROM {rowsrc} WHERE kind = 1
),
ranked AS (
  SELECT *, lag(l_conv) OVER wf AS p_conv, lag(l_turn) OVER wf AS p_turn,
    lag(l_ts) OVER wf AS p_ts, row_number() OVER wf AS _rn
  FROM bnd WINDOW wf AS (PARTITION BY fid ORDER BY pos)
),
lasts AS (
  SELECT * FROM (
    SELECT fid AS _pf, l_conv AS p_conv, l_turn AS p_turn, l_ts AS p_ts,
      lead(fid) OVER (ORDER BY fid) AS _nf
    FROM (SELECT *, row_number() OVER (PARTITION BY fid ORDER BY pos DESC)
                    AS _rn
          FROM bnd)
    WHERE _rn = 1)
  WHERE _nf IS NOT NULL
)
SELECT * FROM (
  SELECT fid, pos, f_conv, f_turn, f_ts, f_bucket, p_conv, p_turn, p_ts
  FROM ranked WHERE _rn > 1
  UNION ALL
  SELECT /*+ BROADCAST(lasts) */ r.fid, r.pos, r.f_conv, r.f_turn, r.f_ts,
    r.f_bucket, lasts.p_conv, lasts.p_turn, lasts.p_ts
  FROM ranked r JOIN lasts ON r.fid = lasts._nf
  WHERE r._rn = 1)
WHERE p_conv = f_conv
"""

# Layout verification, one row per finding: (why, conv_id, partition_id,
# payload), at most one 'extent' and one 'seam' row.
#
# extent — GLOBAL conv contiguity: the UDF verifies contiguity within
# each split; the boundary stitch compares only ADJACENT segments. A
# cross-split-only lie — a conv reappearing in a non-adjacent segment —
# is invisible to both, so verify globally: each conv must occupy exactly
# one maximal run of consecutive segments, first-of-segment everywhere
# but its first segment and last-of-segment everywhere but its last.
# Inputs are the per-(conv, segment) extent rows (kind=3, ~one per
# conversation; flags in cnt: 1 = first conv of its segment, 2 = last)
# and a segment-rank table (#segments rows of two ints — the rank window
# is a single tiny task, bounded by split count, not row count).
#
# seam — cross-split sort order: a lie that exists ONLY across a
# boundary (locally sorted splits, key regressing at the seam) must also
# refuse (ADVICE r2); equal (turn, ts) at the seam is a legitimate
# duplicate, not a lie.
#
# read_error / state — the kind=5 per-partition read errors, and with
# :fold_states the kind=4 fused-state rows.
_LAYOUT_SQL = """
WITH segr AS (
  SELECT fid, pos, row_number() OVER (ORDER BY fid, pos) AS _seg_rank
  FROM {rowsrc} WHERE kind = 1
),
ext AS (
  SELECT conv_id, count(1) AS _n,
    min(_seg_rank) AS _rmin, max(_seg_rank) AS _rmax,
    max(CASE WHEN (_flags & 1) = 0 THEN _seg_rank END) AS _bad_first,
    min(CASE WHEN (_flags & 2) = 0 THEN _seg_rank END) AS _bad_last
  FROM (SELECT conv_id, fid, pos, cnt AS _flags FROM {out} WHERE kind = 3)
  JOIN segr USING (fid, pos)
  GROUP BY conv_id
)
(SELECT 'extent' AS why, conv_id, CAST(NULL AS INT) AS partition_id,
   CAST(NULL AS STRING) AS payload
 FROM ext
 WHERE _n <> _rmax - _rmin + 1
   OR coalesce(_bad_first, _rmin) <> _rmin
   OR coalesce(_bad_last, _rmax) <> _rmax
 LIMIT 1)
UNION ALL
(SELECT 'seam', f_conv, NULL, NULL FROM {pairs}
 WHERE f_turn < p_turn OR (f_turn = p_turn AND f_ts < p_ts)
 LIMIT 1)
UNION ALL
SELECT CASE WHEN kind = 5 THEN 'read_error' ELSE 'state' END, NULL,
  partition_id, payload
FROM {rowsrc} WHERE kind = 5 OR (kind = 4 AND :fold_states)
"""

# Violation rows: the UDF's direct rows; split-spanning duplicate runs
# (per-key partial counts -> one row per duplicated key, the same
# (n_copies, min-bucket) row the fused window folds to; input is
# candidates only — sparse by construction); and the boundary-pair
# checks. The three pair checks share the whole stitch subtree, so one
# projection evaluates all three conditions per pair and explodes the
# matches — a pair failing several checks emits one row per check.
_VIOLATIONS_SQL = f"""
SELECT :snap AS snapshot_id, partition_id, check_id, mgu_failure,
  schema_1, schema_2, conv_id, turn_idx, payload
FROM {{rowsrc}} WHERE kind = 0
UNION ALL
SELECT :snap, pid, 'unique_key', CAST(NULL AS STRING), CAST(NULL AS STRING),
  CAST(NULL AS STRING), conv_id, turn_idx,
  to_json(named_struct('n_copies', n))
FROM (SELECT conv_id, turn_idx, sum(cnt) AS n, min(partition_id) AS pid
      FROM {{rowsrc}} WHERE kind = 2 GROUP BY conv_id, turn_idx)
WHERE n > 1
UNION ALL
SELECT :snap, f_bucket, _h.c, CAST(NULL AS STRING), CAST(NULL AS STRING),
  CAST(NULL AS STRING), f_conv, f_turn, _h.p
FROM (SELECT f_bucket, f_conv, f_turn, explode(filter(array(
    CASE WHEN f_turn > p_turn + 1 THEN named_struct('c', 'turn_gap',
      'p', to_json(named_struct('prev_idx', CAST(p_turn AS BIGINT),
        'missing', CAST(f_turn - p_turn - 1 AS BIGINT)))) END,
    CASE WHEN f_turn = p_turn THEN named_struct('c', 'turn_dup',
      'p', to_json(named_struct('prev_idx', CAST(p_turn AS BIGINT)))) END,
    CASE WHEN f_ts < p_ts THEN named_struct('c', 'ts_order',
      'p', to_json(named_struct(
        'prev_ts', date_format(timestamp_micros(p_ts), {TS_FORMAT_SQL}),
        'ts', date_format(timestamp_micros(f_ts), {TS_FORMAT_SQL})))) END
  ), h -> h IS NOT NULL)) AS _h
  FROM {{pairs}})
"""


def check_rowlevel_clustered(spark: SparkSession, catalog, snapshot_id: str,
                             pending: List[int], role_vocab: List[str],
                             tool_vocab: List[str],
                             partition_col: str = "bucket",
                             split_target_rows: int | None = None,
                             collect_states: bool = False,
                             with_errors: bool = False):
    """All row-level checks (uniqueness, role/tool vocab, ordering) with
    zero shuffle over a snapshot whose manifest declares the clustered
    write order. Row-identical to ``check_rowlevel_fused``.

    The corpus pass distributes manifest row-group splits and reads them
    natively in the workers (see ``_native_split_reader`` for why — the
    JVM->Python Arrow feed was the whole cost of this stage).

    ``collect_states=True`` fuses the inference column-state pass into
    the SAME scan (every column, including the ones the checks prune) and
    returns ``(violations, pstates)`` — the snapshot then needs ONE
    corpus read total instead of a stats pass plus a check pass.

    ``with_errors=True`` appends an ``{partition_id: message}`` dict of
    partitions whose native read failed (corrupt data page, unreadable
    file) to the return tuple — the reference's by-value ``:throw``
    (algo_w.clj:286-289) at partition granularity: the failing split
    emits an error row instead of aborting the job, every row of an
    errored partition is dropped before any check consumes it, and the
    caller emits a verdict='error' for it (resume re-validates after
    repair). With the default ``with_errors=False`` a read error raises,
    preserving fail-fast semantics for direct callers."""
    from ..functions.prof import profile_marker
    _tmark = profile_marker("clustered")

    if split_target_rows is None:
        split_target_rows = int(spark.conf.get(
            "spark.schema_inference.clustered.splitTargetRows", "1000000"))
    # native-read batch size is independent of the JVM<->Python Arrow
    # transfer cap (arrow.maxRecordsPerBatch): these batches never cross
    # the bridge, and per-batch Python/numpy setup amortizes with size —
    # measured 9.8s -> 6.3s for the 19.1M-turn corpus pass going from
    # 10k to 256k rows. 128k rows ~ 10-20 MB decoded per in-flight batch
    # per core.
    batch_rows = int(spark.conf.get(
        "spark.schema_inference.clustered.readBatchRows", "131072"))
    splits = _plan_splits(catalog, snapshot_id, list(pending),
                          split_target_rows, spark=spark)
    _tmark(f"plan-splits ({len(splits)} splits)")
    # _fh is the split id (unique per split: two splits of one file must
    # open separate segments even if a task sees them back to back); fid
    # stays the FILE id so boundary ordering is (file, position in file)
    fid_of = {s[0]: s[1] for s in splits}

    checker = _segment_checker(fid_of, _vocab_json(role_vocab),
                               _vocab_json(tool_vocab))
    state_cols = None
    if collect_states and splits:
        # census uniformity is a precondition of this path, so the first
        # file's schema is every file's schema; the partition column is
        # directory-derived, never in the files
        import pyarrow.parquet as _pq
        state_cols = [c for c in _pq.ParquetFile(splits[0][2])
                      .schema_arrow.names if c != partition_col]
    splits_df = local_frame(spark, splits, SPLIT_DDL)
    if splits:
        # a JVM-only round-robin shuffle of the split rows: one split
        # per task
        splits_df = splits_df.repartition(len(splits))
    out = splits_df.mapInArrow(
        _native_split_reader(checker, role_vocab, tool_vocab, batch_rows,
                             state_cols),
        _OUT_DDL)
    # the five consumers below (direct violations, unique-key aggregate,
    # three boundary-pair branches) would each re-execute the scan+UDF
    # subtree — Spark reuses exchanges, not arbitrary subplans. The UDF
    # output is violation-sized (sparse rows + one boundary row per
    # segment), so materialize it ONCE: one pass over the corpus, every
    # branch reads the stored result (same pattern as components.py).
    # Eager also surfaces a layout-lie error at call time.
    out = out.localCheckpoint(eager=True)
    _tmark("scan (localCheckpoint out)")

    # second-level checkpoint: the big store is dominated by the kind=3
    # extent rows (one per conversation — they exist only for the global
    # contiguity verification below, which reads them exactly once). The
    # violation branches (direct/unique-key/three boundary pairs) would
    # each rescan all of it; give them a violation-sized store instead —
    # one filter pass here, ~#violations + #segments rows retained.
    # kind=4 fused-state rows (split-count-sized) ride along so the
    # state collection below reads this small store too — only the
    # conversation-count-sized kind=3 extent rows stay behind
    rowsrc = out.where("kind <> 3").localCheckpoint(eager=True)
    _tmark("rowsrc checkpoint")

    def _layout(out_f, rowsrc_f, fold: bool):
        # boundary pairs, then ONE driver action for all three
        # verifications (extent lie, seam lie, per-split read errors) —
        # fixed per-snapshot cost is one small job. The error branch
        # reads the SMALL checkpointed store (kind=5 is sparse by
        # construction). With ``fold`` (collect_states on a manifest of
        # <= 256 splits), the kind=4 fused-state rows (one per split and
        # partition) ride the same action for the driver-side merge below.
        pairs_f = spark.sql(_PAIRS_SQL, rowsrc=rowsrc_f)
        rows_f = spark.sql(_LAYOUT_SQL, {"fold_states": fold}, out=out_f,
                           rowsrc=rowsrc_f, pairs=pairs_f).collect()
        return pairs_f, rows_f

    fold_states = collect_states and len(splits) <= 256
    pairs, rows = _layout(out, rowsrc, fold_states)
    read_errors = {r.partition_id: r.payload for r in rows
                   if r.why == "read_error"}
    states = [r for r in rows if r.why == "state"]
    probs = [r for r in rows if r.why in ("extent", "seam")]
    if read_errors:
        # the per-partition by-value :throw. Every row of an errored
        # partition — including rows good splits of it already produced —
        # is dropped before any check consumes it, and the layout
        # verification RE-RUNS on the filtered stores (an incomplete
        # partition's extent rows could otherwise fabricate a lie; convs
        # never span partitions, so dropping whole partitions cannot).
        # Rare path: costs one extra small job only when a read failed.
        if not with_errors:
            raise RuntimeError(
                "clustered scan read errors: "
                + "; ".join(f"partition {p}: {m}"
                            for p, m in sorted(read_errors.items())))
        bad = ", ".join(str(int(p)) for p in sorted(read_errors))
        # kind=1 boundary and kind=3 extent rows carry NO partition_id
        # (NULL), so a bare NOT IN predicate is NULL for them and Spark
        # drops them ALL — which would silently disable every cross-split
        # check and the layout verification for the HEALTHY partitions.
        # They do carry fid, and a file belongs to exactly one partition,
        # so scope them by the errored partitions' file ids instead.
        bad_fids = ", ".join(str(f) for f in
                             sorted({s[1] for s in splits
                                     if s[3] in read_errors}))
        keep = (f"CASE WHEN partition_id IS NOT NULL "
                f"THEN NOT partition_id IN ({bad}) "
                f"ELSE NOT fid IN ({bad_fids}) END")
        out = out.where(keep)
        rowsrc = rowsrc.where(keep)
        pairs, rows = _layout(out, rowsrc, False)
        probs = [r for r in rows if r.why in ("extent", "seam")]
    _tmark("extent+seam+error verify")
    if probs:
        why, cv = probs[0].why, probs[0].conv_id
        if why == "extent":
            raise ValueError(
                "clustered checks: manifest declares clustering by "
                f"conv_id but conv {cv!r} occupies non-adjacent segments "
                "in scan order — shuffle path (check_rowlevel_fused) "
                "required")
        raise ValueError(
            "clustered checks: manifest declares sort order (conv_id, "
            f"turn_idx, ts) but conv {cv!r} regresses across a split "
            "boundary — shuffle path (check_rowlevel_fused) required")

    violations = spark.sql(_VIOLATIONS_SQL, {"snap": snapshot_id},
                           rowsrc=rowsrc, pairs=pairs)
    if not collect_states:
        return (violations, read_errors) if with_errors else violations

    # fused states: one kind=4 row per (split, partition), merged with
    # the same associative monoid the standalone engines use. Small
    # manifests merge driver-side; above the tree_merge threshold the
    # merge runs as a reduceByKey so the driver receives one
    # already-merged row per PARTITION, not one per split — a 10^6
    # byte-range-split manifest must not ship 10^6 state blobs through
    # the driver.
    from .infer import merge_part_states
    if fold_states:
        # collected with the verification above, before the errored
        # partitions were filtered out of the stores: drop theirs here
        by_pid: dict = {}
        for r in states:
            if r.partition_id in read_errors:
                continue
            st = json.loads(r.payload)
            by_pid[r.partition_id] = (
                merge_part_states(by_pid[r.partition_id], st)
                if r.partition_id in by_pid else st)
        pstates = sorted(by_pid.items())
    else:
        k4 = rowsrc.where("kind = 4").select("partition_id", "payload")
        pstates = sorted(
            k4.rdd
            .map(lambda r: (r[0], json.loads(r[1])))
            .reduceByKey(merge_part_states)
            .collect())
    return ((violations, pstates, read_errors) if with_errors
            else (violations, pstates))


def census_uniform(census: dict, pending: List[int]) -> bool:
    """True when every pending partition's footer census agrees on physical
    column types — the precondition for the plain (non-widening) scan the
    clustered path reads with."""
    sigs = set()
    for pid in pending:
        cols = census.get(pid, {})
        sigs.add(tuple(sorted((c, json.dumps(v["ir"], sort_keys=True))
                              for c, v in cols.items())))
    return len(sigs) <= 1


def manifest_declares_order(manifest: dict) -> bool:
    """True when the snapshot's write order guarantees the clustered
    path's layout contract (the Iceberg sort-order seam)."""
    wo = manifest.get("write_order") or {}
    return (wo.get("clustered_by") == ["conv_id"]
            and wo.get("sorted_by") == ["conv_id", "turn_idx", "ts"])
