"""The change log: its deterministic seeded generator (FIXTURES.md F2/F3)
and the one reader of its on-disk layout.

The reference's "change stream" story is full re-extraction of filtered
snapshots (``sample_data_generator.py:22-60``); this generator produces the
binlog/WAL-style stream the new engine consumes instead: insert/update/delete
events over the transcript key ``(conv_id, turn_idx)`` with dials for op mix,
hot-key skew, timestamp ties, late (out-of-order) arrivals, payload JSON, and
a mid-log schema-evolution tranche (added ``tool_version``/``latency_ms``
columns, int→long widening).

Pure numpy + pyarrow: generating 10^7 events takes seconds and never runs
Spark, so benchmarks measure the engine, not the fixture.

Layout: ``tranche-<id>/part-*.parquet`` plus ``manifest.json``, which is
written (:func:`generate_change_log`) and read (:func:`read_manifest`) only
here, so replay and stream interpret it identically, the fallback for a
tranche the manifest does not record included.
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import types as T

# The lake-table schema of the transcript the log's events build, keyed on
# (conv_id, turn_idx); the evolved tranche's extra columns join it through
# schema evolution. ts is NTZ: Spark 4 reads the log's naive parquet
# timestamps as NTZ, and DuckDB's TIMESTAMP matches it, so engine and oracle
# compare bit-exact.
TRANSCRIPT_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType(), False),
    T.StructField("turn_idx", T.IntegerType(), False),
    T.StructField("role", T.StringType(), True),
    T.StructField("text", T.StringType(), True),
    T.StructField("tool", T.StringType(), True),
    T.StructField("ts", T.TimestampNTZType(), False),
])

ROLES = np.array(["user", "assistant", "system", "tool"])
TOOLS = np.array(["search", "bash", "browser", "editor", "none"])

# Token soup incl. unicode NFC/NFD pairs (é as one codepoint vs e+combining
# accent) and empty strings — per FIXTURES.md F1 text generator notes.
_VOCAB = [
    "alpha", "beta", "gamma", "delta", "epsilon", "lambda", "sigma", "omega",
    "café", "café", "naïve", "naïve", "☃", "über",
    "stream", "merge", "upsert", "checkpoint", "offset", "snapshot", "bucket",
    "",
]


@dataclass
class ChangeLogSpec:
    """Dials for the generator. Defaults follow FIXTURES.md F2."""

    n_events: int = 20_000
    n_convs: int = 1_000
    n_partitions: int = 4
    max_turns: int = 50
    seed: int = 42
    op_mix: tuple[float, float, float] = (0.70, 0.25, 0.05)  # I / U / D
    hot_fraction: float = 0.20     # share of events hitting the hot conversation
    late_fraction: float = 0.05    # events whose ts is pulled far into the past
    tie_quantum_s: int = 4         # ts quantization → exact ties on busy keys
    payload: bool = True           # emit JSON payload column (decode-UDF path)
    evolve_at: float | None = None  # fraction of log after which F3 columns appear
    files_per_tranche: int = 4     # parquet files per tranche (stream source granularity)
    partition_base: int = 0        # first source-partition id (multi-source fan-in:
                                   # each stream owns a disjoint id range)
    long_text_every: int = 997     # 1/N events get a >=16KB text (FIXTURES F1 tail case)
    compression: str = "zstd"      # the standard lake codec; real change logs ship compressed

    hot_conv: str = field(init=False, default="conv-000000")


def _conv_ids(idx: np.ndarray) -> np.ndarray:
    return np.char.add("conv-", np.char.zfill(idx.astype("U6"), 6))


def _partition_ranges(off: np.ndarray, part: np.ndarray
                      ) -> dict[str, list[int]]:
    """Per-source-partition ``[lo, hi]`` offset ranges as the manifest
    stores them."""
    ranges = {}
    for p in np.unique(part):
        o = off[part == p]
        ranges[str(int(p))] = [int(o.min()), int(o.max())]
    return ranges


def generate_change_log(out_dir: str, spec: ChangeLogSpec | None = None) -> dict:
    """Write the change log as parquet files under ``out_dir``.

    Layout: ``tranche-0/part-*.parquet`` (base schema) and, when
    ``spec.evolve_at`` is set, ``tranche-1/part-*.parquet`` (evolved schema:
    + tool_version string, + latency_ms int64; the base tranche carries no such
    columns at all — the reader must union-by-name). Returns a manifest dict.

    Offsets are the total order within each source partition (assigned in
    arrival order); ``partition = hash(conv) % P``. Arrival order is the
    generation order, so late events (old ``ts``, high ``offset``) exist by
    construction when ``late_fraction > 0``.
    """
    spec = spec or ChangeLogSpec()
    rng = np.random.default_rng(spec.seed)
    n = spec.n_events

    # --- keys: Zipf-ish conversation draw + an explicit hot conversation ---
    conv_idx = rng.zipf(1.3, size=n) % spec.n_convs
    hot_mask = rng.random(n) < spec.hot_fraction
    conv_idx = np.where(hot_mask, 0, conv_idx).astype(np.int64)
    conv_id = _conv_ids(conv_idx)
    turn_idx = rng.integers(0, spec.max_turns, size=n, dtype=np.int32)

    # --- ops ---
    ops = rng.choice(np.array(["I", "U", "D"]), size=n, p=list(spec.op_mix))

    # --- event time: quantized arrival order + jitter + late arrivals ---
    base_us = np.int64(1_767_225_600_000_000)  # 2026-01-01T00:00:00Z in micros
    arrival = np.arange(n, dtype=np.int64)
    ts_s = (arrival // spec.tie_quantum_s) * spec.tie_quantum_s
    jitter = rng.integers(0, spec.tie_quantum_s, size=n)
    ts_s = ts_s + jitter - (jitter % 2)  # keep coarse ties while adding texture
    late = rng.random(n) < spec.late_fraction
    ts_s = np.where(late, np.maximum(ts_s - rng.integers(1, n + 1, size=n), 0), ts_s)
    ts_us = base_us + ts_s * 1_000_000

    # --- payload columns ---
    role = ROLES[rng.integers(0, len(ROLES), size=n)]
    tool = TOOLS[rng.integers(0, len(TOOLS), size=n)]
    tool = np.where(rng.random(n) < 0.3, None, tool)
    w1 = rng.integers(0, len(_VOCAB), size=n)
    w2 = rng.integers(0, len(_VOCAB), size=n)
    vocab = np.array(_VOCAB, dtype=object)
    text = np.array(
        [f"{vocab[a]} {vocab[b]} #{i % 10007}" for i, (a, b) in enumerate(zip(w1, w2))],
        dtype=object,
    )
    if spec.long_text_every:
        for i in range(0, n, spec.long_text_every):
            text[i] = ("loremé " * 2500) + f"#{i}"  # ≥16KB tail case
    text = np.where(ops == "D", None, text)
    role_out = np.where((ops == "D") & (rng.random(n) < 0.5), None, role)

    # --- source partition + per-partition offsets (arrival order) ---
    partition = (spec.partition_base + (
        (conv_idx * np.int64(2654435761)) % spec.n_partitions)).astype(np.int32)
    offset = np.zeros(n, dtype=np.int64)
    for p in range(spec.partition_base,
                   spec.partition_base + spec.n_partitions):
        m = partition == p
        offset[m] = np.arange(int(m.sum()), dtype=np.int64)

    # --- evolved tranche columns (FIXTURES F3) ---
    split = int(n * spec.evolve_at) if spec.evolve_at is not None else n
    tool_version = np.where(
        rng.random(n) < 0.8, np.char.add("v1.", (conv_idx % 7).astype("U2")), None
    )
    latency_ms = rng.integers(1, 5_000, size=n).astype(np.int64)

    payload_col = None
    if spec.payload:
        payload_col = np.array(
            [
                json.dumps(
                    {
                        "role": None if r is None else str(r),
                        "text": None if t is None else str(t),
                        "tool": None if tl is None else str(tl),
                    },
                    ensure_ascii=False,
                )
                for r, t, tl in zip(role_out, text, tool)
            ],
            dtype=object,
        )

    def _table(sl: slice, evolved: bool) -> pa.Table:
        cols: dict[str, pa.Array] = {
            "op": pa.array(ops[sl]),
            "conv_id": pa.array(conv_id[sl]),
            "turn_idx": pa.array(turn_idx[sl], pa.int32()),
            "role": pa.array(role_out[sl]),
            "text": pa.array(text[sl]),
            "tool": pa.array(tool[sl]),
            "ts": pa.array(ts_us[sl], pa.timestamp("us")),
            "offset": pa.array(offset[sl], pa.int64()),
            "partition": pa.array(partition[sl], pa.int32()),
        }
        if payload_col is not None:
            cols["payload"] = pa.array(payload_col[sl])
        if evolved:
            cols["tool_version"] = pa.array(tool_version[sl])
            cols["latency_ms"] = pa.array(latency_ms[sl], pa.int64())
        return pa.table(cols)

    os.makedirs(out_dir, exist_ok=True)
    manifest: dict = {"tranches": [], "n_events": n, "n_partitions": spec.n_partitions}
    tranches = [(0, slice(0, split), False)]
    if split < n:
        tranches.append((1, slice(split, n), True))
    for t_id, sl, evolved in tranches:
        t_dir = os.path.join(out_dir, f"tranche-{t_id}")
        os.makedirs(t_dir, exist_ok=True)
        tbl = _table(sl, evolved)
        k = max(1, spec.files_per_tranche)
        step = -(-tbl.num_rows // k)
        files = []
        file_offsets: dict[str, dict[str, list[int]]] = {}
        t_off, t_part = offset[sl], partition[sl]
        prev_ms = -1
        for i in range(k):
            chunk = tbl.slice(i * step, step)
            if chunk.num_rows == 0:
                continue
            path = os.path.join(t_dir, f"part-{i:05d}.parquet")
            # small row groups keep files splittable: a 150k-row single-group
            # file caps Spark's scan parallelism at nfiles regardless of cores
            pq.write_table(chunk, path, row_group_size=65536,
                           compression=spec.compression)
            # the stream source takes files in modification-time order at
            # millisecond resolution, and ties keep directory-listing order
            # (part-00001 can come first), so two files written in the same
            # millisecond could be streamed out of arrival order: stamp each
            # file at least 1 ms after the previous one
            ms = max(os.stat(path).st_mtime_ns // 1_000_000, prev_ms + 1)
            os.utime(path, ns=(ms * 1_000_000, ms * 1_000_000))
            prev_ms = ms
            files.append(path)
            # per-FILE dense offset ranges: each file is a contiguous
            # arrival-order slice, and per-partition offsets increment by one
            # in arrival order, so every file's per-partition offset set is
            # dense by construction. Streaming micro-batches are whole files
            # (maxFilesPerTrigger), so these ranges let foreachBatch run the
            # same locator kernel + arithmetic offset bookkeeping as batch
            # replay (VERDICT r03 item 2).
            file_offsets[os.path.basename(path)] = _partition_ranges(
                t_off[i * step:i * step + step],
                t_part[i * step:i * step + step])
        # offset bounds + source-partition universe recorded at write time:
        # the replay driver reads them from this manifest instead of sweeping
        # every parquet footer per run — at 10^10 events the footer sweep is
        # O(files) serial driver time before the first batch (VERDICT r02 #4).
        # partition_offsets are DENSE per-partition ranges (offsets are a
        # gapless per-partition sequence by construction — the WAL contract),
        # which lets the apply path do its exactly-once offset bookkeeping by
        # pure window arithmetic instead of any per-row runtime aggregation.
        part_offsets = _partition_ranges(t_off, t_part)
        manifest["tranches"].append(
            {
                "id": t_id,
                "evolved": evolved,
                "rows": tbl.num_rows,
                "files": files,
                "offset_lo": int(t_off.min()) if len(t_off) else 0,
                "offset_hi": int(t_off.max()) if len(t_off) else -1,
                "partitions": [int(p) for p in part_offsets],
                "partition_offsets": part_offsets,
                "dense_offsets": True,
                "file_offsets": file_offsets,
            }
        )
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1)
    return manifest


@dataclass(frozen=True)
class Tranche:
    """One tranche's offset bounds and its DENSE per-partition ``(lo, hi)``
    offset ranges, whole (``partition_offsets``, replay's windows) and per
    parquet file basename (``file_offsets``, the stream's micro-batches).
    A range map is None when the manifest does not vouch for density: the
    apply path then runs its ranges aggregate and the ``agg`` kernel."""

    offset_lo: int
    offset_hi: int
    partition_offsets: dict[int, tuple[int, int]] | None
    file_offsets: dict[str, dict[int, tuple[int, int]]] | None


class LogManifest(dict):
    """Tranche dir → :class:`Tranche` in log order, plus ``tail``: each
    source partition's final offset in the log (the ``lag_events`` metric),
    None unless every tranche records its partition ranges."""

    def __init__(self, tranches: dict[str, Tranche],
                 tail: dict[int, int] | None):
        super().__init__(tranches)
        self.tail = tail


def _tranche_dirs(log_dir: str) -> list[str]:
    out = sorted(glob.glob(os.path.join(log_dir, "tranche-*")))
    if not out:
        raise FileNotFoundError(f"no tranches under {log_dir}")
    return out


def _tranche_schema(tranche_dir: str):
    """Spark schema of a tranche from ONE parquet footer read with pyarrow,
    instead of a Spark schema-inference job per tranche per run. Tranche
    files share one schema (each is written from a single arrow table)."""
    from pyspark.sql.pandas.types import from_arrow_schema

    files = sorted(glob.glob(os.path.join(tranche_dir, "*.parquet")))
    if not files:
        raise FileNotFoundError(f"no parquet files in {tranche_dir}")
    return from_arrow_schema(pq.read_schema(files[0]),
                             prefer_timestamp_ntz=True)


def _offset_bounds(tranche_dir: str) -> tuple[int, int]:
    """(min, max) offset across the tranche, from parquet footer stats only."""
    lo, hi = None, None
    for f in sorted(glob.glob(os.path.join(tranche_dir, "*.parquet"))):
        md = pq.read_metadata(f)
        idx = md.schema.names.index("offset")
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is None:
                continue
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
    if lo is None:
        raise ValueError(f"no offset stats in {tranche_dir}")
    return int(lo), int(hi)


def _int_ranges(ranges: dict[str, list[int]]) -> dict[int, tuple[int, int]]:
    return {int(p): (int(r[0]), int(r[1])) for p, r in ranges.items()}


def read_manifest(log_dir: str) -> LogManifest:
    """Every ``tranche-*`` dir of the log (FileNotFoundError when there is
    none) with its :class:`Tranche`, and the log tail — O(tranches) driver
    time, where a parquet-footer sweep is O(files) per run. A tranche the
    manifest does not record (or a log without a manifest) gets footer-swept
    bounds and no ranges; ranges are only returned under ``dense_offsets``."""
    path = os.path.join(log_dir, "manifest.json")
    recorded: dict[str, dict] = {}
    if os.path.exists(path):
        with open(path) as f:
            for t in json.load(f).get("tranches", []):
                recorded[os.path.join(log_dir, f"tranche-{t['id']}")] = t
    tranches: dict[str, Tranche] = {}
    tail: dict[int, int] | None = {}
    for d in _tranche_dirs(log_dir):
        t = recorded.get(d, {})
        dense = bool(t.get("dense_offsets"))
        parts, files = t.get("partition_offsets"), t.get("file_offsets")
        tranches[d] = Tranche(
            *((int(t["offset_lo"]), int(t["offset_hi"])) if "offset_lo" in t
              else _offset_bounds(d)),
            _int_ranges(parts) if dense and parts is not None else None,
            ({name: _int_ranges(r) for name, r in files.items()}
             if dense and files else None))
        if parts is None:
            tail = None
        elif tail is not None:
            for p, (_, hi) in _int_ranges(parts).items():
                tail[p] = max(tail.get(p, -1), hi)
    return LogManifest(tranches, tail or None)
