"""LakeTable: snapshot-versioned parquet table with Iceberg-style semantics.

Layout::

    <path>/metadata/v{N}.json     one immutable snapshot per version
    <path>/metadata/m-<uuid>.json immutable manifest segments (file entries)
    <path>/metadata/version-hint.txt   current version (atomic os.replace)
    <path>/data/bucket={b}/part-*.parquet

A snapshot records its manifest-segment names (each segment an immutable
chunk of file entries: path, bucket, schema_id, rows — see the manifest
comment block below; an append commit writes O(batch) metadata, never the
full O(table) list), the schema history, and a free-form ``summary`` dict.
Commits are optimistic:
the snapshot is written and fsynced to a hidden tmp file, then ``os.link``ed
to its ``v{N}.json`` name, so a lost race surfaces as ``CommitConflict``
(EEXIST) instead of silent corruption, and the name only ever appears with
complete content. Every commit kind — append, copy-on-write rewrite,
rebucket, summary and clustering updates — goes through ONE retry loop
(``LakeTable._commit``): refresh, rebase where the commit allows it, back
off, retry; a writer that finally loses deletes its staged data files and
new manifest segments before raising. A crash *between* staging data files
and linking the snapshot leaves only unreferenced orphans (the commit point
is one atomic link), reclaimed by ``vacuum`` — this is the idempotent-commit
foundation for the engine's exactly-once story (SURVEY.md §4.3 item 4). The
metadata directory must be on a filesystem with hardlinks; without them
every commit raises a clear ``OSError``.

Reads prune at bucket granularity (the file list is bucket-keyed) and handle
per-file schema ids: files written before a schema evolution are read with
their written schema and aligned (missing columns → NULL, widened casts) —
merge-on-read alignment, no rewrite at evolution time.

Files come in two kinds, giving Iceberg-v2-style **merge-on-read** upserts:
``base`` files hold at most one row per key; ``delta`` files hold per-batch
LWW winners appended by the CDC apply path. Ingest cost is O(batch) — a
commit never reads or rewrites existing data. The read path LWW-reduces
base+delta rows by stamp (skipped when no deltas are selected); ``compact()``
folds deltas into fresh base files per bucket. At 10^10-event scale this is
the difference between replay throughput bounded by batch size vs bounded by
table size.

Rows carry three internal columns beyond the user schema:
``_deleted boolean`` (LWW tombstone — a deleted key keeps its last-writer
stamp so late, older updates cannot resurrect it), ``_lww_offset long`` and
``_lww_partition int`` (the last writer's source coordinates; with the data
column ``ts`` they form the total LWW order ``(ts, offset, partition)``).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

import pyarrow.parquet as pq

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mimic_iv_etl_spark.lake.merge import lww_reduce
from mimic_iv_etl_spark.lake.schema import schemas_equal

INTERNAL_FIELDS = [
    T.StructField("_deleted", T.BooleanType(), False),
    T.StructField("_lww_offset", T.LongType(), False),
    T.StructField("_lww_partition", T.IntegerType(), False),
]
INTERNAL_COLS = [f.name for f in INTERNAL_FIELDS]
BUCKET_COL = "_bucket"


class CommitConflict(RuntimeError):
    """Another writer committed the same snapshot version first, and the
    commit could not be (or was not allowed to be) rebased onto the winner."""


# Optimistic-concurrency retry budget (Iceberg's commit.retry.num-retries
# analogue): a losing writer refreshes, revalidates its commit against the
# winner's snapshot, and re-points its already-written manifest segment at
# the new base — the staged DATA files are never rewritten, so a retry costs
# one metadata round, not a Spark job. Retries back off with jitter
# (_commit_backoff): without it, N writers in tight loops stay phase-locked
# and a loser can exhaust any fixed budget (seen at 5 writers).
_MAX_COMMIT_RETRIES = 20
_BACKOFF_BASE_S = 0.02
_BACKOFF_CAP_S = 1.0


def _commit_backoff(attempt: int) -> None:
    import random

    time.sleep(random.uniform(0, min(_BACKOFF_CAP_S,
                                     _BACKOFF_BASE_S * (2 ** attempt))))


# --------------------------------------------------------------------------
# Manifest segments (Iceberg-style): the snapshot stores a LIST OF MANIFEST
# FILE NAMES instead of the inline file list, and each manifest segment
# (metadata/m-<uuid>.json) is an immutable chunk of file entries. An append
# commit writes ONE new segment holding just its new files — O(batch)
# metadata per commit instead of rewriting the full O(table) file list into
# every snapshot (at 100 TB / thousands of commits the inline layout churns
# tens of MB of driver JSON per batch; segments make commit metadata cost
# independent of table size). Copy-on-write commits rewrite only the
# segments that reference replaced files. Segments are immutable, so they
# are process-cached.
# --------------------------------------------------------------------------

_MANIFEST_CACHE: dict[str, list[dict]] = {}

# fold the segment list into one when it grows past this — keeps snapshot
# JSON and per-read open() counts bounded; normally compaction's rewrite
# collapses segments long before this backstop fires
_MANIFEST_FOLD_THRESHOLD = 128


def _write_manifest(meta_dir: str, entries: list[dict]) -> str:
    """Write one immutable manifest segment; returns its file name."""
    name = f"m-{uuid.uuid4().hex}.json"
    path = os.path.join(meta_dir, name)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"entries": entries}, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)
    _MANIFEST_CACHE[path] = entries
    return name


def _remove_segments(meta_dir: str, names) -> None:
    """Delete manifest segments that no committed snapshot references."""
    for m in names:
        path = os.path.join(meta_dir, m)
        _MANIFEST_CACHE.pop(path, None)
        try:
            os.remove(path)
        except FileNotFoundError:
            pass


def _load_manifest(meta_dir: str, name: str) -> list[dict]:
    path = os.path.join(meta_dir, name)
    if path not in _MANIFEST_CACHE:
        with open(path) as f:
            _MANIFEST_CACHE[path] = json.load(f)["entries"]
    return _MANIFEST_CACHE[path]


def _read_snapshot(meta_dir: str, version: int) -> dict:
    """Load snapshot ``v{version}.json`` — the one reader of that file.
    A snapshot without a ``manifests`` list is not a layout this table
    writes, so it raises ValueError naming the file."""
    path = os.path.join(meta_dir, f"v{version}.json")
    with open(path) as f:
        snap = json.load(f)
    if not isinstance(snap, dict) or "manifests" not in snap:
        raise ValueError(f"{path} is not a snapshot of this table format: "
                         "it has no 'manifests' list")
    return snap


def _files_of(meta_dir: str, snap: dict) -> list[dict]:
    """Full file list of a snapshot dict: its manifest segments, concatenated."""
    out: list[dict] = []
    for m in snap["manifests"]:
        out.extend(_load_manifest(meta_dir, m))
    return out


def _internal_schema(public: T.StructType) -> T.StructType:
    return T.StructType(list(public.fields) + INTERNAL_FIELDS)


class LakeTable:
    """Handle on a snapshot table rooted at ``path``."""

    # True only on time-travel handles (see :meth:`at_version`) — they are
    # read-only and never rebase a lost commit race onto a newer snapshot.
    _pinned = False

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = os.path.abspath(path)
        self._meta_dir = os.path.join(self.path, "metadata")
        self._data_dir = os.path.join(self.path, "data")
        self.refresh()

    # ------------------------------------------------------------- metadata

    @staticmethod
    def exists(path: str) -> bool:
        return os.path.exists(os.path.join(path, "metadata", "version-hint.txt"))

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        schema: T.StructType,
        n_buckets: int = 32,
        key_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
        bucket_by: str | None = None,
    ) -> "LakeTable":
        """Create an empty table (snapshot v0). ``bucket_by`` defaults to the
        first key column — the north rule's hash-partition-on-conv_id."""
        path = os.path.abspath(path)
        if bucket_by is not None and bucket_by not in key_cols:
            # read_keys pushes its key IN-predicate below the merge-on-read
            # LWW reduce, which is only sound when the bucket column's value
            # is fixed per key — i.e. bucket_by is one of the key columns. A
            # mutable non-key bucket column would scatter one key's versions
            # across buckets and make point reads return stale winners.
            raise ValueError(
                f"bucket_by={bucket_by!r} must be one of key_cols={key_cols}")
        if cls.exists(path):
            raise FileExistsError(f"table already exists at {path}")
        os.makedirs(os.path.join(path, "metadata"), exist_ok=True)
        os.makedirs(os.path.join(path, "data"), exist_ok=True)
        snap = {
            "version": 0,
            "parent": None,
            "created_ms": int(time.time() * 1000),
            "schema_id": 0,
            "schemas": {"0": json.loads(schema.json())},
            "n_buckets": n_buckets,
            "key_cols": list(key_cols),
            "bucket_by": bucket_by or key_cols[0],
            "manifests": [],
            "summary": {"applied_offsets": {}, "operation": "create"},
        }
        _write_snapshot(os.path.join(path, "metadata"), snap)
        return cls(spark, path)

    def refresh(self) -> "LakeTable":
        """Load the current snapshot. ``version-hint.txt`` is a HINT, not
        the commit point (the ``os.link`` of v{N}.json is): a crash between
        the link and the hint replace leaves the hint one behind, and
        trusting it would wedge every later commit in link conflicts on the
        already-committed version. So probe forward from the hint — one
        extra stat per refresh in the common case, and the next successful
        commit repairs the hint. A linked name always holds complete
        content, so the newest one found is read as is."""
        hint = os.path.join(self._meta_dir, "version-hint.txt")
        with open(hint) as f:
            version = int(f.read().strip())
        while os.path.exists(os.path.join(self._meta_dir,
                                          f"v{version + 1}.json")):
            version += 1
        self.snapshot = _read_snapshot(self._meta_dir, version)
        return self

    def at_version(self, version: int) -> "LakeTable":
        """Time travel: a read-only handle pinned to snapshot ``version``
        (snapshots are immutable; any commit from this handle raises
        CommitConflict — pinned handles never join the retry/rebase loop)."""
        other = LakeTable.__new__(LakeTable)
        other.spark = self.spark
        other.path = self.path
        other._meta_dir = self._meta_dir
        other._data_dir = self._data_dir
        other._pinned = True
        other.snapshot = _read_snapshot(self._meta_dir, version)
        return other

    @property
    def files(self) -> list[dict]:
        """The snapshot's full file list (concatenated manifest segments)."""
        return _files_of(self._meta_dir, self.snapshot)

    @property
    def manifests(self) -> list[str]:
        """The snapshot's manifest segment names."""
        return list(self.snapshot["manifests"])

    def delta_file_counts(self) -> dict[int, int]:
        """Delta files per bucket (compaction-policy input)."""
        out: dict[int, int] = {}
        for e in self.files:
            if e["kind"] == "delta":
                out[e["bucket"]] = out.get(e["bucket"], 0) + 1
        return out

    def maybe_compact(self, max_deltas_per_bucket: int = 8) -> "LakeTable":
        """Compact only buckets whose delta-file count exceeds the threshold —
        the amortization policy that keeps read-path reduce cost bounded
        while ingest stays O(batch)."""
        hot = {b for b, n in self.delta_file_counts().items()
               if n > max_deltas_per_bucket}
        if not hot:
            return self
        return self.compact(buckets=hot)

    @property
    def version(self) -> int:
        return self.snapshot["version"]

    @property
    def schema(self) -> T.StructType:
        """Current public (user-facing) schema."""
        sid = str(self.snapshot["schema_id"])
        return T.StructType.fromJson(self.snapshot["schemas"][sid])

    @property
    def internal_schema(self) -> T.StructType:
        return _internal_schema(self.schema)

    @property
    def n_buckets(self) -> int:
        return self.snapshot["n_buckets"]

    @property
    def key_cols(self) -> list[str]:
        return list(self.snapshot["key_cols"])

    @property
    def summary(self) -> dict:
        return self.snapshot["summary"]

    @property
    def applied_offsets(self) -> dict[int, int]:
        """Max applied source offset per source partition (exactly-once state)."""
        return {int(k): int(v) for k, v in self.summary.get("applied_offsets", {}).items()}

    def history(self) -> list[dict]:
        out = []
        v: int | None = self.version
        snap = self.snapshot
        while True:
            out.append(snap)
            v = snap["parent"]
            if v is None:
                break
            try:
                snap = _read_snapshot(self._meta_dir, v)
            except FileNotFoundError:  # expired via expire_snapshots
                break
        return out

    # ------------------------------------------------------------------ read

    def bucket_expr(self, col: str | None = None,
                    n_buckets: int | None = None) -> F.Column:
        """The bucket routing expression — MUST be identical on write and
        read. ``n_buckets`` defaults to the table's; :meth:`rebucket` passes
        the new count."""
        c = col or self.snapshot["bucket_by"]
        n = self.n_buckets if n_buckets is None else n_buckets
        return F.expr(f"CAST(pmod(xxhash64(`{c}`), {n}) AS int)")

    def read(self, buckets: set[int] | None = None, internal: bool = False,
             pre_filter: F.Column | None = None) -> DataFrame:
        """Scan the table. ``buckets`` prunes the file list before Spark sees it
        (metadata-level partition pruning); ``internal=True`` keeps tombstones
        and LWW stamp columns (the merge path needs them).

        ``pre_filter`` is applied BELOW the merge-on-read LWW reduce, so it
        reaches the parquet scans as a pushed-down predicate. Only key-local
        predicates are sound there (a key's winner depends solely on that
        key's rows) — :meth:`read_keys` is the public user of this hook.

        Merge-on-read: when the selected files include delta files, rows are
        LWW-reduced per key (skew-proof ``max_by`` partial agg); a selection of
        pure base files skips the reduce entirely — post-compaction reads are
        plain pruned parquet scans."""
        files = self.files
        if buckets is not None:
            files = [e for e in files if e["bucket"] in buckets]
        has_delta = any(e["kind"] == "delta" for e in files)
        out = self._assemble(files)
        if pre_filter is not None:
            out = out.filter(pre_filter)
        if has_delta:
            out = lww_reduce(out, self.key_cols)
        if internal:
            return out
        return out.filter(~F.col("_deleted")).drop(*INTERNAL_COLS)

    def _assemble(self, files: list[dict]) -> DataFrame:
        """Union the given manifest entries as one scan in the current
        internal schema (per-written-schema reads aligned/widened to it)."""
        target = self.internal_schema
        by_schema: dict[str, list[str]] = {}
        for e in files:
            by_schema.setdefault(str(e["schema_id"]), []).append(
                os.path.join(self.path, e["path"])
            )
        parts: list[DataFrame] = []
        for sid, paths in sorted(by_schema.items()):
            written = _internal_schema(T.StructType.fromJson(self.snapshot["schemas"][sid]))
            df = self.spark.read.schema(written).parquet(*paths)
            parts.append(_align(df, target))
        if not parts:
            return self.spark.createDataFrame([], target)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def read_range(self, col: str, lo, hi, internal: bool = False) -> DataFrame:
        """Range scan with metadata-level file skipping: rows with
        ``lo <= col <= hi``, reading ONLY files whose manifest min/max stats
        overlap the range (plus the residual predicate, pushed down to the
        scan so parquet row-group stats skip inside surviving files).

        At 100 TB this is the "turns from last week" analytics path: after a
        clustered compaction (:meth:`compact` with ``cluster_by=[col]``,
        ``split=k``) each bucket's data lands as k files with tight,
        near-disjoint per-file ranges on ``col``, so a narrow range touches
        O(matching files) — no footer reads, no listing, the pruning happens
        against snapshot metadata alone.

        Soundness: file skipping is only applied when the table holds NO
        delta files — a merge-on-read winner depends on every file of its
        key, so skipping deltas by a non-key range could resurrect
        overwritten versions. While deltas exist this degrades (correctly)
        to ``read().filter(...)``: LWW first, range predicate second."""
        pred = F.col(col).between(F.lit(lo), F.lit(hi))
        files = self.files
        if any(e["kind"] == "delta" for e in files):
            return self.read(internal=internal).filter(pred)
        kept = self._prune_by_stats(files, col, lo, hi)
        out = self._assemble(kept).filter(pred)
        if internal:
            return out
        return out.filter(~F.col("_deleted")).drop(*INTERNAL_COLS)

    @staticmethod
    def _prune_by_stats(files: list[dict], col: str, lo, hi) -> list[dict]:
        """Entries whose ``col`` stats overlap [lo, hi]; entries without
        stats for ``col`` (types parquet keeps no min/max for) are kept —
        absence of evidence never skips data."""
        def _canon(b):
            # manifest stats are naive-UTC isoformat strings; a tz-AWARE
            # bound would isoformat with a "+HH:MM" suffix and compare
            # lexicographically wrong when the prefixes are equal, wrongly
            # skipping a boundary-matching file (ADVICE r05) — normalize
            # aware datetimes to naive UTC first
            if hasattr(b, "isoformat"):
                if getattr(b, "tzinfo", None) is not None:
                    import datetime as _dt

                    b = b.astimezone(_dt.timezone.utc).replace(tzinfo=None)
                return b.isoformat()
            return b

        qlo, qhi = _canon(lo), _canon(hi)
        kept = []
        for e in files:
            s = e.get("stats", {}).get(col)
            if s is None:
                kept.append(e)
                continue
            try:
                if qhi < s[0] or qlo > s[1]:
                    continue
            except TypeError:  # incomparable bound types → conservative keep
                pass
            kept.append(e)
        return kept

    def read_keys(self, keys, internal: bool = False) -> DataFrame:
        """Point-lookup read: the current rows of the given bucket-key values
        (e.g. specific ``conv_id`` s), touching only those keys' buckets.

        At 100 TB this is the "fetch these conversations" path: bucket ids
        are computed with the SAME JVM hash expression as the write path
        (folded over a local relation of the keys — no Spark job, never a
        table scan), the snapshot's file list is pruned to those buckets at
        metadata level, and the key IN-predicate is pushed BELOW the
        merge-on-read LWW reduce into every parquet scan (sound because a
        key's winner depends only on that key's rows) — so the scan cost is
        O(selected buckets) files with row-group skipping, not O(table)."""
        keys = list(keys)
        if not keys:
            return self.read(buckets=set(), internal=internal)
        col = self.snapshot["bucket_by"]
        if col not in self.key_cols:
            # guards tables whose metadata predates create()'s validation:
            # the below-reduce pushdown is unsound for a non-key bucket column
            raise ValueError(
                f"read_keys requires bucket_by ({col!r}) to be a key column "
                f"({self.key_cols}); use read().filter() instead")
        import pandas as pd

        ktype = {f.name: f.dataType for f in self.schema.fields}[col]
        # a pandas-built frame is a LocalRelation: the optimizer folds the
        # bucket projection into it, so the collect runs no Spark job (an
        # object column keeps wide ints exact — no float64 detour)
        kdf = self.spark.createDataFrame(
            pd.DataFrame({col: pd.Series(keys, dtype=object)}),
            T.StructType([T.StructField(col, ktype)]))
        bids = {int(r["b"]) for r in
                kdf.select(self.bucket_expr(col).alias("b")).collect()}
        return self.read(buckets=bids, internal=internal,
                         pre_filter=F.col(col).isin(keys))

    def changes(self, from_version: int,
                to_version: int | None = None) -> DataFrame:
        """Incremental changelog read — CDC *out*, for downstream incremental
        consumers (the engine-side analogue of Iceberg's changelog scan): net
        changes committed in ``(from_version, to_version]``, one row per
        changed key in the current public schema plus ``_change_type``
        (``'upsert'`` | ``'delete'``).

        Reads ONLY the delta files those commits added — O(changed data),
        never O(table) — so a consumer polling ``changes(last_seen)`` pays for
        its lag, not for the table. A key upserted several times in the range
        collapses to its final value (LWW, same total order as the table).
        Copy-on-write commits (``compact``/``expire_tombstones``) rewrite
        physical files without logical changes and contribute nothing; bulk
        ``overwrite_buckets`` loads are likewise invisible by design.
        """
        to_version = self.version if to_version is None else to_version
        if not 0 <= from_version <= to_version <= self.version:
            raise ValueError(
                f"need 0 <= from {from_version} <= to {to_version}"
                f" <= current {self.version}")
        added: list[dict] = []
        snap = self.at_version(to_version).snapshot
        while snap["version"] > from_version:
            parent = snap["parent"]
            try:
                parent_snap = _read_snapshot(self._meta_dir, parent)
            except FileNotFoundError:
                raise ValueError(
                    f"snapshot v{parent} expired — cannot diff below it"
                ) from None
            parent_files = {e["path"]
                            for e in _files_of(self._meta_dir, parent_snap)}
            added += [e for e in _files_of(self._meta_dir, snap)
                      if e["path"] not in parent_files
                      and e["kind"] == "delta"]
            snap = parent_snap
        out = self._assemble(added)
        if added:
            out = lww_reduce(out, self.key_cols)
        out = out.withColumn(
            "_change_type",
            F.when(F.col("_deleted"), F.lit("delete")).otherwise(F.lit("upsert")))
        return out.drop(*INTERNAL_COLS)

    # ----------------------------------------------------------------- write

    def _stage_write(
        self, state_df: DataFrame, public: T.StructType, schema_id: int, kind: str,
        write_salt: int = 1, n_buckets: int | None = None,
        cluster_by: list[str] | None = None, split: int = 1,
    ) -> list[dict]:
        """Write ``state_df`` (internal schema + ``_bucket`` routing column) as
        bucket-partitioned parquet under a staging dir, then move the files
        into ``data/bucket=N/``. Returns the new file entries. The snapshot
        referencing them is written separately — the atomic commit point."""
        stage = os.path.join(self.path, "_staging", uuid.uuid4().hex)
        aligned = _align(state_df, T.StructType(
            [T.StructField(BUCKET_COL, T.IntegerType(), False)]
            + list(_internal_schema(public).fields)), fill=False)
        # one writer task per bucket, by construction: repartitionById sends
        # bucket b to task b (a hash repartition on the bucket NUMBER
        # collides — buckets 0-3 land in 2 of 4 tasks, 32 buckets in 18 of
        # 32 — and runs the write at about half its parallelism). So a commit
        # writes ≤ n_buckets files instead of tasks × buckets tiny ones
        # (file explosion is the classic MoR ingest killer at scale).
        # write_salt > 1 gives each bucket that many writer tasks — the
        # north rule's salted-key splitting applied to hot-conversation
        # buckets (salt hashes all key columns; the bucket itself derives
        # from ``bucket_by`` alone, so rows of one conversation still land
        # in one bucket dir, just in ≤salt files).
        n_buckets = self.n_buckets if n_buckets is None else n_buckets
        if cluster_by:
            # clustered layout (compaction's data-skipping path): range-
            # partition on (bucket, cluster cols) — each task holds one
            # contiguous cluster-key range of (mostly) one bucket, so with
            # split > 1 a bucket lands as several files with TIGHT,
            # near-disjoint per-file min/max on the cluster columns (recorded
            # in the manifest entry → metadata-level file skipping), and the
            # within-partition sort makes parquet row-group stats monotone →
            # pushed-down range predicates skip row groups inside each file.
            parts = n_buckets * max(1, split)
            aligned = aligned.repartitionByRange(
                parts, F.col(BUCKET_COL), *[F.col(c) for c in cluster_by]
            ).sortWithinPartitions(BUCKET_COL, *cluster_by)
        elif write_salt > 1:
            keys = ", ".join(f"`{c}`" for c in self.key_cols)
            aligned = aligned.repartitionById(
                n_buckets * write_salt, F.expr(
                    f"{BUCKET_COL} * {write_salt}"
                    f" + CAST(pmod(xxhash64({keys}), {write_salt}) AS int)"))
        else:
            aligned = aligned.repartitionById(n_buckets, BUCKET_COL)
        aligned.write.mode("overwrite").partitionBy(BUCKET_COL).parquet(stage)
        # the per-file footer read + rename is driver-side IO (~1 ms per
        # file locally, far more against an object store): serial it is
        # O(≤n_buckets) per commit — negligible at 32 buckets but a
        # 1–4 s/batch serial tax at the 1k–4k buckets a 100 TB table
        # wants. IO-bound → a thread pool collapses it to ~max latency.
        from concurrent.futures import ThreadPoolExecutor

        moves: list[tuple[str, str, int]] = []
        for d in sorted(os.listdir(stage)):
            if not d.startswith(f"{BUCKET_COL}="):
                continue
            b = int(d.split("=", 1)[1])
            dest = os.path.join(self._data_dir, f"bucket={b}")
            os.makedirs(dest, exist_ok=True)
            for fn in sorted(os.listdir(os.path.join(stage, d))):
                if fn.endswith(".parquet"):
                    moves.append((os.path.join(stage, d, fn), dest, b))

        def _move(job: tuple[str, str, int]) -> dict:
            src, dest, b = job
            abs_path = os.path.join(
                dest, f"part-{uuid.uuid4().hex}.parquet")
            os.replace(src, abs_path)
            md = pq.read_metadata(abs_path)
            return {
                "path": os.path.relpath(abs_path, self.path),
                "bucket": b,
                "schema_id": schema_id,
                "kind": kind,
                "rows": md.num_rows,
                "has_tombstones": _has_tombstones(md),
                "stats": _entry_stats(md),
            }

        with ThreadPoolExecutor(max_workers=32) as ex:
            new_entries = list(ex.map(_move, moves))
        # deterministic manifest order regardless of completion order
        new_entries.sort(key=lambda e: (e["bucket"], e["path"]))
        shutil.rmtree(stage, ignore_errors=True)
        return new_entries

    def _next_schema(
        self, new_schema: T.StructType | None
    ) -> tuple[T.StructType, int, dict]:
        public = new_schema or self.schema
        schema_id = self.snapshot["schema_id"]
        schemas = dict(self.snapshot["schemas"])
        if new_schema is not None and not schemas_equal(new_schema, self.schema):
            schema_id += 1
            schemas[str(schema_id)] = json.loads(new_schema.json())
        return public, schema_id, schemas

    def _kept_manifests(self, replaced: set[str]) -> list[str]:
        """Segments with every entry whose path is in ``replaced`` removed:
        untouched segments are kept by NAME (no rewrite); touched ones are
        rewritten without the dropped entries (dropped entirely when
        emptied). Path-granular on purpose: when a copy-on-write commit
        rebases onto a concurrent append, delta files the other writer added
        to the same buckets must SURVIVE the rewrite — only the exact files
        this writer read and replaced are dropped. Raises CommitConflict if
        any replaced file is no longer referenced (a concurrent rewrite beat
        us to it — our staged replacement is stale); the check runs before
        any segment is rewritten, so an abort leaves no new segment behind."""
        segs = [(m, _load_manifest(self._meta_dir, m))
                for m in self.manifests]
        found = {e["path"] for _, entries in segs for e in entries
                 if e["path"] in replaced}
        if found != replaced:
            raise CommitConflict(
                f"{len(replaced - found)} replaced file(s) no longer "
                "referenced by the current snapshot (concurrent rewrite); "
                "stale copy-on-write commit aborted")
        kept: list[str] = []
        for m, entries in segs:
            keep = [e for e in entries if e["path"] not in replaced]
            if len(keep) == len(entries):
                kept.append(m)
            elif keep:
                kept.append(_write_manifest(self._meta_dir, keep))
        return kept

    def _rebase_guard(self, base: dict) -> None:
        """Invariants under which a lost commit race may be replayed onto the
        winner's snapshot: the staged files' layout inputs (bucket function,
        schema lineage, key columns) must be what they were when the files
        were written. A concurrent schema evolution, rebucket, or key change
        makes the staged bytes unrebaseable → CommitConflict (caller redoes
        the write against the fresh snapshot)."""
        cur = self.snapshot
        same = (cur["schema_id"] == base["schema_id"]
                and cur["n_buckets"] == base["n_buckets"]
                and cur["bucket_by"] == base["bucket_by"]
                and cur["key_cols"] == base["key_cols"])
        if not same:
            raise CommitConflict(
                "concurrent commit changed table layout (schema/bucketing/"
                "keys); staged files cannot be rebased — restage against "
                f"v{cur['version']}")

    def _commit(self, summary: dict | None = None,
                staged: list[dict] | None = None, rebase=None,
                **props) -> "LakeTable":
        """The one optimistic snapshot commit every writer goes through.

        Each attempt copies the current snapshot, stamps version, parent and
        ``created_ms``, points ``manifests`` at the base segments plus one new
        segment holding ``staged``, merges ``summary`` (:func:`_merge_summary`)
        and sets ``props`` (snapshot keys such as ``schema_id`` or
        ``n_buckets``; ``None`` removes the key), then links it
        (:func:`_write_snapshot`).

        A lost link race refreshes to the winner and retries with jittered
        backoff, up to ``_MAX_COMMIT_RETRIES``. A metadata-only commit
        (``staged is None``) replays onto the winner's segments. A data
        commit revalidates layout (:meth:`_rebase_guard`) and recomputes its
        base segments with ``rebase`` (zero-arg → segment list, also the
        first attempt's base), re-pointing the SAME new segment — the staged
        data files are never rewritten, so ingest and maintenance interleave
        without either redoing a Spark job. A data commit without ``rebase``
        (:meth:`rebucket`'s full rewrite) aborts on its first conflict.

        On a terminal CommitConflict, and only then, the staged data files
        and every segment this commit wrote are deleted before re-raising:
        no snapshot references them. Any other exception (a crash) leaves
        them for :meth:`vacuum`. Once the link succeeded, only the segments
        that earlier, lost attempts wrote and the committed snapshot does
        not list are deleted (a copy-on-write rebase rewrites the touched
        segments on every attempt); no snapshot ever referenced them."""
        base_snap = self.snapshot
        ours: set[str] = set()  # segments no committed snapshot references
        try:
            if self._pinned:
                raise CommitConflict(
                    "time-travel handle is read-only (pinned snapshot)")
            new = [_write_manifest(self._meta_dir, staged)] if staged else []
            ours.update(new)
            base = (self.manifests if staged is None
                    else rebase() if rebase else [])
            for attempt in range(_MAX_COMMIT_RETRIES + 1):
                snap = dict(self.snapshot)
                snap.update(version=self.version + 1, parent=self.version,
                            created_ms=int(time.time() * 1000),
                            manifests=base + new,
                            summary=_merge_summary(self.summary, summary))
                for k, v in props.items():
                    if v is None:
                        snap.pop(k, None)
                    else:
                        snap[k] = v
                if len(snap["manifests"]) > _MANIFEST_FOLD_THRESHOLD:
                    snap["manifests"] = [_write_manifest(
                        self._meta_dir, _files_of(self._meta_dir, snap))]
                ours |= {*base, *snap["manifests"]} - set(self.manifests)
                try:
                    _write_snapshot(self._meta_dir, snap)
                    break
                except CommitConflict:
                    if (attempt == _MAX_COMMIT_RETRIES
                            or (staged is not None and rebase is None)):
                        raise
                _commit_backoff(attempt)
                self.refresh()  # load the winner, then replay onto it
                if staged is None:
                    base = self.manifests
                else:
                    self._rebase_guard(base_snap)
                    base = rebase()
        except CommitConflict:
            self.discard_staged(staged or [])
            _remove_segments(self._meta_dir, ours)
            raise
        _remove_segments(self._meta_dir, ours - set(snap["manifests"]))
        return self.refresh()

    def stage_delta(
        self,
        winners_df: DataFrame,
        new_schema: T.StructType | None = None,
        write_salt: int = 1,
    ) -> tuple[list[dict], int, dict]:
        """First half of :meth:`append_delta`: run the write job and land the
        delta files in ``data/`` WITHOUT committing a snapshot. Returns
        ``(entries, schema_id, schemas)`` for :meth:`commit_delta`. Until that
        commit the files are unreferenced (invisible to readers, reclaimable
        by :meth:`vacuum`), so a caller may still abandon the stage with
        :meth:`discard_staged` at no cost."""
        public, schema_id, schemas = self._next_schema(new_schema)
        entries = self._stage_write(winners_df, public, schema_id, "delta",
                                    write_salt=write_salt)
        return entries, schema_id, schemas

    def commit_delta(
        self,
        entries: list[dict],
        schema_id: int,
        schemas: dict,
        summary: dict | None = None,
    ) -> "LakeTable":
        """Second half of :meth:`append_delta`: snapshot-commit staged files
        through :meth:`_commit`. Metadata cost is O(batch): one new manifest
        segment holding exactly the staged entries; existing segments are
        referenced by name.

        Concurrent-writer safe: an append that loses the snapshot race to a
        maintenance commit (compaction, tombstone expiry) rebases onto the
        winner — appends are always rebaseable while the table layout is
        unchanged, so a streaming ingest never stops for maintenance. An
        unrebaseable loss (layout change, retries exhausted) raises
        CommitConflict after the commit loop deleted the staged files.
        Concurrent INGEST writers (multi-source fan-in) are also sound when
        each stream owns a DISJOINT set of source-partition ids: the summary
        merge takes the per-partition max of ``applied_offsets``
        (:func:`_merge_summary`), so a stale loser never regresses another
        stream's high-water marks. Two streams sharing a partition id remain
        unsupported — they would interleave one offset sequence."""
        self._commit(dict(summary or {}, operation="append_delta"),
                     staged=entries, rebase=lambda: self.manifests,
                     schema_id=schema_id, schemas=schemas)
        self.last_new_entries = entries
        return self

    def discard_staged(self, entries: list[dict]) -> None:
        """Drop files from an abandoned :meth:`stage_delta` (no snapshot ever
        referenced them, so plain unlinks suffice)."""
        for e in entries:
            try:
                os.remove(os.path.join(self.path, e["path"]))
            except FileNotFoundError:
                pass

    def append_delta(
        self,
        winners_df: DataFrame,
        new_schema: T.StructType | None = None,
        summary: dict | None = None,
        write_salt: int = 1,
    ) -> "LakeTable":
        """Merge-on-read upsert commit: append per-batch LWW winners (internal
        schema + ``_bucket``) as delta files. Never reads existing data —
        ingest cost is O(batch). ``summary['applied_offsets']`` must be the
        full updated map (the exactly-once source of truth)."""
        entries, schema_id, schemas = self.stage_delta(
            winners_df, new_schema=new_schema, write_salt=write_salt)
        return self.commit_delta(entries, schema_id, schemas, summary)

    def overwrite_buckets(
        self,
        state_df: DataFrame,
        touched_buckets: set[int],
        new_schema: T.StructType | None = None,
        summary: dict | None = None,
        cluster_by: list[str] | None = None,
        split: int = 1,
    ) -> "LakeTable":
        """Copy-on-write commit: replace every file of ``touched_buckets`` with
        the rows of ``state_df`` as base files; untouched buckets keep their
        existing files (no IO). Used by compaction and bulk loads.

        Concurrent-writer safe (Iceberg RewriteFiles semantics): the commit
        replaces exactly the files read when the rewrite was planned; losing
        the race to a concurrent APPEND rebases — the appended delta files
        survive (merge-on-read LWW re-reduces them over the new base, and LWW
        is order-insensitive under its total-order tiebreak, so
        ``LWW(base′ ∪ delta) == LWW(old ∪ delta)``). Losing to a concurrent
        REWRITE of any replaced file aborts with CommitConflict: the staged
        result folded state that no longer exists, so the commit loop
        (:meth:`_commit`) deletes it before raising."""
        replaced = {
            e["path"] for e in self.files if e["bucket"] in touched_buckets
        }
        public, schema_id, schemas = self._next_schema(new_schema)
        entries = self._stage_write(state_df, public, schema_id, "base",
                                    cluster_by=cluster_by, split=split)
        self._commit(dict(summary or {}, operation="overwrite_buckets"),
                     staged=entries,
                     rebase=lambda: self._kept_manifests(replaced),
                     schema_id=schema_id, schemas=schemas)
        self.last_new_entries = entries
        return self

    def compact(self, buckets: set[int] | None = None,
                cluster_by: list[str] | None = None,
                split: int = 1) -> "LakeTable":
        """Fold delta files into fresh base files (one LWW-reduced row per key).
        Tombstones are retained — they guard against late, older updates
        resurrecting deleted keys; drop them with :meth:`expire_tombstones`.

        ``cluster_by`` sorts each bucket's rows by the given columns and
        ``split`` range-splits each bucket into that many files with tight
        per-file min/max stats (recorded in the manifest) — the layout
        :meth:`read_range` skips against. An EXPLICIT clustering compaction
        targets every bucket holding files (not just delta-bearing ones), so
        it also re-clusters an already-compacted table. When the table
        carries a persistent spec (:meth:`set_clustering`) and no explicit
        ``cluster_by`` is given, the spec shapes whatever buckets are being
        rewritten anyway — amortized incremental re-clustering that keeps
        auto-compaction O(churned buckets), never O(table)."""
        explicit = cluster_by is not None
        if not explicit and self.clustering is not None:
            cluster_by, split = self.clustering
        delta_buckets = {
            e["bucket"] for e in self.files if e["kind"] == "delta"
        }
        pool = ({e["bucket"] for e in self.files} if explicit
                else delta_buckets)
        target = pool if buckets is None else (pool & buckets)
        if not target:
            return self
        state = self.read(buckets=target, internal=True).withColumn(
            BUCKET_COL, self.bucket_expr()
        )
        return self.overwrite_buckets(state, target,
                                      cluster_by=cluster_by, split=split)

    def rebucket(self, n_buckets: int) -> "LakeTable":
        """Partition evolution: rewrite the table into ``n_buckets`` hash
        buckets. The bucket count chosen at create time stops fitting once a
        table grows 100× — too few buckets caps write/read parallelism and
        fattens each pruning unit. This is the one deliberately O(table)
        maintenance job (like Iceberg's rewrite with a new partition spec);
        the new bucket function takes effect atomically at the commit, so
        concurrent readers keep a consistent old snapshot and the next CDC
        batch routes by the new count via :meth:`bucket_expr`. Tombstones are
        preserved. Old files become unreferenced history, reclaimed by
        :meth:`expire_snapshots` + :meth:`vacuum`. A full rewrite cannot
        rebase: losing the commit race raises CommitConflict, and the
        rewrite is deleted before the raise (re-plan from a fresh handle)."""
        if n_buckets < 1:
            raise ValueError("n_buckets must be >= 1")
        if n_buckets == self.n_buckets:
            return self
        state = self.read(internal=True).withColumn(
            BUCKET_COL, self.bucket_expr(n_buckets=n_buckets))
        entries = self._stage_write(state, self.schema,
                                    self.snapshot["schema_id"], "base",
                                    n_buckets=n_buckets)
        return self._commit({"operation": "rebucket"}, staged=entries,
                            n_buckets=n_buckets)

    def expire_tombstones(self, older_than_ts: str) -> "LakeTable":
        """Maintenance: drop tombstones with ``ts < older_than_ts`` (a
        watermark: only safe once no in-flight event can be older); newer
        tombstones are kept.

        Rewrites ONLY buckets whose files may contain tombstones — tracked
        per file at write time from the parquet ``_deleted`` column statistics
        (footer metadata, no data IO). At table scale this is the difference
        between a maintenance pass costing O(deleted keys' buckets) and a full
        table rewrite (VERDICT r01 scale note)."""
        tomb_buckets = {e["bucket"] for e in self.files if e["has_tombstones"]}
        if not tomb_buckets:
            return self
        state = self.read(buckets=tomb_buckets, internal=True).filter(
            (~F.col("_deleted")) | (F.col("ts") >= F.lit(older_than_ts).cast("timestamp"))
        )
        state = state.withColumn(BUCKET_COL, self.bucket_expr())
        return self.overwrite_buckets(state, tomb_buckets)

    def expire_snapshots(self, keep_last: int = 10) -> list[int]:
        """Maintenance: drop snapshot metadata older than the newest
        ``keep_last`` versions (the current snapshot is always kept). Time
        travel and ``changes()`` below the oldest retained version stop
        working, by design; the data files those snapshots referenced become
        unreferenced and are reclaimed by :meth:`vacuum`. Returns the expired
        version numbers."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        cutoff = self.version - keep_last + 1
        expired = []
        for fn in os.listdir(self._meta_dir):
            if not (fn.startswith("v") and fn.endswith(".json")):
                continue
            v = int(fn[1:-5])
            if v < cutoff:
                os.remove(os.path.join(self._meta_dir, fn))
                expired.append(v)
        return sorted(expired)

    def vacuum(self, grace_seconds: float = 3600.0) -> dict[str, int]:
        """Garbage-collect files no retained snapshot references: staging dirs
        and data files stranded by a crash between staging and commit, plus
        files whose every referencing snapshot was expired. ``grace_seconds``
        of mtime age protects a concurrent writer's just-staged files (its
        snapshot commit may land after our listing). Driver-side metadata +
        listing only — no data IO, no Spark job. Also garbage-collects
        manifest segments (``m-*.json``) no retained snapshot references —
        orphaned by expired snapshots or a crash between segment write and
        snapshot commit."""
        now = time.time()
        referenced: set[str] = set()
        live_manifests: set[str] = set()
        for fn in os.listdir(self._meta_dir):
            if fn.startswith("v") and fn.endswith(".json"):
                snap = _read_snapshot(self._meta_dir, int(fn[1:-5]))
                live_manifests |= set(snap["manifests"])
                referenced |= {e["path"]
                               for e in _files_of(self._meta_dir, snap)}
            elif fn.startswith(".v") and fn.endswith(".tmp"):
                p = os.path.join(self._meta_dir, fn)
                if now - os.path.getmtime(p) >= grace_seconds:
                    # crash-orphaned link-commit tmp files age out
                    try:
                        os.remove(p)
                    except FileNotFoundError:
                        pass
        removed = {"data_files": 0, "staging_dirs": 0, "manifests": 0}
        for fn in os.listdir(self._meta_dir):
            if (fn.startswith("m-") and fn.endswith(".json")
                    and fn not in live_manifests):
                p = os.path.join(self._meta_dir, fn)
                if now - os.path.getmtime(p) >= grace_seconds:
                    os.remove(p)
                    _MANIFEST_CACHE.pop(p, None)
                    removed["manifests"] += 1
        stage_root = os.path.join(self.path, "_staging")
        if os.path.isdir(stage_root):
            for d in os.listdir(stage_root):
                p = os.path.join(stage_root, d)
                if now - os.path.getmtime(p) >= grace_seconds:
                    shutil.rmtree(p, ignore_errors=True)
                    removed["staging_dirs"] += 1
        if os.path.isdir(self._data_dir):
            for bdir in os.listdir(self._data_dir):
                bpath = os.path.join(self._data_dir, bdir)
                if not os.path.isdir(bpath):
                    continue
                for fn in os.listdir(bpath):
                    abs_path = os.path.join(bpath, fn)
                    rel = os.path.relpath(abs_path, self.path)
                    if (rel not in referenced
                            and now - os.path.getmtime(abs_path) >= grace_seconds):
                        os.remove(abs_path)
                        removed["data_files"] += 1
        return removed

    def commit_summary(self, summary: dict) -> "LakeTable":
        """Metadata-only commit (e.g. marking a batch applied with zero rows).
        Nothing is staged, so a lost race simply replays the summary update
        onto the winner's snapshot."""
        return self._commit(summary)

    def set_clustering(self, cluster_by: list[str] | None,
                       split: int = 4) -> "LakeTable":
        """Declare the table's persistent clustering spec (Iceberg sort-order
        analogue): EVERY subsequent compaction — explicit, ``maybe_compact``,
        or the replay loop's auto-compaction — lays rewritten buckets out
        sorted by ``cluster_by`` and range-split into ``split`` files with
        tight per-file stats, so :meth:`read_range` keeps skipping as the
        table churns instead of de-clustering one compaction at a time.
        Metadata-only commit; pass ``cluster_by=None`` to clear. Takes
        effect at the next rewrite (run :meth:`compact` to apply now)."""
        if cluster_by is not None:
            missing = [c for c in cluster_by
                       if c not in {f.name for f in self.schema.fields}]
            if missing:
                raise ValueError(f"cluster columns not in schema: {missing}")
            return self._commit(cluster_by=list(cluster_by),
                                cluster_split=int(split))
        return self._commit(cluster_by=None, cluster_split=None)

    @property
    def clustering(self) -> tuple[list[str], int] | None:
        spec = self.snapshot.get("cluster_by")
        return (spec, int(self.snapshot.get("cluster_split", 1))) if spec else None


def _merge_summary(current: dict, update: dict | None) -> dict:
    """Commit-summary merge: plain keys overwrite, but ``applied_offsets``
    merges per-partition with max. This is what makes MULTI-SOURCE fan-in
    sound: each change stream owns a disjoint set of source-partition ids
    and commits the high-water marks it advanced; when its commit rebases
    onto a concurrent commit from another stream, a wholesale overwrite
    would REGRESS the other stream's marks (stale view) and re-apply its
    events on restart. Per-partition max is exact for disjoint owners, and
    monotone-safe even for a shared partition (offsets are applied in
    order, so the larger mark is always the true high-water mark)."""
    out = dict(current)
    if not update:
        return out
    for k, v in update.items():
        if k == "applied_offsets" and isinstance(v, dict):
            merged_off = dict(out.get("applied_offsets") or {})
            for p, o in v.items():
                prev = merged_off.get(p)
                merged_off[p] = o if prev is None else max(int(prev), int(o))
            out[k] = merged_off
        else:
            out[k] = v
    return out


def _entry_stats(md) -> dict:
    """Per-file column min/max from parquet row-group statistics (footer
    metadata we already hold for the tombstone probe — no data IO), JSON-
    canonicalized for the manifest entry: timestamps → ISO-8601 strings
    (zero-padded, so lexicographic order == chronological), ints/floats/strs
    as-is; bytes/bool/nested skipped. Parquet statistics are BOUNDS (writers
    may truncate long binary values conservatively), so pruning with them is
    sound but never assumed exact. Columns whose stats are absent are simply
    missing from the dict — readers must treat that as "may contain
    anything"."""
    out: dict[str, list] = {}
    names = md.schema.names
    for i, name in enumerate(names):
        if name.startswith("_"):
            continue  # internal stamp/flag columns: never a user predicate
        lo = hi = None
        ok = True
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(i).statistics
            if st is None or not st.has_min_max:
                ok = False
                break
            mn, mx = st.min, st.max
            if isinstance(mn, bytes) or isinstance(mn, bool):
                ok = False
                break
            if hasattr(mn, "isoformat"):
                mn, mx = mn.isoformat(), mx.isoformat()
            lo = mn if lo is None else min(lo, mn)
            hi = mx if hi is None else max(hi, mx)
        if ok and lo is not None:
            out[name] = [lo, hi]
    return out


def _has_tombstones(md) -> bool:
    """Whether a staged file may hold ``_deleted=true`` rows, from parquet
    row-group statistics only (no data IO). Missing stats → conservative
    True."""
    try:
        idx = md.schema.names.index("_deleted")
    except ValueError:
        return True
    for rg in range(md.num_row_groups):
        st = md.row_group(rg).column(idx).statistics
        if st is None or st.max is None or st.max:
            return True
    return False


def _align(df: DataFrame, target: T.StructType, fill: bool = True) -> DataFrame:
    """Project ``df`` (written schema) onto ``target``: add missing columns as
    NULL (``fill=False``: raise instead), cast widened columns, drop the
    rest. Pure projection — no shuffle — built with :func:`select_sql`, so
    its Py4J cost does not grow with the column count."""
    have = {f.name: f.dataType for f in df.schema.fields}
    missing = [f.name for f in target.fields if f.name not in have]
    if missing and not fill:
        raise ValueError(f"columns {missing} are missing from the data to write")
    cols = []
    for f in target.fields:
        if f.name not in have:
            cols.append(f"CAST(NULL AS {f.dataType.simpleString()}) AS `{f.name}`")
        elif have[f.name] != f.dataType:
            cols.append(f"CAST(`{f.name}` AS {f.dataType.simpleString()}) AS `{f.name}`")
        else:
            cols.append(f"`{f.name}`")
    return select_sql(df, cols)


def select_sql(df: DataFrame, exprs: list[str]) -> DataFrame:
    """``df.selectExpr(*exprs)`` in a fixed number of Py4J calls. PySpark
    ships a list argument to the JVM one element per call, so a wide
    ``selectExpr`` costs a round trip per column; packing the expressions
    into ONE ``struct(...)`` string and expanding it costs two one-string
    ``selectExpr`` calls (12 Py4J commands) at any width. The optimizer collapses the two projections and folds each
    ``struct(...).field`` back to its expression (``CollapseProject`` +
    ``SimplifyExtractValueOps``), so the optimized plan is the flat
    projection."""
    return (df.selectExpr(f"struct({', '.join(exprs)}) AS `_select_sql`")
            .selectExpr("`_select_sql`.*"))


def _write_snapshot(meta_dir: str, snap: dict) -> None:
    """Atomic commit point: the snapshot is fully written and fsynced to a
    hidden tmp file, then ``os.link``ed to its ``v{N}.json`` name — EEXIST
    IS the conflict signal, and the commit name only ever appears with
    complete content, so torn snapshots cannot exist."""
    path = os.path.join(meta_dir, f"v{snap['version']}.json")
    tmp = os.path.join(meta_dir, f".v{snap['version']}.{uuid.uuid4().hex}.tmp")
    with open(tmp, "w") as f:
        json.dump(snap, f)
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, path)
    except FileExistsError as e:
        os.remove(tmp)
        raise CommitConflict(f"snapshot v{snap['version']} already exists") from e
    except FileNotFoundError as e:
        # a concurrent vacuum reclaimed the tmp past its grace (a writer
        # paused that long): nothing was committed, so retake the commit
        raise CommitConflict(
            f"snapshot tmp for v{snap['version']} vanished before its link "
            "(reclaimed by a concurrent vacuum)") from e
    except OSError as e:
        try:
            os.remove(tmp)
        except FileNotFoundError:
            pass
        raise OSError(
            e.errno,
            f"snapshot commit needs hardlinks, but os.link failed in "
            f"{meta_dir} — the filesystem lacks hardlinks (or refuses them): "
            f"{e.strerror}") from e
    os.remove(tmp)
    tmp = os.path.join(meta_dir, f".hint.{uuid.uuid4().hex}")
    with open(tmp, "w") as f:
        f.write(str(snap["version"]))
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, os.path.join(meta_dir, "version-hint.txt"))
