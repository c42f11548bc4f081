"""The ``query_suite`` workload: 16 registry queries over seeded tables.

Each query is built with ``registry.REGISTRY[name].fn(spark, data_dir)`` and
executed into Spark's ``noop`` sink, so neither driver transfer nor a real
write is timed. Plan construction (Py4J calls, analysis, and any job a
builder runs eagerly) is timed apart from execution. No ingest runs here:
this workload exercises ``registry`` and ``operators`` only.

The warm-up pass collects every result with ``toPandas``; after the timed
passes those results are compared with each entry's DuckDB oracle, in the
order-insensitive canonical form of tests/test_registry_oracle.py.
"""

from __future__ import annotations

import random
import time

import numpy as np
import pandas as pd

import datagen

# bench.py's BENCH_QUERIES
QUERIES = [
    "tpch_q1", "order_revenue", "frequency", "group_stats", "latest_per_key",
    "lww_state", "event_windows", "topk_per_group", "readmission_pipeline",
    "scaled_features", "exact_dedup", "minhash_near_dups",
    "simhash_near_dups", "cosine_topk", "token_count", "quality_score",
]
DEDUP = ("exact_dedup", "minhash_near_dups", "simhash_near_dups")
SF = 0.01

# The registry oracles of the two LSH entries are all-pairs cross joins
# (~50 s each in DuckDB at 1,000 documents). These are the same relations —
# pairs with word-n-gram Jaccard >= 0.5, rounded to 6 places before the
# threshold — evaluated through an inverted index: only pairs sharing a
# shingle are compared, and |A u B| = |A| + |B| - |A n B| for distinct sets.
_WORDS = r"string_split_regex(trim(text), '\s+')"


def _indexed_jaccard_sql(n: int, threshold: float = 0.5) -> str:
    shingles = (f"CASE WHEN len(w) < {n} THEN [array_to_string(w, ' ')] "
                f"ELSE [array_to_string(w[i:i+{n - 1}], ' ') "
                f"for i in range(1, len(w) - {n - 2})] END")
    return f"""
    WITH sh AS (SELECT doc_id, list_distinct({shingles}) AS s
                FROM (SELECT doc_id, {_WORDS} AS w FROM documents)),
         g AS (SELECT doc_id, unnest(s) AS g FROM sh),
         c AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS k
               FROM g a JOIN g b ON a.g = b.g AND a.doc_id < b.doc_id
               GROUP BY 1, 2)
    SELECT * FROM (
      SELECT c.id_a, c.id_b,
             round(c.k::DOUBLE / (len(sa.s) + len(sb.s) - c.k), 6) AS jaccard
      FROM c JOIN sh sa ON sa.doc_id = c.id_a JOIN sh sb ON sb.doc_id = c.id_b)
    WHERE jaccard >= {threshold}
    """


ORACLE_OVERRIDES = {"minhash_near_dups": _indexed_jaccard_sql(3),
                    "simhash_near_dups": _indexed_jaccard_sql(2)}

# Entries checked by a weaker property than equality, and why. simhash's
# 10 bands x 6 bits find every pair within Hamming distance 9; the registry
# measured that every >= 0.5-Jaccard pair of the 500-document test corpora
# lies within it, but a 10-word document and its copy plus " dup" can sit
# further apart; at 500-1,000 documents some seeds have one such pair.
# The check still requires every emitted pair to be an oracle pair with the
# oracle's exact Jaccard, and reports how many oracle pairs were missed.
KNOWN_EXCLUSIONS = {
    "simhash_near_dups": "LSH recall: a 10-word document and its near-"
                         "duplicate can differ in more than 9 simhash bits",
}


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Order-insensitive canonical form (tests/test_registry_oracle.py)."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(9)
        elif df[c].dtype == object:
            df[c] = df[c].where(pd.notna(df[c]), None)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def last_place(col: pd.Series) -> float:
    """One unit in the last decimal place the column's values use."""
    for d in range(10):
        if np.allclose(col, col.round(d), rtol=0.0, atol=1e-12, equal_nan=True):
            return 10.0 ** -d
    return 1e-9


def compare(got: pd.DataFrame, want: pd.DataFrame) -> tuple[bool, str]:
    """Exact equality of the canonical forms. A float that differs by one
    unit in the last place the oracle rounds to is accepted and counted:
    it is a rounding tie, which Spark (HALF_UP on the exact binary value)
    and DuckDB round differently."""
    if len(got) != len(want):
        return False, f"rows {len(got)} != {len(want)}"
    if list(got.columns) != list(want.columns):
        return False, f"columns {list(got.columns)} != {list(want.columns)}"
    try:
        pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
        return True, f"{len(got)} rows"
    except AssertionError as e:
        first = str(e).splitlines()[0][:200]
    ties = 0
    for c in want.columns:
        if pd.api.types.is_float_dtype(want[c]):
            diff = (got[c].astype(float) - want[c]).abs()
            if not (diff <= 1.01 * last_place(want[c])).all():
                return False, first
            ties += int((diff > 0).sum())
        elif not got[c].equals(want[c]):
            return False, first
    return True, f"{len(got)} rows, {ties} rounding-tie values"


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class QuerySuite:
    name = "query_suite"
    op_sites: list[str] = []  # the benchmark times each query itself
    trace_sites: list = []
    ops_per_pass = len(QUERIES)
    min_passes = 1

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.data = ctx.path("data")
        self.order = list(QUERIES)
        random.Random(ctx.seed).shuffle(self.order)
        self.results: dict[str, pd.DataFrame] = {}
        self.build_jobs: dict[str, int] = {}
        self.exclusions: dict[str, dict] = {}
        self.per_query: dict[str, list[tuple[float, float]]] = {q: [] for q in QUERIES}

    def setup(self) -> dict:
        from mimic_iv_etl_spark import registry

        t0 = time.perf_counter()
        self.rows = datagen.write_tables(self.data, SF, self.ctx.seed)
        t1 = time.perf_counter()
        for q in self.order:
            self.results[q] = registry.REGISTRY[q].fn(self.ctx.spark, self.data).toPandas()
        t2 = time.perf_counter()
        return {"inputs_gen_s": t1 - t0, "warmup_s": t2 - t1, "cold_pass_s": t2 - t1}

    def _max_job_id(self) -> int:
        ids = self.ctx.spark.sparkContext.statusTracker().getJobIdsForGroup(None)
        return max(ids, default=-1)

    def run_pass(self) -> float:
        from mimic_iv_etl_spark import registry

        ctx = self.ctx
        span = ctx.tracer.span
        traced = ctx.tracer.enabled
        total = 0.0
        for q in self.order:
            fn = registry.REGISTRY[q].fn
            jobs0 = self._max_job_id() if traced else 0
            t0 = time.perf_counter()
            with span(f"registry.{q}.build"):
                df = fn(ctx.spark, self.data)
            t1 = time.perf_counter()
            if traced:
                self.build_jobs[q] = self._max_job_id() - jobs0
            t1b = time.perf_counter()
            with span(f"registry.{q}.exec"):
                noop(df)
            t2 = time.perf_counter()
            wall = (t1 - t0) + (t2 - t1b)
            ctx.clock.seconds.append(wall)
            self.per_query[q].append((t1 - t0, t2 - t1b))
            total += wall
        return total

    def checks(self) -> None:
        import duckdb

        from mimic_iv_etl_spark import registry

        t0 = time.perf_counter()
        con = duckdb.connect()
        try:
            for t in datagen.TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{self.data}/{t}.parquet')")
            for q in QUERIES:
                sql = ORACLE_OVERRIDES.get(q, registry.REGISTRY[q].oracle)
                got, want = canon(self.results[q]), canon(con.execute(sql).df())
                if q in KNOWN_EXCLUSIONS:
                    self._check_subset(q, got, want)
                    continue
                self.ctx.check(f"oracle.{q}", *compare(got, want))
        finally:
            con.close()
        self.check_s = time.perf_counter() - t0

    def _check_subset(self, q: str, got: pd.DataFrame, want: pd.DataFrame) -> None:
        """Every emitted row is an oracle row; missed oracle rows are counted."""
        key = list(want.columns)
        both = got.merge(want, on=key, how="left", indicator=True)
        extra = int((both["_merge"] == "left_only").sum())
        missed = len(want) - (len(got) - extra)
        self.exclusions[q] = {"reason": KNOWN_EXCLUSIONS[q], "emitted": len(got),
                              "oracle": len(want), "missed": missed, "extra": extra}
        self.ctx.check(f"oracle.{q}", extra == 0 and list(got.columns) == key,
                       f"{len(got)} of {len(want)} oracle rows, {extra} extra "
                       f"(known exclusion from equality)")
