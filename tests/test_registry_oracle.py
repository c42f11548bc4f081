"""Pre-flight for the driver's correctness gate: run every oracle'd registry
query on Spark AND DuckDB at sf0.01 and compare row count + values exactly
(columns sorted by name, rows sorted — the driver's order-insensitive hash)."""

from __future__ import annotations

import os

import duckdb
import pandas as pd
import pytest

from mimic_iv_etl_spark import registry
from tests.util import _janino_compiles, jobs_started

SF = "/root/testdata/sf0.01"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

ORACLED = sorted(registry.oracle_sql().keys())
ROWS_ONLY = sorted(set(registry.queries()) - set(ORACLED))


def _duck_run(sql: str) -> pd.DataFrame:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    return con.execute(sql).df()


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(9)
        elif df[c].dtype == object:
            df[c] = df[c].where(pd.notna(df[c]), None)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


@pytest.mark.parametrize("name", ORACLED)
def test_query_matches_oracle(spark, name):
    e = registry.REGISTRY[name]
    got = _canon(e.fn(spark, SF).toPandas())
    want = _canon(_duck_run(e.oracle))
    assert len(got) == len(want), f"{name}: rows {len(got)} != {len(want)}"
    assert list(got.columns) == list(want.columns), f"{name}: columns differ"
    pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True,
                                  obj=name)


def test_no_rows_only_entries_remain():
    """Since round 4 every entry carries an oracle (derived constructions
    for the hash/ANN family) — a rows-only entry would silently weaken the
    driver gate."""
    assert ROWS_ONLY == []


def test_ann_oracle_tie_margins_clear_epsilon():
    """ADVICE r04: the derived LSH/IVF oracles assume Spark and DuckDB agree
    on (a) the SIGN of every hyperplane·vector dot (bucket bits), (b) the
    argmax centroid-cosine cell assignment and the n_probe cell ranking, and
    (c) the 1e-6 score rounding. Different summation order between engines
    perturbs a float64 dot at ~1e-15 relative — so the gate is only sound if
    every such margin clears a far larger epsilon on the gate corpora.
    Measured margins are all > 1e-5; assert > 1e-9 at both gate SFs so no
    unlucky near-tie can ever flip the gate spuriously."""
    import numpy as np

    from mimic_iv_etl_spark.registry import _IVF_CENTROID_IDS, _lsh_planes

    eps = 1e-9
    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        con = duckdb.connect()
        emb = con.execute(
            f"select vec_id, embedding from '{sf}/embeddings.parquet' "
            "order by vec_id").df()
        V = np.array(emb["embedding"].tolist(), dtype=np.float64)
        ids = emb["vec_id"].to_numpy()
        # (a) signature dot signs
        P = np.array(_lsh_planes(), dtype=np.float64)
        assert np.abs(V @ P.T).min() > eps, sf
        # (b) cell-assignment and probe-rank gaps (exact ties are fine —
        # both engines break them on the centroid id deterministically)
        C = V[np.isin(ids, _IVF_CENTROID_IDS)]
        cos = (V @ C.T) / np.outer(np.linalg.norm(V, axis=1),
                                   np.linalg.norm(C, axis=1))
        s = np.sort(cos, axis=1)
        for gap in (s[:, -1] - s[:, -2], s[:, -2] - s[:, -3]):
            assert ((gap > eps) | (gap == 0)).all(), sf
        # (c) 1e-6 rounding boundaries for the query-corpus scores
        q = V[ids < 20]
        qc = (q @ V.T) / np.outer(np.linalg.norm(q, axis=1),
                                  np.linalg.norm(V, axis=1))
        frac = np.abs(qc * 1e6 - np.floor(qc * 1e6) - 0.5)
        assert frac.min() > eps, sf


def test_registry_holds_exactly_fifty_oracled_entries():
    """Entry-budget discipline (VERDICT r03 item 1): the driver's correctness
    gate records the FIRST 50 (query, oracle) pairs in registry order — more
    entries silently rotate the tail out of the gate, fewer waste coverage.
    Every entry must carry an oracle (no rows-only waivers)."""
    assert len(registry.oracle_sql()) == 50
    assert len(registry.queries()) == 50


def test_scaled_features_moments_read_lineitem_unspread(spark, monkeypatch):
    """The z-score moments are one global float64 aggregate; an id-hash
    spread of its input reorders the partial-sum merge and can flip the
    rounded z-scores vs the oracle's sequential scan (the hazard that
    already flipped group_stats). With every scan forced to qualify for the
    spread, the moment aggregate's input must still carry no repartition on
    l_orderkey."""
    footer = registry._scan_footer
    monkeypatch.setattr(registry, "_scan_footer",
                        lambda path: (footer(path)[0], 1, 0))
    df = registry.queries()["scaled_features"](spark, SF)
    plan = df._jdf.queryExecution().analyzed().toString()
    spreads = [ln for ln in plan.splitlines()
               if "RepartitionByExpression" in ln and "l_orderkey" in ln]
    assert not spreads, plan


# Entries whose construction runs Spark jobs, each with the reason. Every
# other entry must build its DataFrame without starting a job.
BUILD_JOBS_ALLOWED = {
    "ivf_ann": "collects the pinned centroid vectors to the driver",
    "embedding_near_dups": "counts the corpus up front to refuse an "
                           "over-cap O(n²) cross join (max_rows)",
    "csv_roundtrip": "writes the CSV it then reads back",
}


@pytest.mark.parametrize("name", sorted(registry.REGISTRY))
def test_registry_build_starts_no_spark_job(spark, name):
    """Building a registry query is plan construction only: ``fn()`` starts
    no Spark job (no schema-inference read, no eager action), except for
    the allow-listed entries, which must still start one — so the list
    stays exact and an entry that turns lazy comes off it. The measured
    build is the second one: a first call may still materialize a generated
    fixture (``cdc_replay`` replays its log into a fresh table)."""
    registry.REGISTRY[name].fn(spark, SF)
    before = jobs_started(spark)
    registry.REGISTRY[name].fn(spark, SF)
    started = jobs_started(spark) - before
    if name in BUILD_JOBS_ALLOWED:
        assert started > 0, f"{name} now builds lazily: drop it from the list"
    else:
        assert started == 0, f"{name}: {started} Spark job(s) while building"


@pytest.mark.parametrize(
    "name", ["ngram_jaccard_pairs", "minhash_near_dups", "simhash_near_dups"])
def test_near_dup_plans_keep_lineage_to_parquet(spark, name):
    """The near-dup verify plans are lazy all the way down: no
    lineage-truncated ``LogicalRDD`` (a checkpoint or a materialized
    frame) anywhere in the logical plan, whose leaves are the parquet
    scans, so a lost executor's blocks are recomputed from the files."""
    df = registry.REGISTRY[name].fn(
        spark, os.path.join(os.path.dirname(SF), "sf0.001"))
    plan = df._jdf.queryExecution().logical().toString()
    assert "LogicalRDD" not in plan, plan
    assert "Relation " in plan and "parquet" in plan, plan


def test_warm_query_pass_compiles_nothing(spark):
    """The generated-code cache holds a whole pass of the bench queries: run
    after a first pass, the same 16 queries compile no Janino class. At
    Spark's stock 100-entry cache the second pass recompiles ~210."""
    import bench

    base = os.path.join(os.path.dirname(SF), "sf0.001")

    def one_pass():
        for name in bench.BENCH_QUERIES:
            df = registry.REGISTRY[name].fn(spark, base)
            df.write.format("noop").mode("overwrite").save()

    one_pass()
    before = _janino_compiles(spark)
    one_pass()
    compiled = _janino_compiles(spark) - before
    assert compiled == 0, f"warm pass compiled {compiled} classes"


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_footer_schema_matches_spark_inference(spark, sf):
    """``_t`` hands the reader the schema mapped from the parquet footer; it
    must be exactly the schema Spark's own inference yields, table by
    table (names, types, nullability)."""
    base = os.path.join(os.path.dirname(SF), sf)
    for t in TABLES:
        path = f"{base}/{t}.parquet"
        assert registry._scan_footer(path)[0] == spark.read.parquet(path).schema, t


def test_t_without_footer_falls_back_to_inference_unspread(spark, monkeypatch):
    """When pyarrow cannot read the footer (a non-local filesystem), ``_t``
    reads with Spark's inference and never spreads: same rows and schema
    as the footer-schema read, and no repartition in the plan — also for
    documents, a table whose footer-read scan does spread."""
    want = {t: registry._t(spark, SF, t) for t in ("events", "documents")}

    def unreadable(path):
        raise OSError(f"cannot open {path}")

    monkeypatch.setattr(registry, "_scan_footer", unreadable)
    for t, w in want.items():
        got = registry._t(spark, SF, t)
        assert got.schema == w.schema, t
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, w.collect()))
        plan = got._jdf.queryExecution().analyzed().toString()
        assert "RepartitionByExpression" not in plan, plan


def test_t_spreads_only_text_and_vector_tables(spark, monkeypatch):
    """Spread is a property of the table: with every footer reporting one
    row group and no bytes (so every read qualifies), only the documents
    and embeddings reads carry a repartition; every relational read stays
    a plain scan."""
    footer = registry._scan_footer
    monkeypatch.setattr(registry, "_scan_footer",
                        lambda path: (footer(path)[0], 1, 0))
    for t in TABLES:
        plan = registry._t(spark, SF, t)._jdf.queryExecution().analyzed()
        spread = "RepartitionByExpression" in plan.toString()
        assert spread == (t in ("documents", "embeddings")), (t, plan)
