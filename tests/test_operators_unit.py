"""Hand-built-frame unit tests for individual operators."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F


def _df(spark, rows, schema):
    return spark.createDataFrame(rows, schema=schema)


def test_sessionize_gaps(spark):
    from combinedfeatureextraction_spark.operators.sessionize import sessionize

    ts = [0, 10, 20, 100, 110, 400]
    df = spark.createDataFrame(
        pd.DataFrame({"k": "a", "ts": pd.to_datetime(ts, unit="s")})
    )
    out = (
        sessionize(df, ["k"], "ts", gap_seconds=50)
        .orderBy("ts")
        .select("session_id")
        .toPandas()["session_id"]
        .tolist()
    )
    assert out == [0, 0, 0, 1, 1, 2]


def test_sessionize_boundary_equality(spark):
    """gap == gap_seconds DOES split — session_window's half-open interval
    (a session covers [start, start+gap) exclusive), so the batch labeler
    matches the streaming dual at exact-gap boundaries."""
    from combinedfeatureextraction_spark.operators.sessionize import sessionize

    df = spark.createDataFrame(
        pd.DataFrame({"k": "a", "ts": pd.to_datetime([0, 50, 99], unit="s")})
    )
    out = (
        sessionize(df, ["k"], "ts", 50)
        .orderBy("ts")
        .select("session_id")
        .toPandas()["session_id"]
        .tolist()
    )
    assert out == [0, 1, 1]


def test_forward_backward_fill(spark):
    from combinedfeatureextraction_spark.operators.fill import (
        backward_fill,
        forward_fill,
    )

    rows = [
        ("a", 1, None),
        ("a", 2, 5.0),
        ("a", 3, None),
        ("a", 4, None),
        ("a", 5, 7.0),
    ]
    df = _df(spark, rows, "k string, ts int, v double")
    out = forward_fill(df, "v", ["k"], "ts", out="f")
    out = backward_fill(out, "v", ["k"], "ts", out="b").orderBy("ts").toPandas()
    assert np.allclose(
        out["f"].values, [np.nan, 5.0, 5.0, 5.0, 7.0], equal_nan=True
    )
    assert np.allclose(out["b"].values, [5.0, 5.0, 7.0, 7.0, 7.0])


def test_distance_to_boundary_two_sided(spark):
    from combinedfeatureextraction_spark.operators.fill import distance_to_boundary

    rows = [("a", 0, 1), ("a", 10, 0), ("a", 30, 0), ("a", 100, 1), ("a", 130, 0)]
    df = _df(spark, rows, "k string, ts int, b int")
    out = (
        distance_to_boundary(df, F.col("b") == 1, ["k"], "ts", out="d")
        .orderBy("ts")
        .toPandas()["d"]
        .tolist()
    )
    assert out == [0.0, 10.0, 30.0, 0.0, 30.0]


def test_asof_broadcast_tolerance_and_strict(spark):
    """The binary-search broadcast resolution must agree with the union
    plan under tolerance_seconds and allow_exact_matches=False (the
    paths the strategy-parity test below doesn't vary)."""
    from combinedfeatureextraction_spark.operators.asof import asof_join

    rng = np.random.default_rng(11)
    probe = pd.DataFrame(
        {
            "k": rng.choice(["x", "y", "z"], 150),
            "ts": pd.to_datetime(rng.integers(0, 5_000, 150), unit="s"),
            "pid": np.arange(150),
        }
    )
    build = pd.DataFrame(
        {
            "k": rng.choice(["x", "y"], 40),
            "ts": pd.to_datetime(rng.integers(0, 5_000, 40), unit="s"),
            "v": rng.normal(size=40),
        }
    )
    p, b = spark.createDataFrame(probe), spark.createDataFrame(build)
    for kw in (
        {"tolerance_seconds": 600.0},
        {"allow_exact_matches": False},
        {"tolerance_seconds": 120.0, "allow_exact_matches": False},
    ):
        want = (
            asof_join(p, b, ["k"], "ts", "ts", ["v"], strategy="union", **kw)
            .orderBy("pid").toPandas()["v"].astype("float64").values
        )
        got = (
            asof_join(p, b, ["k"], "ts", "ts", ["v"], strategy="broadcast", **kw)
            .orderBy("pid").toPandas()["v"].astype("float64").values
        )
        assert np.allclose(got, want, equal_nan=True), kw


def test_asof_strategies_match(spark):
    from combinedfeatureextraction_spark.operators.asof import asof_join

    rng = np.random.default_rng(7)
    probe = pd.DataFrame(
        {
            "k": rng.choice(["x", "y", "z"], 200),
            "ts": pd.to_datetime(rng.integers(0, 10_000, 200), unit="s"),
            "pid": np.arange(200),
        }
    )
    build = pd.DataFrame(
        {
            "k": rng.choice(["x", "y"], 50),  # z has no build rows
            "ts": pd.to_datetime(rng.integers(0, 10_000, 50), unit="s"),
            "v": rng.normal(size=50),
        }
    )
    p = spark.createDataFrame(probe)
    b = spark.createDataFrame(build)
    base = (
        asof_join(p, b, ["k"], "ts", "ts", ["v"])
        .orderBy("pid")
        .toPandas()["v"]
        .values
    )
    for kwargs in (
        {"strategy": "cogroup"},
        {"strategy": "broadcast"},
        {"strategy": "grid"},
        {"salt": 5},
        {"salt": 3},
    ):
        other = (
            asof_join(p, b, ["k"], "ts", "ts", ["v"], **kwargs)
            .orderBy("pid")
            .toPandas()["v"]
            .values
        )
        assert np.allclose(base, other, equal_nan=True), kwargs
    # pandas reference
    want = pd.merge_asof(
        probe.sort_values("ts", kind="mergesort"),
        build.sort_values("ts", kind="mergesort"),
        on="ts",
        by="k",
        direction="backward",
    ).sort_values("pid")["v"].values
    assert np.allclose(base, want, equal_nan=True)


def test_asof_guards_fall_back_to_union(spark, monkeypatch):
    """A too-large build side must get the shuffle (union) plan — with a
    Window/sort — not a driver toPandas / executor collect_list OOM."""
    from combinedfeatureextraction_spark.operators import asof as asof_mod

    monkeypatch.setattr(asof_mod, "_GRID_MAX_BUILD", 5)
    monkeypatch.setattr(asof_mod, "_BCAST_MAX_BUILD", 5)
    probe = spark.createDataFrame(
        pd.DataFrame({"k": ["a"] * 4, "ts": pd.to_datetime([5, 15, 25, 35], unit="s"),
                      "pid": range(4)})
    )
    build = spark.createDataFrame(
        pd.DataFrame({"k": ["a"] * 10, "ts": pd.to_datetime(range(0, 100, 10), unit="s"),
                      "v": [float(x) for x in range(10)]})
    )
    for strat in ("grid", "broadcast"):
        out = asof_mod.asof_join(probe, build, ["k"], "ts", "ts", ["v"], strategy=strat)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Window" in plan, strat  # union plan signature
        got = {r["pid"]: r["v"] for r in out.collect()}
        assert got == {0: 0.0, 1: 1.0, 2: 2.0, 3: 3.0}


def test_asof_grid_dense_build_falls_back(spark):
    """>K ticks at one instant per key (minimal bucket can never satisfy
    the K cap) — grid must fall back to union, not raise."""
    from combinedfeatureextraction_spark.operators.asof import asof_join

    build = spark.createDataFrame(
        pd.DataFrame({
            "k": ["a"] * 8,
            "ts": pd.to_datetime([10] * 8, unit="s"),
            "v": [float(i) for i in range(8)],
        })
    ).orderBy("v")
    probe = spark.createDataFrame(
        pd.DataFrame({"k": ["a"], "ts": pd.to_datetime([20], unit="s")})
    )
    out = asof_join(probe, build, ["k"], "ts", "ts", ["v"], strategy="grid")
    assert out.count() == 1  # no ValueError; duplicate-ts ambiguity caller-owned


def test_asof_rejects_unknown_strategy(spark):
    from combinedfeatureextraction_spark.operators.asof import asof_join

    df = spark.createDataFrame([("a", 1)], "k string, ts int")
    with pytest.raises(ValueError):
        asof_join(df, df, ["k"], strategy="nope")


def test_last_wins_and_cascade(spark):
    from combinedfeatureextraction_spark.operators.priority import (
        last_wins,
        priority_cascade,
    )

    rows = [("a", 1, "low"), ("a", 9, "high"), ("b", 5, "only")]
    df = _df(spark, rows, "k string, prio int, tag string")
    out = last_wins(df, ["k"], [F.col("prio").desc()]).orderBy("k").toPandas()
    assert out["tag"].tolist() == ["high", "only"]

    casc = df.select(
        priority_cascade(
            [(F.col("prio") > 8, F.lit("hot")), (F.col("prio") > 3, F.lit("warm"))],
            F.lit("cold"),
        ).alias("c")
    ).toPandas()["c"]
    assert sorted(casc) == ["cold", "hot", "warm"]


def test_six_stat_matches_numpy(spark):
    from combinedfeatureextraction_spark.operators.aggregates import six_stat_agg

    rng = np.random.default_rng(3)
    pdf = pd.DataFrame(
        {"g": rng.choice(["p", "q"], 500), "x": rng.normal(10, 4, 500)}
    )
    out = (
        six_stat_agg(spark.createDataFrame(pdf), ["x"], ["g"])
        .orderBy("g")
        .toPandas()
        .set_index("g")
    )
    for g, sub in pdf.groupby("g"):
        x = sub["x"].values
        assert np.isclose(out.loc[g, "x_sum"], x.sum())
        assert np.isclose(out.loc[g, "x_mean"], x.mean())
        assert np.isclose(out.loc[g, "x_std"], x.std(ddof=0))  # population!
        assert np.isclose(out.loc[g, "x_median"], np.median(x))
        assert np.isclose(out.loc[g, "x_min"], x.min())
        assert np.isclose(out.loc[g, "x_max"], x.max())


def test_six_stat_hierarchy_backtick_feature_name(spark):
    """A backtick in a feature name is escaped in the SQL the rollup
    builds: input reference and output alias both keep the name."""
    from combinedfeatureextraction_spark.operators.aggregates import (
        six_stat_hierarchy,
    )

    feat = "a`b"
    rng = np.random.default_rng(4)
    pdf = pd.DataFrame(
        {
            "slide": rng.choice(["s1", "s2"], 200),
            "cls": rng.choice(["x", "y", "z"], 200),
            feat: rng.normal(3, 2, 200),
        }
    )
    out = six_stat_hierarchy(
        spark.createDataFrame(pdf), [feat], "slide", "cls"
    ).toPandas()
    assert [c for c in out.columns if c.startswith(feat)] == [
        f"{feat}_{s}" for s in ("sum", "mean", "std", "median", "min", "max")
    ]
    groups = list(pdf.groupby(["slide", "cls"])) + [
        ((sl, None), sub) for sl, sub in pdf.groupby("slide")
    ]
    assert len(out) == len(groups)
    for (sl, c), sub in groups:
        row = out[(out["slide"] == sl) & (
            out["cls"].isna() if c is None else out["cls"] == c
        )]
        assert len(row) == 1 and row["grouping_level"].iloc[0] == (c is None)
        x = sub[feat].values
        want = {
            "sum": x.sum(), "mean": x.mean(), "std": x.std(ddof=0),
            "median": np.median(x), "min": x.min(), "max": x.max(),
        }
        for stat, v in want.items():
            assert np.isclose(row[f"{feat}_{stat}"].iloc[0], v), (sl, c, stat)


def test_otsu_matches_numpy_reference(spark):
    from combinedfeatureextraction_spark.operators.threshold import otsu_threshold

    rng = np.random.default_rng(5)
    x = np.concatenate([rng.normal(2, 0.5, 800), rng.normal(8, 0.5, 200)])
    df = spark.createDataFrame(pd.DataFrame({"v": x}))
    t = otsu_threshold(df, "v", bins=128)
    assert 3.0 < t < 7.0  # separates the two modes


def test_word_shingles_short_and_exact(spark):
    from combinedfeatureextraction_spark.operators.dedup import word_shingles

    df = spark.createDataFrame(
        [("a b c d",), ("a b",), ("",)], "t string"
    )
    out = df.select(word_shingles("t", 3).alias("s")).toPandas()["s"].tolist()
    assert list(out[0]) == ["a b c", "b c d"]
    assert list(out[1]) == []
    assert list(out[2]) == []


def test_exact_dedup_keeps_winner(spark):
    from combinedfeatureextraction_spark.operators.dedup import exact_dedup

    rows = [(1, "same"), (2, "same"), (3, "other")]
    df = _df(spark, rows, "id long, t string")
    out = exact_dedup(df, ["t"], [F.col("id").asc()]).toPandas()
    assert sorted(out["id"]) == [1, 3]


def test_minhash_finds_planted_dup(spark):
    from combinedfeatureextraction_spark.operators.dedup import minhash_lsh_dedup

    rng = np.random.default_rng(11)
    vocab = [f"w{i}" for i in range(1000)]
    texts = [" ".join(rng.choice(vocab, 60)) for _ in range(30)]
    rows = [(i, t) for i, t in enumerate(texts)]
    # plant: doc 100 = doc 0 with one word changed
    words = texts[0].split()
    words[30] = "CHANGED"
    rows.append((100, " ".join(words)))
    df = _df(spark, rows, "id long, t string")
    out = minhash_lsh_dedup(
        df, "id", "t", n=3, num_hashes=64, bands=16, threshold=0.5
    ).toPandas()
    assert {(0, 100)} == set(zip(out["id_a"], out["id_b"]))


def test_simhash_finds_planted_dup(spark):
    """Exact duplicate (hamming 0 ≤ 3 — inside the pigeonhole guarantee)
    must be found; unrelated random docs (hamming ~64 of 128) must not."""
    from combinedfeatureextraction_spark.operators.dedup import simhash_dedup

    rng = np.random.default_rng(17)
    vocab = [f"w{i}" for i in range(1000)]
    texts = [" ".join(rng.choice(vocab, 80)) for _ in range(30)]
    rows = [(i, t) for i, t in enumerate(texts)]
    rows.append((100, texts[0]))  # exact dup of doc 0
    df = _df(spark, rows, "id long, t string")
    out = simhash_dedup(df, "id", "t", max_hamming=3).toPandas()
    assert set(zip(out["id_a"], out["id_b"])) == {(0, 100)}
    assert out["hamming"].tolist() == [0]


def test_simhash_md5_portability_contract(spark):
    """The md5 hasher's nibble→bit layout is the contract the DuckDB
    oracle replicates (nibble k bit b ↦ global bit (k//8)*32 +
    (7−k%8)*4 + b). Pin the Spark word assembly to an independent
    hashlib reference so a refactor can't silently break the oracle."""
    import hashlib

    from combinedfeatureextraction_spark.operators.dedup import _md5_word_expr

    def ref_word(s: str, first: int) -> int:
        hx = hashlib.md5(s.encode()).hexdigest()
        w = 0
        for g in range(2):  # two big-endian 8-char groups per word
            w |= int(hx[first + 8 * g : first + 8 * g + 8], 16) << (32 * g)
        return w - (1 << 64) if w >= (1 << 63) else w

    shingles = ["a b", "hello world", "x y", "θ ω", ""]
    df = spark.createDataFrame([(s,) for s in shingles], "s string")
    got = (
        df.withColumn("_m", F.md5("s"))
        .select(
            "s",
            F.expr(_md5_word_expr("_m", 0)).alias("h0"),
            F.expr(_md5_word_expr("_m", 16)).alias("h1"),
        )
        .toPandas()
    )
    for _, r in got.iterrows():
        assert r["h0"] == ref_word(r["s"], 0), r["s"]
        assert r["h1"] == ref_word(r["s"], 16), r["s"]


def test_simhash_md5_finds_planted_dup(spark):
    """The portable-hash variant preserves the operator contract: exact
    duplicate found at hamming 0, unrelated docs rejected."""
    from combinedfeatureextraction_spark.operators.dedup import simhash_dedup

    rng = np.random.default_rng(23)
    vocab = [f"w{i}" for i in range(1000)]
    texts = [" ".join(rng.choice(vocab, 80)) for _ in range(20)]
    rows = [(i, t) for i, t in enumerate(texts)]
    rows.append((100, texts[0]))
    df = _df(spark, rows, "id long, t string")
    out = simhash_dedup(df, "id", "t", max_hamming=3, hasher="md5").toPandas()
    assert set(zip(out["id_a"], out["id_b"])) == {(0, 100)}
    assert out["hamming"].tolist() == [0]


def test_simhash_banding_pigeonhole(spark):
    """The recall CONTRACT: any signature pair with hamming ≤ 3 of 128
    bits is always a candidate (≥1 clean 32-bit chunk), even with flipped
    bits placed adversarially across three different chunks."""
    from combinedfeatureextraction_spark.operators.dedup import (
        hamming128,
        simhash_candidates,
    )

    base_lo, base_hi = 0x0123456789ABCDEF, -0x7EDCBA9876543211
    flip = lambda w, b: w ^ (1 << b)  # noqa: E731
    rows = [
        (0, base_lo, base_hi),
        # 3 bits flipped in 3 DIFFERENT chunks (worst case for 4 bands)
        (1, flip(flip(base_lo, 3), 40), flip(base_hi, 7)),
        # far signature: every chunk differs
        (2, ~base_lo, ~base_hi),
    ]
    sigs = spark.createDataFrame(
        rows, "_id long, _sig_lo long, _sig_hi long"
    )
    cands = simhash_candidates(sigs).withColumn(
        "hamming",
        hamming128(
            F.col("_sig_lo_a"), F.col("_sig_hi_a"),
            F.col("_sig_lo_b"), F.col("_sig_hi_b"),
        ),
    ).toPandas()
    got = set(zip(cands["id_a"], cands["id_b"]))
    assert (0, 1) in got
    assert (0, 2) not in got and (1, 2) not in got
    assert cands.set_index(["id_a", "id_b"]).loc[(0, 1), "hamming"] == 3


def test_degenerate_bucket_capped(spark):
    """1k identical docs: candidate volume must be O(N) star edges, not
    O(N²) all-pairs — the LSH mega-bucket cap (VERDICT r1 scale hole)."""
    from combinedfeatureextraction_spark.operators.dedup import (
        hashed_shingle_sets,
        minhash_lsh_candidates_from_sets,
        simhash_dedup,
    )

    n = 1000
    rows = [(i, "the same boilerplate text repeated for every document here")
            for i in range(n)]
    df = _df(spark, rows, "id long, t string")
    sh = hashed_shingle_sets(df, "id", "t", n=3, persist=False)
    cands = minhash_lsh_candidates_from_sets(sh, 32, 8)
    c = cands.count()
    assert c == n - 1  # star: every doc links to doc 0, nothing quadratic
    assert cands.filter(F.col("id_a") == 0).count() == n - 1

    ham = simhash_dedup(df, "id", "t").count()
    assert ham == n - 1


def test_minhash_star_edges_keep_connectivity(spark):
    """Oversized bucket + clustering: all identical docs still land in ONE
    component via star edges."""
    from combinedfeatureextraction_spark.operators.dedup import dedup_clusters

    rows = [(i, "identical doc body with plenty of words to shingle over")
            for i in range(300)]
    rows += [(1000 + i, f"unique doc {i} " + " ".join(f"tok{i}_{j}" for j in range(20)))
             for i in range(5)]
    df = _df(spark, rows, "id long, t string")
    out = dedup_clusters(df, "id", "t", threshold=0.5).toPandas()
    dup = out[out["id"] < 1000]
    assert (dup["canonical_id"] == 0).all()
    uniq = out[out["id"] >= 1000]
    assert (uniq["canonical_id"] == uniq["id"]).all()


def test_brute_force_topk_self_first(spark):
    from combinedfeatureextraction_spark.operators.similarity import (
        brute_force_topk,
    )

    rng = np.random.default_rng(13)
    vecs = rng.normal(size=(50, 16)).astype(np.float32)
    pdf = pd.DataFrame({"vec_id": range(50), "embedding": list(map(list, vecs))})
    df = spark.createDataFrame(pdf)
    q = df.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = brute_force_topk(df, q, "vec_id", "embedding", k=3).toPandas()
    firsts = out[out["rank"] == 1].set_index("query_id")["vec_id"]
    assert firsts[0] == 0 and firsts[1] == 1  # self is nearest


def test_ivf_topk_recall(spark):
    """IVF with full probing (nprobe == n_lists) must equal brute force
    exactly; with partial probing the true top-1 (self) must survive."""
    from combinedfeatureextraction_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
    )

    rng = np.random.default_rng(29)
    vecs = rng.normal(size=(300, 16)).astype(np.float32)
    pdf = pd.DataFrame({"vec_id": range(300), "embedding": list(map(list, vecs))})
    df = spark.createDataFrame(pdf)
    q = df.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = brute_force_topk(df, q, "vec_id", "embedding", k=5, dim=16).toPandas()
    full = ivf_topk(
        df, q, "vec_id", "embedding", k=5, n_lists=8, nprobe=8, dim=16
    ).toPandas()
    key = ["query_id", "rank"]
    assert (
        exact.sort_values(key)[["query_id", "vec_id", "rank"]].values.tolist()
        == full.sort_values(key)[["query_id", "vec_id", "rank"]].values.tolist()
    )
    part = ivf_topk(
        df, q, "vec_id", "embedding", k=5, n_lists=8, nprobe=2, dim=16
    ).toPandas()
    firsts = part[part["rank"] == 1].set_index("query_id")["vec_id"]
    assert firsts[0] == 0 and firsts[1] == 1 and firsts[2] == 2


def test_interval_overlap_join(spark):
    from combinedfeatureextraction_spark.operators.joins import (
        interval_overlap_join,
    )

    probe = _df(spark, [("a", 5), ("a", 15), ("b", 5)], "k string, t int")
    iv = _df(spark, [("a", 0, 10, "w1"), ("a", 10, 20, "w2")],
             "k string, s int, e int, tag string")
    out = interval_overlap_join(probe, iv, ["k"], "t", "s", "e").toPandas()
    assert sorted(zip(out["t"], out["tag"])) == [(5, "w1"), (15, "w2")]


def test_capped_bucket_keeps_nonmin_pairs(spark):
    """ADVICE r2: the old cap emitted ONLY star edges to the bucket-min
    id, so true pairs between non-min members of a heterogeneous
    mega-bucket were never enumerated (and verification could reject the
    star edges, silently losing confirmed pairs). The recall-aware cap
    sub-groups by full signature: distinct signatures pair exhaustively
    up to the cap; identical signatures star to their group rep."""
    from combinedfeatureextraction_spark.operators.dedup import (
        _banded_candidates,
    )

    # one bucket of 10 members (> max_bucket=6): ids 0..3 with DISTINCT
    # signatures, ids 4..9 sharing one signature (boilerplate clones)
    rows = [(i, 1, 100 + i) for i in range(4)] + [
        (i, 1, 777) for i in range(4, 10)
    ]
    band = _df(spark, rows, "_id long, b long, s long")
    got = {
        (r["id_a"], r["id_b"])
        for r in _banded_candidates(
            band, ["b"], max_bucket=6, sig_cols=["s"]
        ).collect()
    }
    # non-min representative pairs are enumerated (the old cap lost them)
    for pair in [(1, 2), (1, 3), (2, 3)]:
        assert pair in got
    # clone group stars to its min id 4; clones stay connected through it
    for pair in [(4, 5), (4, 6), (4, 7), (4, 8), (4, 9)]:
        assert pair in got
    # rep pairs between distinct sigs and the clone rep exist
    assert (0, 4) in got and (3, 4) in got
    # candidate volume stays sub-quadratic: no clone-clone non-star pairs
    assert (5, 6) not in got and (8, 9) not in got
    # exact count: C(5,2) rep pairs + 5 within-group stars
    assert len(got) == 15


def test_minhash_recall_complete_on_driver_corpus(spark):
    """Pins the minhash_dedup ORACLE contract (see __spark_entry__):
    on the driver documents corpus + planted twins, LSH candidate recall
    is complete, so emitted pairs == the exact jaccard >= 0.5 pair set
    (computed by the exact quadratic operator). Runs at sf0.001."""
    from combinedfeatureextraction_spark.operators.dedup import (
        minhash_lsh_dedup,
        ngram_jaccard_pairs,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    mutated = docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.regexp_replace("text", r" [^ ]+$", "").alias("text"),
    )
    corpus = docs.unionByName(mutated)
    lsh = {
        (r["id_a"], r["id_b"], round(r["jaccard_sim"], 6))
        for r in minhash_lsh_dedup(
            corpus, "doc_id", "text", n=3, num_hashes=64, bands=16,
            threshold=0.5,
        ).collect()
    }
    exact = {
        (r["id_a"], r["id_b"], round(r["jaccard_sim"], 6))
        for r in ngram_jaccard_pairs(
            corpus, "doc_id", "text", n=3, threshold=0.5
        ).collect()
    }
    assert lsh == exact and len(exact) > 0


def test_simhash_planted_exact_dups_on_driver_corpus(spark):
    """Containment guarantee on the driver's own table: exact-duplicate
    texts have hamming-0 signatures, are pigeonhole-guaranteed
    candidates, and can never fail hamming verification — every planted
    twin pair must be emitted (rows-only query's planted-set oracle)."""
    from combinedfeatureextraction_spark.operators.dedup import simhash_dedup

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .limit(40)
    )
    twins = docs.select(
        (F.col("doc_id") + 5000000).alias("doc_id"), "text"
    )
    corpus = docs.unionByName(twins)
    out = simhash_dedup(corpus, "doc_id", "text", max_hamming=3, ngram=2)
    got = {(r["id_a"], r["id_b"]) for r in out.collect()}
    want = {(r["doc_id"], r["doc_id"] + 5000000) for r in docs.collect()}
    assert want <= got
    ham = {r["hamming"] for r in out.collect()}
    assert max(ham) <= 3


def test_exact_tier_guard_trips_on_oversized_block(spark):
    """r03-verdict item 7: the quadratic exact tiers refuse an input
    whose largest block exceeds max_block — unblocked and per-block —
    with the error pointing at the corpus-scale alternative; the cap is
    user-loosenable (None) and the guard passes under-cap inputs."""
    import pytest as _pytest

    from combinedfeatureextraction_spark.operators.dedup import (
        embedding_near_dup_pairs,
        ngram_jaccard_pairs,
    )

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta", i % 2) for i in range(12)],
        "doc_id long, text string, blk int",
    )
    with _pytest.raises(ValueError, match="minhash_lsh_dedup"):
        ngram_jaccard_pairs(docs, "doc_id", "text", max_block=8).count()
    with _pytest.raises(ValueError, match="O\\(n²\\)"):
        ngram_jaccard_pairs(
            docs, "doc_id", "text", block_col="blk", max_block=5
        ).count()
    # under-cap passes (each block has 6 rows <= 6)
    ngram_jaccard_pairs(
        docs, "doc_id", "text", block_col="blk", max_block=6
    ).count()
    vecs = spark.createDataFrame(
        [(i, [float(i), 1.0], 0) for i in range(9)],
        "vec_id long, embedding array<double>, blk int",
    )
    with _pytest.raises(ValueError, match="lsh_topk"):
        embedding_near_dup_pairs(vecs, "vec_id", "embedding", max_block=8).count()
    # cap disabled -> runs
    embedding_near_dup_pairs(
        vecs, "vec_id", "embedding", max_block=None
    ).count()


def test_ann_large_query_fallback_matches_broadcast(spark):
    """r03-verdict item 8: broadcast_queries=False must produce
    identical results through shuffle equi-joins (the large-probe-set
    path), and with the auto-broadcast threshold disabled its physical
    plan must contain no broadcast join at all (proving no explicit
    broadcast hint survives), while the default path keeps its
    broadcast hints regardless of the threshold."""
    from combinedfeatureextraction_spark.operators.similarity import (
        ivf_topk,
        lsh_topk,
    )

    rng = np.random.default_rng(31)
    vecs = rng.normal(size=(200, 16)).astype(np.float32)
    pdf = pd.DataFrame({"vec_id": range(200), "embedding": list(map(list, vecs))})
    df = spark.createDataFrame(pdf)
    q = df.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    key = ["query_id", "rank"]
    cols = ["query_id", "vec_id", "rank"]
    for op in (
        lambda bq: lsh_topk(
            df, q, "vec_id", "embedding", k=3, bits=4, tables=2, dim=16,
            broadcast_queries=bq,
        ),
        lambda bq: ivf_topk(
            df, q, "vec_id", "embedding", k=3, n_lists=8, nprobe=3, dim=16,
            broadcast_queries=bq,
        ),
    ):
        a = op(True).toPandas().sort_values(key)[cols].values.tolist()
        b = op(False).toPandas().sort_values(key)[cols].values.tolist()
        assert a == b
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        fb = lsh_topk(
            df, q, "vec_id", "embedding", k=3, bits=4, tables=2, dim=16,
            broadcast_queries=False,
        )
        plan_fb = fb._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan_fb
        bc = lsh_topk(
            df, q, "vec_id", "embedding", k=3, bits=4, tables=2, dim=16,
        )
        plan_bc = bc._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan_bc
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
