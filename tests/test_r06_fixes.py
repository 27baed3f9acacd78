"""Focused tests for the r06 optimization round's behavior-adjacent
changes: the ADVICE correctness fixes (non-default id_col in
masked_color_stats, bounded Huffman LUT cache, truncated-JPEG error
contract, reserved FLAC sample-rate code, negative-only grid-guard
cache) and the asof grid's cost-based fallback."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest


# ------------------------------------------------------------ color id_col

def _ppm6(w, h, pixels):
    return (f"P6\n{w} {h}\n255\n".encode()
            + bytes(v for px in pixels for v in px))


def _ppm5(w, h, vals):
    return f"P5\n{w} {h}\n255\n".encode() + bytes(vals)


def test_masked_color_stats_custom_id_col(spark):
    """ADVICE r05: the pandas output hard-coded the default 'media_id'
    column name; a caller-supplied id_col must survive the mapInPandas
    column match."""
    from combinedfeatureextraction_spark.multimodal.color import (
        masked_color_stats,
    )

    pix = [(200, 40, 10), (10, 180, 70), (30, 30, 220)]
    img = _ppm6(3, 1, pix)
    msk = _ppm5(3, 1, [255, 255, 0])
    media = spark.createDataFrame(
        pd.DataFrame({"asset_key": [7], "payload": [img],
                      "mask_payload": [msk]})
    )
    out = masked_color_stats(media, id_col="asset_key", space="rgb").collect()
    assert len(out) == 1 and out[0]["asset_key"] == 7
    assert out[0]["n_masked"] == 2


# ------------------------------------------------------- jpeg truncation

def test_jpeg_truncated_entropy_raises_valueerror():
    """ADVICE r05: a truncated entropy stream must surface as the
    documented ValueError, never an IndexError past the zero pad."""
    from combinedfeatureextraction_spark.multimodal.jpeg import (
        decode_jpeg_coeffs,
        encode_jpeg_gray_numpy,
    )

    rng = np.random.default_rng(11)
    q = rng.integers(-40, 41, size=(3, 4, 8, 8))
    payload = encode_jpeg_gray_numpy(q)
    # chop entropy bytes ahead of EOI at several depths; every outcome
    # must be a clean ValueError (truncation), not an IndexError
    for cut in (4, 16, 64):
        bad = payload[: len(payload) - 2 - cut] + b"\xff\xd9"
        with pytest.raises(ValueError):
            decode_jpeg_coeffs(bad)


def test_hufftable_cache_bounded():
    """ADVICE r05: the per-(bits, values) LUT cache must not grow without
    bound across a corpus with many distinct custom tables."""
    from combinedfeatureextraction_spark.multimodal.jpeg import _HuffTable

    _HuffTable._cache.clear()
    for i in range(_HuffTable._CACHE_MAX * 2 + 5):
        # distinct 2-code specs: one 2-bit and one 3-bit code with
        # varying values — each a unique cache key
        bits = [0, 1, 1] + [0] * 13
        values = [i % 251, (i * 7 + 1) % 251]
        _HuffTable(bits, values)
    assert len(_HuffTable._cache) <= _HuffTable._CACHE_MAX


# ------------------------------------------------------------ flac sr=15

def test_flac_reserved_frame_sample_rate_code_rejected():
    """ADVICE r05 / RFC 9639: frame sample-rate code 15 is invalid and
    must be rejected like the other reserved codes."""
    from combinedfeatureextraction_spark.multimodal.flac import (
        decode_flac,
        encode_flac_numpy,
    )

    x = np.arange(64, dtype=np.int64).reshape(-1, 1) - 32
    payload = bytearray(encode_flac_numpy(x, sample_rate=8000))
    # frame header: sync 0xFFF8, next byte = bs_code<<4 | sr_code
    i = payload.find(b"\xff\xf8")
    assert i > 0
    payload[i + 2] = (payload[i + 2] & 0xF0) | 0x0F
    with pytest.raises(ValueError, match="sample rate"):
        decode_flac(bytes(payload))


# ------------------------------------------- asof grid: guard + cost model

def test_fits_grid_cap_positive_is_revalidated_by_grid_pull(spark):
    """ADVICE r05 (comment fix): the pre-check MAY cache a positive
    verdict, because _asof_grid re-proves the cap with its bounded
    pull — a stale under-cap answer can never reach the grid build."""
    from combinedfeatureextraction_spark.operators import asof as A

    build = spark.range(10).selectExpr(
        "id AS user_id", "timestamp_seconds(id * 60) AS ts", "id AS v"
    )
    assert A._fits_grid_cap(build)
    assert A._GRID_GUARD_CACHE.get(build) is True  # pre-check-only cache


def test_grid_cost_bailout_matches_grid_results(spark, monkeypatch):
    """When the dense grid would materialize cells far in excess of the
    tick count, the grid strategy must fall back to the union plan and
    still produce identical rows."""
    from combinedfeatureextraction_spark.operators import asof as A

    # one tick per key: n_buckets floors at 8, so dense cells = 8 × ticks
    # — always past a 1-cell budget AND past the 2×ticks term, while the
    # real budget (131072) keeps the grid engaged for the control run
    build = spark.createDataFrame(
        pd.DataFrame({
            "k": np.arange(300),
            "bts": pd.to_datetime((np.arange(300) * 977 + 11) % 100000,
                                  unit="s"),
            "v": np.arange(300).astype(float),
        })
    )
    probe = spark.createDataFrame(
        pd.DataFrame({
            "k": np.arange(600) % 300,
            "ts": pd.to_datetime((np.arange(600) * 631) % 100000, unit="s"),
            "pid": np.arange(600),
        })
    )

    def run(strategy):
        out = A.asof_join(
            probe, build, keys=["k"], probe_ts="ts", build_ts="bts",
            values=["v"], strategy=strategy,
        )
        return sorted(
            (r["pid"], r["v"]) for r in out.select("pid", "v").collect()
        )

    expected = run("union")
    # force the cost bailout: any dense grid exceeds a 1-cell budget
    monkeypatch.setattr(A, "_GRID_DENSE_BUDGET", 1)
    grid_bailed = run("grid")
    assert grid_bailed == expected
    # and with the real budget the grid path itself agrees too
    monkeypatch.undo()
    assert run("grid") == expected


def test_minhash_expr_string_signatures_bit_identical(spark):
    """r06 driver-build fix: the minhash signature aggregate and the LSH
    band structs are assembled as SQL strings (one py4j/parse round trip
    each) instead of nested Column operators. SQL int literals must carry
    the same IntegerType as F.lit(int) or every xxhash64 seed — and thus
    every signature — silently changes. Pin bit-identity against the
    Column-operator reference construction."""
    from pyspark.sql import functions as F

    from combinedfeatureextraction_spark.operators import dedup as D

    docs = spark.createDataFrame(
        pd.DataFrame({
            "doc_id": np.arange(40),
            "text": [
                " ".join(f"w{(i * 7 + j) % 23}" for j in range(12))
                for i in range(40)
            ],
        })
    )
    sh = D.hashed_shingle_sets(docs, "doc_id", "text", 3, persist=False)
    num_hashes, bands = 16, 4
    r = num_hashes // bands

    got_sig = {
        row["_id"]: tuple(row["_sig"])
        for row in D.minhash_signatures_from_sets(sh, num_hashes).collect()
    }
    # reference: the pre-r06 Column-operator construction, verbatim
    ex = sh.select("_id", F.explode("_sh").alias("_h"))
    ref = ex.groupBy("_id").agg(
        *[
            F.min(F.xxhash64(F.col("_h"), F.lit(i))).alias(f"_h{i}")
            for i in range(num_hashes)
        ]
    ).select(
        "_id",
        F.array(*[F.col(f"_h{i}") for i in range(num_hashes)]).alias("_sig"),
    )
    ref_sig = {row["_id"]: tuple(row["_sig"]) for row in ref.collect()}
    assert got_sig == ref_sig

    # band hashes: expr-string structs vs Column-operator reference
    sig = D.minhash_signatures_from_sets(sh, num_hashes)
    ref_bands = sig.select(
        "_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.xxhash64(
                            *[F.col("_sig")[bi * r + j] for j in range(r)]
                        ).alias("bh"),
                    )
                    for bi in range(bands)
                ]
            )
        ).alias("b"),
    ).select("_id", "b.band", "b.bh")
    # band rows are not exposed publicly, so compare the candidate pair
    # sets produced from the same sets instead
    ref_pairs = sorted(
        (r1["id_a"], r1["id_b"])
        for r1 in D.minhash_lsh_candidates_from_sets(
            sh, num_hashes, bands, None
        ).collect()
    )
    # reference pairs recomputed from the reference band rows
    band_rows = ref_bands.collect()
    ref_pairs2 = sorted(
        (a, b)
        for (a, band), (b, band2) in [
            ((x["_id"], (x["band"], x["bh"])), (y["_id"], (y["band"], y["bh"])))
            for x in band_rows
            for y in band_rows
        ]
        if a < b and band == band2
    )
    assert ref_pairs == sorted(set(ref_pairs2))
