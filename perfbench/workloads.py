"""The benchmark workloads.

Each workload has the same parts:

``reference(work)``        the expected output, computed once per seed
                           without the engine, before the JVM starts
``prepare(spark, inp)``    set-up: writes the seeded input files
``run(spark, inp, out)``   the timed call into the user-facing entry point
``check(out, ref, info)``  failures of the committed output, as messages
``corrupt(out, kind, ref)`` self-test: drops a row or perturbs a feature in
                           the committed output
"""

from __future__ import annotations

import contextlib
import importlib.util
import io
import json
import os
import re
import sys
import time
from concurrent.futures import ProcessPoolExecutor
from multiprocessing import get_context, resource_tracker
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import inputs

ROOT = Path(__file__).resolve().parents[1]


def _load_repo_module(rel: str, name: str):
    """Import a repo file by path (``tests`` and the driver contract are
    not packages, and a site-packages ``tests`` must not shadow them)."""
    spec = importlib.util.spec_from_file_location(name, ROOT / rel)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def snapshot_files(table: Path) -> list[Path]:
    """Parquet files of the table's CURRENT snapshot."""
    snap = (table / "CURRENT").read_text().strip()
    return sorted((table / "data" / f"snap={snap}").rglob("*.parquet"))


def read_snapshot(table: Path, columns=None) -> pd.DataFrame:
    frames = [pq.read_table(f, columns=columns).to_pandas() for f in snapshot_files(table)]
    return pd.concat(frames, ignore_index=True)


def snapshot_bytes(table: Path) -> int:
    return sum(f.stat().st_size for f in snapshot_files(table))


def _rewrite_first_file(table: Path, edit) -> None:
    f = snapshot_files(table)[0]
    t = pq.read_table(f)
    pq.write_table(edit(t), f)


def drop_last_row(t: pa.Table) -> pa.Table:
    return t.slice(0, t.num_rows - 1)


def perturb(col: str, row: int = 0):
    def edit(t: pa.Table) -> pa.Table:
        vals = t[col].to_pylist()
        vals[row] = (vals[row] or 0) + 1
        i = t.schema.get_field_index(col)
        return t.set_column(i, t.schema.field(i), pa.array(vals, t.schema.field(i).type))
    return edit


def _allclose_frames(got: pd.DataFrame, want: pd.DataFrame, cols, what: str) -> list[str]:
    fails = []
    for c in cols:
        g = got[c].astype("float64").to_numpy()
        w = want[c].astype("float64").to_numpy()
        if not np.allclose(g, w, rtol=1e-9, atol=1e-9, equal_nan=True):
            bad = int((~np.isclose(g, w, rtol=1e-9, atol=1e-9, equal_nan=True)).sum())
            fails.append(f"{what}: column {c} differs on {bad} rows")
    return fails


@contextlib.contextmanager
def _argv(args: list[str]):
    saved = sys.argv
    sys.argv = args
    try:
        yield
    finally:
        sys.argv = saved


def _same_keys(a: pd.DataFrame, b: pd.DataFrame, cols) -> bool:
    return len(a) == len(b) and all(
        a[c].astype(str).tolist() == b[c].astype(str).tolist() for c in cols
    )


# ---------------------------------------------------------------- workloads


class Workload:
    def __init__(self, seed: int) -> None:
        self.seed = seed


class PitMaterialize(Workload):
    name = "pit_materialize"
    top_span = "jobs.materialize_features.main"
    patches = [
        ("combinedfeatureextraction_spark.plans.pipeline", "rowlevel_features",
         "plans.pipeline.rowlevel_features"),
        ("combinedfeatureextraction_spark.plans.pipeline", "asof_join",
         "operators.asof.asof_join"),
        ("combinedfeatureextraction_spark.plans.manifest:ResumableRun",
         "run_pending", "plans.manifest.run_pending"),
        ("combinedfeatureextraction_spark.sources.catalog", "write_snapshot",
         "sources.catalog.write_snapshot"),
    ]
    sample_docs = 24

    def reference(self, work: Path) -> dict:
        from combinedfeatureextraction_spark.plans.pipeline import ROW_FEATURES
        from combinedfeatureextraction_spark.sources.fixtures import states_pandas

        oracle = _load_repo_module("tests/golden_oracle.py", "golden_oracle")
        seqs = inputs.pit_reference_input(self.seed)
        docs = sorted(seqs["doc_id"].unique())
        rng = np.random.default_rng([self.seed, 55])
        sample = sorted(rng.choice(docs, min(self.sample_docs, len(docs)), replace=False))
        want = oracle.rowlevel_oracle(
            seqs[seqs["doc_id"].isin(sample)], states_pandas(self.seed)
        ).sort_values(["doc_id", "seq_idx"], kind="mergesort").reset_index(drop=True)
        return {
            "rows": len(seqs),
            "tokens": _sorted_tokens(seqs["doc_id"], seqs["seq_idx"], seqs["tokens"]),
            "sample": sample,
            "features": ROW_FEATURES + ["state_ffill"],
            "want": want,
        }

    def prepare(self, spark, inp: Path) -> dict:
        return inputs.write_pit(inp, self.seed, inputs.pit_reference_input(self.seed))

    def run(self, spark, inp: Path, out: Path) -> dict:
        import jobs.materialize_features as job

        with _argv(["materialize_features", "--sequences", str(inp / "sequences"),
                    "--states", str(inp / "states"), "--out", str(out / "features")]), \
                contextlib.redirect_stdout(sys.stderr):
            job.main()
        return {}

    def outputs(self, out: Path) -> list[Path]:
        return [out / "features"]

    def check(self, out: Path, ref: dict, info: dict) -> list[str]:
        files = snapshot_files(out / "features")
        t = pa.concat_tables([pq.read_table(f) for f in files])
        fails = []
        if t.num_rows != ref["rows"]:
            fails.append(f"committed {t.num_rows} rows, input has {ref['rows']}")
        got = t.select(["doc_id", "seq_idx", "tokens"]).to_pandas()
        got = _sorted_tokens(got["doc_id"], got["seq_idx"], got["tokens"])
        if any(not np.array_equal(a, b) for a, b in zip(got, ref["tokens"])):
            fails.append("token payload is not byte-equal per (doc_id, seq_idx)")
        feats = ref["features"]
        sample = t.filter(pc.is_in(t["doc_id"], pa.array(ref["sample"])))
        g = sample.select(["doc_id", "seq_idx", *feats]).to_pandas() \
            .sort_values(["doc_id", "seq_idx"], kind="mergesort").reset_index(drop=True)
        want = ref["want"]
        if len(g) != len(want) or not (g["seq_idx"].to_numpy() == want["seq_idx"].to_numpy()).all():
            fails.append(f"sampled docs: {len(g)} rows committed, oracle has {len(want)}")
        else:
            fails += _allclose_frames(g, want, feats, "rowlevel_oracle sample")
        return fails

    def corrupt(self, out: Path, kind: str, ref: dict) -> None:
        table = out / "features"
        if kind == "drop_row":
            _rewrite_first_file(table, drop_last_row)
            return
        # perturb a feature of a sampled doc (the allclose check is sampled)
        for f in snapshot_files(table):
            t = pq.read_table(f)
            hit = pc.is_in(t["doc_id"], pa.array(ref["sample"])).to_pylist()
            if any(hit):
                pq.write_table(perturb("roll4_mean", hit.index(True))(t), f)
                return


def _sorted_tokens(doc_ids, seq_idx, tokens) -> tuple:
    """(keys, row lengths, concatenated int32 tokens), rows ordered by
    (doc_id, seq_idx): equal tuples mean a byte-equal payload per row."""
    keys = pd.DataFrame({"d": np.asarray(doc_ids, dtype=object),
                         "s": np.asarray(seq_idx, dtype=np.int64)})
    order = keys.sort_values(["d", "s"], kind="mergesort").index.to_numpy()
    toks = [np.asarray(tokens.iloc[i], dtype=np.int32) for i in order]
    return (
        keys.iloc[order].to_numpy().astype(str),
        np.array([len(x) for x in toks]),
        np.concatenate(toks) if toks else np.zeros(0, np.int32),
    )


class CorpusCurate(Workload):
    name = "corpus_curate"
    top_span = "jobs.curate_corpus.main"
    patches = [
        ("combinedfeatureextraction_spark.plans.curation", "curate_corpus",
         "plans.curation.curate_corpus"),
        ("combinedfeatureextraction_spark.plans.curation", "dedup_clusters",
         "operators.dedup.dedup_clusters"),
        ("combinedfeatureextraction_spark.operators.fixpoint", "connected_components",
         "operators.fixpoint.connected_components"),
        ("combinedfeatureextraction_spark.sources.catalog", "write_snapshot",
         "sources.catalog.write_snapshot"),
    ]
    # functions.text.TOKEN_REGEX, evaluated here with Python's re
    token_re = re.compile(r"[A-Za-z0-9]+|[^A-Za-z0-9\s]+")

    def reference(self, work: Path) -> dict:
        import duckdb

        ref_dir = work / "reference"
        props = inputs.write_corpus(ref_dir, self.seed)
        sql = _load_repo_module("__spark_entry__.py", "spark_entry").oracle_sql()
        con = duckdb.connect()
        try:
            con.execute(
                "CREATE VIEW documents AS SELECT * FROM read_parquet("
                f"'{ref_dir / 'documents'}/*.parquet')"
            )
            cur = con.execute(sql["corpus_curation"])
            cols = [d[0] for d in cur.description]
            manifest = [dict(zip(cols, r)) for r in cur.fetchall()]
        finally:
            con.close()
        docs = inputs.corpus_frame(self.seed)
        return {
            "rows": props["rows"],
            "manifest": [{k: (int(v) if k != "lang_pred" else v) for k, v in r.items()}
                         for r in manifest],
            "n_tokens": {
                int(i): len(self.token_re.findall(t))
                for i, t in zip(docs["doc_id"], docs["text"])
            },
        }

    def prepare(self, spark, inp: Path) -> dict:
        return inputs.write_corpus(inp, self.seed)

    def run(self, spark, inp: Path, out: Path) -> dict:
        import jobs.curate_corpus as job

        buf = io.StringIO()
        with _argv(["curate_corpus", "--docs", str(inp / "documents"),
                    "--out", str(out / "curated")]), contextlib.redirect_stdout(buf):
            job.main()
        sys.stderr.write(buf.getvalue())
        summary = json.loads(buf.getvalue().strip().splitlines()[-1])
        return {"manifest": summary["langs"]}

    def outputs(self, out: Path) -> list[Path]:
        return [out / "curated"]

    def check(self, out: Path, ref: dict, info: dict) -> list[str]:
        fails = []
        got = sorted(info["manifest"], key=lambda r: r["lang_pred"])
        cols = ("lang_pred", "n_raw", "n_quality", "n_exact", "n_curated")
        if [tuple(r[c] for c in cols) for r in got] != \
                [tuple(r[c] for c in cols) for r in ref["manifest"]]:
            fails.append(f"manifest {got} != DuckDB oracle {ref['manifest']}")
        cur = read_snapshot(out / "curated", ["doc_id", "lang_pred", "n_tokens"])
        want_counts = {r["lang_pred"]: r["n_curated"] for r in ref["manifest"]}
        got_counts = cur.groupby("lang_pred").size().to_dict()
        if {k: v for k, v in want_counts.items() if v} != got_counts:
            fails.append(f"curated rows per lang {got_counts} != oracle {want_counts}")
        bad = sum(
            1 for i, n in zip(cur["doc_id"], cur["n_tokens"])
            if ref["n_tokens"].get(int(i)) != n
        )
        if bad:
            fails.append(f"n_tokens differs from the regex count on {bad} rows")
        return fails

    def corrupt(self, out: Path, kind: str, ref: dict) -> None:
        edit = drop_last_row if kind == "drop_row" else perturb("n_tokens")
        _rewrite_first_file(out / "curated", edit)


# ------------------------------------------------------------ ftu pipeline

FTU_IDS = ("slide_id", "layer_name", "element_idx")
# family -> (engine operator, numpy kernel, output schema, kernel args)
FTU_FAMILIES = {
    "mask": ("polygon_mask_features", "mask_features_numpy", "MASK_FEATURES_SCHEMA", ()),
    "component": ("polygon_component_features", "component_features_numpy",
                  "COMPONENT_FEATURES_SCHEMA", (4,)),
    "hole": ("polygon_hole_features", "hole_features_numpy", "HOLE_FEATURES_SCHEMA", (4,)),
    "edt": ("polygon_edt_features", "edt_features_numpy", "EDT_FEATURES_SCHEMA", (0.3,)),
    "watershed": ("polygon_watershed_features", "watershed_features_numpy",
                  "WATERSHED_FEATURES_SCHEMA", (4, 0.5)),
    "ring": ("polygon_ring_features", "ring_features_numpy", "RING_FEATURES_SCHEMA", (20,)),
}


def ftu_feature_columns() -> list[str]:
    from combinedfeatureextraction_spark.multimodal import rasterize

    return [
        f"{fam}_{f.name}"
        for fam, (_, _, schema, _) in FTU_FAMILIES.items()
        for f in getattr(rasterize, schema).fields
    ]


def ftu_pipeline(spark, slides: Path, out: Path) -> None:
    """The reference's per-FTU pipeline on the engine: girder JSON → one
    row per element → the six rasterize families joined per element →
    element table → per-(slide, layer) six-stat rollup → aggregate table.
    Functions are looked up on their modules at call time so the traced
    run's wrappers apply."""
    from pyspark.sql import functions as F

    from combinedfeatureextraction_spark.multimodal import rasterize
    from combinedfeatureextraction_spark.operators import aggregates
    from combinedfeatureextraction_spark.sources import annotations, catalog

    raw = annotations.read_annotation_files(spark, str(slides))
    els = annotations.drop_degenerate_elements(annotations.parse_annotations(raw))
    feats = None
    for fam, (op, _, schema, args) in FTU_FAMILIES.items():
        fields = getattr(rasterize, schema).fields
        part = getattr(rasterize, op)(els, "points", list(FTU_IDS), *args).select(
            *FTU_IDS, *[F.col(f.name).cast("double").alias(f"{fam}_{f.name}") for f in fields]
        )
        feats = part if feats is None else feats.join(part, list(FTU_IDS))
    catalog.write_snapshot(feats, out / "elements", partition_by=(), sort_within=FTU_IDS)
    elements = catalog.read_snapshot(spark, out / "elements")
    agg = aggregates.six_stat_hierarchy(
        elements, ftu_feature_columns(), "slide_id", "layer_name"
    )
    catalog.write_snapshot(
        agg, out / "aggregates", partition_by=(),
        sort_within=("slide_id", "grouping_level", "layer_name"),
    )


def _kernel_row(points: np.ndarray) -> tuple[list, dict]:
    """All six families on one polygon, with each kernel's time in ms."""
    from combinedfeatureextraction_spark.multimodal import rasterize

    vals, ms = [], {}
    for fam, (_, kernel, _, args) in FTU_FAMILIES.items():
        t0 = time.perf_counter()
        vals.extend(getattr(rasterize, kernel)(points, *args))
        ms[fam] = (time.perf_counter() - t0) * 1000
    return vals, ms


def six_stat_pandas(df: pd.DataFrame, features: list[str]) -> pd.DataFrame:
    """numpy nan-aggregates per slide and per (slide, layer), NaN → 0 —
    what the engine's GROUPING SETS rollup computes."""
    out = []
    for level, keys in ((1, ["slide_id"]), (0, ["slide_id", "layer_name"])):
        for key, g in df.groupby(keys, sort=True):
            key = key if isinstance(key, tuple) else (key,)
            row = dict(zip(keys, key))
            row.setdefault("layer_name", None)
            row["grouping_level"] = level
            for f in features:
                v = g[f].astype("float64").to_numpy()
                v = v[~np.isnan(v)]
                stats = {
                    "sum": v.sum() if len(v) else np.nan,
                    "mean": v.mean() if len(v) else np.nan,
                    "std": v.std() if len(v) else np.nan,
                    "median": np.median(v) if len(v) else np.nan,
                    "min": v.min() if len(v) else np.nan,
                    "max": v.max() if len(v) else np.nan,
                }
                for s, x in stats.items():
                    row[f"{f}_{s}"] = 0.0 if not np.isfinite(x) else float(x)
            out.append(row)
    return pd.DataFrame(out)


class FtuMorphometrics(Workload):
    name = "ftu_morphometrics"
    top_span = "perfbench.ftu_pipeline"
    patches = [
        ("combinedfeatureextraction_spark.sources.annotations", "read_annotation_files",
         "sources.annotations.read_annotation_files"),
        ("combinedfeatureextraction_spark.sources.annotations", "parse_annotations",
         "sources.annotations.parse_annotations"),
        ("combinedfeatureextraction_spark.operators.aggregates", "six_stat_hierarchy",
         "operators.aggregates.six_stat_hierarchy"),
        ("combinedfeatureextraction_spark.sources.catalog", "write_snapshot",
         "sources.catalog.write_snapshot"),
    ]

    def reference(self, work: Path) -> dict:
        els = inputs.ftu_elements(inputs.ftu_slides(self.seed))
        ok = els[~els["degenerate"]].reset_index(drop=True)
        workers = len(os.sched_getaffinity(0))
        with ProcessPoolExecutor(workers, mp_context=get_context("spawn")) as pool:
            res = list(pool.map(_kernel_row, ok["points"], chunksize=4))
        # spawning started multiprocessing's resource tracker; end it now so
        # the run leaves no process of its own behind
        resource_tracker._resource_tracker._stop()
        feats = ftu_feature_columns()
        want = pd.concat(
            [ok[list(FTU_IDS)], pd.DataFrame([r[0] for r in res], columns=feats)], axis=1
        ).sort_values(list(FTU_IDS)).reset_index(drop=True)
        wide = ok["width"].to_numpy() > 64
        kernel_ms = {}
        for fam in FTU_FAMILIES:
            ms = np.array([r[1][fam] for r in res])
            for tag, sel in (("le64", ~wide), ("gt64", wide)):
                kernel_ms[f"{fam}.{tag}"] = float(np.median(ms[sel])) if sel.any() else 0.0
        return {
            "rows": len(els),
            "features": feats,
            "want": want,
            "want_agg": six_stat_pandas(want, feats),
            "kernel_ms": kernel_ms,
        }

    def prepare(self, spark, inp: Path) -> dict:
        slides = inputs.ftu_slides(self.seed)
        return inputs.write_ftu(inp, slides, inputs.ftu_elements(slides))

    def run(self, spark, inp: Path, out: Path) -> dict:
        ftu_pipeline(spark, inp / "slides", out)
        return {}

    def outputs(self, out: Path) -> list[Path]:
        return [out / "elements", out / "aggregates"]

    def check(self, out: Path, ref: dict, info: dict) -> list[str]:
        fails = []
        feats = ref["features"]
        got = read_snapshot(out / "elements").sort_values(list(FTU_IDS)).reset_index(drop=True)
        want = ref["want"]
        if not _same_keys(got, want, FTU_IDS):
            fails.append(f"element table: {len(got)} rows committed, kernels give {len(want)}")
        else:
            fails += _allclose_frames(got, want, feats, "element features vs numpy kernels")
        keys = ["slide_id", "grouping_level", "layer_name"]
        agg = read_snapshot(out / "aggregates").sort_values(keys).reset_index(drop=True)
        want_agg = ref["want_agg"].sort_values(keys).reset_index(drop=True)
        stat_cols = [c for c in want_agg.columns if c not in keys]
        if not _same_keys(agg, want_agg, keys):
            fails.append(f"aggregates: {len(agg)} rows committed, pandas rollup has {len(want_agg)}")
        else:
            fails += _allclose_frames(agg, want_agg, stat_cols, "six-stat rollup vs pandas")
        return fails

    def corrupt(self, out: Path, kind: str, ref: dict) -> None:
        edit = drop_last_row if kind == "drop_row" else perturb("edt_dist_max")
        _rewrite_first_file(out / "elements", edit)


class SubmitJobs(Workload):
    """Both spark-submit jobs in one call: ``curate_corpus`` on its
    corpus, then ``materialize_features`` on its sequences (it stops the
    session, so it runs last). One JVM launch and one cold call serve
    both jobs, which shortens the benchmark's runs; each job's layers
    still get their own spans."""

    name = "submit_jobs"
    top_span = None  # the two job spans are the top spans

    def __init__(self, seed: int) -> None:
        super().__init__(seed)
        self.parts = {"corpus": CorpusCurate(seed), "pit": PitMaterialize(seed)}
        self.patches = [
            ("jobs.curate_corpus", "main", CorpusCurate.top_span),
            ("jobs.materialize_features", "main", PitMaterialize.top_span),
        ]
        for part in self.parts.values():
            self.patches += [p for p in part.patches if p not in self.patches]

    def reference(self, work: Path) -> dict:
        refs = {k: w.reference(work / k) for k, w in self.parts.items()}
        return {"rows": sum(r["rows"] for r in refs.values()), **refs}

    def prepare(self, spark, inp: Path) -> dict:
        props = {k: w.prepare(spark, inp / k) for k, w in self.parts.items()}
        return {"rows": sum(p["rows"] for p in props.values()), **props}

    def run(self, spark, inp: Path, out: Path) -> dict:
        return {k: w.run(spark, inp / k, out / k) for k, w in self.parts.items()}

    def outputs(self, out: Path) -> list[Path]:
        return [p for k, w in self.parts.items() for p in w.outputs(out / k)]

    def check(self, out: Path, ref: dict, info: dict) -> list[str]:
        return [f"{k}: {f}" for k, w in self.parts.items()
                for f in w.check(out / k, ref[k], info[k])]

    def corrupt(self, out: Path, kind: str, ref: dict) -> None:
        for k, w in self.parts.items():
            w.corrupt(out / k, kind, ref[k])


WORKLOADS = {w.name: w for w in (SubmitJobs, FtuMorphometrics, PitMaterialize, CorpusCurate)}
# what ``--workload all`` runs: the workloads BENCHMARK.json names
BENCHMARKED = ("submit_jobs", "ftu_morphometrics")
