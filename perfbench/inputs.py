"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of its seed: the same seed writes the
same files. Each returns a dict of input properties (rows, bytes, files and
the shape parameters) that goes into the run record.
"""

from __future__ import annotations

import json
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# ------------------------------------------------------------ pit_materialize

# Sequence rows per run. Docs are added until the row count reaches this
# target and the last doc is cut to meet it exactly, so the Zipf
# rows-per-doc tail changes the doc count between seeds but not the row
# count (a last doc of up to 500 rows made it vary by up to 12%).
PIT_TARGET_ROWS = 4_000
PIT_FILES = 4


def dir_bytes(path: Path) -> tuple[int, int]:
    """(total bytes, file count) of the data files under ``path``."""
    files = [
        p for p in Path(path).rglob("*")
        if p.is_file() and not p.name.startswith((".", "_"))
    ]
    return sum(p.stat().st_size for p in files), len(files)


def pit_reference_input(seed: int) -> pd.DataFrame:
    """The sequences table in pandas: docs 0..n-1 with n the smallest doc
    count whose rows reach ``PIT_TARGET_ROWS``, the last doc cut to its
    first rows so that exactly ``PIT_TARGET_ROWS`` remain."""
    from combinedfeatureextraction_spark.sources import fixtures

    frames, rows = [], 0
    while rows < PIT_TARGET_ROWS:
        f = fixtures._doc_rows(seed, len(frames))
        frames.append(f)
        rows += len(f)
    return pd.concat(frames, ignore_index=True).iloc[:PIT_TARGET_ROWS]


SEQUENCES_ARROW = pa.schema([
    ("doc_id", pa.string()),
    ("seq_idx", pa.int32()),
    ("ts", pa.timestamp("us", tz="UTC")),
    ("tokens", pa.list_(pa.int32())),
    ("n_tok", pa.int32()),
    ("source", pa.string()),
])
STATES_ARROW = pa.schema([
    ("source", pa.string()),
    ("effective_ts", pa.timestamp("us", tz="UTC")),
    ("state_val", pa.float64()),
])


def write_pit(root: Path, seed: int, ref: pd.DataFrame) -> dict:
    """The rows of ``fixtures.sequences_spark(n_docs, seed)`` (identical to
    the pandas generator by the fixtures' determinism contract), written
    with pyarrow as ``PIT_FILES`` files, docs dealt round-robin; and
    ``states_pandas(seed)`` as one file."""
    from combinedfeatureextraction_spark.sources.fixtures import states_pandas

    seq_dir, st_dir = root / "sequences", root / "states"
    seq_dir.mkdir(parents=True)
    st_dir.mkdir(parents=True)
    doc_idx = ref["doc_id"].str[3:].astype(int)
    for k in range(PIT_FILES):
        part = ref[(doc_idx % PIT_FILES) == k]
        pq.write_table(
            pa.Table.from_pandas(part, SEQUENCES_ARROW, preserve_index=False),
            seq_dir / f"part-{k:05d}.parquet",
        )
    pq.write_table(
        pa.Table.from_pandas(states_pandas(seed), STATES_ARROW, preserve_index=False),
        st_dir / "part-00000.parquet",
    )
    nbytes, nfiles = dir_bytes(seq_dir)
    per_doc = ref.groupby("doc_id").size()
    return {
        "rows": int(len(ref)),
        "docs": int(len(per_doc)),
        "bytes": nbytes,
        "files": nfiles,
        "rows_per_doc_max": int(per_doc.max()),
        "rows_per_doc_mean": round(float(per_doc.mean()), 2),
        "n_tok_mean": round(float(ref["n_tok"].mean()), 2),
        "source_counts": ref.groupby("source").size().astype(int).to_dict(),
    }


# ------------------------------------------------------------- corpus_curate

CORPUS_DOCS = 1_000
CORPUS_FILES = 4
EXACT_DUP_SHARE = 0.10
NEAR_DUP_SHARE = 0.10
SHORT_DOC_SHARE = 0.05  # under the 8-token floor: dropped by the quality stage

# the documents fixture's vocabulary, plus the stopwords the language
# detector scores, so lang_pred varies
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANG_WORDS = {
    "en": ("the", "and", "of", "to", "in"),
    "es": ("el", "la", "de", "que", "y"),
    "de": ("der", "die", "und", "das", "nicht"),
    "fr": ("le", "la", "et", "les", "des"),
}
LANG_W = {"en": 0.45, "es": 0.2, "de": 0.15, "fr": 0.15, "und": 0.05}


def corpus_frame(seed: int) -> pd.DataFrame:
    """A corpus in the ``documents`` schema.

    Fresh docs have 48-96 words. An exact duplicate copies an earlier
    doc's text. A near duplicate copies an earlier fresh doc and replaces
    one word, so its word-3-shingle Jaccard to the original is at least
    (46-3)/(46+3) > 0.87, where the 16x4 LSH banding misses a pair with
    probability below 1e-5."""
    rng = np.random.default_rng([seed, 1013])
    langs = list(LANG_W)
    p = np.array(list(LANG_W.values()))
    texts: list[str] = []
    kinds: list[str] = []
    lang_of: list[str] = []
    fresh: list[int] = []
    # exact counts of each kind in a seeded order, a fresh doc first, so
    # the dedup work is the same for every seed
    n_exact = round(EXACT_DUP_SHARE * CORPUS_DOCS)
    n_near = round(NEAR_DUP_SHARE * CORPUS_DOCS)
    n_short = round(SHORT_DOC_SHARE * CORPUS_DOCS)
    plan = rng.permutation(
        ["exact_dup"] * n_exact + ["near_dup"] * n_near + ["short"] * n_short
        + ["fresh"] * (CORPUS_DOCS - n_exact - n_near - n_short)
    )
    first = int(np.flatnonzero(plan == "fresh")[0])
    plan[[0, first]] = plan[[first, 0]]
    for i in range(CORPUS_DOCS):
        kind = plan[i]
        if kind == "exact_dup":
            j = int(rng.integers(len(texts)))
            texts.append(texts[j])
            lang_of.append(lang_of[j])
            kinds.append("exact_dup")
            continue
        if kind == "near_dup":
            j = fresh[int(rng.integers(len(fresh)))]
            words = texts[j].split(" ")
            k = int(rng.integers(len(words)))
            words[k] = VOCAB[(VOCAB.index(words[k]) + 1) % len(VOCAB)] \
                if words[k] in VOCAB else VOCAB[0]
            texts.append(" ".join(words))
            lang_of.append(lang_of[j])
            kinds.append("near_dup")
            continue
        lang = langs[int(rng.choice(len(langs), p=p))]
        short = kind == "short"
        n = int(rng.integers(3, 6)) if short else int(rng.integers(48, 97))
        words = [VOCAB[k] for k in rng.integers(0, len(VOCAB), n)]
        if lang != "und" and not short:
            sw = LANG_WORDS[lang]
            for k in rng.integers(0, n, n // 8):
                words[k] = sw[int(rng.integers(len(sw)))]
        texts.append(" ".join(words))
        lang_of.append(lang)
        kinds.append("short" if short else "fresh")
        if not short:
            fresh.append(i)
    return pd.DataFrame(
        {
            "doc_id": np.arange(CORPUS_DOCS, dtype=np.int64),
            "text": texts,
            "lang": lang_of,
            "source": [f"src{i % 5}" for i in range(CORPUS_DOCS)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
            "_kind": kinds,
        }
    )


def write_corpus(root: Path, seed: int) -> dict:
    df = corpus_frame(seed)
    out = root / "documents"
    out.mkdir(parents=True)
    body = df.drop(columns="_kind")
    for k in range(CORPUS_FILES):
        body.iloc[k::CORPUS_FILES].to_parquet(
            out / f"part-{k:05d}.parquet", index=False
        )
    nbytes, nfiles = dir_bytes(out)
    kinds = df["_kind"].value_counts()
    return {
        "rows": int(len(df)),
        "bytes": nbytes,
        "files": nfiles,
        "exact_dup_share": round(float(kinds.get("exact_dup", 0)) / len(df), 4),
        "near_dup_share": round(float(kinds.get("near_dup", 0)) / len(df), 4),
        "short_share": round(float(kinds.get("short", 0)) / len(df), 4),
        "lang_counts": df["lang"].value_counts().astype(int).to_dict(),
    }


# ---------------------------------------------------------- ftu_morphometrics

FTU_SLIDES = 8
FTU_ELEMENTS_PER_SLIDE = 12
# class mix of the reference's six layers; tubules dominate
FTU_CLASS_W = {
    "tubules": 0.60,
    "interstitium": 0.10,
    "non_globally_sclerotic_glomeruli": 0.10,
    "arterioles": 0.10,
    "globally_sclerotic_glomeruli": 0.05,
    "muscular_vessels": 0.05,
}
# size mix: star polygons of radius 6-24 px (at most ~53 px wide) or, for
# this share, 38-48 px (at least ~68 px wide, above the 64 px mark). The
# large and degenerate shares are exact counts over all slides, placed in
# a seeded order: the few large polygons cost most of the kernel time.
FTU_LARGE_SHARE = 0.10
FTU_SMALL_R = (6.0, 24.0)
FTU_LARGE_R = (38.0, 48.0)
FTU_DEGENERATE_SHARE = 0.02  # fewer than 3 distinct vertices: dropped


def _star(rng: np.random.Generator, cx: float, cy: float, r: float) -> list:
    n = int(rng.integers(10, 33))
    ang = np.sort(rng.uniform(0, 2 * np.pi, n))
    rad = r * rng.uniform(0.9, 1.1, n)
    xs = np.round(cx + rad * np.cos(ang), 2)
    ys = np.round(cy + rad * np.sin(ang), 2)
    return [[float(x), float(y), 0.0] for x, y in zip(xs, ys)]


def ftu_slides(seed: int) -> dict[str, list]:
    """slide_id -> girder annotation documents (one per layer)."""
    rng = np.random.default_rng([seed, 2029])
    names = list(FTU_CLASS_W)
    p = np.array(list(FTU_CLASS_W.values()))
    total = FTU_SLIDES * FTU_ELEMENTS_PER_SLIDE
    n_large = round(FTU_LARGE_SHARE * total)
    n_degenerate = round(FTU_DEGENERATE_SHARE * total)
    plan = iter(rng.permutation(
        ["large"] * n_large + ["degenerate"] * n_degenerate
        + ["small"] * (total - n_large - n_degenerate)
    ))
    slides = {}
    for s in range(FTU_SLIDES):
        per_layer: dict[str, list] = {n: [] for n in names}
        for _ in range(FTU_ELEMENTS_PER_SLIDE):
            layer = names[int(rng.choice(len(names), p=p))]
            cx, cy = rng.uniform(100, 20000, 2)
            kind = next(plan)
            if kind == "degenerate":
                pt = [float(round(cx, 2)), float(round(cy, 2)), 0.0]
                pts = [pt, pt, pt, pt]
            else:
                lo, hi = FTU_LARGE_R if kind == "large" else FTU_SMALL_R
                pts = _star(rng, cx, cy, float(rng.uniform(lo, hi)))
            per_layer[layer].append(
                {"points": pts, "user": {"source": "perfbench"}}
            )
        slides[f"slide{s:03d}"] = [
            {
                "annotation": {"name": f" {n} ", "elements": els},
                "updated": f"2024-01-{i + 1:02d}T00:00:00Z",
            }
            for i, (n, els) in enumerate(per_layer.items())
        ]
    return slides


def ftu_elements(slides: dict[str, list]) -> pd.DataFrame:
    """One row per element, keyed like the pipeline's output, with the
    geometry properties the record reports."""
    rows = []
    for sid, docs in slides.items():
        for d in docs:
            for k, el in enumerate(d["annotation"]["elements"]):
                pts = np.array(el["points"])
                rows.append(
                    {
                        "slide_id": sid,
                        "layer_name": d["annotation"]["name"].strip(),
                        "element_idx": k,
                        "points": pts,
                        "degenerate": len(np.unique(pts, axis=0)) < 3,
                        "width": int(np.ceil(pts[:, 0].max()))
                        - int(np.floor(pts[:, 0].min())),
                    }
                )
    return pd.DataFrame(rows)


def write_ftu(root: Path, slides: dict[str, list], elements: pd.DataFrame) -> dict:
    out = root / "slides"
    out.mkdir(parents=True)
    for sid, docs in slides.items():
        (out / f"{sid}.json").write_text(json.dumps(docs))
    nbytes, nfiles = dir_bytes(out)
    ok = elements[~elements["degenerate"]]
    return {
        "rows": int(len(elements)),
        "bytes": nbytes,
        "files": nfiles,
        "degenerate": int(elements["degenerate"].sum()),
        "share_wider_than_64px": round(float((ok["width"] > 64).mean()), 4),
        "width_max_px": int(ok["width"].max()),
        "class_counts": elements.groupby("layer_name").size().astype(int).to_dict(),
    }
