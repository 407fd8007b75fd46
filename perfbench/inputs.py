"""Seeded benchmark inputs, generated once per (seed, sizes, generator source)
and cached on disk as parquet.

Every table is a pure function of ``--seed``. The image tables come from the
library's own FIXTURES-A1 row generators (``violated_row``/``clean_row``,
the per-row functions ``images_table`` maps over) and ``gen_pixels``/
``encode_image``; they are built here in plain Python rather than through a
Spark job so generation never warms the JVM that later measures
``cold_pass_s``. The text, vector and event tables mimic the shapes of the
repository's sf0.1 test data, with ids drawn from a seeded sample so that
the id-keyed plants of each op land on different rows for each seed.

The cache key is the seed, the sizes and a hash of the generator sources,
so editing a generator (here or in ``schisma_spark.image``) invalidates it.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

# Sizes. At these sizes the ops cost mostly per-job overhead (a fifth of
# sf0.1 runs about as long), so the tables stay small and cheap to generate.
N_IMAGES = 4_000           # FIXTURES-A1 rows, 16-32 px, 16 partitions
IMAGE_FILES = 8            # parquet files, i.e. scan splits
LARGE_SIZES = (256, 384)   # px, the size class where per-pixel work rules
N_LARGE = 64               # all with correct pixels
N_DEFECT = 8               # wrong-pixel large images, decoded apart (see below)
N_DOCS = 500               # documents (sf0.1 has 5,000)
N_DOC_CLUSTERS = 20        # planted near-duplicate clusters of 5 docs
N_VECS = 200               # embeddings, dim 64 (sf0.1 has 2,000)
N_VEC_DUPS = 20            # planted near-duplicate vectors
DIM = 64
N_EVENTS = 2_500           # events rows (sf0.1 has 100,000)

_SOURCES = (
    os.path.join(HERE, "inputs.py"),
    os.path.join(REPO, "schisma_spark", "image", "fixtures.py"),
    os.path.join(REPO, "schisma_spark", "image", "synth.py"),
)

_WORDS = (
    "a the spark table row column scan filter join hash sort merge group "
    "agg window stream batch query key value part line order customer "
    "vector data fast slow big small"
).split()
_LANGS = ("en", "de", "fr", "zh", "es")
_EVENT_TYPES = ("view", "click", "signup", "error", "purchase")


def files_hash(paths=_SOURCES, salt: str = "") -> str:
    """A short hash of ``salt`` and the bytes of ``paths``: the part of a
    cache key that changes when a generator's source does."""
    h = hashlib.sha256(salt.encode())
    for p in paths:
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


STATE = os.path.join(REPO, ".perfbench")  # run-time files, never committed


def cache_root() -> str:
    return os.path.join(STATE, "cache")


@dataclass
class TableSet:
    """One cached group of tables: ``paths`` name parquet files or
    directories, ``meta`` holds row counts, digests and generation time."""

    root: str
    paths: dict[str, str]
    meta: dict = field(default_factory=dict)


def _cached(name: str, seed: int, sizes: dict, build) -> TableSet:
    key = hashlib.sha256(
        json.dumps([name, seed, sizes, files_hash()]).encode()
    ).hexdigest()[:16]
    root = os.path.join(cache_root(), f"{name}-s{seed}-{key}")
    meta_path = os.path.join(root, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            meta = json.load(f)
        meta["cache_hit"] = True
        return TableSet(root, {k: os.path.join(root, v)
                               for k, v in meta["files"].items()}, meta)
    tmp = f"{root}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.perf_counter()
    files, info = build(tmp, seed)
    meta = {"files": files, "sizes": sizes, "seed": seed,
            "gen_s": time.perf_counter() - t0, **info}
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    shutil.rmtree(root, ignore_errors=True)
    os.replace(tmp, root)
    meta["cache_hit"] = False
    return TableSet(root, {k: os.path.join(root, v)
                           for k, v in files.items()}, meta)


def _write(table: pa.Table, path: str) -> str:
    pq.write_table(table, path)
    return table_digest(table)


def table_digest(table: pa.Table) -> str:
    """Content digest of a table in row order (generation is ordered, so
    equal seeds give byte-equal tables)."""
    h = hashlib.sha256()
    for col in table.column_names:
        h.update(col.encode())
        for v in table.column(col).to_pylist():
            h.update(repr(v).encode())
    return h.hexdigest()


# -- images (shared by image_validate and image_decode) ---------------------

IMAGE_SCHEMA = pa.schema([
    ("image_id", pa.string()), ("bytes", pa.binary()), ("w", pa.int32()),
    ("h", pa.int32()), ("fmt", pa.string()), ("caption", pa.string()),
    ("phash", pa.int64()), ("part", pa.int32()),
])


def _build_images(out: str, seed: int):
    from schisma_spark.image.fixtures import clean_row, violated_row
    from schisma_spark.image.synth import encode_image, gen_pixels

    os.makedirs(os.path.join(out, "images"))
    digests = []
    per_file = -(-N_IMAGES // IMAGE_FILES)
    for k in range(IMAGE_FILES):
        rows = [violated_row(i, seed)
                for i in range(k * per_file, min(N_IMAGES, (k + 1) * per_file))]
        t = pa.Table.from_pylist(rows, IMAGE_SCHEMA)
        digests.append(_write(t, os.path.join(out, "images",
                                              f"part-{k:05d}.parquet")))
    ref = pa.Table.from_pylist(
        [clean_row(i, seed, with_bytes=False) for i in range(N_IMAGES)],
        IMAGE_SCHEMA).drop_columns(["bytes"])
    digests.append(_write(ref, os.path.join(out, "images_ref.parquet")))

    # The large slice holds only images whose pixels match their reference:
    # the library's PSNR wraps in int32 on >=256 px images with wrong pixels
    # (a known defect), so those go to their own table, which a run decodes
    # once outside the passes and reports apart from its correctness.
    rng = np.random.default_rng([seed, 1])
    for table, n, wrong in (("images_large", N_LARGE, False),
                            ("images_defect", N_DEFECT, True)):
        rows = []
        for j in range(n):
            image_id = f"img-{table[7:]}-{seed}-{j:06d}"
            side = LARGE_SIZES[j % 2 if wrong else
                               int(rng.integers(len(LARGE_SIZES)))]
            fmt = ("raw", "bmp", "png")[int(rng.integers(3))]
            px = gen_pixels(image_id + (":corrupt" if wrong else ""),
                            side, side)
            rows.append({"image_id": image_id,
                         "bytes": encode_image(px, fmt), "w": side,
                         "h": side, "fmt": fmt, "caption": None,
                         "phash": None, "part": j % 4})
        t = pa.Table.from_pylist(rows, IMAGE_SCHEMA)
        digests.append(_write(t, os.path.join(out, f"{table}.parquet")))
    dim = pa.table({"fmt": ["raw", "bmp", "png"],
                    "lossy": [False, False, True]})
    digests.append(_write(dim, os.path.join(out, "dim_fmt.parquet")))
    files = {"images": "images", "images_ref": "images_ref.parquet",
             "images_large": "images_large.parquet",
             "images_defect": "images_defect.parquet",
             "dim_fmt": "dim_fmt.parquet"}
    return files, {"digest": _combine(digests),
                   "rows": {"images": N_IMAGES, "images_ref": N_IMAGES,
                            "images_large": N_LARGE,
                            "images_defect": N_DEFECT, "dim_fmt": 3}}


def images(seed: int) -> TableSet:
    sizes = {"n": N_IMAGES, "files": IMAGE_FILES, "large": N_LARGE,
             "large_sizes": LARGE_SIZES, "defect": N_DEFECT}
    return _cached("images", seed, sizes, _build_images)


# -- documents, embeddings and events ----------------------------------------

def _ids(rng: np.random.Generator, n: int, limit: int) -> np.ndarray:
    return np.sort(rng.choice(limit, size=n, replace=False)).astype(np.int64)


def _doc_text(rng: np.random.Generator) -> str:
    n = int(rng.integers(8, 64))
    return " ".join(_WORDS[i] for i in rng.integers(len(_WORDS), size=n))


def _build_texts(out: str, seed: int):
    rng = np.random.default_rng([seed, 2])
    n_var = N_DOC_CLUSTERS * 4
    ids = rng.permutation(_ids(rng, N_DOCS + n_var, 3 * (N_DOCS + n_var)))
    texts = [_doc_text(rng) for _ in range(N_DOCS)]
    # planted near-duplicate clusters: chains of one-word edits, so a
    # cluster is only connected through its intermediate members
    for c in range(N_DOC_CLUSTERS):
        words = texts[int(rng.integers(N_DOCS))].split()
        for _ in range(4):
            words = list(words)
            words[int(rng.integers(len(words)))] = \
                _WORDS[int(rng.integers(len(_WORDS)))]
            texts.append(" ".join(words))
    docs = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": texts,
        "lang": [_LANGS[i] for i in rng.integers(len(_LANGS), size=len(ids))],
        "source": [f"src{i}" for i in rng.integers(8, size=len(ids))],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    base = rng.standard_normal((N_VECS, DIM)) * 0.12
    pick = rng.integers(N_VECS, size=N_VEC_DUPS)
    near = base[pick] + rng.standard_normal((N_VEC_DUPS, DIM)) * 0.002
    vecs = np.vstack([base, near]).astype(np.float32)
    vids = rng.permutation(_ids(rng, len(vecs), 3 * len(vecs)))
    emb = pa.table({
        "vec_id": pa.array(vids, pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(10, size=len(vecs)), pa.int32()),
    })
    ev = _events(np.random.default_rng([seed, 3]))
    digests = [_write(docs, os.path.join(out, "documents.parquet")),
               _write(emb, os.path.join(out, "embeddings.parquet")),
               _write(ev, os.path.join(out, "events.parquet"))]
    return ({"documents": "documents.parquet",
             "embeddings": "embeddings.parquet", "events": "events.parquet"},
            {"digest": _combine(digests),
             "rows": {"documents": docs.num_rows, "embeddings": emb.num_rows,
                      "events": ev.num_rows}})


def texts(seed: int) -> TableSet:
    sizes = {"docs": N_DOCS, "clusters": N_DOC_CLUSTERS, "vecs": N_VECS,
             "vec_dups": N_VEC_DUPS, "dim": DIM, "events": N_EVENTS}
    return _cached("texts", seed, sizes, _build_texts)


def payload(seed: int) -> TableSet:
    """The payload workload's inputs: the image tables it shares with
    image_validate plus the text, vector and event tables. Its own cache
    directory only holds the expected outputs."""
    parts = [images(seed), texts(seed)]
    key = _combine([p.root for p in parts])[:16]
    root = os.path.join(cache_root(), f"payload-s{seed}-{key}")
    os.makedirs(root, exist_ok=True)
    return TableSet(root, {k: v for p in parts for k, v in p.paths.items()}, {
        "cache_hit": all(p.meta["cache_hit"] for p in parts),
        "gen_s": sum(p.meta["gen_s"] for p in parts),
        "digest": _combine([p.meta["digest"] for p in parts]),
        "rows": {k: v for p in parts for k, v in p.meta["rows"].items()},
    })


def _events(rng: np.random.Generator) -> pa.Table:
    """The sf0.1 ``events`` shape; ``props`` is ``{"k": <0..99>}``."""
    ids = _ids(rng, N_EVENTS, 3 * N_EVENTS)
    ts = (np.datetime64("2024-01-01T00:00:00", "us")
          + np.cumsum(rng.integers(1, 60_000_000, size=N_EVENTS)))
    k = rng.integers(0, 100, size=N_EVENTS)
    return pa.table({
        "event_id": pa.array(ids, pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 5000, size=N_EVENTS), pa.int64()),
        "event_type": [_EVENT_TYPES[i]
                       for i in rng.integers(len(_EVENT_TYPES), size=N_EVENTS)],
        "value": pa.array(np.round(rng.uniform(0, 500, N_EVENTS), 2)),
        "props": [f'{{"k": {v}}}' for v in k],
    })


def _combine(digests: list[str]) -> str:
    return hashlib.sha256("".join(digests).encode()).hexdigest()
