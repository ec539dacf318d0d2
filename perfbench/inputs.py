"""Seeded benchmark inputs, cached by (workload, seed, size).

Every input is a pure function of its seed. The program only ever sees
the generated parquet table; the planted truth and exact answers stay
with the harness.

* ``ship_images``: ``sources.imagegen.generate_image_caption_df`` with
  ``with_truth=True`` (needs a session, so it runs before set-up).
* ``hot_captions``: captions with unique rows, ordinary near-dup
  clusters of 2-20 rows, and a few hot clusters larger than the LSH
  bucket cap, so the salted chain path runs.
* ``sketch_rollup``: events with Zipf-skewed keys and items, with the
  exact per-key aggregates computed here in pandas.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# inputs of older seeds are evicted beyond this many per workload; a
# round of runs reuses about ten seeds
KEEP_PER_WORKLOAD = 12


class Input:
    """One cached input: ``data`` and ``slice`` parquet dirs plus the
    harness-side truth (``truth.parquet``) and a ``meta.json``."""

    def __init__(self, root: str):
        self.root = root
        self.data = os.path.join(root, "data")
        self.slice = os.path.join(root, "slice")
        self.truth_path = os.path.join(root, "truth.parquet")
        self.meta_path = os.path.join(root, "meta.json")

    @property
    def meta(self) -> dict:
        with open(self.meta_path) as f:
            return json.load(f)

    def update_meta(self, **kv) -> None:
        meta = self.meta
        meta.update(kv)
        with open(self.meta_path, "w") as f:
            json.dump(meta, f)

    def truth(self) -> pd.DataFrame:
        return pq.read_table(self.truth_path).to_pandas()


def _write(df: pd.DataFrame, path: str, files: int) -> None:
    """Write ``df`` as ``files`` parquet files, so the scan has one
    split per core like a real multi-file table."""
    os.makedirs(path)
    for i, part in enumerate(np.array_split(np.arange(len(df)), files)):
        pq.write_table(
            pa.Table.from_pandas(df.iloc[part], preserve_index=False),
            os.path.join(path, f"part-{i:05d}.parquet"),
        )


def _evict(cache_dir: str, workload: str, keep: str) -> None:
    entries = [
        os.path.join(cache_dir, d)
        for d in os.listdir(cache_dir)
        if d.startswith(workload + "-") and os.path.join(cache_dir, d) != keep
    ]
    entries.sort(key=os.path.getmtime)
    for d in entries[: max(0, len(entries) - (KEEP_PER_WORKLOAD - 1))]:
        shutil.rmtree(d, ignore_errors=True)


def get_input(cache_dir: str, workload: str, seed: int, size: int, files: int,
              session_factory) -> tuple[Input, float]:
    """Return the cached input and the seconds spent generating it
    (0.0 on a cache hit). ``session_factory`` starts a Spark session
    for the generators that need one; it is called only on a miss."""
    root = os.path.join(cache_dir, f"{workload}-s{seed}-n{size}")
    inp = Input(root)
    os.makedirs(cache_dir, exist_ok=True)
    if os.path.exists(inp.meta_path):
        os.utime(root)
        return inp, 0.0
    shutil.rmtree(root, ignore_errors=True)
    tmp = Input(root + ".tmp")
    shutil.rmtree(tmp.root, ignore_errors=True)
    os.makedirs(tmp.root)
    t0 = time.perf_counter()
    GENERATORS[workload](tmp, seed, size, files, session_factory)
    elapsed = time.perf_counter() - t0
    with open(tmp.meta_path, "w") as f:
        json.dump({"workload": workload, "seed": seed, "rows": size,
                   "generate_s": elapsed}, f)
    os.rename(tmp.root, root)
    _evict(cache_dir, workload, root)
    return inp, elapsed


# --------------------------------------------------------------------------
# ship_images
# --------------------------------------------------------------------------

SLICE_IMAGES = 700


def _gen_images(out: Input, seed: int, size: int, files: int, session_factory) -> None:
    from datasketches_rust_spark.sources.imagegen import generate_image_caption_df

    spark = session_factory()
    df = generate_image_caption_df(spark, size, seed=seed, partitions=files,
                                   with_truth=True)
    pdf = df.toPandas()
    pdf = pdf.sort_values("image_id", ignore_index=True)
    truth = pdf[["image_id", "true_cluster"]].rename(
        columns={"image_id": "id", "true_cluster": "cluster"}
    )
    rows = pdf.drop(columns=["true_cluster"])
    _write(rows, out.data, files)
    _write(rows.iloc[:SLICE_IMAGES], out.slice, files)
    truth.to_parquet(out.truth_path, index=False)


# --------------------------------------------------------------------------
# hot_captions
# --------------------------------------------------------------------------

_CAPTION_VOCAB = np.array([f"w{i:04d}" for i in range(5000)])
# over the default DedupConfig.max_bucket_size of 256: these clusters'
# shared band buckets take the salted chain path
HOT_CLUSTER_SIZES = (400, 500)
SLICE_CAPTIONS = 1500


def _caption_variant(rng: np.random.Generator, base: np.ndarray) -> str:
    toks = list(base)
    pos = int(rng.integers(0, len(toks)))
    if rng.integers(0, 2):
        toks[pos] = str(rng.choice(_CAPTION_VOCAB))
    else:
        del toks[pos]
    return " ".join(toks)


def generate_captions(seed: int, size: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """(rows(id, caption), truth(id, cluster)). Half the rows outside the
    hot clusters sit in clusters of 2-20; the rest are unique. A variant
    is its cluster's base caption with one token replaced or dropped, so
    its word-3-shingle Jaccard to the base stays near 0.7."""
    rng = np.random.default_rng(seed)
    sizes = list(HOT_CLUSTER_SIZES)
    clustered = (size - sum(sizes)) // 2
    while clustered > 1:
        s = min(int(rng.integers(2, 21)), clustered)
        sizes.append(s)
        clustered -= s
    sizes += [1] * (size - sum(sizes))
    captions, clusters = [], []
    for c, s in enumerate(sizes):
        base = rng.choice(_CAPTION_VOCAB, size=int(rng.integers(18, 27)))
        captions.append(" ".join(base))
        for v in range(1, s):
            # hot clusters mix exact copies and variants
            if s in HOT_CLUSTER_SIZES and v % 2 == 0:
                captions.append(" ".join(base))
            else:
                captions.append(_caption_variant(rng, base))
        clusters += [c] * s
    order = rng.permutation(size)
    ids = np.array([f"cap_{i:09d}" for i in range(size)])
    rows = pd.DataFrame({"id": ids, "caption": np.array(captions)[order]})
    truth = pd.DataFrame({"id": ids, "cluster": np.array(clusters)[order]})
    return rows, truth


def _gen_captions(out: Input, seed: int, size: int, files: int, _session) -> None:
    rows, truth = generate_captions(seed, size)
    _write(rows, out.data, files)
    slice_rows, _ = generate_captions(seed + 1, SLICE_CAPTIONS)
    _write(slice_rows, out.slice, files)
    truth.to_parquet(out.truth_path, index=False)


# --------------------------------------------------------------------------
# sketch_rollup
# --------------------------------------------------------------------------

EVENT_KEYS = 100
EVENT_ITEMS = 2000
SLICE_EVENTS = 25000


def _zipf(rng: np.random.Generator, n: int, k: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, k + 1) ** s
    return rng.choice(k, size=n, p=p / p.sum())


def generate_events(seed: int, size: int) -> pd.DataFrame:
    """(key string, user long, item string, value double): Zipf(1.1)
    keys, so a few keys run the sketches in estimation mode and most
    stay small; Zipf(1.3) items within a key, so each key has heavy
    hitters; users from a pool of ``size`` ids."""
    rng = np.random.default_rng(seed)
    keys = _zipf(rng, size, EVENT_KEYS, 1.1)
    # a per-seed key permutation, so key names do not encode rank
    key_names = np.array([f"k{i:04d}" for i in rng.permutation(EVENT_KEYS)])
    items = (_zipf(rng, size, EVENT_ITEMS, 1.3) + keys * 7) % EVENT_ITEMS
    item_names = np.array([f"i{i:05d}" for i in range(EVENT_ITEMS)])
    return pd.DataFrame({
        "key": key_names[keys],
        "user": rng.integers(0, size, size=size, dtype=np.int64),
        "item": item_names[items],
        "value": rng.lognormal(3.0, 1.0, size=size),
    })


def _gen_events(out: Input, seed: int, size: int, files: int, _session) -> None:
    rows = generate_events(seed, size)
    _write(rows, out.data, files)
    _write(generate_events(seed + 1, SLICE_EVENTS), out.slice, files)
    distinct = rows.groupby("key")["user"].nunique().rename("distinct").reset_index()
    distinct.to_parquet(out.truth_path, index=False)
    counts = rows.groupby(["key", "item"]).size().rename("count").reset_index()
    counts.to_parquet(os.path.join(out.root, "item_counts.parquet"), index=False)
    np.save(os.path.join(out.root, "values_sorted.npy"), np.sort(rows["value"].to_numpy()))


GENERATORS = {
    "ship_images": _gen_images,
    "hot_captions": _gen_captions,
    "sketch_rollup": _gen_events,
}
