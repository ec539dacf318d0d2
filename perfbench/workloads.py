"""The three workloads, each with an untraced pass, a traced pass and an
output check. Only the package's public functions are called.

Why these three (see NOTES.md for the sizing):

* ``ship_images`` runs the shipped job's default path
  (``near_dup_multimodal_clusters_from_path`` -> parquet). Signature
  kernels and the Python<->Arrow boundary do about half its work and CC
  takes the driver path, so a signature or boundary change shows here.
* ``hot_captions`` runs ``near_dup_text_clusters`` on captions with
  clusters larger than the bucket cap, under the shipped at-scale plan
  (``run_dedup.py --at-scale-plan``), so the salted chain path, the wide
  signature verify join and the distributed CC loop all run while the
  signatures stay cheap. Post-signature work shows here.
* ``sketch_rollup`` runs the five two-phase sketch aggregations: the
  same hashing kernels and pandas-UDF boundary as the dedup workloads,
  but per-item aggregation, and no LSH or CC.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from dataclasses import replace

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

MIN_RECALL = 0.99
# sketch error check: |estimate / exact - 1| <= SIGMAS * stated RSE
SIGMAS = 5.0
THETA_LG_K, HLL_LG_K, CPC_LG_K = 12, 12, 11
STATED_RSE = {
    "theta": 1.0 / np.sqrt(1 << THETA_LG_K),
    "hll": 1.04 / np.sqrt(1 << HLL_LG_K),
    "cpc": 0.693 / np.sqrt(1 << CPC_LG_K),
}
QUANTILES = (0.5, 0.9, 0.99)


class CheckFailed(Exception):
    pass


def _rm(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


def _collect(df, out_dir: str) -> None:
    """Collect a small result to the driver and keep it for the check."""
    pdf = df.toPandas()
    _rm(out_dir)
    os.makedirs(out_dir)
    pdf.to_parquet(os.path.join(out_dir, "result.parquet"), index=False)


def _read_assignment(path: str) -> pd.DataFrame:
    return pq.read_table(path).to_pandas()


def _pairs(sizes: pd.Series) -> int:
    n = sizes.to_numpy(dtype=np.int64)
    return int((n * (n - 1) // 2).sum())


def check_assignment(out: pd.DataFrame, truth: pd.DataFrame, id_col: str) -> dict:
    """Dup-pair recall and precision of an (id, cluster_id) assignment
    against planted clusters, counted per (true, predicted) cluster
    cell so hot clusters cost no pair enumeration."""
    out = out.rename(columns={id_col: "id"})
    if len(out) != len(truth) or out["id"].duplicated().any():
        raise CheckFailed(f"{len(out)} assignment rows for {len(truth)} input rows")
    joined = truth.merge(out, on="id", how="left")
    if joined["cluster_id"].isna().any():
        raise CheckFailed("input ids missing from the assignment")
    both = _pairs(joined.groupby(["cluster", "cluster_id"]).size())
    true_pairs = _pairs(joined.groupby("cluster").size())
    pred_pairs = _pairs(joined.groupby("cluster_id").size())
    recall = both / true_pairs if true_pairs else 1.0
    precision = both / pred_pairs if pred_pairs else 1.0
    ordered = out.sort_values("id")
    digest = hashlib.sha256(
        "\n".join(ordered["id"] + "\t" + ordered["cluster_id"]).encode()
    ).hexdigest()
    if recall < MIN_RECALL:
        raise CheckFailed(f"recall {recall:.4f} < {MIN_RECALL}")
    return {"recall": recall, "precision": precision, "digest": digest,
            "components": int((joined.groupby("cluster_id").size() > 1).sum())}


# the first passes after set-up still carry most of the JVM's JIT work
# (measured 22 s of compile time in the first, 10-16 s in later ones),
# so a workload whose passes vary that way takes the median of three
class ShipImages:
    name = "ship_images"
    id_col = "image_id"
    min_passes = 3
    layers = ("signatures", "edges", "cc", "output")
    # layer -> the layers it runs again inside, subtracted for self
    # time; output (assign_clusters + write) keeps the CC it runs again
    recomputes = {"edges": ("signatures",)}

    def __init__(self):
        from datasketches_rust_spark.config import DedupConfig

        self.cfg = DedupConfig()

    def run(self, spark, data: str, out_dir: str) -> None:
        from datasketches_rust_spark.operators.dedup import (
            near_dup_multimodal_clusters_from_path,
        )

        _rm(out_dir)
        out = near_dup_multimodal_clusters_from_path(spark, data, self.cfg)
        # the job's documented output names the key image_id
        out.withColumnRenamed("id", "image_id").write.mode("overwrite").parquet(out_dir)

    def traced(self, spark, data: str, out_dir: str, tr) -> None:
        from datasketches_rust_spark.operators.dedup import (
            assign_clusters,
            multimodal_verified_edges_from_path,
        )
        from datasketches_rust_spark.operators.signatures import signatures_direct
        from pyspark.sql import functions as F

        cfg = self.cfg
        _rm(out_dir)
        with tr.span("signatures"):
            sigs = signatures_direct(spark, data, cfg.minhash, cfg.simhash)
            sigs = sigs.localCheckpoint(eager=True)
        tr.counts["signatures.rows"] = sigs.count()
        tr.counts["signatures.decode_failed"] = sigs.filter(~F.col("decode_ok")).count()
        with tr.span("edges"):
            all_ids, edges, _ = multimodal_verified_edges_from_path(spark, data, cfg)
            edges = edges.localCheckpoint(eager=True)
        _cc(tr, edges, cfg)
        with tr.span("output"):
            out = assign_clusters(all_ids, edges, cfg)
            out.withColumnRenamed("id", "image_id").write.mode("overwrite").parquet(out_dir)

    def check(self, inp, out_dir: str) -> dict:
        return check_assignment(_read_assignment(out_dir), inp.truth(), self.id_col)


class HotCaptions:
    name = "hot_captions"
    id_col = "id"
    min_passes = 3
    layers = ("signatures", "lsh", "verify", "cc", "output")
    recomputes = {"verify": ("lsh",)}

    def __init__(self):
        from datasketches_rust_spark.config import DedupConfig

        # the shipped at-scale plan (run_dedup.py --at-scale-plan): CC
        # runs the distributed loop at any edge count
        self.cfg = replace(DedupConfig(), cc_driver_max_edges=0,
                           broadcast_verify_max_rows=0)

    def run(self, spark, data: str, out_dir: str) -> None:
        from datasketches_rust_spark.operators.dedup import near_dup_text_clusters

        df = spark.read.parquet(data)
        _collect(near_dup_text_clusters(df, "id", "caption", self.cfg), out_dir)

    def traced(self, spark, data: str, out_dir: str, tr) -> None:
        from datasketches_rust_spark.operators.dedup import (
            assign_clusters,
            text_signatures,
            verified_text_pairs,
        )
        from datasketches_rust_spark.operators.lsh import candidate_pairs, explode_bands
        from pyspark.sql import functions as F

        cfg = self.cfg
        df = spark.read.parquet(data)
        with tr.span("signatures"):
            sigs = text_signatures(df, "id", "caption", cfg).localCheckpoint(eager=True)
        tr.counts["signatures.rows"] = sigs.count()
        tr.counts["signatures.decode_failed"] = 0
        with tr.span("lsh"):
            banded = explode_bands(sigs, "_id")
            pairs = candidate_pairs(banded, cfg).localCheckpoint(eager=True)
        tr.counts["lsh.band_rows"] = banded.count()
        tr.counts["lsh.candidate_pairs"] = pairs.count()
        sizes = banded.groupBy("band_id", "band_key").count()
        row = sizes.agg(
            F.max("count").alias("m"),
            F.sum((F.col("count") > cfg.max_bucket_size).cast("int")).alias("hot"),
        ).first()
        tr.counts["lsh.max_bucket"] = row["m"]
        tr.counts["lsh.hot_buckets"] = row["hot"]
        with tr.span("verify"):
            edges = verified_text_pairs(sigs, cfg).localCheckpoint(eager=True)
        _cc(tr, edges, cfg)
        tr.counts["verify.edges"] = tr.counts["cc.edges_in"]
        tr.counts["verify.yield"] = (
            tr.counts["verify.edges"] / tr.counts["lsh.candidate_pairs"]
            if tr.counts["lsh.candidate_pairs"] else 0.0
        )
        with tr.span("output"):
            all_ids = df.select(F.col("id").alias("id"))
            _collect(assign_clusters(all_ids, edges, cfg), out_dir)

    def check(self, inp, out_dir: str) -> dict:
        return check_assignment(_read_assignment(out_dir), inp.truth(), self.id_col)


def _cc(tr, edges, cfg) -> None:
    """The CC layer on the materialised verified edges."""
    from datasketches_rust_spark.operators.connected_components import (
        connected_components,
    )

    tr.counts["cc.edges_in"] = edges.count()
    stats: dict = {}
    with tr.span("cc"):
        connected_components(
            edges, "a", "b", cfg.max_cc_iterations, cfg.cc_driver_max_edges,
            stats=stats,
        ).localCheckpoint(eager=True)
    tr.counts["cc.distributed"] = int(stats.get("path") == "distributed")
    tr.counts["cc.rounds"] = stats.get("rounds", 0)


SKETCHES = ("theta", "hll", "cpc", "freq", "tdigest")


def _sketch_calls():
    from datasketches_rust_spark.config import ThetaConfig
    from datasketches_rust_spark.operators import sketch_aggs as S

    theta_cfg = ThetaConfig(lg_k=THETA_LG_K)
    return {
        "theta": lambda df: S.theta_distinct_by_key(df, "key", "user", theta_cfg),
        "hll": lambda df: S.hll_distinct_by_key(df, "key", "user", HLL_LG_K),
        "cpc": lambda df: S.cpc_distinct_by_key(df, "key", "user", CPC_LG_K),
        "freq": lambda df: S.frequent_items_by_key(df, "key", "item"),
        "tdigest": lambda df: S.tdigest_stats(df, "value", QUANTILES),
    }, {
        "theta": lambda df: S.theta_partial_sketches(df, "key", "user", theta_cfg),
        "hll": lambda df: S.hll_partial_sketches(df, "key", "user", HLL_LG_K),
        "cpc": lambda df: S.cpc_partial_sketches(df, "key", "user", CPC_LG_K),
    }


class SketchRollup:
    name = "sketch_rollup"
    min_passes = 2
    layers = tuple(f"sketch.{s}" for s in SKETCHES)
    recomputes: dict = {}

    def run(self, spark, data: str, out_dir: str) -> None:
        calls, _ = _sketch_calls()
        df = spark.read.parquet(data)
        for name, call in calls.items():
            _collect(call(df), os.path.join(out_dir, name))

    def traced(self, spark, data: str, out_dir: str, tr) -> None:
        from pyspark.sql import functions as F

        calls, partials = _sketch_calls()
        df = spark.read.parquet(data)
        for name, call in calls.items():
            with tr.span(f"sketch.{name}"):
                _collect(call(df), os.path.join(out_dir, name))
        for name, call in partials.items():
            size = call(df).agg(F.sum(F.length("sketch")).alias("n")).first()["n"]
            tr.counts[f"sketch.{name}.partial_bytes"] = size

    def check(self, inp, out_dir: str) -> dict:
        res = {n: pd.read_parquet(os.path.join(out_dir, n)) for n in SKETCHES}
        exact = inp.truth().set_index("key")["distinct"]
        worst = {}
        for fam, col in (("theta", "distinct_estimate"), ("hll", "hll_estimate"),
                         ("cpc", "cpc_estimate")):
            est = res[fam].set_index("key")[col]
            if set(est.index) != set(exact.index):
                raise CheckFailed(f"{fam}: keys differ from the input's")
            err = (est.reindex(exact.index) / exact - 1.0).abs()
            worst[fam] = float(err.max())
            if worst[fam] > SIGMAS * STATED_RSE[fam]:
                raise CheckFailed(
                    f"{fam}: rel err {worst[fam]:.4f} on key {err.idxmax()} > "
                    f"{SIGMAS} x stated RSE {STATED_RSE[fam]:.4f}"
                )
        recall = _check_frequent(res["freq"], inp)
        _check_tdigest(res["tdigest"].iloc[0], inp)
        return {"recall": recall, "max_rel_err": max(worst.values()), **{
            f"{fam}_max_rel_err": v for fam, v in worst.items()}}


def _check_frequent(freq: pd.DataFrame, inp) -> float:
    """Every reported count brackets the exact count, and every item
    whose exact count exceeds twice its key's error bound is reported
    (the Misra-Gries no-false-negative guarantee). Returns that
    heavy-hitter recall."""
    counts = pd.read_parquet(os.path.join(inp.root, "item_counts.parquet"))
    got = freq.merge(counts, on=["key", "item"], how="left")
    if got["count"].isna().any():
        raise CheckFailed("frequent items reported an item absent from its key")
    if ((got["count"] < got["lower_bound"]) | (got["count"] > got["upper_bound"])).any():
        raise CheckFailed("frequent items bounds exclude an exact count")
    offset = (freq["upper_bound"] - freq["lower_bound"]).groupby(freq["key"]).max()
    heavy = counts[counts["key"].isin(offset.index)]
    heavy = heavy[heavy["count"] > 2 * heavy["key"].map(offset)]
    found = heavy.merge(freq[["key", "item"]], on=["key", "item"]).shape[0]
    if found != len(heavy):
        raise CheckFailed(f"frequent items missed {len(heavy) - found} heavy hitters")
    return found / len(heavy) if len(heavy) else 1.0


def _check_tdigest(row: pd.Series, inp) -> None:
    values = np.load(os.path.join(inp.root, "values_sorted.npy"))
    if (row["min_value"], row["max_value"], row["total_weight"]) != (
            values[0], values[-1], len(values)):
        raise CheckFailed("t-digest min/max/count differ from the exact values")
    for q in QUANTILES:
        est = row[f"q_{str(float(q)).replace('.', '_')}"]
        rank = np.searchsorted(values, est) / len(values)
        if abs(rank - q) > _tdigest_rank_bound(q, len(values)):
            raise CheckFailed(f"t-digest q{q}: rank {rank:.4f}")


def _tdigest_rank_bound(q: float, n: int, k: int = 200) -> float:
    """The K_2 scale function's largest centroid weight at ``q``, as a
    share of n (functions/tdigest.py ``_scale_max``): interpolation
    inside one centroid cannot miss the rank by more."""
    compression = 2 * k
    return q * (1 - q) * (4 * np.log(n / compression) + 24) / compression


WORKLOADS = {w.name: w for w in (ShipImages, HotCaptions, SketchRollup)}
