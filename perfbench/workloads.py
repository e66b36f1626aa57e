"""The benchmark's workloads: set-up, one closed-loop job, its checks, and
a traced replay of the same job as a sequence of calls into the layers.

Every workload draws its input from ``generate_pages_df(spark, n, seed)``
and writes it as parquet during set-up, so a job starts from materialized
input and leaves nothing persisted that the next job could reuse.
"""

from __future__ import annotations

import hashlib
import os
import time
from dataclasses import dataclass

import numpy as np
from pyspark.sql import functions as F

from geospatial_object_matching_spark.config import NN_PARAM, EngineConf
from geospatial_object_matching_spark.sources.pages import generate_pages_df

#: the seed whose results are pinned in expected.json
DEFAULT_SEED = 42

#: the matching stage replayed on the flagship's candidates: one combination
#: per backbone in DEFAULT_PARAM_GRIDS' shape (the default grid's 26 driver
#: fits take ~40 s on one core, more than a run can spend) and a train
#: fraction that keeps the driver-side fit to a few hundred rows
MQ_TRAIN_FRAC = 0.15
MQ_PARAM_GRIDS = {
    "RandomForestMatcher": {"n_trees": [15], "max_depth": [5]},
    "GradientBoostingMatcher": {"n_rounds": [40], "learning_rate": [0.3], "max_depth": [3]},
}
MQ_CV = 3


@dataclass
class Ctx:
    spark: object
    conf: EngineConf
    seed: int
    work: str  # scratch directory of this run, inside the checkout


def setup(ctx: Ctx, n_entities: int) -> dict:
    """Set-up of every workload: generate the pages and write them."""
    path = os.path.join(ctx.work, f"pages-{n_entities}.parquet")
    generate_pages_df(ctx.spark, n_entities, seed=ctx.seed).write.mode("overwrite").parquet(path)
    pages = ctx.spark.read.parquet(path)
    n_pages = pages.count()
    n_index = pages.filter(F.col("url").startswith("https://index.")).count()
    return {"pages_path": path, "entities": n_entities, "pages": n_pages, "index_pages": n_index}


def _pages(ctx: Ctx, state: dict):
    return ctx.spark.read.parquet(state["pages_path"])


def _feature_rows(pair_feats) -> int:
    """Rows of the pair-features table, in a pass that computes every ratio
    column: a plain count would let Spark prune the 25 ratio expressions."""
    from geospatial_object_matching_spark.config import OBJECT_PROPERTIES

    sums = [F.sum(f"{p}_ratio") for p in OBJECT_PROPERTIES]
    return int(pair_feats.agg(F.count(F.lit(1)), *sums).first()[0])


def _sample_ids(ids, n: int, seed: int) -> list[str]:
    key = lambda s: hashlib.md5(f"{seed}|{s}".encode()).hexdigest()  # noqa: E731
    return sorted(ids, key=key)[:n]


def _same_neighbours(engine: list, oracle: list) -> bool:
    """Equal rounded distances rank by rank; ids equal except that ids at
    one rounded distance may come in any order, and the last such run may
    be cut differently at rank k."""
    if [d for _, d in engine] != [d for _, d in oracle]:
        return False
    runs: dict[float, tuple[set, set]] = {}
    for (ei, d), (oi, _) in zip(engine, oracle):
        runs.setdefault(d, (set(), set()))
        runs[d][0].add(ei)
        runs[d][1].add(oi)
    last = engine[-1][1] if engine else None
    return all(a == b for d, (a, b) in runs.items() if d != last)


# --------------------------------------------------------------------------
# flagship: pages -> run_pipeline -> matches, pair_features
# --------------------------------------------------------------------------


class Flagship:
    name = "flagship"
    entities = 1200
    replays_pipeline = True

    def job(self, ctx: Ctx, state: dict) -> dict:
        from geospatial_object_matching_spark.plans.pipeline import run_pipeline

        res = run_pipeline(ctx.spark, _pages(ctx, state), bkafi_dim=3, with_features=True, conf=ctx.conf)
        return {
            "matches": res["matches"].count(),
            "pair_features": _feature_rows(res["pair_features"]),
            "candidates": res["candidates"].count(),
            "counts": res["counts"],
            "threshold_95": res["thresholds"][0.95],
            "feature_order": res["feature_order"],
            "_res": res,
        }

    def check(self, ctx: Ctx, state: dict, out: dict) -> list[str]:
        k = min(NN_PARAM, out["counts"]["index"])
        bad = []
        if out["candidates"] != out["counts"]["cands"] * k:
            bad.append(f"candidates {out['candidates']} != cands {out['counts']['cands']} x k {k}")
        if out["pair_features"] != out["candidates"]:
            bad.append(f"pair_features {out['pair_features']} != candidates {out['candidates']}")
        if not 0 < out["matches"] <= out["candidates"]:
            bad.append(f"matches {out['matches']} outside (0, candidates]")
        if out["counts"]["cands"] != state["entities"] or out["counts"]["index"] != state["index_pages"]:
            bad.append(f"side counts {out['counts']} do not match the input")
        return bad

    def deep_check(self, ctx: Ctx, state: dict, out: dict) -> list[str]:
        """Sampled kNN parity against the oracle on the engine's BKAFI vectors."""
        from geospatial_object_matching_spark.operators.blocking import bkafi_vectors
        from geospatial_object_matching_spark.operators.scaler import robust_scaler_fit
        from oracle.reference_oracle import knn_join as oracle_knn

        res = out["_res"]
        props = res["properties"]
        feats = out["feature_order"][:3]
        stats = robust_scaler_fit(props.filter(F.col("source") == "cands"), feats)
        cands_v, index_v = bkafi_vectors(props, feats, stats=stats)
        index = {r["obj_id"]: list(r["features"]) for r in index_v.collect()}
        cands = {r["obj_id"]: list(r["features"]) for r in cands_v.collect()}
        sample = _sample_ids(cands, 24, ctx.seed)
        got: dict[str, list] = {c: [] for c in sample}
        rows = res["candidates"].filter(F.col("cand_id").isin(sample)).collect()
        for r in sorted(rows, key=lambda r: (r["cand_id"], r["rank"])):
            got[r["cand_id"]].append((r["index_id"], r["dist"]))
        bad = []
        for cid in sample:
            # one query per call: the oracle's scaler refit on a single row
            # is the identity on distances, so it ranks the engine's vectors
            want = oracle_knn({cid: cands[cid]}, index, NN_PARAM)[cid]
            if not _same_neighbours(got[cid], want):
                bad.append(f"kNN of {cid} differs from the oracle")
        return bad

    def pinned(self, out: dict) -> dict:
        return {"matches": out["matches"], "candidates": out["candidates"],
                "threshold_95": round(out["threshold_95"], 9)}

    def replay(self, ctx: Ctx, state: dict, tr) -> dict:
        from geospatial_object_matching_spark.operators.blocking import bkafi_feature_order, bkafi_vectors
        from geospatial_object_matching_spark.operators.knn import knn_join
        from geospatial_object_matching_spark.operators.matching import (
            matched_pair_vectors, pair_features, percentile_thresholds, threshold_stats)
        from geospatial_object_matching_spark.operators.properties import pages_to_properties
        from geospatial_object_matching_spark.operators.scaler import robust_scaler_fit

        # the spans under "replay" are run_pipeline's own calls, one after
        # another; pages are parsed inside the fused properties pass
        with tr.span("replay"):
            pages = _pages(ctx, state)
            with tr.span("operators.properties") as s:
                props = pages_to_properties(pages, zoom=15, log1p=True).persist()
                s["objects"] = props.count()
            with tr.span("operators.blocking.order"):
                feats = bkafi_feature_order(props, "std")[:3]
            with tr.span("operators.scaler.fit"):
                stats = robust_scaler_fit(props.filter(F.col("source") == "cands"), feats)
            with tr.span("operators.blocking.vectors") as s:
                cands_v, index_v = bkafi_vectors(props, feats, stats=stats)
                cands_v, index_v = cands_v.persist(), index_v.persist()
                s["queries"], s["index_rows"] = cands_v.count(), index_v.count()
            with tr.span("operators.knn") as knn:
                cands = knn_join(cands_v, index_v, NN_PARAM, conf=ctx.conf).persist()
                knn["rows_out"] = cands.count()
                knn.update(queries=s["queries"], index_rows=s["index_rows"],
                           strategy=int(s["index_rows"] > ctx.conf.broadcast_index_max_rows))
            with tr.span("operators.matching.thresholds"):
                dists, _ = matched_pair_vectors(props, feats)
                thresholds = percentile_thresholds(dists, (0.5, 0.75, 0.9, 0.95, 0.99))
            with tr.span("plans.pipeline.counts"):
                # run_pipeline's side counts: one job for all three
                row = (props.groupBy("obj_id")
                       .agg(F.max((F.col("source") == "cands").cast("int")).alias("c"),
                            F.max((F.col("source") == "index").cast("int")).alias("i"))
                       .agg(F.sum("c"), F.sum("i"), F.sum(F.col("c") * F.col("i")))
                       .first())
                n_c, n_i, n_int = (int(x) for x in row)
            with tr.span("operators.matching.stats"):
                threshold_stats(cands, thresholds, n_c, n_i, n_int)
            with tr.span("operators.matching.match") as s_match:
                s_match["matches"] = cands.filter(F.col("dist") <= F.lit(thresholds[0.95])).count()
            with tr.span("operators.matching.pair_features") as s:
                s["rows"] = _feature_rows(pair_features(cands.select("cand_id", "index_id"), props))
        with tr.span("plans.matching_quality"):
            f1 = _matching_stage(tr, props, cands)
        return {"matches": s_match["matches"], "candidates": knn["rows_out"],
                "threshold_95": round(thresholds[0.95], 9), **f1}


def _matching_stage(tr, props, cands) -> dict:
    """run_matching_quality's lifecycle after blocking, on the flagship's
    candidates: blocking-based pairs, pair features, a train/test split by
    cand id, the driver-side grid search and distributed predict."""
    from geospatial_object_matching_spark.config import OBJECT_PROPERTIES
    from geospatial_object_matching_spark.operators.matching import pair_features, precision_recall_f1
    from geospatial_object_matching_spark.operators.matching_model import cv_grid_search, predict_matches
    from geospatial_object_matching_spark.plans.matching_quality import (
        blocking_based_pairs, train_test_split_pairs)

    matched = (props.filter(F.col("source") == "cands").select("obj_id")
               .intersect(props.filter(F.col("source") == "index").select("obj_id")))
    labelled = cands.withColumn("label", (F.col("cand_id") == F.col("index_id")).cast("int"))
    cols = [f"{p}_ratio" for p in OBJECT_PROPERTIES]
    with tr.span("plans.matching_quality.collect"):
        feats = pair_features(blocking_based_pairs(labelled, 2, matched_ids=matched), props).persist()
        train, test = train_test_split_pairs(feats, MQ_TRAIN_FRAC, 1)
        pdf = (train.select("cand_id", "index_id", "label", *cols).toPandas()
               .sort_values(["cand_id", "index_id"], kind="mergesort").reset_index(drop=True))
    with tr.span("operators.matching_model.grid") as s:
        cpu0 = time.process_time()
        fitted = cv_grid_search(pdf[cols].to_numpy(dtype=np.float64),
                                pdf["label"].to_numpy(dtype=np.int64),
                                cols, MQ_PARAM_GRIDS, cv=MQ_CV, seed=1)
        s["driver_cpu_s"] = time.process_time() - cpu0
        s["fits"] = sum(MQ_CV * _n_combos(g) + 1 for g in MQ_PARAM_GRIDS.values())
        s["train_rows"] = len(pdf)
    out = {}
    with tr.span("operators.matching_model.predict"):
        for name in sorted(fitted):
            scored = predict_matches(fitted[name]["model"], test, cols,
                                     keep_cols=("cand_id", "index_id", "label"))
            out[f"{name}.f1"] = round(precision_recall_f1(scored)["f1"], 3)
    feats.unpersist()
    return out


# --------------------------------------------------------------------------
# image_blocking: pages -> run_image_blocking -> PC@k
# --------------------------------------------------------------------------


class ImageBlocking:
    name = "image_blocking"
    entities = 1200
    replays_pipeline = False
    k_list = (1, 5, 20)

    def job(self, ctx: Ctx, state: dict) -> dict:
        from geospatial_object_matching_spark.plans.contrastive import run_image_blocking

        rows = run_image_blocking(ctx.spark, _pages(ctx, state), k_list=self.k_list).collect()
        return {"pc": {int(r["k"]): r["pc"] for r in rows},
                "hits": {int(r["k"]): int(r["n_hits"]) for r in rows},
                "intersection": int(rows[0]["n_intersection"])}

    def check(self, ctx: Ctx, state: dict, out: dict) -> list[str]:
        bad = []
        if sorted(out["pc"]) != list(self.k_list):
            bad.append(f"PC@k rows for k={sorted(out['pc'])}")
            return bad
        if out["intersection"] != state["index_pages"]:
            bad.append(f"intersection {out['intersection']} != index pages {state['index_pages']}")
        hits = [out["hits"][k] for k in self.k_list]
        if hits != sorted(hits) or hits[-1] > out["intersection"]:
            bad.append(f"hits {hits} not monotone in k or above the intersection")
        for k in self.k_list:
            # Spark rounds half up on the decimal form, Python's round() on
            # the binary one, so compare within the rounding step
            if abs(out["pc"][k] - out["hits"][k] / out["intersection"]) > 5e-4 + 1e-12:
                bad.append(f"PC@{k} {out['pc'][k]} is not hits / intersection to 3 decimals")
        return bad

    def deep_check(self, ctx: Ctx, state: dict, out: dict) -> list[str]:
        return []

    def pinned(self, out: dict) -> dict:
        return {**{f"hits@{k}": out["hits"][k] for k in self.k_list},
                **{f"pc@{k}": out["pc"][k] for k in self.k_list}}

    def replay(self, ctx: Ctx, state: dict, tr) -> dict:
        from geospatial_object_matching_spark.operators.contrastive import EMBED_DIM, image_embeddings
        from geospatial_object_matching_spark.operators.extract import extract_objects
        from geospatial_object_matching_spark.operators.render import render_objects_png
        from geospatial_object_matching_spark.operators.similarity import dense_cosine_topk

        with tr.span("replay"):
            pages = _pages(ctx, state)
            with tr.span("operators.extract") as s:
                objects = extract_objects(pages).select(
                    F.concat_ws("|", "source", "obj_id").alias("objkey"), "coords", "ring_offsets"
                ).persist()
                s["objects"] = objects.count()
            with tr.span("operators.render") as s:
                rendered = render_objects_png(objects, id_col="objkey").persist()
                s["objects"] = rendered.count()
            with tr.span("operators.contrastive") as s:
                emb = image_embeddings(rendered).select(
                    F.split("obj_id", "\\|").getItem(0).alias("src"),
                    F.split("obj_id", "\\|").getItem(1).alias("vec_id"),
                    "embedding",
                ).persist()
                per_src = {r["src"]: r["count"] for r in emb.groupBy("src").count().collect()}
                n_q, n_b = per_src.get("cands", 0), per_src.get("index", 0)
                s["objects"] = n_q + n_b
            cand_emb = emb.filter(F.col("src") == "cands").select("vec_id", "embedding")
            index_emb = emb.filter(F.col("src") == "index").select("vec_id", "embedding")
            with tr.span("plans.contrastive.intersection"):
                cand_emb.select("vec_id").intersect(index_emb.select("vec_id")).count()
            with tr.span("operators.similarity.topk") as s:
                topk = dense_cosine_topk(index_emb, cand_emb, k=max(self.k_list), exclude_self=False)
                hit = topk.filter(F.col("query_id") == F.col("vec_id"))
                ranks = [r["rank"] for r in hit.select("rank").collect()]
                s.update(queries=n_q, index_rows=n_b, gemm_flops=n_q * n_b * EMBED_DIM)
        return {f"hits@{k}": sum(r <= k for r in ranks) for k in self.k_list}


def _n_combos(grid: dict) -> int:
    return int(np.prod([len(v) for v in grid.values()]))


WORKLOADS = {w.name: w for w in (Flagship(), ImageBlocking())}


def kernel_timings() -> dict:
    """functions.geometry kernels timed without Spark on the meshes of 150
    entities of the default seed: median of three passes, µs per object."""
    from geospatial_object_matching_spark.functions.geometry import (
        compute_properties_batch, convex_hull_3d_volume)
    from geospatial_object_matching_spark.operators.extract import parse_pages_batch
    from geospatial_object_matching_spark.sources.pages import generate_pages_pdf

    parsed = list(parse_pages_batch(generate_pages_pdf(150, seed=DEFAULT_SEED)))
    coords = [p[5] for p in parsed]
    offsets = [p[6] for p in parsed]
    props, hull = [], []
    for _ in range(3):
        t0 = time.perf_counter()
        compute_properties_batch(coords, offsets, log1p=True)
        t1 = time.perf_counter()
        for c in coords:
            convex_hull_3d_volume(c.reshape(-1, 3))
        t2 = time.perf_counter()
        props.append((t1 - t0) / len(coords) * 1e6)
        hull.append((t2 - t1) / len(coords) * 1e6)
    return {"functions.geometry.us_per_obj": float(np.median(props)),
            "functions.geometry.hull3d_us_per_obj": float(np.median(hull))}

