"""Numpy RF matcher: planted-signal fit, distributed predict parity,
feature-importance criterion wiring."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geospatial_object_matching_spark.operators.matching_model import (
    RandomForestMatcher,
    feature_importance_order,
    predict_matches,
    train_matcher,
)


def make_data(n=2000, seed=0):
    rng = np.random.default_rng(seed)
    X = rng.normal(0, 1, (n, 5))
    # label determined by feature 2 (strong) + feature 0 (weak)
    y = ((X[:, 2] + 0.3 * X[:, 0] + rng.normal(0, 0.3, n)) > 0).astype(np.int64)
    return X, y


class TestRF:
    def test_fit_predict_accuracy(self):
        X, y = make_data()
        m = RandomForestMatcher(n_trees=20, max_depth=6, seed=3)
        m.fit(X[:1500], y[:1500], [f"f{i}" for i in range(5)])
        acc = (m.predict(X[1500:]) == y[1500:]).mean()
        assert acc > 0.85

    def test_importance_ranks_signal_feature(self):
        X, y = make_data()
        m = RandomForestMatcher(n_trees=20, max_depth=6, seed=3)
        m.fit(X, y, [f"f{i}_ratio" for i in range(5)])
        ranking = m.feature_importance_ranking()
        assert ranking[0][0] == "f2_ratio"
        assert feature_importance_order(m)[0] == "f2"

    def test_determinism(self):
        X, y = make_data()
        a = RandomForestMatcher(n_trees=10, seed=7).fit(X, y, list("abcde"))
        b = RandomForestMatcher(n_trees=10, seed=7).fit(X, y, list("abcde"))
        np.testing.assert_array_equal(a.importances_, b.importances_)
        np.testing.assert_array_equal(a.predict_proba(X), b.predict_proba(X))


class TestSparkPredict:
    def test_distributed_predict_matches_local(self, spark):
        X, y = make_data(500)
        m = RandomForestMatcher(n_trees=10, max_depth=5, seed=1)
        m.fit(X, y, [f"f{i}" for i in range(5)])
        rows = [
            (str(i), str(i), *[float(v) for v in X[i]]) for i in range(len(X))
        ]
        df = spark.createDataFrame(
            rows,
            "cand_id string, index_id string, f0 double, f1 double, f2 double, "
            "f3 double, f4 double",
        )
        out = (
            predict_matches(m, df, [f"f{i}" for i in range(5)])
            .toPandas()
            .set_index("cand_id")
        )
        local = m.predict_proba(X)
        for i in range(len(X)):
            assert out.loc[str(i), "score"] == pytest.approx(local[i], abs=1e-12)

    def test_learned_feature_order_end_to_end(self, spark):
        """feature_importance BKAFI criterion on the geospatial fixture:
        learned order is deterministic, covers all 25 properties, and
        blocking with it achieves sane recall."""
        from geospatial_object_matching_spark.config import OBJECT_PROPERTIES
        from geospatial_object_matching_spark.operators.blocking import (
            run_bkafi_blocking,
        )
        from geospatial_object_matching_spark.operators.matching_model import (
            learned_feature_order,
        )
        from geospatial_object_matching_spark.operators.properties import (
            pages_to_properties,
        )
        from geospatial_object_matching_spark.sources.pages import (
            generate_pages_df,
        )

        props = pages_to_properties(
            generate_pages_df(spark, 60, seed=42), log1p=True
        ).persist()
        order1, model = learned_feature_order(props, n_neg=2, seed=1, n_trees=10)
        order2, _ = learned_feature_order(props, n_neg=2, seed=1, n_trees=10)
        assert order1 == order2
        assert sorted(order1) == sorted(OBJECT_PROPERTIES)

        res = run_bkafi_blocking(
            props, dims=[3], k_list=(20,), feature_order=order1
        )
        recall = res.recall["blocking_recall"].iloc[0]
        assert recall >= 0.5  # learned features must be informative

    def test_matching_end_to_end_with_contamination(self, spark):
        """Reference lifecycle §3.2 + contamination replay
        (contamination_experiments.py): train on clean pair features,
        evaluate on clean and 25%-contaminated test pairs; quality must be
        high clean and degrade gracefully."""
        from pyspark.sql import functions as F

        from geospatial_object_matching_spark.config import OBJECT_PROPERTIES
        from geospatial_object_matching_spark.operators.matching import (
            label_pairs,
            pair_features,
            precision_recall_f1,
        )
        from geospatial_object_matching_spark.operators.matching_model import (
            predict_matches,
            train_matcher,
        )
        from geospatial_object_matching_spark.operators.properties import (
            pages_to_properties,
        )
        from geospatial_object_matching_spark.operators.sampling import (
            contaminate_features,
            negative_sample_pairs,
        )
        from geospatial_object_matching_spark.sources.pages import (
            generate_pages_df,
        )

        props = pages_to_properties(
            generate_pages_df(spark, 120, seed=42), log1p=True
        ).persist()
        cands_ids = props.filter(F.col("source") == "cands").select("obj_id")
        index_ids = props.filter(F.col("source") == "index").select("obj_id")
        matched = cands_ids.intersect(index_ids)
        pairs = label_pairs(negative_sample_pairs(matched, index_ids, 3, seed=2))
        feats = pair_features(pairs, props).persist()
        ratio_cols = [f"{p}_ratio" for p in OBJECT_PROPERTIES]

        # deterministic hash split train/test
        is_train = F.substring(
            F.md5(F.concat("cand_id", F.lit("|"), "index_id")), 1, 1
        ).isin(*list("01234567"))
        train = feats.filter(is_train)
        test = feats.filter(~is_train).persist()

        model = train_matcher(train, ratio_cols, n_trees=15, max_depth=7, seed=3)

        def f1_of(test_df):
            scored = predict_matches(
                model, test_df, ratio_cols, keep_cols=("cand_id", "index_id", "label")
            )
            return precision_recall_f1(scored)["f1"]

        clean_f1 = f1_of(test)
        assert clean_f1 > 0.8, clean_f1

        dirty = contaminate_features(
            test.withColumn(
                "_k", F.concat("cand_id", F.lit("|"), "index_id")
            ),
            ratio_cols,
            level=0.25,
            seed=5,
            key_col="_k",
        )
        dirty_f1 = f1_of(dirty)
        assert dirty_f1 > 0.5 * clean_f1, (clean_f1, dirty_f1)

    def test_train_matcher_from_df(self, spark):
        X, y = make_data(800)
        rows = [
            (*[float(v) for v in X[i]], int(y[i])) for i in range(len(X))
        ]
        df = spark.createDataFrame(
            rows, "f0 double, f1 double, f2 double, f3 double, f4 double, label int"
        )
        m = train_matcher(df, [f"f{i}" for i in range(5)], n_trees=10, seed=2)
        assert m.feature_importance_ranking()[0][0] == "f2"


class TestSecondBackboneAndLifecycle:
    """Round-2 M1 parity: gradient-boosted backbone, cv grid search, and
    the composed matching-quality lifecycle (reference classifier.py:
    106-176, data_partition.py:374-415)."""

    def _planted(self, n=400, d=6, noise=0.0, seed=3):
        rng = np.random.default_rng(seed)
        X = rng.normal(0, 1, (n, d))
        y = (X[:, 0] + 0.5 * X[:, 1] > 0).astype(np.int64)
        if noise:
            flip = rng.random(n) < noise
            y = np.where(flip, 1 - y, y)
        return X, y

    def test_gb_separable_f1_is_1(self):
        from geospatial_object_matching_spark.operators.matching_model import (
            GradientBoostingMatcher,
            _f1_macro,
        )

        X, y = self._planted()
        m = GradientBoostingMatcher(n_rounds=60, learning_rate=0.3).fit(
            X, y, [f"f{i}" for i in range(X.shape[1])]
        )
        assert _f1_macro(y, m.predict(X)) == 1.0

    def test_cv_grid_search_returns_both_backbones(self):
        from geospatial_object_matching_spark.operators.matching_model import (
            cv_grid_search,
        )

        X, y = self._planted(n=240, noise=0.1)
        out = cv_grid_search(X, y, [f"f{i}" for i in range(X.shape[1])], cv=3)
        assert set(out) == {"RandomForestMatcher", "GradientBoostingMatcher"}
        for v in out.values():
            assert v["cv_f1"] > 0.7
            assert v["best_params"]

    def test_gb_distributed_predict_equals_local(self, spark):
        from geospatial_object_matching_spark.operators.matching_model import (
            GradientBoostingMatcher,
            predict_matches,
        )

        X, y = self._planted(n=300)
        cols = [f"f{i}" for i in range(X.shape[1])]
        m = GradientBoostingMatcher(n_rounds=25).fit(X, y, cols)
        pdf = pd.DataFrame(X, columns=cols)
        pdf["cand_id"] = [f"c{i}" for i in range(len(pdf))]
        pdf["index_id"] = [f"i{i}" for i in range(len(pdf))]
        df = spark.createDataFrame(pdf).repartition(7)
        got = (
            predict_matches(m, df, cols)
            .toPandas()
            .sort_values("cand_id")
            .reset_index(drop=True)
        )
        order = got["cand_id"].str.slice(1).astype(int).to_numpy()
        np.testing.assert_allclose(
            got["score"].to_numpy(), m.predict_proba(X[order]), rtol=0, atol=0
        )

    def test_matching_quality_lifecycle(self, spark):
        from geospatial_object_matching_spark.operators.properties import (
            pages_to_properties,
        )
        from geospatial_object_matching_spark.plans.matching_quality import (
            run_matching_quality,
        )
        from geospatial_object_matching_spark.sources.pages import (
            generate_pages_df,
        )

        pages = generate_pages_df(spark, 120, seed=42)
        props = pages_to_properties(pages, zoom=15, log1p=True)
        res = run_matching_quality(spark, props, bkafi_dim=3, n_neg=2, seed=1)
        assert set(res["model"]) == {
            "RandomForestMatcher",
            "GradientBoostingMatcher",
        }
        # synthetic matched pairs are cleanly separable from hard negatives
        assert (res["f1"] > 0.9).all(), res
        # determinism: a second run returns identical rows
        res2 = run_matching_quality(spark, props, bkafi_dim=3, n_neg=2, seed=1)
        pd.testing.assert_frame_equal(
            res.sort_values("model").reset_index(drop=True),
            res2.sort_values("model").reset_index(drop=True),
        )


class TestAllBackbones:
    """Bagging + AdaBoost + MLP + XGB backbones (reference model_list
    parity, config.py:75-76: RF/AdaBoost/GradientBoosting/Bagging/XGB/MLP —
    all SIX implemented; XGBoostMatcher is a distinct hessian-weighted
    L2-regularized booster, not a GradientBoosting alias)."""

    def _planted(self, n=300, seed=5):
        rng = np.random.default_rng(seed)
        X = rng.normal(0, 1, (n, 5))
        y = (X[:, 2] - 0.3 * X[:, 0] > 0).astype(np.int64)
        return X, y

    @pytest.mark.parametrize(
        "name",
        ["BaggingMatcher", "AdaBoostMatcher", "MLPMatcher", "XGBoostMatcher"],
    )
    def test_backbone_fits_and_roundtrips(self, name):
        from geospatial_object_matching_spark.operators.matching_model import (
            MATCHER_BACKBONES,
            _f1_macro,
            model_from_dict,
        )

        X, y = self._planted()
        cols = [f"f{i}" for i in range(X.shape[1])]
        m = MATCHER_BACKBONES[name](seed=2).fit(X, y, cols)
        assert _f1_macro(y, m.predict(X)) > 0.95
        m2 = model_from_dict(m.to_dict())
        np.testing.assert_allclose(m2.predict_proba(X), m.predict_proba(X))

    def test_xgb_is_not_a_gb_alias(self):
        """Same hyperparameters, same data — the two boosters must emit
        different probability surfaces (hessian-weighted regularized splits
        vs residual-variance splits)."""
        from geospatial_object_matching_spark.operators.matching_model import (
            GradientBoostingMatcher,
            XGBoostMatcher,
        )

        X, y = self._planted(n=250, seed=9)
        cols = [f"f{i}" for i in range(X.shape[1])]
        gb = GradientBoostingMatcher(n_rounds=30, seed=2).fit(X, y, cols)
        xgb = XGBoostMatcher(n_rounds=30, seed=2).fit(X, y, cols)
        assert not np.allclose(gb.predict_proba(X), xgb.predict_proba(X))

    def test_full_grid_covers_all_backbones(self):
        from geospatial_object_matching_spark.operators.matching_model import (
            FULL_PARAM_GRIDS,
            cv_grid_search,
        )

        X, y = self._planted(n=200)
        out = cv_grid_search(
            X, y, [f"f{i}" for i in range(X.shape[1])], FULL_PARAM_GRIDS, cv=3
        )
        assert set(out) == {
            "RandomForestMatcher",
            "GradientBoostingMatcher",
            "XGBoostMatcher",
            "BaggingMatcher",
            "AdaBoostMatcher",
            "MLPMatcher",
        }
        for v in out.values():
            assert v["cv_f1"] > 0.8
