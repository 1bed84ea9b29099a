"""Geo accessor and ML transformer parity against driver-side numpy."""

import numpy as np
import pytest


@pytest.fixture(scope="module")
def xyz(spark):
    import vaex_spark as vs
    rng = np.random.RandomState(7)
    n = 200
    return vs.from_arrays(
        x=rng.randn(n), y=rng.randn(n), z=rng.randn(n),
        vx=rng.randn(n), vy=rng.randn(n), vz=rng.randn(n),
        alpha=rng.uniform(-180, 180, n), delta=rng.uniform(-89, 89, n),
        r=rng.uniform(0.1, 10, n), spark=spark), rng


def _np(df, col):
    return df.evaluate(col).astype("float64")


def test_spherical_cartesian_roundtrip(xyz):
    df, _ = xyz
    d1 = df.geo.spherical2cartesian("alpha", "delta", "r", xname="cx", yname="cy", zname="cz")
    a, d, r = _np(df, "alpha"), _np(df, "delta"), _np(df, "r")
    np.testing.assert_allclose(_np(d1, "cx"), np.cos(np.radians(a)) * np.cos(np.radians(d)) * r, rtol=1e-12)
    np.testing.assert_allclose(_np(d1, "cz"), np.sin(np.radians(d)) * r, rtol=1e-12)
    # roundtrip back
    d2 = d1.geo.cartesian2spherical(x="cx", y="cy", z="cz", alpha="a2", delta="d2", distance="r2")
    np.testing.assert_allclose(_np(d2, "r2"), r, rtol=1e-9)
    np.testing.assert_allclose(_np(d2, "a2"), a, rtol=1e-7, atol=1e-9)
    np.testing.assert_allclose(_np(d2, "d2"), d, rtol=1e-7, atol=1e-9)


def test_polar_and_velocities(xyz):
    df, _ = xyz
    p = df.geo.cartesian_to_polar()
    x, y = _np(df, "x"), _np(df, "y")
    np.testing.assert_allclose(_np(p, "r_polar"), np.hypot(x, y), rtol=1e-12)
    np.testing.assert_allclose(_np(p, "phi_polar"), np.degrees(np.arctan2(y, x)), rtol=1e-9, atol=1e-12)
    vp = df.geo.velocity_cartesian2polar()
    vx, vy = _np(df, "vx"), _np(df, "vy")
    rp = np.hypot(x, y)
    np.testing.assert_allclose(_np(vp, "vr_polar"), (x * vx + y * vy) / rp, rtol=1e-9)
    # polar -> cartesian roundtrip
    vc = vp.geo.velocity_polar2cartesian(vx_out="vx2", vy_out="vy2")
    np.testing.assert_allclose(_np(vc, "vx2"), vx, rtol=1e-9, atol=1e-12)
    np.testing.assert_allclose(_np(vc, "vy2"), vy, rtol=1e-9, atol=1e-12)
    vs_ = df.geo.velocity_cartesian2spherical()
    z, vz = _np(df, "z"), _np(df, "vz")
    dist = np.sqrt(x * x + y * y + z * z)
    np.testing.assert_allclose(_np(vs_, "vr"), (x * vx + y * vy + z * vz) / dist, rtol=1e-9)


def test_projections_rotation_bearing(xyz):
    df, _ = xyz
    pa = df.geo.project_aitoff("alpha", "delta", x="ax", y="ay", radians=False)
    a, d = np.radians(_np(df, "alpha")), np.radians(_np(df, "delta"))
    aa = np.arccos(np.cos(d) * np.cos(a / 2))
    sinc = np.sinc(aa / np.pi)
    np.testing.assert_allclose(_np(pa, "ax"), 2 * np.cos(d) * np.sin(a / 2) / sinc / np.pi, rtol=1e-9)
    np.testing.assert_allclose(_np(pa, "ay"), np.sin(d) / sinc / np.pi, rtol=1e-9)
    rot = df.geo.rotation_2d("x", "y", "rx", "ry", angle_degrees=30.0)
    th = np.radians(30.0)
    x, y = _np(df, "x"), _np(df, "y")
    np.testing.assert_allclose(_np(rot, "rx"), np.cos(th) * x - np.sin(th) * y, rtol=1e-12)
    b = df.geo.bearing("x", "y", "vx", "vy", bearing="brg")
    l1, p1, l2, p2 = (np.radians(v) for v in (x, y, _np(df, "vx"), _np(df, "vy")))
    want = np.arctan2(np.sin(l2 - l1) * np.cos(p2),
                      np.cos(p1) * np.sin(p2) - np.sin(p1) * np.cos(p2) * np.cos(l2 - l1))
    np.testing.assert_allclose(_np(b, "brg"), want, rtol=1e-9, atol=1e-12)


def test_inside_polygon(spark):
    import vaex_spark as vs
    df = vs.from_arrays(x=[0.5, 2.0, 0.0, 0.9], y=[0.5, 0.5, 2.0, 0.1], spark=spark)
    px, py = [0, 1, 1, 0], [0, 0, 1, 1]  # unit square
    df["inside"] = df.geo.inside_polygon("x", "y", px, py)
    assert [r.inside for r in df.spark.select("inside").collect()] == [True, False, False, True]
    tri_x, tri_y = [2, 3, 2.5], [0, 0, 1]
    df["which"] = df.geo.inside_which_polygon("x", "y", [px, tri_x], [py, tri_y])
    assert [r.which for r in df.spark.select("which").collect()] == [0, None, None, 0]
    df2 = vs.from_arrays(x=[2.5], y=[0.25], spark=spark)
    df2["which"] = df2.geo.inside_which_polygon("x", "y", [px, tri_x], [py, tri_y])
    assert df2.spark.collect()[0].which == 1


def test_scalers_parity(spark):
    import vaex_spark as vs
    from vaex_spark import ml
    rng = np.random.RandomState(3)
    x = rng.randn(100) * 5 + 2
    y = rng.uniform(-3, 9, 100)
    df = vs.from_arrays(x=x, y=y, spark=spark)

    ss = ml.StandardScaler(["x", "y"])
    out = ss.fit_transform(df)
    np.testing.assert_allclose(_np(out, "standard_scaled_x"), (x - x.mean()) / x.std(), rtol=1e-9)

    mm = ml.MinMaxScaler(["x"], feature_range=(-1, 1))
    out = mm.fit_transform(df)
    np.testing.assert_allclose(_np(out, "minmax_scaled_x"),
                               -1 + 2 * (x - x.min()) / (x.max() - x.min()), rtol=1e-9)

    ma = ml.MaxAbsScaler(["y"])
    out = ma.fit_transform(df)
    np.testing.assert_allclose(_np(out, "absmax_scaled_y"), y / np.abs(y).max(), rtol=1e-9)

    rs = ml.RobustScaler(["x"])
    rs.fit(df)
    out = rs.transform(df)
    got = _np(out, "robust_scaled_x")
    assert np.isfinite(got).all()
    # center/scale within approx-percentile tolerance of exact quartiles
    assert abs(rs.center_["x"] - np.median(x)) < 0.5
    # state roundtrip
    rs2 = ml.RobustScaler(["x"])
    rs2.state_set(rs.state_get())
    np.testing.assert_allclose(_np(rs2.transform(df), "robust_scaled_x"), got)


def test_encoders_parity(spark):
    import vaex_spark as vs
    from vaex_spark import ml
    df = vs.from_arrays(color=["red", "green", "green", "blue", "red"], spark=spark)
    le = ml.LabelEncoder(["color"])
    out = le.fit_transform(df)
    codes = [r["label_encoded_color"] for r in out.spark.collect()]
    assert codes == [2, 1, 1, 0, 2]  # sorted: blue=0, green=1, red=2
    fe = ml.FrequencyEncoder(["color"], unseen="zero")
    out = fe.fit_transform(df)
    freqs = [r["frequency_encoded_color"] for r in out.spark.collect()]
    np.testing.assert_allclose(freqs, [0.4, 0.4, 0.4, 0.2, 0.4])
    # unseen value handling
    df2 = vs.from_arrays(color=["purple"], spark=spark)
    assert fe.transform(df2).spark.collect()[0]["frequency_encoded_color"] == 0.0
    le_unseen = ml.LabelEncoder(["color"], allow_unseen=True)
    le_unseen.fit(df)
    assert le_unseen.transform(df2).spark.collect()[0]["label_encoded_color"] == -1
    oh = ml.OneHotEncoder(["color"])
    out = oh.fit_transform(df)
    assert [r["color_blue"] for r in out.spark.collect()] == [0, 0, 0, 1, 0]


def test_pca_parity(spark):
    import vaex_spark as vs
    from vaex_spark import ml
    rng = np.random.RandomState(11)
    base = rng.randn(300)
    X = np.column_stack([base + rng.randn(300) * 0.1,
                         2 * base + rng.randn(300) * 0.1,
                         rng.randn(300)])
    df = vs.from_arrays(a=X[:, 0], b=X[:, 1], c=X[:, 2], spark=spark)
    pca = ml.PCA(["a", "b", "c"], n_components=2)
    out = pca.fit_transform(df)
    got = np.column_stack([_np(out, "PCA_0"), _np(out, "PCA_1")])
    # numpy reference: eigh of population covariance, centered projection
    C = np.cov(X.T, bias=True)
    w, V = np.linalg.eigh(C)
    order = np.argsort(w)[::-1]
    V = V[:, order]
    want = (X - X.mean(0)) @ V[:, :2]
    # eigenvectors are sign-ambiguous: compare up to per-component sign
    for j in range(2):
        assert (np.allclose(got[:, j], want[:, j], atol=1e-8) or
                np.allclose(got[:, j], -want[:, j], atol=1e-8))
    # explained variance ordering
    assert pca.eigen_values_[0] >= pca.eigen_values_[1] >= pca.eigen_values_[2]


def test_cycle_transformer(spark):
    import vaex_spark as vs
    from vaex_spark import ml
    days = np.arange(7.0)
    df = vs.from_arrays(days=days, spark=spark)
    out = ml.CycleTransformer(["days"], n=7).fit_transform(df)
    np.testing.assert_allclose(_np(out, "days_x"), np.cos(2 * np.pi * days / 7), atol=1e-12)
    np.testing.assert_allclose(_np(out, "days_y"), np.sin(2 * np.pi * days / 7), atol=1e-12)


def test_bayesian_target_encoder(spark):
    """Reference docstring example (transformations.py:916): weight=4
    on x=[a*4, b*4], y=[1,1,1,0, 0,0,0,1] -> a=0.625, b=0.375."""
    import vaex_spark as vs
    from vaex_spark import ml
    df = vs.from_arrays(x=["a"] * 4 + ["b"] * 4,
                        y=[1, 1, 1, 0, 0, 0, 0, 1], spark=spark)
    enc = ml.BayesianTargetEncoder(["x"], target="y", weight=4)
    out = enc.fit_transform(df)
    vals = [r["mean_encoded_x"] for r in out.spark.collect()]
    np.testing.assert_allclose(vals, [0.625] * 4 + [0.375] * 4)
    df2 = vs.from_arrays(x=["zz"], spark=spark)
    assert np.isnan(enc.transform(df2).spark.collect()[0]["mean_encoded_x"])


def test_woe_encoder(spark):
    """Reference docstring example (transformations.py:988)."""
    import vaex_spark as vs
    from vaex_spark import ml
    df = vs.from_arrays(x=["a", "a", "b", "b", "b", "c", "c"],
                        y=[1, 1, 0, 0, 1, 1, 0], spark=spark)
    enc = ml.WeightOfEvidenceEncoder(["x"], target="y")
    out = enc.fit_transform(df)
    vals = {r["x"]: r["woe_encoded_x"] for r in out.spark.collect()}
    np.testing.assert_allclose(vals["a"], 13.8155, atol=1e-3)
    np.testing.assert_allclose(vals["b"], np.log((1 / 3) / (2 / 3)), atol=1e-9)
    np.testing.assert_allclose(vals["c"], 0.0, atol=1e-9)
    import pytest as _pytest
    bad = vs.from_arrays(x=["a"], y=[2], spark=spark)
    with _pytest.raises(ValueError):
        ml.WeightOfEvidenceEncoder(["x"], target="y").fit(bad)


def test_kbins_discretizer(spark):
    """Reference docstring example (transformations.py:1067): uniform
    3-bin on [0..15] -> [0,0,1,1,2,2,2]."""
    import vaex_spark as vs
    from vaex_spark import ml
    x = [0.0, 2.5, 5.0, 7.5, 10.0, 12.5, 15.0]
    df = vs.from_arrays(x=x, spark=spark)
    out = ml.KBinsDiscretizer(["x"], n_bins=3, strategy="uniform").fit_transform(df)
    assert [r["binned_x"] for r in out.spark.collect()] == [0, 0, 1, 1, 2, 2, 2]
    kb = ml.KBinsDiscretizer(["x"], n_bins=3, strategy="quantile")
    out = kb.fit_transform(df)
    codes = [r["binned_x"] for r in out.spark.collect()]
    assert min(codes) == 0 and max(codes) == 2 and sorted(codes) == codes
    # out-of-range samples clip into the closest bin
    df2 = vs.from_arrays(x=[-100.0, 100.0], spark=spark)
    kb2 = ml.KBinsDiscretizer(["x"], n_bins=3, strategy="uniform")
    kb2.fit(df)
    assert [r["binned_x"] for r in kb2.transform(df2).spark.collect()] == [0, 2]


def test_kbins_discretizer_kmeans(spark):
    """strategy='kmeans' (reference transformations.py:1146-1155):
    1-D Lloyd's per feature from uniform-midpoint init; inner edges at
    sorted-center midpoints, outer edges at min/max(+eps).  On three
    well-separated blobs the bins ARE the blobs — a split uniform
    binning cannot produce (blob 3 spans two uniform bins here)."""
    import numpy as np
    import vaex_spark as vs
    from vaex_spark import ml
    blobs = ([0.0, 0.5, 1.0, 1.5] + [50.0, 50.5, 51.0]
             + [99.0, 99.5, 100.0, 100.5, 101.0])
    df = vs.from_arrays(x=blobs, spark=spark)
    kb = ml.KBinsDiscretizer(["x"], n_bins=3, strategy="kmeans")
    out = kb.fit_transform(df)
    codes = [r["binned_x"] for r in out.spark.collect()]
    assert codes == [0] * 4 + [1] * 3 + [2] * 5, codes
    edges = kb.bin_edges_["x"]
    assert len(edges) == 4 and kb.n_bins_["x"] == 3
    # outer edges at the data extent; inner edges between the blobs
    assert edges[0] == 0.0 and abs(edges[3] - 101.0) < 1e-6
    assert 1.5 < edges[1] < 50.0 and 51.0 < edges[2] < 99.0
    # inner edges sit halfway between consecutive fitted blob means
    means = [np.mean(blobs[:4]), np.mean(blobs[4:7]), np.mean(blobs[7:])]
    assert abs(edges[1] - (means[0] + means[1]) / 2) < 1e-6
    assert abs(edges[2] - (means[1] + means[2]) / 2) < 1e-6
    # state round-trip reproduces the transform without a refit
    kb2 = ml.KBinsDiscretizer(["x"], n_bins=3, strategy="kmeans")
    kb2.state_set(kb.state_get())
    codes2 = [r["binned_x"] for r in kb2.transform(df).spark.collect()]
    assert codes2 == codes
    vs.cache.release_operator_caches()


def test_multihot_encoder(spark):
    """Reference docstring example (transformations.py:444)."""
    import vaex_spark as vs
    from vaex_spark import ml
    df = vs.from_arrays(color=["red", "green", "green", "blue", "red"], spark=spark)
    out = ml.MultiHotEncoder(["color"]).fit_transform(df)
    rows = out.spark.collect()
    got = [(r["color_0"], r["color_1"], r["color_2"]) for r in rows]
    assert got == [(0, 1, 1), (0, 1, 0), (0, 1, 0), (0, 0, 1), (0, 1, 1)]


def test_groupby_transformer(spark):
    """Reference docstring example (transformations.py:1193)."""
    import vaex_spark as vs
    from vaex_spark import ml
    df_train = vs.from_arrays(x=["dog", "dog", "dog", "cat", "cat"],
                              y=[2, 3, 4, 10, 20], spark=spark)
    df_test = vs.from_arrays(x=["dog", "cat", "dog", "mouse"],
                             y=[5, 5, 5, 5], spark=spark)
    gt = ml.GroupByTransformer(by="x", agg={"mean_y": vs.agg.mean("y")})
    out = gt.fit_transform(df_train)
    assert {(r["x"], r["mean_y"]) for r in out.spark.collect()} == \
        {("dog", 3.0), ("cat", 15.0)}
    rows = {r["x"]: r["mean_y"] for r in gt.transform(df_test).spark.collect()}
    assert rows["dog"] == 3.0 and rows["cat"] == 15.0 and rows["mouse"] is None


def test_random_projections(spark):
    import vaex_spark as vs
    from vaex_spark import ml
    rng = np.random.RandomState(5)
    X = rng.randn(50, 3)
    df = vs.from_arrays(a=X[:, 0], b=X[:, 1], c=X[:, 2], spark=spark)
    rp = ml.RandomProjections(["a", "b", "c"], n_components=2, random_state=7)
    out = rp.fit_transform(df)
    got = np.column_stack([_np(out, "random_projection_0"), _np(out, "random_projection_1")])
    M = np.asarray(rp.matrix_)
    np.testing.assert_allclose(got, X @ M, atol=1e-10)
    # state roundtrip reproduces identically
    rp2 = ml.RandomProjections(["a", "b", "c"])
    rp2.state_set(rp.state_get())
    got2 = np.column_stack([_np(rp2.transform(df), "random_projection_0"),
                            _np(rp2.transform(df), "random_projection_1")])
    np.testing.assert_allclose(got2, got)


def test_pca_incremental_alias(spark):
    import vaex_spark as vs
    from vaex_spark import ml
    rng = np.random.RandomState(2)
    X = rng.randn(100, 2)
    df = vs.from_arrays(a=X[:, 0], b=X[:, 1], spark=spark)
    p1 = ml.PCA(["a", "b"]).fit_transform(df)
    p2 = ml.PCAIncremental(["a", "b"], batch_size=10).fit_transform(df)
    np.testing.assert_allclose(_np(p1, "PCA_0"), _np(p2, "PCA_0"))


def test_add_virtual_columns_wrappers(spark):
    import vaex_spark as vs
    df = vs.from_arrays(x=[1.0, 0.0], y=[0.0, 2.0], spark=spark)
    df.add_virtual_columns_cartesian_to_polar()
    np.testing.assert_allclose(_np(df, "r_polar"), [1.0, 2.0])
    df.add_virtual_columns_rotation("x", "y", "xr", "yr", 90.0)
    np.testing.assert_allclose(_np(df, "xr"), [0.0, -2.0], atol=1e-12)
    df2 = vs.from_arrays(alpha=[0.0], delta=[0.0], dist=[2.0], spark=spark)
    df2.add_virtual_columns_spherical_to_cartesian("alpha", "delta", "dist")
    np.testing.assert_allclose(_np(df2, "x"), [2.0])
    df2.add_virtual_columns_cartesian_to_spherical()
    np.testing.assert_allclose(_np(df2, "distance"), [2.0])
    df3 = vs.from_arrays(alpha=[0.3], delta=[0.2], spark=spark)
    df3.add_virtual_columns_aitoff("alpha", "delta")
    assert "x_aitoff" in df3.get_column_names()


def test_state_transfer(spark):
    import vaex_spark as vs
    from vaex_spark.ml import StateTransfer
    df = vs.from_arrays(x=[1.0, 2.0, 3.0], spark=spark)
    df["y"] = df.x * 10
    df.units["x"] = "m"
    st = StateTransfer.from_df(df)
    other = vs.from_arrays(x=[4.0, 5.0], spark=spark)
    out = st.transform(other)
    assert out.evaluate("y").tolist() == [40.0, 50.0]
    assert out.unit("x") == "m"
    # state roundtrip through the Transformer contract
    st2 = StateTransfer()
    st2.state_set(st.state_get())
    assert st2.transform(other).evaluate("y").tolist() == [40.0, 50.0]


def test_ml_accessor_train_test_split(spark):
    import warnings
    import vaex_spark as vs
    df = vs.from_arrays(x=list(range(10)), spark=spark)
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        train, test = df.ml.train_test_split(test_size=0.2, verbose=False)
    assert len(test) == 2 and len(train) == 8
    st = df.ml.state_transfer()
    assert "virtual_columns" in st.state


def test_kmeans_recovers_planted_clusters(spark):
    """KMeans on three well-separated planted blobs: every blob maps to
    one distinct cluster, inertia ~= within-blob variance, labels are a
    lazy virtual column, deterministic under random_state, and the
    sklearn-shaped state round-trips."""
    import numpy as np
    import pandas as pd
    import vaex_spark as vs
    from vaex_spark.ml import KMeans
    rng = np.random.RandomState(13)
    blobs = [(0.0, 0.0), (10.0, 10.0), (-10.0, 8.0)]
    xs, ys, true = [], [], []
    for b, (cx, cy) in enumerate(blobs):
        xs += list(cx + rng.randn(300) * 0.5)
        ys += list(cy + rng.randn(300) * 0.5)
        true += [b] * 300
    df = vs.DataFrame(spark.createDataFrame(pd.DataFrame(
        {"x": xs, "y": ys, "b": true})))
    km = KMeans(features=["x", "y"], n_clusters=3, n_init=2,
                random_state=7, max_iter=50)
    km.fit(df)
    assert len(km.cluster_centers) == 3 and km.inertia < 900 * 0.6
    out = km.transform(df).to_pandas_df()
    # each true blob -> exactly one predicted cluster, all three used
    mapping = out.groupby("b")["prediction_kmeans"].nunique()
    assert (mapping == 1).all()
    assert out["prediction_kmeans"].nunique() == 3
    # determinism
    km2 = KMeans(features=["x", "y"], n_clusters=3, n_init=2,
                 random_state=7, max_iter=50)
    km2.fit(df)
    assert km2.cluster_centers == km.cluster_centers
    # state roundtrip drives transform without refit
    km3 = KMeans(features=["x", "y"], n_clusters=3)
    km3.state_set(km.state_get())
    out3 = km3.transform(df).to_pandas_df()
    assert (out3["prediction_kmeans"] == out["prediction_kmeans"]).all()
    # explicit init matrix path
    km4 = KMeans(features=["x", "y"], n_clusters=3, init=km.cluster_centers,
                 max_iter=5)
    km4.fit(df)
    assert km4.inertia <= km.inertia + 1e-6


def test_kmeans_assign_strategies_agree(spark):
    """The literal-codegen and Arrow-argmin assignments are two physical
    strategies for ONE operator: identical cluster ids and d2 on the
    same centers, and 'auto' picks literal below the k×d threshold,
    arrow above it."""
    import numpy as np
    import pandas as pd
    import vaex_spark as vs
    from pyspark.sql import functions as F
    from vaex_spark.ml import KMeans
    rng = np.random.RandomState(11)
    n = 5000
    df = vs.DataFrame(spark.createDataFrame(pd.DataFrame(
        {"x": rng.rand(n) * 100, "y": rng.rand(n) * 100,
         "rid": np.arange(n)})))
    cols = [df._to_expr(f).col.cast("double") for f in ["x", "y"]]
    for k in (8, 300):
        C = np.column_stack([rng.rand(k) * 100, rng.rand(k) * 100]).tolist()
        km = KMeans(features=["x", "y"], n_clusters=k)
        lit = {r["rid"]: r["c"] for r in df._spark_df().select(
            "rid", km._assign_expr(cols, C)["c"].alias("c")).collect()}
        arw = {r["rid"]: r["c"] for r in df._spark_df().select(
            "rid", km._assign_arrow(cols, C)["c"].alias("c")).collect()}
        diffs = sum(1 for i in lit if lit[i] != arw[i])
        # FP-rounding near-ties may flip a handful of boundary points
        assert diffs <= n * 0.001, (k, diffs)
        # auto dispatch: k*d=16 -> literal (no Python stage); 600 -> arrow
        plan = df._spark_df().select(km._assign(cols, C).alias("a"))
        s = plan._jdf.queryExecution().executedPlan().toString()
        if k * 2 <= KMeans._LITERAL_ASSIGN_MAX:
            assert "ArrowEvalPython" not in s
        else:
            assert "ArrowEvalPython" in s


def test_kmeans_oversampled_init(spark):
    """init='oversampled' (k-means|| spirit; kmeans_init_study probe,
    commit 06cd14e): a driver-side sample Lloyd pre-converges the
    centers, the distributed loop then needs fewer corpus scans.  On
    planted blobs it must land each blob in its own cluster,
    deterministically; over-asking clusters vs distinct rows raises."""
    import numpy as np
    import pandas as pd
    import vaex_spark as vs
    from vaex_spark.ml import KMeans
    rng = np.random.RandomState(23)
    xs, ys, true = [], [], []
    for b, (cx, cy) in enumerate([(0.0, 0.0), (10.0, 10.0), (-10.0, 8.0)]):
        xs += list(cx + rng.randn(300) * 0.5)
        ys += list(cy + rng.randn(300) * 0.5)
        true += [b] * 300
    df = vs.DataFrame(spark.createDataFrame(pd.DataFrame(
        {"x": xs, "y": ys, "b": true})))
    km = KMeans(features=["x", "y"], n_clusters=3, init="oversampled",
                random_state=5, max_iter=20)
    km.fit(df)
    out = km.transform(df).to_pandas_df()
    assert (out.groupby("b")["prediction_kmeans"].nunique() == 1).all()
    assert out["prediction_kmeans"].nunique() == 3
    km2 = KMeans(features=["x", "y"], n_clusters=3, init="oversampled",
                 random_state=5, max_iter=20)
    km2.fit(df)
    assert km2.cluster_centers == km.cluster_centers  # deterministic
    import pytest as _pytest
    with _pytest.raises(ValueError):
        KMeans(features=["x"], n_clusters=4, init="oversampled").fit(
            vs.from_arrays(x=[1.0, 2.0, 3.0], spark=spark))
    with _pytest.raises(ValueError):
        KMeans(features=["x"], init="kmeans++")
    vs.cache.release_operator_caches()


def test_kmeans_init_default_contract(spark):
    """Round-8 recorded decision (VERDICT r7 item 3): the DEFAULT init
    stays 'random' at every k, because the xxhash64-ranked seeding is
    partition-INVARIANT — identical centers for one random_state on
    any physical layout — while 'oversampled' samples with
    per-partition Bernoulli and may not be.  Pins: (a) the default,
    (b) random-init partition invariance (1 vs 7 partitions), (c)
    n_init>1 reruns with shifted seeds and keeps the best inertia for
    BOTH string inits."""
    import numpy as np
    import pandas as pd
    import vaex_spark as vs
    from vaex_spark.ml import KMeans
    assert KMeans(features=["x"]).init == "random"
    rng = np.random.RandomState(31)
    pdf = pd.DataFrame({"x": list(rng.randn(200)) + list(5 + rng.randn(200)),
                        "y": list(rng.randn(200)) + list(7 + rng.randn(200))})
    one = vs.DataFrame(spark.createDataFrame(pdf).coalesce(1))
    many = vs.DataFrame(spark.createDataFrame(pdf).repartition(7))
    kw = dict(features=["x", "y"], n_clusters=2, random_state=9, max_iter=15)
    a = KMeans(**kw).fit(one)
    b = KMeans(**kw).fit(many)
    # the xxhash64-ranked INIT is bit-identical on any layout; the
    # fitted centers agree up to avg()'s FP summation order
    from pyspark.sql import functions as SF
    pc = [SF.col("__f0"), SF.col("__f1")]
    ia = KMeans(**kw)._init_centers(one._spark_df().selectExpr(
        "x as __f0", "y as __f1"), pc, 9)
    ib = KMeans(**kw)._init_centers(many._spark_df().selectExpr(
        "x as __f0", "y as __f1"), pc, 9)
    assert ia == ib
    assert np.allclose(a.cluster_centers, b.cluster_centers, rtol=1e-12)
    for init in ("random", "oversampled"):
        best = KMeans(init=init, n_init=3, **kw).fit(many).inertia
        singles = [KMeans(init=init, **kw).fit(many).inertia]
        # n_init=3 must equal the best of the three individual seeds
        km = KMeans(init=init, **kw)
        km.random_state = 10
        singles.append(km.fit(many).inertia)
        km.random_state = 11
        singles.append(km.fit(many).inertia)
        assert abs(best - min(singles)) < 1e-9, (init, best, singles)
    vs.cache.release_operator_caches()


def test_kmeans_null_nan_features_contract(spark):
    """Round-8 degenerate-input contract (mirrors the similarity
    family): rows with a NULL or NaN feature are dropped from FIT (a
    single null otherwise poisoned a centroid mean / crashed the
    driver-side center update) and labeled NULL by transform — under
    BOTH assignment strategies, with identical centers."""
    import pandas as pd
    import vaex_spark as vs
    from vaex_spark.ml import KMeans
    pdf = pd.DataFrame({"x": [1.0, 2.0, None, 4.0, float("nan"), 6.0] * 20,
                        "y": [1.0, None, 3.0, 4.0, 5.0, 6.0] * 20})
    df = vs.DataFrame(spark.createDataFrame(pdf))
    results = {}
    for strat in ("literal", "arrow"):
        km = KMeans(features=["x", "y"], n_clusters=2, random_state=1,
                    max_iter=5, assign_strategy=strat)
        km.fit(df)
        out = km.transform(df).to_pandas_df()
        assert int(out["prediction_kmeans"].isna().sum()) == 60  # 3 of 6
        results[strat] = km.cluster_centers
    # only the fully-valid rows (1,1),(4,4),(6,6) fit the centers
    assert results["literal"] == results["arrow"]
    assert sorted(results["literal"]) == [[1.0, 1.0], [5.0, 5.0]]
    vs.cache.release_operator_caches()


def test_kmeans_arrow_large_values_fall_back_to_float64(spark):
    """The Arrow assignment's float32 fast path must gate on the BATCH's
    feature magnitude, not only the centroids': with centers {0, 3} a
    point at x=1e8 has d2 ≈ 1e16 where float32's resolution (~1e9)
    swallows the 6e8 gap between the two distances — float32 would tie
    and mis-assign to cluster 0.  The per-batch gate routes such
    batches through float64, so the far point lands on the truly
    nearest center."""
    import vaex_spark as vs
    from vaex_spark.ml import KMeans
    df = vs.from_arrays(rid=[0, 1, 2], x=[1.0, 2.9, 1e8], spark=spark)
    cols = [df._to_expr("x").col.cast("double")]
    km = KMeans(features=["x"], n_clusters=2, assign_strategy="arrow")
    got = {r["rid"]: r["c"] for r in df._spark_df().select(
        "rid", km._assign_arrow(cols, [[0.0], [3.0]])["c"].alias("c")).collect()}
    assert got == {0: 0, 1: 1, 2: 1}, got


def test_kmeans_large_k_planted_blobs(spark):
    """k=2048 planted blobs through the Arrow assignment path: fit from
    the planted centers converges, every blob maps to its own cluster,
    and no literal-codegen plan is built (one Janino compile per Lloyd
    iteration at k×d=4096 measured ~54 s — the failure mode this
    strategy exists to avoid)."""
    import numpy as np
    import pandas as pd
    import vaex_spark as vs
    from vaex_spark.ml import KMeans
    rng = np.random.RandomState(17)
    k = 2048
    # blob centers on a jittered grid, 4 points each, tight spread
    gx, gy = np.meshgrid(np.arange(64), np.arange(32))
    centers = np.column_stack([gx.ravel() * 10.0, gy.ravel() * 10.0])[:k]
    X = np.repeat(centers, 4, axis=0) + rng.randn(4 * k, 2) * 0.05
    true = np.repeat(np.arange(k), 4)
    df = vs.DataFrame(spark.createDataFrame(pd.DataFrame(
        {"x": X[:, 0], "y": X[:, 1], "b": true})))
    km = KMeans(features=["x", "y"], n_clusters=k,
                init=centers.tolist(), max_iter=3, tol=1e-3)
    km.fit(df)
    assert km.inertia < 4 * k * 2 * 0.05 ** 2 * 3  # ~sum of blob variances
    out = km.transform(df).to_pandas_df()
    mapping = out.groupby("b")["prediction_kmeans"].nunique()
    assert (mapping == 1).all()
    assert out["prediction_kmeans"].nunique() == k


class _TinyOLS:
    """Module-level (broadcast-picklable) least-squares stub with the
    sklearn fit/partial_fit/predict protocol."""

    def fit(self, X, y):
        import numpy as np
        Xb = np.column_stack([X, np.ones(len(X))])
        self.w, *_ = np.linalg.lstsq(Xb, y, rcond=None)
        return self

    def partial_fit(self, X, y):
        import numpy as np
        if not hasattr(self, "_X"):
            self._X, self._y = X, y
        else:
            self._X = np.vstack([self._X, X])
            self._y = np.concatenate([self._y, y])
        return self.fit(self._X, self._y)

    def predict(self, X):
        import numpy as np
        return np.column_stack([X, np.ones(len(X))]) @ self.w


def test_predictor_bridge_with_fake_estimator(spark):
    """Predictor/IncrementalPredictor (reference sklearn.py parity)
    accept ANY object with the sklearn fit/predict (or partial_fit)
    protocol — tested with a closed-form least-squares stub since
    scikit-learn is absent here; scoring must run distributed through
    the broadcast + pandas_udf path and match driver-side predict."""
    import numpy as np
    import vaex_spark as vs
    from vaex_spark.ml import IncrementalPredictor, Predictor

    # tests/ is not importable on python workers: ship the stub class
    # by value (users' estimators come from installed libs, which ARE
    # importable worker-side — this is purely a test-rig concern)
    import sys
    from pyspark import cloudpickle
    cloudpickle.register_pickle_by_value(sys.modules[__name__])
    rng = np.random.RandomState(3)
    x1, x2 = rng.randn(500), rng.randn(500)
    y = 3.0 * x1 - 2.0 * x2 + 0.5
    df = vs.from_arrays(x1=list(x1), x2=list(x2), y=list(y), spark=spark)
    p = Predictor(model=_TinyOLS(), features=["x1", "x2"], target="y")
    p.fit(df)
    out = p.transform(df).to_pandas_df()
    assert np.allclose(out["prediction"], y, atol=1e-6)
    assert np.allclose(p.predict(df), y, atol=1e-6)
    # incremental: partial_fit batches through toLocalIterator
    ip = IncrementalPredictor(model=_TinyOLS(), features=["x1", "x2"],
                              target="y", batch_size=128)
    ip.fit(df)
    out2 = ip.transform(df).to_pandas_df()
    assert np.allclose(out2["prediction"], y, atol=1e-5)


def test_metrics_accessor_vs_reference_semantics(spark):
    """df.ml.metrics — the reference's doctest values (metrics.py) plus
    multiclass/macro and regression metrics vs closed-form numpy."""
    import numpy as np
    import vaex_spark as vs
    df = vs.from_arrays(y_true=[1, 1, 0, 1, 0], y_pred=[1, 0, 0, 1, 1],
                        spark=spark)
    m = df.ml.metrics
    assert abs(m.accuracy_score("y_true", "y_pred") - 0.6) < 1e-12
    C = m.confusion_matrix("y_true", "y_pred")
    assert C.tolist() == [[1, 1], [1, 2]]
    # reference doctest (6-row variant): precision=recall=f1=0.75
    df2 = vs.from_arrays(y_true=[1, 1, 0, 1, 0, 1],
                         y_pred=[1, 0, 0, 1, 1, 1], spark=spark)
    p, r, f = df2.ml.metrics.precision_recall_fscore("y_true", "y_pred")
    assert (p, r, f) == (0.75, 0.75, 0.75)
    assert df2.ml.metrics.f1_score("y_true", "y_pred") == 0.75
    # macro over 3 classes
    df3 = vs.from_arrays(y_true=[0, 1, 2, 0, 1, 2],
                         y_pred=[0, 2, 1, 0, 0, 1], spark=spark)
    p3, r3, f3 = df3.ml.metrics.precision_recall_fscore(
        "y_true", "y_pred", average="macro")
    # class 0: prec 2/3, rec 1; classes 1/2: 0
    assert abs(p3 - (2 / 3) / 3) < 1e-12 and abs(r3 - 1 / 3) < 1e-12
    # MCC on the binary case vs the closed form
    mcc = df2.ml.metrics.matthews_correlation_coefficient("y_true", "y_pred")
    tp, tn, fp, fn = 3, 1, 1, 1
    exp = (tp * tn - fp * fn) / np.sqrt(
        (tp + fp) * (tp + fn) * (tn + fp) * (tn + fn))
    assert abs(mcc - exp) < 1e-12
    # regression metrics
    dfr = vs.from_arrays(t=[1.0, 2.0, 3.0, 4.0], p=[1.1, 1.9, 3.2, 3.7],
                         spark=spark)
    mr = dfr.ml.metrics
    t = np.array([1, 2, 3, 4.0]); q = np.array([1.1, 1.9, 3.2, 3.7])
    assert abs(mr.mean_absolute_error("t", "p") - np.abs(t - q).mean()) < 1e-12
    assert abs(mr.mean_squared_error("t", "p") - ((t - q) ** 2).mean()) < 1e-12
    r2 = 1 - ((t - q) ** 2).sum() / ((t - t.mean()) ** 2).sum()
    assert abs(mr.r2_score("t", "p") - r2) < 1e-9
    assert "Accuracy" in m.classification_report("y_true", "y_pred")


def test_pipeline_save_load_roundtrip(spark, tmp_path):
    """ml.Pipeline — fit a scaler→PCA→KMeans chain, JSON save/load, and
    the reloaded pipeline reproduces the exact same output columns."""
    import numpy as np
    import vaex_spark as vs
    from vaex_spark import ml
    rng = np.random.RandomState(19)
    df = vs.from_arrays(x=rng.randn(200) * 3 + 1, y=rng.randn(200) - 2,
                        spark=spark)
    pipe = ml.Pipeline([
        ml.StandardScaler(["x", "y"]),
        ml.PCA(["standard_scaled_x", "standard_scaled_y"], n_components=2),
        ml.KMeans(features=["PCA_0", "PCA_1"], n_clusters=3,
                  random_state=11, max_iter=20),
    ])
    pipe.fit(df)
    out = pipe.transform(df).to_pandas_df()
    path = str(tmp_path / "pipe.json")
    pipe.save(path)
    pipe2 = ml.Pipeline().load(path)
    out2 = pipe2.transform(df).to_pandas_df()
    assert (out["prediction_kmeans"] == out2["prediction_kmeans"]).all()
    np.testing.assert_allclose(out["PCA_0"], out2["PCA_0"], rtol=1e-12)


def test_empty_input_guards_fail_loud_or_degrade(spark):
    """Round-10 empty-input sweep (the _vec_f64 defect class at the
    DRIVER-AGGREGATE boundary): an aggregate over zero non-null rows
    is NULL, and float(None) three frames down is a TypeError that
    names nothing.  Fitting on an all-null feature/target now raises
    a ValueError naming the column (all three KBins strategies +
    BayesianTargetEncoder); metrics over an empty selection return
    NaN (the vaex-permissive analogue); build_vocab of an empty or
    all-null corpus returns the empty vocabulary."""
    import math
    import pytest as _pytest
    import vaex_spark as vs
    from vaex_spark.datapipe import text as T
    from vaex_spark.ml import BayesianTargetEncoder, KBinsDiscretizer
    df = vs.from_arrays(spark=spark, x=[None, None], y=[1.0, 2.0])
    for strat in ("uniform", "quantile", "kmeans"):
        with _pytest.raises(ValueError, match="no.*non-null|non-null"):
            KBinsDiscretizer(features=["x"], n_bins=2,
                             strategy=strat).fit(df)
    with _pytest.raises(ValueError, match="non-null"):
        BayesianTargetEncoder(features=["y"], target="x").fit(df)
    d2 = vs.from_arrays(spark=spark, t=[1.0], p=[1.0])
    d2.select(d2.t > 5, name="none")
    assert math.isnan(d2.ml.metrics.mean_absolute_error(
        "t", "p", selection="none"))
    assert math.isnan(d2.ml.metrics.mean_squared_error(
        "t", "p", selection="none"))
    e = spark.createDataFrame([], "doc_id bigint, text string")
    nl = spark.createDataFrame([(0, None)], "doc_id bigint, text string")
    assert T.build_vocab(e).count() == 0
    assert T.build_vocab(nl).count() == 0
