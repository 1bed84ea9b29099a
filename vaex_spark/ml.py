"""ML transformers: fit -> virtual-column emitters (Spark-first port of
vaex-ml/vaex/ml/transformations.py:51-1280).

Design: ``fit`` runs ONE distributed aggregation collecting the (small)
fitted state to the driver; ``transform`` adds virtual columns — pure
Column expressions over literals, zero Python in the hot path.  State is
a plain dict (``state_get``/``state_set``) so fitted pipelines serialize
like the reference's HasState traitlets.

Naming follows the reference prefixes exactly
(``standard_scaled_<col>``, ``minmax_scaled_``, ``absmax_scaled_``,
``robust_scaled_``, ``label_encoded_``, ``frequency_encoded_``,
``PCA_<i>``, one-hot ``<col>_<value>``).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F


class Transformer:
    """transformations.py:33 parity — fit / transform / fit_transform /
    state roundtrip."""

    prefix = ""
    _state_keys: tuple = ()

    def __init__(self, features, prefix: str | None = None):
        self.features = [features] if isinstance(features, str) else list(features)
        if prefix is not None:
            self.prefix = prefix

    def fit(self, df):
        raise NotImplementedError

    def transform(self, df):
        raise NotImplementedError

    def fit_transform(self, df):
        self.fit(df)
        return self.transform(df)

    def state_get(self) -> dict:
        return {"features": list(self.features), "prefix": self.prefix,
                **{k: getattr(self, k) for k in self._state_keys}}

    def state_set(self, state: dict) -> None:
        self.features = list(state["features"])
        self.prefix = state["prefix"]
        for k in self._state_keys:
            setattr(self, k, state[k])


class StateTransfer(Transformer):
    """transformations.py:StateTransfer — capture a frame's derived-layer
    state (virtual columns / selections / variables) and replay it onto
    another frame with the same base columns."""

    _state_keys = ("state",)

    def __init__(self, state: dict | None = None):
        self.features = []
        self.state = state or {}

    @classmethod
    def from_df(cls, df) -> "StateTransfer":
        return cls(state=df.state_get())

    def fit(self, df):
        self.state = df.state_get()
        return self

    def transform(self, df):
        out = df.copy()
        out.state_set(dict(self.state))
        return out


class StandardScaler(Transformer):
    """transformations.py:582 — (x - mean) / std (population std)."""

    prefix = "standard_scaled_"
    _state_keys = ("mean_", "std_")

    def __init__(self, features, with_mean=True, with_std=True, prefix=None):
        super().__init__(features, prefix)
        self.with_mean, self.with_std = with_mean, with_std
        self.mean_: dict = {}
        self.std_: dict = {}

    def fit(self, df):
        aggs = []
        for f in self.features:
            c = df._to_expr(f).col
            aggs += [F.avg(c).alias(f"{f}__m"), F.stddev_pop(c).alias(f"{f}__s")]
        row = df._spark_df().agg(*aggs).collect()[0]
        self.mean_ = {f: float(row[f"{f}__m"]) for f in self.features}
        self.std_ = {f: float(row[f"{f}__s"]) for f in self.features}

    def transform(self, df):
        out = df._copy()
        for f in self.features:
            c = df._to_expr(f).col.cast("double")
            if self.with_mean:
                c = c - self.mean_[f]
            if self.with_std:
                # try_divide: constant-column fit (std 0) stays null under ANSI
                c = F.try_divide(c, F.lit(self.std_[f]))
            out[self.prefix + f] = c
        return out


class MinMaxScaler(Transformer):
    """transformations.py:653 — scale into feature_range."""

    prefix = "minmax_scaled_"
    _state_keys = ("min_", "max_", "feature_range")

    def __init__(self, features, feature_range=(0.0, 1.0), prefix=None):
        super().__init__(features, prefix)
        self.feature_range = tuple(feature_range)
        self.min_: dict = {}
        self.max_: dict = {}

    def fit(self, df):
        aggs = []
        for f in self.features:
            c = df._to_expr(f).col
            aggs += [F.min(c).alias(f"{f}__lo"), F.max(c).alias(f"{f}__hi")]
        row = df._spark_df().agg(*aggs).collect()[0]
        self.min_ = {f: float(row[f"{f}__lo"]) for f in self.features}
        self.max_ = {f: float(row[f"{f}__hi"]) for f in self.features}

    def transform(self, df):
        out = df._copy()
        lo, hi = self.feature_range
        for f in self.features:
            c = df._to_expr(f).col.cast("double")
            span = self.max_[f] - self.min_[f]
            out[self.prefix + f] = F.lit(lo) + (hi - lo) * F.try_divide(c - self.min_[f], F.lit(span))
        return out


class MaxAbsScaler(Transformer):
    """transformations.py:726 — x / max(|x|)."""

    prefix = "absmax_scaled_"
    _state_keys = ("absmax_",)

    def __init__(self, features, prefix=None):
        super().__init__(features, prefix)
        self.absmax_: dict = {}

    def fit(self, df):
        aggs = [F.max(F.abs(df._to_expr(f).col)).alias(f) for f in self.features]
        row = df._spark_df().agg(*aggs).collect()[0]
        self.absmax_ = {f: float(row[f]) for f in self.features}

    def transform(self, df):
        out = df._copy()
        for f in self.features:
            out[self.prefix + f] = F.try_divide(df._to_expr(f).col.cast("double"), F.lit(self.absmax_[f]))
        return out


class RobustScaler(Transformer):
    """transformations.py:784 — (x - median) / IQR via approx percentiles
    (the reference also uses approximate percentiles_)."""

    prefix = "robust_scaled_"
    _state_keys = ("center_", "scale_", "percentile_range")

    def __init__(self, features, with_centering=True, with_scaling=True,
                 percentile_range=(25.0, 75.0), prefix=None):
        super().__init__(features, prefix)
        self.with_centering, self.with_scaling = with_centering, with_scaling
        self.percentile_range = tuple(percentile_range)
        self.center_: dict = {}
        self.scale_: dict = {}

    def fit(self, df):
        lo_p, hi_p = self.percentile_range
        aggs = []
        for f in self.features:
            c = df._to_expr(f).col
            aggs.append(F.percentile_approx(
                c, [lo_p / 100.0, 0.5, hi_p / 100.0], 10000).alias(f))
        row = df._spark_df().agg(*aggs).collect()[0]
        for f in self.features:
            lo, med, hi = [float(v) for v in row[f]]
            self.center_[f] = med
            self.scale_[f] = hi - lo

    def transform(self, df):
        out = df._copy()
        for f in self.features:
            c = df._to_expr(f).col.cast("double")
            if self.with_centering:
                c = c - self.center_[f]
            if self.with_scaling:
                c = F.try_divide(c, F.lit(self.scale_[f]))
            out[self.prefix + f] = c
        return out


class LabelEncoder(Transformer):
    """transformations.py:302 — codes 0..n-1 by sorted label order;
    unseen -> -1 when allow_unseen else null (error surfaces on use)."""

    prefix = "label_encoded_"
    _state_keys = ("labels_", "allow_unseen")

    def __init__(self, features, allow_unseen=False, prefix=None):
        super().__init__(features, prefix)
        self.allow_unseen = allow_unseen
        self.labels_: dict = {}

    def fit(self, df):
        for f in self.features:
            vals = [v for v in df.unique(f) if v is not None]
            self.labels_[f] = {v: i for i, v in enumerate(sorted(vals))}

    def transform(self, df):
        out = df._copy()
        for f in self.features:
            c = df._to_expr(f).col
            labels = self.labels_[f]
            arr = F.array(*[F.lit(v) for v in labels])
            code = (F.array_position(arr, c) - 1).cast("int")
            if self.allow_unseen:
                code = F.when(code >= 0, code).otherwise(F.lit(-1))
            else:
                code = F.when(code >= 0, code)  # unseen -> null
            out[self.prefix + f] = code
        return out


class FrequencyEncoder(Transformer):
    """transformations.py:523 — value -> relative frequency.  The fit is
    a value_counts per feature; transform is a literal-map lookup (the
    mapping is category-sized)."""

    prefix = "frequency_encoded_"
    _state_keys = ("mappings_", "unseen")

    def __init__(self, features, unseen="nan", prefix=None):
        super().__init__(features, prefix)
        self.unseen = unseen
        self.mappings_: dict = {}

    def fit(self, df):
        n = df._spark_df().count()
        for f in self.features:
            rows = (df._spark_df().groupBy(df._to_expr(f).col.alias("_v"))
                    .count().collect())
            self.mappings_[f] = {r["_v"]: r["count"] / n for r in rows if r["_v"] is not None}

    def transform(self, df):
        out = df._copy()
        default = {"zero": 0.0, "nan": float("nan")}[self.unseen]
        for f in self.features:
            c = df._to_expr(f).col
            m = self.mappings_[f]
            expr = F.lit(default)
            mapping = F.map_from_arrays(
                F.array(*[F.lit(k) for k in m]),
                F.array(*[F.lit(float(v)) for v in m.values()]))
            expr = F.coalesce(F.element_at(mapping, c), F.lit(default))
            out[self.prefix + f] = expr
        return out


class OneHotEncoder(Transformer):
    """transformations.py:366 — one indicator column per seen value,
    named <prefix><feature>_<value>."""

    prefix = ""
    _state_keys = ("uniques_", "one", "zero")

    def __init__(self, features, one=1, zero=0, prefix=None):
        super().__init__(features, prefix)
        self.one, self.zero = one, zero
        self.uniques_: dict = {}

    def fit(self, df):
        for f in self.features:
            vals = [v for v in df.unique(f) if v is not None]
            self.uniques_[f] = sorted(vals)

    def transform(self, df):
        out = df._copy()
        for f in self.features:
            c = df._to_expr(f).col
            for v in self.uniques_[f]:
                name = f"{self.prefix}{f}_{v}"
                out[name] = F.when(c == F.lit(v), F.lit(self.one)).otherwise(F.lit(self.zero))
        return out


class PCA(Transformer):
    """transformations.py:51 — principal components.  The covariance
    matrix is computed DISTRIBUTED (one aggregation of second moments,
    df.cov); only the d x d eigendecomposition runs on the driver —
    exactly the split that scales (d is small, n is huge)."""

    prefix = "PCA_"
    _state_keys = ("means_", "eigen_vectors_", "eigen_values_", "n_components")

    def __init__(self, features, n_components=None, prefix=None):
        super().__init__(features, prefix)
        self.n_components = n_components or len(self.features)
        self.means_: list = []
        self.eigen_vectors_: list = []
        self.eigen_values_: list = []

    def fit(self, df):
        cov = np.asarray(df.cov(self.features), dtype="float64")
        aggs = [F.avg(df._to_expr(f).col).alias(f) for f in self.features]
        row = df._spark_df().agg(*aggs).collect()[0]
        self.means_ = [float(row[f]) for f in self.features]
        eigvals, eigvecs = np.linalg.eigh(cov)
        order = np.argsort(eigvals)[::-1]
        self.eigen_values_ = eigvals[order].tolist()
        self.eigen_vectors_ = eigvecs[:, order].tolist()  # columns = components
    def transform(self, df, n_components=None):
        k = n_components or self.n_components
        out = df._copy()
        V = np.asarray(self.eigen_vectors_)
        centered = [df._to_expr(f).col.cast("double") - self.means_[i]
                    for i, f in enumerate(self.features)]
        for comp in range(k):
            expr = None
            for i in range(len(self.features)):
                term = centered[i] * float(V[i, comp])
                expr = term if expr is None else expr + term
            out[f"{self.prefix}{comp}"] = expr
        return out


class PCAIncremental(PCA):
    """transformations.py:134 — the reference fits sklearn
    IncrementalPCA chunk-by-chunk because a single node can't hold the
    data; our PCA fit is already a distributed one-pass covariance
    aggregation, so the incremental variant is the same fit.  Kept as a
    distinct class (with the reference's ``batch_size`` knob accepted)
    so state files round-trip."""

    def __init__(self, features, n_components=None, batch_size=1000, prefix=None):
        super().__init__(features, n_components=n_components, prefix=prefix)
        self.batch_size = batch_size


class RandomProjections(Transformer):
    """transformations.py:199 — Johnson-Lindenstrauss Gaussian random
    projection.  fit draws the d x k projection matrix on the driver
    (seeded, N(0, 1/k) like sklearn's GaussianRandomProjection);
    transform is k linear-combination virtual columns."""

    prefix = "random_projection_"
    _state_keys = ("n_components", "matrix_")

    def __init__(self, features, n_components=None, eps=0.1, random_state=42, prefix=None):
        super().__init__(features, prefix)
        self.eps = eps
        self.random_state = random_state
        self.n_components = n_components
        self.matrix_: list = []

    def fit(self, df):
        d = len(self.features)
        k = self.n_components
        if k is None:
            # Johnson-Lindenstrauss minimum dimension for n samples
            n = len(df)
            k = int(np.ceil(4 * np.log(n) / (self.eps ** 2 / 2 - self.eps ** 3 / 3)))
        self.n_components = k
        rng = np.random.default_rng(self.random_state)
        self.matrix_ = (rng.standard_normal((d, k)) / np.sqrt(k)).tolist()

    def transform(self, df):
        out = df._copy()
        M = np.asarray(self.matrix_)
        cols = [df._to_expr(f).col.cast("double") for f in self.features]
        for comp in range(self.n_components):
            expr = None
            for i in range(len(self.features)):
                term = cols[i] * float(M[i, comp])
                expr = term if expr is None else expr + term
            out[f"{self.prefix}{comp}"] = expr
        return out


class MultiHotEncoder(Transformer):
    """transformations.py:444 — binary ("multi-hot") encoding: ordinal
    code 1..n (None first when present), emitted as binary digits, MSB
    in column <feature>_0.  floor(log2 n)+1+(n mod 2) digits, matching
    the reference's _get_n_dims."""

    prefix = ""
    _state_keys = ("labels_",)

    def __init__(self, features, prefix=None):
        super().__init__(features, prefix)
        self.labels_: dict = {}

    def fit(self, df):
        import math
        for f in self.features:
            labels = list(df.unique(f))
            if None in labels:
                labels.remove(None)
                labels.sort()
                labels.insert(0, None)
            else:
                labels.sort()
            self.labels_[f] = {v: int(i) for i, v in enumerate(labels, start=1)}

    @staticmethod
    def _get_n_dims(n_labels: int) -> int:
        import math
        return math.floor(math.log2(n_labels)) + 1 + (n_labels % 2)

    def transform(self, df):
        out = df._copy()
        for f in self.features:
            c = df._to_expr(f).col
            labels = self.labels_[f]
            non_null = {k: v for k, v in labels.items() if k is not None}
            code = F.coalesce(F.element_at(
                F.map_from_arrays(F.array(*[F.lit(k) for k in non_null]),
                                  F.array(*[F.lit(v) for v in non_null.values()])),
                c), F.lit(labels.get(None, 0)))
            n_dims = self._get_n_dims(len(labels))
            for i, j in enumerate(range(n_dims - 1, -1, -1)):
                out[f"{self.prefix}{f}_{i}"] = F.shiftright(code, j).bitwiseAND(F.lit(1))
        return out


class CycleTransformer(Transformer):
    """transformations.py:859 — cyclical feature -> (cos, sin) unit
    circle projection; stateless (fit is a no-op)."""

    _state_keys = ("n", "prefix_x", "prefix_y", "suffix_x", "suffix_y")

    def __init__(self, features, n, prefix_x="", prefix_y="", suffix_x="_x", suffix_y="_y"):
        super().__init__(features)
        self.n = n
        self.prefix_x, self.prefix_y = prefix_x, prefix_y
        self.suffix_x, self.suffix_y = suffix_x, suffix_y

    def fit(self, df):
        pass

    def transform(self, df):
        out = df._copy()
        for f in self.features:
            c = df._to_expr(f).col.cast("double")
            theta = c * (2.0 * float(np.pi) / float(self.n))
            out[self.prefix_x + f + self.suffix_x] = F.cos(theta)
            out[self.prefix_y + f + self.suffix_y] = F.sin(theta)
        return out


class BayesianTargetEncoder(Transformer):
    """transformations.py:916 — category -> smoothed target mean:
    (count*mean + weight*global_mean) / (count + weight).  fit is one
    groupBy per feature (count+mean in a single aggregation); transform
    is a literal-map lookup."""

    prefix = "mean_encoded_"
    _state_keys = ("mappings_", "weight", "unseen")

    def __init__(self, features, target, weight=100.0, unseen="nan", prefix=None):
        super().__init__(features, prefix)
        self.target = target
        self.weight = float(weight)
        self.unseen = unseen
        self.mappings_: dict = {}

    def fit(self, df):
        tcol = df._to_expr(self.target).col.cast("double")
        gm = df._spark_df().agg(F.avg(tcol)).collect()[0][0]
        if gm is None:
            # AVG over zero non-null targets is NULL: name the actual
            # problem instead of a float(None) TypeError (round-10
            # empty-input sweep)
            raise ValueError(
                f"TargetEncoder: target {self.target!r} has no "
                f"non-null values — cannot fit")
        global_mean = float(gm)
        for f in self.features:
            rows = (df._spark_df()
                    .groupBy(df._to_expr(f).col.alias("_v"))
                    .agg(F.count(tcol).alias("_n"), F.avg(tcol).alias("_m"))
                    .collect())
            self.mappings_[f] = {
                r["_v"]: (r["_n"] * r["_m"] + self.weight * global_mean) / (r["_n"] + self.weight)
                for r in rows if r["_v"] is not None}

    def transform(self, df):
        out = df._copy()
        default = {"zero": 0.0, "nan": float("nan")}[self.unseen]
        for f in self.features:
            c = df._to_expr(f).col
            m = self.mappings_[f]
            mapping = F.map_from_arrays(F.array(*[F.lit(k) for k in m]),
                                        F.array(*[F.lit(float(v)) for v in m.values()]))
            out[self.prefix + f] = F.coalesce(F.element_at(mapping, c), F.lit(default))
        return out


class WeightOfEvidenceEncoder(Transformer):
    """transformations.py:988 — category -> ln(p_positive/p_negative)
    with epsilon clamping; target must be boolean / {0,1}."""

    prefix = "woe_encoded_"
    _state_keys = ("mappings_", "unseen", "epsilon")

    def __init__(self, features, target, unseen="nan", epsilon=1e-6, prefix=None):
        super().__init__(features, prefix)
        self.target = target
        self.unseen = unseen
        self.epsilon = float(epsilon)
        self.mappings_: dict = {}

    def fit(self, df):
        tcol = df._to_expr(self.target).col.cast("double")
        distinct = [r[0] for r in df._spark_df().select(tcol.alias("_t")).distinct().collect()
                    if r[0] is not None]
        if not set(distinct) <= {0.0, 1.0}:
            raise ValueError(
                "Target contains values different from True/1 and False/0: %r" % distinct)
        eps = self.epsilon
        for f in self.features:
            rows = (df._spark_df()
                    .groupBy(df._to_expr(f).col.alias("_v"))
                    .agg(F.avg(tcol).alias("_p")).collect())
            out = {}
            for r in rows:
                if r["_v"] is None:
                    continue
                pos = r["_p"] if r["_p"] != 0 else eps
                neg = 1.0 - pos
                if neg == 0:
                    neg = eps
                out[r["_v"]] = float(np.log(pos / neg))
            self.mappings_[f] = out

    def transform(self, df):
        out = df._copy()
        default = {"zero": 0.0, "nan": float("nan")}[self.unseen]
        for f in self.features:
            c = df._to_expr(f).col
            m = self.mappings_[f]
            mapping = F.map_from_arrays(F.array(*[F.lit(k) for k in m]),
                                        F.array(*[F.lit(float(v)) for v in m.values()]))
            out[self.prefix + f] = F.coalesce(F.element_at(mapping, c), F.lit(default))
        return out


class KBinsDiscretizer(Transformer):
    """transformations.py:1067 — bin continuous features into ordinal
    bin labels.  strategy='uniform' fits from one batched min/max
    aggregation; 'quantile' from percentile_approx; 'kmeans'
    (transformations.py:1146-1155) runs a per-feature 1-D Lloyd's
    KMeans (deterministic uniform-midpoint init, n_init=1, the in-repo
    distributed :class:`KMeans`) and places inner edges halfway between
    consecutive sorted centers, outer edges at the feature min/max —
    bins adapt to density clusters instead of width or mass.  transform
    clips out-of-range samples into the closest bin like the
    reference."""

    prefix = "binned_"
    _state_keys = ("bin_edges_", "n_bins_", "epsilon")

    def __init__(self, features, n_bins=5, strategy="uniform", epsilon=1e-8, prefix=None):
        super().__init__(features, prefix)
        assert n_bins > 1, "Kwarg `n_bins` must be greater than 1."
        assert strategy in ("uniform", "quantile", "kmeans")
        self.n_bins = n_bins
        self.strategy = strategy
        self.epsilon = float(epsilon)
        self.bin_edges_: dict = {}
        self.n_bins_: dict = {}

    def fit(self, df):
        import warnings
        sdf = df._spark_df()
        if self.strategy == "uniform":
            aggs = []
            for f in self.features:
                c = df._to_expr(f).col
                aggs += [F.min(c).alias(f"{f}__lo"), F.max(c).alias(f"{f}__hi")]
            row = sdf.agg(*aggs).collect()[0]
            for f in self.features:
                if row[f"{f}__lo"] is None:
                    # MIN/MAX over zero non-null values is NULL: name
                    # the problem, not a float(None) TypeError
                    raise ValueError(
                        f"KBinsDiscretizer: feature {f!r} has no "
                        f"non-null values — cannot compute bin edges")
            # exact edges: boundary samples bin upward (digitize
            # right-open) and the max clips into the last bin, matching
            # the reference docstring (x=5 on [0,15]/3 bins -> bin 1)
            edges = {f: np.linspace(float(row[f"{f}__lo"]),
                                    float(row[f"{f}__hi"]),
                                    self.n_bins + 1)
                     for f in self.features}
        elif self.strategy == "kmeans":
            # per-feature 1-D KMeans: deterministic init at the
            # midpoints of the uniform grid (reference
            # transformations.py:1146-1155), inner edges halfway
            # between consecutive sorted centers, outer edges at
            # min / max+eps.  Each fit is Lloyd's over ONE projected
            # column — per-iteration cost is a k-row map-side-combined
            # aggregate, so n_features sequential fits stay cheap even
            # at full scale; the epsilon on the top edge keeps the
            # uniform init strictly inside the data span.
            aggs = []
            for f in self.features:
                c = df._to_expr(f).col
                aggs += [F.min(c).alias(f"{f}__lo"), F.max(c).alias(f"{f}__hi")]
            row = sdf.agg(*aggs).collect()[0]
            edges = {}
            for f in self.features:
                if row[f"{f}__lo"] is None:
                    # MIN/MAX over zero non-null values is NULL: name
                    # the problem, not a float(None) TypeError
                    raise ValueError(
                        f"KBinsDiscretizer: feature {f!r} has no "
                        f"non-null values — cannot compute bin edges")
                lo = float(row[f"{f}__lo"])
                hi = float(row[f"{f}__hi"]) + self.epsilon
                ue = np.linspace(lo, hi, self.n_bins + 1)
                init = [[float(v)] for v in (ue[1:] + ue[:-1]) * 0.5]
                km = KMeans(features=[f], n_clusters=self.n_bins,
                            init=init, n_init=1)
                km.fit(df)
                centers = np.sort(np.asarray(km.cluster_centers,
                                             dtype=float).ravel())
                mid = (centers[1:] + centers[:-1]) * 0.5
                edges[f] = np.r_[lo, mid, hi]
        else:
            qs = np.linspace(0.0, 1.0, self.n_bins + 1).tolist()
            aggs = [F.percentile_approx(df._to_expr(f).col.cast("double"), qs, 10000).alias(f)
                    for f in self.features]
            row = sdf.agg(*aggs).collect()[0]
            for f in self.features:
                # percentile_approx of an all-null column is NULL:
                # fail with the actual problem, not a float(None)
                # TypeError three frames down (the round-10
                # float-coercion-boundary sweep)
                if row[f] is None:
                    raise ValueError(
                        f"KBinsDiscretizer: feature {f!r} has no "
                        f"non-null values — cannot compute quantile "
                        f"bin edges")
            edges = {f: np.asarray([float(v) for v in row[f]]) for f in self.features}
        for f in self.features:
            mask = np.diff(edges[f], append=np.inf) > 1e-8
            be = edges[f][mask]
            if len(be) - 1 != self.n_bins:
                warnings.warn(f"Bins whose width are too small (i.e., <= 1e-8) in {f} are removed. "
                              f"Consider decreasing the number of bins.")
            self.bin_edges_[f] = be.tolist()
            self.n_bins_[f] = len(be) - 1

    def transform(self, df):
        from .functions import digitize
        out = df._copy()
        for f in self.features:
            c = df._to_expr(f).col.cast("double")
            code = digitize(c, [float(e) for e in self.bin_edges_[f]]) - 1
            hi = self.n_bins_[f] - 1
            out[self.prefix + f] = F.greatest(F.least(code, F.lit(hi)), F.lit(0)).cast("long")
        return out


class GroupByTransformer(Transformer):
    """transformations.py:1193 — aggregate features joined back to the
    frame.  The reference routes the join through a driver-side map
    because joins aren't state-serializable there; Spark-first the
    fitted group table IS small (category-sized), so transform is a
    broadcast left join — no driver materialization of the big side."""

    _state_keys = ("rprefix", "rsuffix")

    def __init__(self, by, agg, rprefix="", rsuffix=""):
        super().__init__([])
        if not agg:
            raise ValueError("You have to specify a dict for the `agg` keyword.")
        if not by:
            raise ValueError("Please specify a value for the `by` keyword.")
        self.by = by
        self.agg = agg
        self.rprefix, self.rsuffix = rprefix, rsuffix
        self.df_group_ = None

    def fit(self, df):
        self.df_group_ = df.groupby(by=self.by, agg=self.agg)

    def transform(self, df):
        from pyspark.sql.functions import broadcast
        existing = set(df.get_column_names())
        right = self.df_group_._spark_df()
        renames = {}
        for name in right.columns:
            if name == self.by:
                continue
            if name in existing:
                renames[name] = self.rprefix + name + self.rsuffix
        for old, new in renames.items():
            right = right.withColumnRenamed(old, new)
        joined = df._spark_df().join(broadcast(right), on=self.by, how="left")
        from .dataframe import DataFrame
        return DataFrame(joined)

    def state_get(self) -> dict:
        state = {"by": self.by, "rprefix": self.rprefix, "rsuffix": self.rsuffix,
                 "group": {c: self.df_group_.to_pandas_df()[c].tolist()
                           for c in self.df_group_.get_column_names()} if self.df_group_ is not None else None}
        return state

    def state_set(self, state: dict) -> None:
        self.by = state["by"]
        self.rprefix, self.rsuffix = state["rprefix"], state["rsuffix"]
        if state.get("group") is not None:
            from .sources import from_dict
            self.df_group_ = from_dict(state["group"])


class KMeans(Transformer):
    """cluster.py:66 parity — Lloyd's k-means over feature COLUMNS.

    The reference runs numba kernels chunk-by-chunk on one node
    (cluster.py:19-63); the Spark-first split puts the per-row work in
    whole-stage codegen and only k×d floats on the driver:

    * assignment — nearest-centroid id as a pure Column expression
      (distances to all k centroids in one let-bound array, argmin via
      array_position; centroids are plan literals, so no join and no
      UDF — the same pattern as similarity.ivf_assign);
    * update — one map-side-combined groupBy(cluster).agg(avg features,
      count, sum sq-dist): k result rows collect to the driver, where
      centroids shift and convergence (max shift < tol) is decided;
    * the features projection is persisted once before the loop so
      iterations re-read a materialized narrow relation.

    ``init='random'`` seeds deterministically from ``random_state``
    (rows ranked by a seeded xxhash64 — the same k rows on any cluster
    or partitioning); ``init='oversampled'`` pre-converges the centers
    on a bounded driver-side sample first (k-means|| spirit — measured
    1.5–2 full corpus-scan iterations ahead at k=2048×6.4M for ~6 s of
    constant-cost driver work; recommended at large k where every
    Lloyd iteration is expensive); ``init`` may also be an explicit
    k×d matrix.  ``n_init`` reruns with ``random_state + run`` seeds
    (both string inits) and keeps the best inertia.

    ``init='random'`` stays the DEFAULT at every k — a deliberate,
    recorded decision (round 8): 'oversampled' draws its driver sample
    with per-partition Bernoulli ``sample()``, so its centers (and
    hence final assignments) depend on the physical PARTITIONING of
    the input, while the xxhash64-ranked default returns identical
    centers for one ``random_state`` on any cluster layout — the
    reproducibility contract every other operator here keeps.  A
    k-threshold auto-flip would silently trade that contract for 1.5–2
    saved corpus scans; at the scale where those scans matter the
    caller is tuning anyway and opts in explicitly.
    Empty clusters keep their previous centroid.  ``transform`` adds
    ``prediction_label`` as a VIRTUAL column (lazy, like every vaex
    transformer).

    Assignment strategy scales with k×d: the literal-codegen expression
    embeds every centroid coordinate in the plan — and Lloyd's loop
    emits NEW literals every iteration, so each iteration pays a fresh
    Janino compile (measured ~10 s at k×d=512, ~54 s at 4096, vs <1 s
    Arrow).  ``assign_strategy='auto'`` (default) switches above
    ``_LITERAL_ASSIGN_MAX`` k×d coordinates to a vectorized Arrow
    pandas_udf — one numpy ``|X|² − 2·X·Cᵀ + |C|²`` argmin per batch
    with the k×d matrix in the closure (MB-sized at k=10k) — still a
    pure map stage and still a Column, so transform stays lazy/virtual.
    """

    _state_keys = ("n_clusters", "cluster_centers", "inertia",
                   "prediction_label")
    _LITERAL_ASSIGN_MAX = 256  # k×d coordinates; above -> Arrow argmin

    def __init__(self, features, n_clusters=2, init="random", n_init=1,
                 max_iter=300, random_state=None, tol=1e-4,
                 prediction_label="prediction_kmeans", verbose=False,
                 assign_strategy="auto"):
        super().__init__(features)
        self.n_clusters = int(n_clusters)
        if isinstance(init, str) and init not in ("random", "oversampled"):
            raise ValueError(f"init={init!r}")
        self.init = init
        self.n_init = int(n_init)
        self.max_iter = int(max_iter)
        self.random_state = random_state
        self.tol = float(tol)
        self.prediction_label = prediction_label
        self.verbose = verbose
        if assign_strategy not in ("auto", "literal", "arrow"):
            raise ValueError(f"assign_strategy={assign_strategy!r}")
        self.assign_strategy = assign_strategy
        self.cluster_centers: list = []
        self.inertia: float | None = None

    @staticmethod
    def _valid_features(cols):
        """Rows with a NULL or NaN feature are unassignable: fit drops
        them (a single null would otherwise poison a centroid mean or
        crash the driver-side center update), transform labels them
        null — the same degenerate-input contract as the similarity
        family (datapipe/similarity._drop_null_vecs, round 8)."""
        cond = F.lit(True)
        for c in cols:
            cond = cond & c.isNotNull() & ~F.isnan(c)
        return cond

    def _assign(self, cols, centers):
        """struct<c:int, d2:double> nearest-centroid Column, strategy
        picked by k×d (see class docstring).  Rows failing
        :meth:`_valid_features` get a null struct (null label, null
        d2) under EITHER strategy."""
        use_literal = (self.assign_strategy == "literal"
                       or (self.assign_strategy == "auto"
                           and len(centers) * max(1, len(cols))
                           <= self._LITERAL_ASSIGN_MAX))
        inner = (self._assign_expr(cols, centers) if use_literal
                 else self._assign_arrow(cols, centers))
        return F.when(self._valid_features(cols), inner).otherwise(
            F.lit(None).cast("struct<c:int,d2:double>"))

    def _assign_arrow(self, cols, centers):
        """Vectorized Arrow assignment: per batch, numpy argmin over
        ||x-c||² = |x|² − 2·x·cᵀ + |c|² against the closure-shipped k×d
        matrix.  Ties take the lowest cluster id (first-hit / strict-<
        block update), matching array_position-of-min in the literal
        form.

        The n×k distance matrix is the cost at scale — NOT the FLOPs:
        materializing it streams n×k×8 bytes through DRAM per
        iteration, and on a 32-core box every worker contends for the
        same memory bus (measured: the naive form ran 6.4M×2048 no
        faster distributed than single-process).  So distances are
        computed over CENTROID BLOCKS of 512 with a running
        (min, argmin) — each 10k×512 block lives in L2 and only the two
        n-vectors ever hit memory — in float32 when every centroid
        coordinate AND every feature value in the batch is below 1e7
        (squared distances then carry ~7 significant digits; only
        genuinely-ambiguous boundary points can flip, which Lloyd's
        tolerates by construction — and user-facing transform/predict
        at k×d>256 get the same guarantee because the gate re-checks
        per batch), float64 otherwise.  Measured 150 s → 36 s
        single-process on 6.4M×2048×2."""
        import pandas as pd
        from pyspark.sql.functions import pandas_udf
        # float32 is only safe when BOTH the centroids and the batch's
        # feature values are small enough that squared distances keep
        # ~7 significant digits; the data half of that check can only
        # happen per batch (features are unbounded), so both centroid
        # precisions ship in the closure and each batch picks —
        # a batch containing any |x| >= 1e7 (or NaN/inf) runs float64
        C64 = np.asarray(centers, dtype=np.float64)
        C32 = C64.astype(np.float32) if np.abs(C64).max() < 1e7 else None
        c2_64 = (C64 * C64).sum(axis=1)
        c2_32 = (C32 * C32).sum(axis=1) if C32 is not None else None
        B = 512

        def _a(*fcols):
            X = np.column_stack([s.to_numpy(dtype=np.float64) for s in fcols])
            n = len(X)
            use32 = (C32 is not None and n > 0
                     and float(np.abs(X).max()) < 1e7)  # False on NaN/inf
            if use32:
                X, C, c2, dt = X.astype(np.float32), C32, c2_32, np.float32
            else:
                C, c2, dt = C64, c2_64, np.float64
            x2 = (X * X).sum(axis=1)
            best = np.full(n, np.inf, dtype=dt)
            bidx = np.zeros(n, dtype=np.int64)
            rows = np.arange(n)
            for j in range(0, len(C), B):
                d2 = x2[:, None] - 2.0 * (X @ C[j:j + B].T) + c2[None, j:j + B]
                k = d2.argmin(axis=1)
                v = d2[rows, k]
                upd = v < best  # strict: earlier block keeps ties
                best[upd] = v[upd]
                bidx[upd] = k[upd] + j
            np.maximum(best, 0.0, out=best)  # FP cancellation floor
            return pd.DataFrame({"c": bidx.astype("int32"),
                                 "d2": best.astype("float64")})

        # real annotation objects (the module-level `from __future__
        # import annotations` stringifies inline hints, which pandas_udf
        # eval-type inference cannot resolve); the vararg needs one too
        _a.__annotations__ = {"fcols": pd.Series, "return": pd.DataFrame}
        return pandas_udf(_a, "c int, d2 double")(*cols)

    def _assign_expr(self, cols, centers):
        """Nearest-centroid id for literal ``centers`` (k×d) — one
        let-bound distance array so each distance appears once in the
        generated code."""
        dists = F.array(*[
            sum(((c - float(cen[i])) * (c - float(cen[i]))
                 for i, c in enumerate(cols)),
                F.lit(0.0))
            for cen in centers])
        from .datapipe.text import _let
        return _let(dists, lambda d: F.struct(
            (F.array_position(d, F.array_min(d)).cast("int") - 1).alias("c"),
            F.array_min(d).alias("d2")))

    def _init_centers(self, sdf, cols, seed):
        if not isinstance(self.init, str):
            return [list(map(float, row)) for row in self.init]
        if self.init == "oversampled":
            return self._init_centers_oversampled(sdf, cols, seed)
        h = F.xxhash64(*[c for c in cols], F.lit(int(seed)))
        rows = (sdf.select(*[c.alias(f"__f{i}") for i, c in enumerate(cols)],
                           h.alias("__h"))
                .dropDuplicates([f"__f{i}" for i in range(len(cols))])
                .orderBy("__h").limit(self.n_clusters).collect())
        if len(rows) < self.n_clusters:
            raise ValueError(
                f"only {len(rows)} distinct feature rows for "
                f"n_clusters={self.n_clusters}")
        return [[float(r[f"__f{i}"]) for i in range(len(cols))] for r in rows]

    _INIT_SAMPLE_ROWS = 20_000  # driver-side sample bound (rows)
    _INIT_SAMPLE_ROUNDS = 10    # numpy Lloyd rounds on the sample

    def _init_centers_oversampled(self, sdf, cols, seed):
        """k-means||-style init (Bahmani et al., VLDB 2012, collapsed
        to one sampling round): draw a bounded ~20k-row uniform sample
        to the driver, run 10 numpy Lloyd rounds on the sample from k
        random distinct sample rows, and seed the DISTRIBUTED loop
        with the sample's converged centers.

        Why: every distributed Lloyd iteration is a full corpus scan —
        at k=2048 × 6.4M rows the measured traces (kmeans_init_study
        probe, commit 06cd14e) put this init 1.5–2 distributed iterations
        ahead of the seeded-random init for ~6 s of driver work, and
        the gap grows with corpus size (the sample cost is constant).
        The sample Lloyd is blocked (4096-row tiles against the k×d
        matrix) so its memory stays O(tile×k), not O(sample×k)."""
        n = sdf.count()  # proj is persisted by fit(); cached scan
        frac = min(1.0, 1.2 * self._INIT_SAMPLE_ROWS / max(n, 1))
        X = np.asarray(sdf.select(*cols).sample(fraction=frac, seed=seed)
                       .toPandas(), dtype=np.float64)
        uniq = np.unique(X, axis=0)
        if len(uniq) < self.n_clusters:
            raise ValueError(
                f"only {len(uniq)} distinct feature rows in the init "
                f"sample for n_clusters={self.n_clusters}; use "
                f"init='random' or an explicit center matrix")
        rng = np.random.RandomState(int(seed) & 0x7FFFFFFF)
        # D² (k-means++) seeding over the sample: uniform seeding can
        # put two seeds in one density cluster and none in another — a
        # local minimum the later Lloyd rounds (sample AND distributed)
        # cannot escape.  O(k × sample) distances, driver-side.
        k, B = self.n_clusters, 4096
        first = rng.randint(len(uniq))
        seeds = [first]
        d2min = ((uniq - uniq[first]) ** 2).sum(1)
        for _ in range(k - 1):
            s = float(d2min.sum())
            if s > 0:
                i = int(rng.choice(len(uniq), p=d2min / s))
            else:  # all mass at chosen points; take any unused row
                i = int(next(j for j in range(len(uniq)) if j not in set(seeds)))
            seeds.append(i)
            d2min = np.minimum(d2min, ((uniq - uniq[i]) ** 2).sum(1))
        C = uniq[seeds].copy()
        c2 = (C * C).sum(1)
        for _ in range(self._INIT_SAMPLE_ROUNDS):
            lbl = np.empty(len(X), dtype=np.int64)
            for j in range(0, len(X), B):
                blk = X[j:j + B]
                d2 = ((blk * blk).sum(1)[:, None] - 2.0 * (blk @ C.T)
                      + c2[None, :])
                lbl[j:j + B] = d2.argmin(1)
            for c in range(k):
                m = lbl == c
                if m.any():
                    C[c] = X[m].mean(0)  # empty clusters keep their seed
            c2 = (C * C).sum(1)
        return [list(map(float, row)) for row in C]

    def _lloyd(self, proj, cols, centers):
        inertia = None
        for it in range(self.max_iter):
            assign = self._assign(cols, centers)
            stats = (proj.select(assign.alias("__a"),
                                 *[c.alias(f"__f{i}")
                                   for i, c in enumerate(cols)])
                     .groupBy(F.col("__a.c").alias("__c"))
                     .agg(F.count(F.lit(1)).alias("n"),
                          F.sum("__a.d2").alias("sse"),
                          *[F.avg(f"__f{i}").alias(f"m{i}")
                            for i in range(len(cols))])
                     .collect())
            new = [list(c) for c in centers]  # empty clusters keep old
            inertia = 0.0
            for r in stats:
                new[r["__c"]] = [float(r[f"m{i}"]) for i in range(len(cols))]
                inertia += float(r["sse"])
            shift = max(max(abs(a - b) for a, b in zip(cn, co))
                        for cn, co in zip(new, centers))
            centers = new
            if self.verbose:  # pragma: no cover - debug aid
                print(f"kmeans iter {it}: inertia={inertia:.4f} shift={shift:.2e}")
            if shift < self.tol:
                break
        return centers, inertia

    def fit(self, df):
        from .cache import _register_persist
        cols = [df._to_expr(f).col.cast("double") for f in self.features]
        proj = _register_persist(
            df._spark_df().filter(self._valid_features(cols))
            .select(*[c.alias(f"__f{i}") for i, c in enumerate(cols)]))
        pcols = [F.col(f"__f{i}") for i in range(len(cols))]
        base_seed = 42 if self.random_state is None else int(self.random_state)
        best = (None, float("inf"))
        runs = 1 if not isinstance(self.init, str) else self.n_init
        for run in range(runs):
            centers = self._init_centers(proj, pcols, base_seed + run)
            centers, inertia = self._lloyd(proj, pcols, centers)
            if inertia < best[1]:
                best = (centers, inertia)
        self.cluster_centers = best[0]
        self.inertia = best[1]
        return self

    def transform(self, df):
        out = df._copy()
        cols = [df._to_expr(f).col.cast("double") for f in self.features]
        out[self.prediction_label] = \
            self._assign(cols, self.cluster_centers)["c"]
        return out

    def predict(self, df):
        """Eager cluster ids (numpy), reference cluster.py predict."""
        return np.asarray(
            self.transform(df)[self.prediction_label].tolist())


class Predictor(Transformer):
    """sklearn.py:16 parity — wrap any scikit-learn estimator as a
    pipeline object.  ``fit`` materializes the feature matrix to the
    driver (the reference does the same full-memory copy —
    sklearn.py:26-27: single-node estimators can't fit distributed);
    ``transform`` is lazy and DISTRIBUTED: the fitted model ships in
    the pandas_udf closure (cloudpickle — serialized by VALUE, so
    estimators defined anywhere work; cached per python worker) and
    predicts over Arrow batches, so scoring scales even though fitting
    doesn't.  For genuinely
    distributed fitting use the engine's own transformers (PCA/KMeans/
    scalers/encoders fit via aggregates).  Raises ImportError at fit
    time when scikit-learn (or whatever library backs ``model``) is
    absent from the environment — no silent stub."""

    _state_keys = ("target", "prediction_name")

    def __init__(self, model=None, features=None, target=None,
                 prediction_name="prediction"):
        super().__init__(features or [])
        self.model = model
        self.target = target
        self.prediction_name = prediction_name

    def fit(self, df, **kwargs):
        X = np.column_stack([np.asarray(df[f].tolist(), dtype="float64")
                             for f in self.features])
        y = (np.asarray(df[self.target].tolist())
             if self.target is not None else None)
        self.model.fit(X, y, **kwargs)
        return self

    def transform(self, df):
        import pandas as pd
        from pyspark.sql.functions import pandas_udf
        model = self.model

        def _predict(*cols):
            import numpy as _np
            X = _np.column_stack([c.to_numpy(dtype="float64") for c in cols])
            return pd.Series(model.predict(X))

        _predict.__annotations__ = {"cols": pd.Series, "return": pd.Series}
        out = df._copy()
        udf = pandas_udf(_predict, "double")
        out[self.prediction_name] = udf(
            *[df._to_expr(f).col.cast("double") for f in self.features])
        return out

    def predict(self, df):
        """Eager numpy predictions (reference sklearn.py:75)."""
        X = np.column_stack([np.asarray(df[f].tolist(), dtype="float64")
                             for f in self.features])
        return self.model.predict(X)


class IncrementalPredictor(Predictor):
    """sklearn.py:115 parity — estimators with ``partial_fit``: the
    frame streams to the driver in Arrow batches (toLocalIterator — one
    partition in memory at a time, not a full copy) and each batch
    partial_fits; scoring distributes exactly like Predictor."""

    def __init__(self, model=None, features=None, target=None,
                 prediction_name="prediction", batch_size=100_000):
        super().__init__(model, features, target, prediction_name)
        self.batch_size = int(batch_size)

    def fit(self, df, **kwargs):
        if not hasattr(self.model, "partial_fit"):
            raise ValueError("model lacks partial_fit; use Predictor")
        import itertools
        cols = self.features + ([self.target] if self.target else [])
        sdf = df._spark_df().select(
            *[df._to_expr(c).col.alias(c) for c in cols])
        # toLocalIterator streams one partition at a time to the driver
        # — bounded memory, unlike a full collect
        it = sdf.toLocalIterator(prefetchPartitions=True)
        while True:
            rows = list(itertools.islice(it, self.batch_size))
            if not rows:
                break
            X = np.array([[r[f] for f in self.features] for r in rows],
                         dtype="float64")
            y = (np.array([r[self.target] for r in rows])
                 if self.target else None)
            self.model.partial_fit(X, y, **kwargs)
        return self


class Pipeline(list):
    """pipeline.py:5 parity — an ordered list of fitted transformers
    with JSON save/load.  State is (class name, state dict) pairs;
    every Transformer here round-trips through state_get/state_set, so
    a pipeline file written on one session replays on another."""

    def save(self, f):
        import json
        states = [{"cls": type(t).__name__, "state": t.state_get()}
                  for t in self]
        if hasattr(f, "write"):
            json.dump(states, f)
        else:
            with open(f, "w") as fh:
                json.dump(states, fh)

    def load(self, f):
        import json
        import sys
        mod = sys.modules[__name__]
        if hasattr(f, "read"):
            states = json.load(f)
        else:
            with open(f) as fh:
                states = json.load(fh)
        objs = []
        for s in states:
            cls = getattr(mod, s["cls"])
            # normal construction first, so behavioral defaults not
            # covered by _state_keys (e.g. with_mean) exist; state_set
            # then restores everything fitted
            try:
                obj = cls(s["state"]["features"])
            except TypeError:
                obj = cls.__new__(cls)
                Transformer.__init__(obj, [])
            obj.state_set(s["state"])
            objs.append(obj)
        del self[:]
        self.extend(objs)
        return self

    def fit(self, df):
        """Fit each stage on the output of the previous ones."""
        for t in self[:-1]:
            df = t.fit_transform(df)
        self[-1].fit(df)
        return self

    def transform(self, df):
        assert len(self) > 0, "cannot transform with an empty pipeline"
        for t in self:
            df = t.transform(df)
        return df

    def predict(self, df):
        assert len(self) > 0, "cannot predict with an empty pipeline"
        for t in self[:-1]:
            df = t.transform(df)
        return self[-1].predict(df)


class MetricsAccessor:
    """df.ml.metrics — reference vaex/ml/metrics.py parity.

    Every classification metric derives from ONE distributed aggregate:
    the (y_true, y_pred) confusion counts (map-side-combined groupBy,
    class² result rows to the driver); regression metrics are single
    moment aggregates.  Nothing here scans twice or moves data."""

    def __init__(self, df):
        self.df = df

    def _cm(self, y_true, y_pred, selection=None):
        df = self.df
        sdf = df._spark_df()
        sel = df._selection_col(selection)
        if sel is not None:
            sdf = sdf.filter(sel)
        t, p = df._to_expr(y_true).col, df._to_expr(y_pred).col
        rows = (sdf.groupBy(t.alias("__t"), p.alias("__p"))
                .agg(F.count(F.lit(1)).alias("__n")).collect())
        labels = sorted({r["__t"] for r in rows} | {r["__p"] for r in rows})
        idx = {v: i for i, v in enumerate(labels)}
        C = np.zeros((len(labels), len(labels)), dtype="int64")
        for r in rows:
            C[idx[r["__t"]], idx[r["__p"]]] = r["__n"]
        return C, labels

    def confusion_matrix(self, y_true, y_pred, selection=None,
                         array_type=None):
        """metrics.py:128 — rows = true class, cols = predicted."""
        C, _ = self._cm(y_true, y_pred, selection)
        return C

    def accuracy_score(self, y_true, y_pred, selection=None):
        C, _ = self._cm(y_true, y_pred, selection)
        return float(np.trace(C) / C.sum())

    def precision_recall_fscore(self, y_true, y_pred, average="binary",
                                selection=None):
        """metrics.py:157 — binary assumes 0/1 with 1 the positive
        class; macro is the unweighted per-class mean."""
        assert average in ("binary", "macro")
        C, labels = self._cm(y_true, y_pred, selection)
        diag = np.diag(C).astype("float64")
        with np.errstate(divide="ignore", invalid="ignore"):
            prec = np.where(C.sum(axis=0) > 0, diag / C.sum(axis=0), 0.0)
            rec = np.where(C.sum(axis=1) > 0, diag / C.sum(axis=1), 0.0)
            f1 = np.where(prec + rec > 0, 2 * prec * rec / (prec + rec), 0.0)
        if average == "binary":
            if C.shape != (2, 2):
                raise ValueError('average="binary" needs exactly 2 classes')
            i = labels.index(1) if 1 in labels else 1
            return float(prec[i]), float(rec[i]), float(f1[i])
        return float(prec.mean()), float(rec.mean()), float(f1.mean())

    def precision_score(self, y_true, y_pred, average="binary", selection=None):
        return self.precision_recall_fscore(y_true, y_pred, average, selection)[0]

    def recall_score(self, y_true, y_pred, average="binary", selection=None):
        return self.precision_recall_fscore(y_true, y_pred, average, selection)[1]

    def f1_score(self, y_true, y_pred, average="binary", selection=None):
        return self.precision_recall_fscore(y_true, y_pred, average, selection)[2]

    def matthews_correlation_coefficient(self, y_true, y_pred, selection=None):
        """metrics.py:327 — multiclass MCC from the confusion matrix
        (the R_k statistic)."""
        C, _ = self._cm(y_true, y_pred, selection)
        C = C.astype("float64")
        t_sum, p_sum, n = C.sum(axis=1), C.sum(axis=0), C.sum()
        cov_tp = np.trace(C) * n - t_sum @ p_sum
        cov_pp = n * n - p_sum @ p_sum
        cov_tt = n * n - t_sum @ t_sum
        denom = np.sqrt(cov_pp * cov_tt)
        return float(cov_tp / denom) if denom else 0.0

    def classification_report(self, y_true, y_pred, average="binary",
                              decimals=3, selection=None):
        """metrics.py:376 — formatted summary string."""
        acc = self.accuracy_score(y_true, y_pred, selection)
        p, r, f = self.precision_recall_fscore(y_true, y_pred, average,
                                               selection)
        fmt = f"%.{decimals}f"
        return ("\n        Classification report:\n\n"
                f"        Accuracy:  {fmt % acc}\n"
                f"        Precision: {fmt % p}\n"
                f"        Recall:    {fmt % r}\n"
                f"        F1:        {fmt % f}\n        ")

    def _reg(self, y_true, y_pred, selection=None):
        df = self.df
        sdf = df._spark_df()
        sel = df._selection_col(selection)
        if sel is not None:
            sdf = sdf.filter(sel)
        t = df._to_expr(y_true).col.cast("double")
        p = df._to_expr(y_pred).col.cast("double")
        return sdf, t, p

    def mean_absolute_error(self, y_true, y_pred, selection=None):
        sdf, t, p = self._reg(y_true, y_pred, selection)
        v = sdf.agg(F.avg(F.abs(t - p))).collect()[0][0]
        # empty selection: AVG is NULL -> NaN (sklearn raises; NaN is
        # the vaex-permissive analogue and float(None) crashed)
        return float("nan") if v is None else float(v)

    def mean_squared_error(self, y_true, y_pred, selection=None):
        sdf, t, p = self._reg(y_true, y_pred, selection)
        d = t - p
        v = sdf.agg(F.avg(d * d)).collect()[0][0]
        return float("nan") if v is None else float(v)

    def r2_score(self, y_true, y_pred, selection=None):
        """metrics.py:461 — 1 - SS_res/SS_tot, one aggregate pass."""
        sdf, t, p = self._reg(y_true, y_pred, selection)
        d = t - p
        row = sdf.agg(F.sum(d * d).alias("ss_res"),
                      F.sum(t * t).alias("stt"),
                      F.sum(t).alias("st"),
                      F.count(t).alias("n")).collect()[0]
        ss_tot = row["stt"] - row["st"] * row["st"] / row["n"]
        return float(1.0 - row["ss_res"] / ss_tot)


class DataFrameAccessorML:
    """df.ml — the vaex-ml accessor (reference vaex/ml/__init__.py:8)."""

    def __init__(self, df):
        self.df = df

    @property
    def metrics(self) -> "MetricsAccessor":
        return MetricsAccessor(self.df)

    def state_transfer(self) -> StateTransfer:
        return StateTransfer(state=self.df.state_get())

    def train_test_split(self, test_size: float = 0.2, strings=True,
                         virtual=True, verbose: bool = True):
        """Head/tail split assuming a shuffled frame (reference
        semantics: first ``test_size`` fraction -> test, rest -> train).
        Deterministic on the frame's current order."""
        if verbose:
            import warnings
            warnings.warn("Make sure the DataFrame is shuffled")
        n = len(self.df)
        n_test = int(test_size * n)
        test = self.df[:n_test]
        train = self.df[n_test:]
        return train, test
