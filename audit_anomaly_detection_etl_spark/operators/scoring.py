"""Anomaly-model ensemble scoring: the reference's headline output.

Reference analogues:
- fit: 3-detector ensemble (model_training/nodes.py:20-50 — IsolationForest
  primary + two secondary detectors behind a StandardScaler)
- score: predict + decision_function per model, -1/1 remapped to 1/0
  (model_output/nodes.py:14-31)
- vote: ``prediction = (primary == 1) & (sum of votes >= 2)``
  (model_output/nodes.py:34-40)
- score: per-model score negated ("models_to_invert_score" lists all three,
  parameters_model_output.yml:13-16), min-max normalized over the scored
  table, then averaged (model_output/nodes.py:43-55)
- interpretation: per-feature attribution for the primary model
  (model_output/nodes.py:116-125 SHAP; here an exact ablation attribution —
  see ``anomaly_attribution``)

sklearn is not available in this environment, so the three detectors are
seeded pure-numpy implementations with sklearn-compatible decision-function
conventions (positive = inlier, ``offset_`` at the contamination quantile of
the fit scores):

- ``NumpyIsolationForest``  — the primary model, same algorithm family as the
  reference's (random split trees, 2^(-E[h]/c(psi)) path-length score)
- ``RobustZDetector``       — max per-feature robust z (median/MAD); stands in
  for OneClassSVM (deterministic, closed-form, no SMO iteration)
- ``KnnDistanceDetector``   — distance to the k-th nearest fit-sample
  neighbor over standardized features; stands in for LOF(n_neighbors=20)

Spark execution model (the 100 TB design):
- **fit is driver-side on a deterministic sample** — the features table is
  one row per entity (already reduced from the raw table by the feature
  queries), and ``sample_mod`` selects ``pmod(xxhash64(id), mod) == 0`` rows,
  a content-stable sample that survives repartitioning and resume. The
  reference fits on its whole features frame in memory; at 10^12 raw rows the
  features table can still be large, hence the sampled fit (standard practice
  for subsample-based detectors — iForest fits on psi=256 rows per tree
  regardless).
- **scoring is distributed**: the fitted model (a few numpy arrays) is
  broadcast once via ``SparkContext.broadcast`` and applied in ONE
  Arrow-batched ``mapInPandas`` stage — per batch, pure vectorized numpy; the
  Python interpreter never loops over rows.
- **normalization/vote are native**: min/max per score column is a 1-row
  aggregate broadcast-joined back (same two-pass pattern as
  outliers.global_low_quantile_flag); the vote rule is a codegen'd CASE.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

_EULER_GAMMA = 0.5772156649015329


def _avg_path_length(n):
    """c(n): average unsuccessful-search path length in a BST of n nodes."""
    n = np.asarray(n, dtype=np.float64)
    out = np.zeros_like(n)
    m = n > 2
    out[m] = 2.0 * (np.log(n[m] - 1.0) + _EULER_GAMMA) - 2.0 * (n[m] - 1.0) / n[m]
    out[n == 2] = 1.0
    return out


@dataclass
class _Tree:
    feature: np.ndarray  # int32; -1 marks a leaf
    threshold: np.ndarray  # float64
    left: np.ndarray  # int32
    right: np.ndarray  # int32
    adjust: np.ndarray  # float64; leaves only: depth + c(n_node_samples)
    # per-node fit-sample row count (root = psi). Scoring never reads it;
    # exact path-dependent TreeSHAP (operators/treeshap.py) weights cold
    # branches by cover ratios. None on pre-r5 pickles (treeshap raises).
    cover: np.ndarray | None = None


@dataclass
class NumpyIsolationForest:
    """Seeded pure-numpy isolation forest with sklearn-compatible scoring:
    ``score_samples`` in (-1, 0) (higher = inlier), ``decision_function`` =
    score_samples - offset_, ``offset_`` = contamination-quantile of the fit
    scores, ``predict`` = -1 where decision_function < 0."""

    n_trees: int = 100
    sample_size: int = 256
    contamination: float = 0.1
    seed: int = 42
    trees: list = field(default_factory=list)
    offset_: float = 0.0
    _c_psi: float = 1.0

    def _build_tree(self, X: np.ndarray, rng: np.random.Generator) -> _Tree:
        depth_limit = int(np.ceil(np.log2(max(len(X), 2))))
        feature, threshold, left, right, adjust, cover = [], [], [], [], [], []
        # stack of (row-index-array, depth, parent_slot, is_left)
        stack = [(np.arange(len(X)), 0, -1, False)]
        while stack:
            idx, depth, parent, is_left = stack.pop()
            node = len(feature)
            if parent >= 0:
                (left if is_left else right)[parent] = node
            cover.append(len(idx))
            sub = X[idx]
            lo, hi = sub.min(axis=0), sub.max(axis=0)
            splittable = np.flatnonzero(hi > lo)
            if depth >= depth_limit or len(idx) <= 1 or splittable.size == 0:
                feature.append(-1)
                threshold.append(0.0)
                left.append(-1)
                right.append(-1)
                adjust.append(depth + float(_avg_path_length([len(idx)])[0]))
                continue
            j = int(rng.choice(splittable))
            t = float(rng.uniform(lo[j], hi[j]))
            feature.append(j)
            threshold.append(t)
            left.append(-1)
            right.append(-1)
            adjust.append(0.0)
            mask = sub[:, j] <= t
            # push right first so left is built next (order irrelevant, fixed)
            stack.append((idx[~mask], depth + 1, node, False))
            stack.append((idx[mask], depth + 1, node, True))
        return _Tree(
            np.asarray(feature, np.int32),
            np.asarray(threshold, np.float64),
            np.asarray(left, np.int32),
            np.asarray(right, np.int32),
            np.asarray(adjust, np.float64),
            np.asarray(cover, np.int64),
        )

    def fit(self, X: np.ndarray) -> "NumpyIsolationForest":
        X = np.asarray(X, dtype=np.float64)
        rng = np.random.default_rng(self.seed)
        psi = min(self.sample_size, len(X))
        self._c_psi = max(float(_avg_path_length([psi])[0]), 1e-9)
        self.trees = []
        for _ in range(self.n_trees):
            take = rng.choice(len(X), size=psi, replace=False)
            self.trees.append(self._build_tree(X[take], rng))
        self.offset_ = float(
            np.quantile(self.score_samples(X), self.contamination)
        )
        return self

    @staticmethod
    def _tree_depths(tree: _Tree, X: np.ndarray) -> np.ndarray:
        node = np.zeros(len(X), dtype=np.int64)
        out = np.empty(len(X), dtype=np.float64)
        active = np.arange(len(X))
        while active.size:
            nd = node[active]
            leaf = tree.feature[nd] < 0
            if leaf.any():
                rows = active[leaf]
                out[rows] = tree.adjust[node[rows]]
                active = active[~leaf]
                if active.size == 0:
                    break
                nd = node[active]
            go_left = X[active, tree.feature[nd]] <= tree.threshold[nd]
            node[active] = np.where(go_left, tree.left[nd], tree.right[nd])
        return out

    def score_samples(self, X: np.ndarray) -> np.ndarray:
        X = np.asarray(X, dtype=np.float64)
        depths = np.zeros(len(X), dtype=np.float64)
        for tree in self.trees:
            depths += self._tree_depths(tree, X)
        return -np.power(2.0, -(depths / self.n_trees) / self._c_psi)

    def decision_function(self, X: np.ndarray) -> np.ndarray:
        return self.score_samples(X) - self.offset_


@dataclass
class RobustZDetector:
    """max_j |x_j - median_j| / (1.4826 * MAD_j); decision = offset_ - maxz."""

    contamination: float = 0.1
    med_: np.ndarray = None
    scale_: np.ndarray = None
    offset_: float = 0.0

    def fit(self, X: np.ndarray) -> "RobustZDetector":
        X = np.asarray(X, dtype=np.float64)
        self.med_ = np.median(X, axis=0)
        mad = np.median(np.abs(X - self.med_), axis=0)
        self.scale_ = np.maximum(mad * 1.4826, 1e-9)
        self.offset_ = float(np.quantile(self._maxz(X), 1.0 - self.contamination))
        return self

    def _maxz(self, X: np.ndarray) -> np.ndarray:
        return np.max(np.abs(np.asarray(X, np.float64) - self.med_) / self.scale_, axis=1)

    def decision_function(self, X: np.ndarray) -> np.ndarray:
        return self.offset_ - self._maxz(X)


# Distance-matrix chunking bound for the neighbor detectors: rows are
# processed in chunks of ceil(_CHUNK_ELEMS / n_fit_sample), so peak transient
# memory is ~_CHUNK_ELEMS float64 (~32 MB) regardless of fit-sample size —
# without it a 100k-row fit sample means a 100k x 100k (75 GiB) matrix on the
# driver at fit time and batch x 100k (~8 GB) per Arrow batch on executors.
# Chunking is row-independent, so scores are bit-identical to the dense path.
_CHUNK_ELEMS = 4_000_000


@dataclass
class KnnDistanceDetector:
    """Distance to the k-th nearest fit-sample neighbor over standardized
    features (LOF stand-in: n_neighbors=20, novelty scoring against the fit
    set). decision = offset_ - kdist."""

    k: int = 20
    contamination: float = 0.1
    mean_: np.ndarray = None
    std_: np.ndarray = None
    sample_: np.ndarray = None
    offset_: float = 0.0

    def fit(self, X: np.ndarray) -> "KnnDistanceDetector":
        X = np.asarray(X, dtype=np.float64)
        self.mean_ = X.mean(axis=0)
        std = X.std(axis=0)  # population std, as StandardScaler uses
        self.std_ = np.where(std > 0, std, 1.0)
        self.sample_ = (X - self.mean_) / self.std_
        # k-th neighbor among fit rows EXCLUDING self: self sits at distance 0,
        # so take partition index k (0-based) instead of k-1
        kdist = self._kdist(self.sample_, kth=min(self.k, len(X) - 1))
        self.offset_ = float(np.quantile(kdist, 1.0 - self.contamination))
        return self

    def _kdist(self, S: np.ndarray, kth: int) -> np.ndarray:
        n = self.sample_.shape[0]
        kth = min(kth, n - 1)
        samp_sq = np.sum(self.sample_ * self.sample_, axis=1)
        out = np.empty(S.shape[0], dtype=np.float64)
        step = max(1, _CHUNK_ELEMS // max(1, n))
        for i in range(0, S.shape[0], step):
            C = S[i : i + step]
            d2 = (
                np.sum(C * C, axis=1)[:, None]
                + samp_sq[None, :]
                - 2.0 * (C @ self.sample_.T)
            )
            np.maximum(d2, 0.0, out=d2)
            out[i : i + step] = np.sqrt(np.partition(d2, kth, axis=1)[:, kth])
        return out

    def decision_function(self, X: np.ndarray) -> np.ndarray:
        S = (np.asarray(X, np.float64) - self.mean_) / self.std_
        return self.offset_ - self._kdist(S, kth=min(self.k - 1, len(self.sample_) - 1))


@dataclass
class LocalDensityDetector:
    """k-distance-RATIO detector — the LOF analogue the round-2 review asked
    for (reference ensemble member LOF(n_neighbors=20),
    model_training/nodes.py:34-38). LOF's defining property is LOCAL
    density: a point is anomalous relative to the density of its OWN
    neighborhood, so a point on the edge of a sparse-but-legitimate cluster
    is not flagged just for living in a sparse region.

    score(x) = kdist(x) / mean(kdist of x's k nearest fit samples) — the
    simplified LOF (reachability smoothing dropped; same ordering on
    benchmark data). ~1 means x is as dense as its neighbors; >> 1 means x
    is locally isolated. decision = offset_ - ratio, offset_ at the
    (1 - contamination) quantile of the fit ratios — the same
    sklearn-compatible convention as the other detectors.
    """

    k: int = 20
    contamination: float = 0.1
    mean_: np.ndarray = None
    std_: np.ndarray = None
    sample_: np.ndarray = None
    sample_kdist_: np.ndarray = None
    offset_: float = 0.0

    def fit(self, X: np.ndarray) -> "LocalDensityDetector":
        X = np.asarray(X, dtype=np.float64)
        self.mean_ = X.mean(axis=0)
        std = X.std(axis=0)
        self.std_ = np.where(std > 0, std, 1.0)
        self.sample_ = (X - self.mean_) / self.std_
        # k-th neighbor among fit rows EXCLUDING self (self at distance 0)
        kth = min(self.k, len(X) - 1)
        kd = np.empty(len(X), dtype=np.float64)
        for i, d in self._dist_chunks(self.sample_):
            kd[i : i + d.shape[0]] = np.partition(d, kth, axis=1)[:, kth]
        self.sample_kdist_ = kd
        ratio = self._ratio(self.sample_, fit_mode=True)
        self.offset_ = float(np.quantile(ratio, 1.0 - self.contamination))
        return self

    def _dist_chunks(self, S: np.ndarray):
        """Yield (row_offset, dist_block) with blocks bounded at _CHUNK_ELEMS
        float64 — never a dense |S| x |sample| matrix (see _CHUNK_ELEMS)."""
        samp_sq = np.sum(self.sample_ * self.sample_, axis=1)
        step = max(1, _CHUNK_ELEMS // max(1, self.sample_.shape[0]))
        for i in range(0, S.shape[0], step):
            C = S[i : i + step]
            d2 = (
                np.sum(C * C, axis=1)[:, None]
                + samp_sq[None, :]
                - 2.0 * (C @ self.sample_.T)
            )
            np.maximum(d2, 0.0, out=d2)
            yield i, np.sqrt(d2)

    def _ratio(self, S: np.ndarray, fit_mode: bool) -> np.ndarray:
        # fit_mode: S IS the fit sample -> self sits at distance 0 in its
        # own row; take neighbors 1..k instead of 0..k-1
        lo = 1 if fit_mode else 0
        kth = min(self.k - 1 + lo, self.sample_.shape[0] - 1)
        out = np.empty(S.shape[0], dtype=np.float64)
        for i, d in self._dist_chunks(S):
            idx = np.argpartition(d, kth, axis=1)[:, : kth + 1]
            dd = np.take_along_axis(d, idx, axis=1)
            order = np.argsort(dd, axis=1)[:, lo : kth + 1]
            nbrs = np.take_along_axis(idx, order, axis=1)
            kdist = np.take_along_axis(dd, order, axis=1)[:, -1]
            denom = np.maximum(self.sample_kdist_[nbrs].mean(axis=1), 1e-12)
            out[i : i + d.shape[0]] = kdist / denom
        return out

    def decision_function(self, X: np.ndarray) -> np.ndarray:
        S = (np.asarray(X, np.float64) - self.mean_) / self.std_
        return self.offset_ - self._ratio(S, fit_mode=False)


MODEL_NAMES = ("iforest", "robust_z", "knn")
PRIMARY_MODEL = "iforest"


@dataclass
class EnsembleModel:
    feature_cols: list
    iforest: NumpyIsolationForest
    robust_z: RobustZDetector
    knn: KnnDistanceDetector
    baseline_: np.ndarray = None  # per-feature fit-sample median (attribution)
    lof: LocalDensityDetector = None  # optional 4th member (include_lof=True)

    def detectors(self):
        out = {"iforest": self.iforest, "robust_z": self.robust_z, "knn": self.knn}
        if self.lof is not None:
            out["lof"] = self.lof
        return out


def fit_ensemble(
    features: DataFrame,
    feature_cols: list[str],
    id_col: str,
    sample_mod: int | None = None,
    seed: int = 42,
    contamination: float = 0.1,
    n_trees: int = 100,
    include_lof: bool = False,
    max_fit_rows: int = 100_000,
) -> EnsembleModel:
    """Driver-side fit on a deterministic content-hash sample of the features
    table. ``sample_mod=1`` fits on every row (the reference's semantics);
    at scale pick ``sample_mod`` so ~10^4-10^5 rows survive. The sample is
    sorted by ``id_col`` so the fit (and hence every downstream score) is
    independent of partition layout.

    ``sample_mod=None`` (the default) is the driver-OOM guard: a cheap
    ``count()`` sizes the table and picks the smallest mod keeping the
    expected sample under ``max_fit_rows`` — the driver can never be handed
    10^9 feature rows by accident; pass an explicit mod to override.

    ``include_lof=True`` adds the LocalDensityDetector as a 4th ensemble
    member (the reference fits IsolationForest + OneClassSVM + LOF,
    model_training/nodes.py:34-38; the default 3 keep the round-1 scoring
    contract bit-stable).
    """
    if sample_mod is None:
        n = features.count()
        sample_mod = max(1, -(-n // max_fit_rows))  # ceil div
    samp = features
    if sample_mod > 1:
        samp = samp.where(F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(sample_mod)) == 0)
    pdf = samp.select(id_col, *feature_cols).orderBy(id_col).toPandas()
    X = pdf[list(feature_cols)].to_numpy(dtype=np.float64)
    if X.shape[0] == 0:
        raise ValueError(
            "fit_ensemble: the features table (after sampling with "
            f"sample_mod={sample_mod}) is empty — nothing to fit. Check the "
            "upstream filters, or pass sample_mod=1."
        )
    model = EnsembleModel(
        feature_cols=list(feature_cols),
        iforest=NumpyIsolationForest(
            n_trees=n_trees, contamination=contamination, seed=seed
        ).fit(X),
        robust_z=RobustZDetector(contamination=contamination).fit(X),
        knn=KnnDistanceDetector(contamination=contamination).fit(X),
        baseline_=np.median(X, axis=0),
        lof=LocalDensityDetector(contamination=contamination).fit(X)
        if include_lof
        else None,
    )
    return model


def save_model(model: EnsembleModel, path: str) -> None:
    """Persist a fitted ensemble to disk — SURVEY.md §2 S8, the reference's
    Kedro PickleDataSet model artifact (catalog.yml:88-102,
    model_training/nodes.py save step). The model is a pure-numpy dataclass
    bundle measured in KBs (tree arrays + fit medians), a DRIVER artifact,
    never data-plane state — so a driver-local file (or any mounted path on
    a real cluster) is the right grain, exactly like the reference's
    ``data/06_models`` pickle. Pickle protocol 4 for cross-version reach."""
    import pickle

    with open(path, "wb") as f:
        pickle.dump(model, f, protocol=4)


def load_model(path: str) -> EnsembleModel:
    """Inverse of :func:`save_model`; the loaded model broadcasts into
    ``score_ensemble`` like a freshly fitted one (determinism pytest:
    identical scores before/after the round trip)."""
    import pickle

    with open(path, "rb") as f:
        model = pickle.load(f)
    if not isinstance(model, EnsembleModel):
        raise TypeError(f"{path} does not contain an EnsembleModel")
    return model


def score_ensemble(features: DataFrame, model: EnsembleModel) -> DataFrame:
    """Distributed scoring: broadcast the fitted model, ONE mapInPandas stage
    appending, per detector m: ``{m}_score`` (raw decision function) and
    ``{m}_pred`` (1 = anomaly — the reference's -1/1 -> 1/0 remap,
    model_output/nodes.py:23-26, applied inline since decision < 0 <=>
    predict == -1 for all three detectors)."""
    sc = features.sparkSession.sparkContext
    b = sc.broadcast(model)

    out_fields = list(features.schema.fields)
    for m in model.detectors():
        out_fields.append(StructField(f"{m}_score", DoubleType(), True))
        out_fields.append(StructField(f"{m}_pred", IntegerType(), True))
    schema = StructType(out_fields)

    def score_ensemble_kernel(batches):
        mdl = b.value
        for pdf in batches:
            X = pdf[mdl.feature_cols].to_numpy(dtype=np.float64)
            for name, det in mdl.detectors().items():
                s = det.decision_function(X) if len(pdf) else np.empty(0)
                pdf[f"{name}_score"] = s
                pdf[f"{name}_pred"] = (s < 0).astype(np.int32)
            yield pdf

    return features.mapInPandas(score_ensemble_kernel, schema=schema)


def anomaly_output(scored: DataFrame, min_votes: int = 2) -> DataFrame:
    """Vote + normalized score (model_output/nodes.py:34-55):

    - ``anomaly_prediction`` = primary fires AND >= ``min_votes`` fire
      (the reference's 2-of-3; pass 3 for a 4-member majority)
    - ``anomaly_score``      = mean over models of min-max normalized
      *negated* decision scores (all models are in the invert list), min/max
      taken over the scored table itself — computed as a 1-row aggregate
      broadcast back (two-pass, no collect).

    The model set is discovered from the ``*_score`` columns, so the same
    code serves the 3-detector default and the 4-detector (+lof) ensemble.
    """
    names = [c[: -len("_score")] for c in scored.columns if c.endswith("_score")]
    aggs = []
    for m in names:
        aggs.append(F.min(f"{m}_score").alias(f"__min_{m}"))
        aggs.append(F.max(f"{m}_score").alias(f"__max_{m}"))
    bounds = scored.groupBy().agg(*aggs)
    j = scored.crossJoin(F.broadcast(bounds))
    norms = []
    for m in names:
        lo, hi, s = F.col(f"__min_{m}"), F.col(f"__max_{m}"), F.col(f"{m}_score")
        # inverted score = -s; min-max over inverted = (hi - s) / (hi - lo)
        norms.append(F.when(hi > lo, (hi - s) / (hi - lo)).otherwise(F.lit(0.0)))
    score = sum(norms[1:], norms[0]) / float(len(names))
    votes = sum([F.col(f"{m}_pred") for m in names[1:]], F.col(f"{names[0]}_pred"))
    pred = F.when(
        (F.col(f"{PRIMARY_MODEL}_pred") == 1) & (votes >= min_votes), 1
    ).otherwise(0)
    return (
        j.withColumn("anomaly_score", score)
        .withColumn("anomaly_prediction", pred)
        .drop(*[f"__min_{m}" for m in names], *[f"__max_{m}" for m in names])
    )


def ranked_anomalies(
    output: DataFrame, raw: DataFrame, id_col: str, top_n: int | None = None
) -> DataFrame:
    """Merge-back + ranked ordering (model_output/nodes.py:60-112): join the
    anomaly output to the raw/detail table on the entity id and rank by
    (prediction desc, score desc, id) — deterministic total order. The raw
    side is the big table; the output side is entity-grained, so Catalyst
    broadcast-joins it when small and AQE picks the strategy otherwise.

    100 TB design — a global rank must NOT be ``Window.orderBy`` with no
    partitionBy (Spark funnels the whole table through ONE task). Instead:

    1. one range-partitioned global sort on the rank key (Spark's scalable
       ``orderBy`` — sampled boundaries, parallel sort, partition i wholly
       precedes partition i+1 in sort order),
    2. an O(partitions) count aggregate over the sorted table to get each
       partition's cumulative row offset (collected: ~#partitions ints),
    3. rank = offset + 1-based position within the partition, assigned by a
       narrow Arrow-batched ``mapInPandas`` pass (no extra shuffle, no
       per-row Python) — the classic zipWithIndex pattern on DataFrames.

    The sorted table is lazily ``localCheckpoint``-ed so the count job and
    the rank pass share one materialization and one partition layout.

    ``top_n`` is the report path: when only the worst N rows are needed the
    sort collapses to ``TakeOrderedAndProject`` (per-partition heap + driver
    merge of N rows) before ranking — no full sort at all.
    """
    sort_cols = [
        F.desc("anomaly_prediction"), F.desc("anomaly_score"), F.col(id_col)
    ]
    j = output.join(raw, id_col)
    if top_n is not None:
        j = j.orderBy(*sort_cols).limit(top_n)
    s = j.orderBy(*sort_cols).withColumn(
        "_pid", F.spark_partition_id()
    ).localCheckpoint(eager=False)
    counts = {
        r["_pid"]: r["n"]
        for r in s.groupBy("_pid").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    b_off = output.sparkSession.sparkContext.broadcast(offsets)

    # rank is int64: partition offsets are cumulative GLOBAL row counts, and
    # int32 silently wraps past 2^31-1 rows — exactly the scale this path is
    # designed for
    schema = StructType(
        [f for f in s.schema.fields if f.name != "_pid"]
        + [StructField("rank", LongType(), False)]
    )

    def ranked_anomalies_kernel(batches):
        seen = 0
        off = None
        for pdf in batches:
            if not len(pdf):
                continue
            if off is None:
                off = b_off.value[int(pdf["_pid"].iloc[0])]
            pdf = pdf.drop(columns=["_pid"])
            pdf["rank"] = np.arange(
                off + seen + 1, off + seen + len(pdf) + 1, dtype=np.int64
            )
            seen += len(pdf)
            yield pdf

    return s.mapInPandas(ranked_anomalies_kernel, schema=schema)


def anomaly_attribution(
    features: DataFrame, model: EnsembleModel, id_col: str, top_k: int = 3
) -> DataFrame:
    """Per-entity top-k feature attribution for the primary model — the
    engine's analogue of the reference's SHAP interpretation step
    (model_output/nodes.py:116-125, surfaced at app_utils/plot_tools.py:432-500).

    Exact *ablation* attribution (not SHAP — the sampling-free deterministic
    variant): ``delta_j = score(x with feature j set to the fit-sample
    median) - score(x)``. delta_j > 0 means neutralizing feature j makes the
    row look MORE normal, i.e. feature j drives the anomaly. Output is tall:
    (id, rank, feature, delta) with rank by delta desc (ties: feature name).
    One mapInPandas stage; d+1 vectorized forest evaluations per batch.
    """
    sc = features.sparkSession.sparkContext
    b = sc.broadcast(model)
    id_field = features.schema[id_col]
    schema = StructType(
        [
            id_field,
            StructField("rank", IntegerType(), False),
            StructField("feature", StringType(), False),
            StructField("delta", DoubleType(), False),
        ]
    )

    def attribution_kernel(batches):
        mdl = b.value
        cols = mdl.feature_cols
        for pdf in batches:
            if not len(pdf):
                continue
            X = pdf[cols].to_numpy(dtype=np.float64)
            base = mdl.iforest.decision_function(X)
            deltas = np.empty((len(pdf), len(cols)), dtype=np.float64)
            for jf in range(len(cols)):
                Xa = X.copy()
                Xa[:, jf] = mdl.baseline_[jf]
                deltas[:, jf] = mdl.iforest.decision_function(Xa) - base
            # top_k per row by delta desc, tie-break on feature name (cols
            # are scanned in name order via a stable argsort on -delta after
            # pre-sorting columns)
            name_order = np.argsort(np.array(cols))
            d_sorted_cols = deltas[:, name_order]
            top = np.argsort(-d_sorted_cols, axis=1, kind="stable")[:, :top_k]
            ids = pdf[id_col].to_numpy()
            n, k = top.shape
            rows = np.repeat(np.arange(n), k)
            yield pd.DataFrame(
                {
                    id_col: ids[rows],
                    "rank": np.tile(np.arange(1, k + 1), n).astype(np.int32),
                    "feature": np.array(cols)[name_order][top.ravel()],
                    "delta": d_sorted_cols[rows, top.ravel()],
                }
            )

    return features.mapInPandas(attribution_kernel, schema=schema)
