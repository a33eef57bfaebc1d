"""ML function tier: learn/classify/regress/evaluate (round 9).

Reference surface (presto-ml/):

* ``features(f1, ..., fN)`` → map<bigint,double> (MLFeaturesFunctions
  .java — 0-indexed dense feature map; spelled by the dialect layer as
  a plain ``map()`` literal, no UDF).
* ``learn_classifier(label, features)`` /
  ``learn_varchar_classifier`` / ``learn_regressor`` — aggregates that
  accumulate the WHOLE input on the final node and train there
  (LearnClassifierAggregation.java + LearnState.java; the reference
  has no mergeable training state either — its combiner concatenates
  row blocks).  Here: ``learn_classifier(df, label, features)`` et al.
  return a one-row DataFrame with the serialized model.
* ``classify(features, model)`` → bigint / varchar,
  ``regress(features, model)`` → double (MLFunctions.java — the
  reference deserializes the model blob per call behind a hash-keyed
  cache; same pattern here, per Arrow batch).
* ``evaluate_classifier_predictions(truth, prediction)`` → the
  accuracy / per-class precision+recall report, byte-compatible with
  EvaluateClassifierPredictionsAggregation.java:105-113.

Documented deviation: the reference trains SVMs through libsvm
(C-SVC / epsilon-SVR, LibSvmUtils.java).  libsvm is not available in
this environment, so training substitutes deterministic closed-form
estimators — one-vs-rest ridge regression (argmax) for classifiers
and ordinary least squares for the regressor — behind the same API
and model-blob contract.  The model is a JSON string rather than the
reference's Java-serialized blob (byte format is engine-private
there too, ModelUtils.java:61 serialize).

Scale notes: training itself is single-task by SEMANTICS (identical
to the reference, which materializes the full dataset on the final
aggregation node) — callers sample/cap upstream, exactly as with the
reference.  ``classify``/``regress`` are Arrow-batched map-side
pandas UDFs (model parsed once per batch via the hash cache), and the
evaluation report pre-aggregates (truth, prediction) counts in Spark
so the final pandas step sees class-count-sized data.
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType, LongType, StringType

_RIDGE_LAMBDA = 1e-6


def _dense(maps, n_features: int | None = None) -> np.ndarray:
    """List of {index: value} feature maps → dense matrix."""
    if n_features is None:
        n_features = 0
        for m in maps:
            if m:
                n_features = max(n_features, max(m.keys()) + 1)
    x = np.zeros((len(maps), n_features))
    for i, m in enumerate(maps):
        if m:
            for k, v in m.items():
                if 0 <= k < n_features:
                    x[i, int(k)] = v
    return x


def _fit_ridge(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Closed-form ridge with bias column; deterministic."""
    xb = np.hstack([x, np.ones((x.shape[0], 1))])
    a = xb.T @ xb + _RIDGE_LAMBDA * np.eye(xb.shape[1])
    return np.linalg.solve(a, xb.T @ y)


def _train(pdf: pd.DataFrame, kind: str) -> str:
    # sort for a deterministic fit regardless of partition arrival order
    pdf = pdf.sort_values("__id", kind="mergesort")
    maps = list(pdf["__features"])
    x = _dense(maps)
    if kind == "regressor":
        w = _fit_ridge(x, pdf["__label"].astype(float).to_numpy())
        model = {"type": "regressor", "algo": "ols",
                 "n_features": x.shape[1],
                 "weights": w[:-1].tolist(), "bias": float(w[-1])}
    else:
        labels = pdf["__label"]
        classes = sorted(set(labels))
        y = np.zeros((len(labels), len(classes)))
        idx = {c: j for j, c in enumerate(classes)}
        for i, lab in enumerate(labels):
            y[i, idx[lab]] = 1.0
        w = _fit_ridge(x, y)  # (d+1, n_classes)
        model = {"type": "classifier", "label_type": kind,
                 "algo": "ovr-ridge", "n_features": x.shape[1],
                 "classes": list(classes),
                 "weights": w[:-1].T.tolist(),
                 "bias": w[-1].tolist()}
    return json.dumps(model)


def _learn(df: DataFrame, label_col: str, features_col: str,
           kind: str) -> DataFrame:
    """Shared learn_* driver: single-group applyInPandas (the
    reference's own train-on-final-node semantics)."""
    staged = df.select(
        F.monotonically_increasing_id().alias("__id"),
        F.col(label_col).alias("__label"),
        F.col(features_col).alias("__features"),
        F.lit(1).alias("__g"),
    )

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame({"model": [_train(pdf, kind)]})

    return staged.groupBy("__g").applyInPandas(run, "model string") \
        .select("model")


def learn_classifier(df: DataFrame, label_col: str,
                     features_col: str) -> DataFrame:
    """learn_classifier(label bigint, features) →
    Classifier<bigint> (LearnClassifierAggregation.java)."""
    return _learn(df, label_col, features_col, "bigint")


def learn_varchar_classifier(df: DataFrame, label_col: str,
                             features_col: str) -> DataFrame:
    """learn_classifier(label varchar, features) →
    Classifier<varchar> (LearnVarcharClassifierAggregation.java)."""
    return _learn(df, label_col, features_col, "varchar")


def learn_regressor(df: DataFrame, label_col: str,
                    features_col: str) -> DataFrame:
    """learn_regressor(label double, features) → Regressor
    (LearnRegressorAggregation.java)."""
    return _learn(df, label_col, features_col, "regressor")


# ---- scalar tier ---------------------------------------------------------

_MODEL_CACHE: dict[int, dict] = {}


def _load_model(blob: str) -> dict:
    """MLFunctions.java getOrLoadModel analog: parse once per distinct
    blob (hash-keyed, size-bounded)."""
    key = hash(blob)
    m = _MODEL_CACHE.get(key)
    if m is None:
        m = json.loads(blob)
        if len(_MODEL_CACHE) >= 5:  # MODEL_CACHE.maximumSize(5)
            _MODEL_CACHE.clear()
        _MODEL_CACHE[key] = m
    return m


def _scores(maps, model: dict) -> np.ndarray:
    x = _dense(list(maps), model["n_features"])
    w = np.asarray(model["weights"])  # classifier: (n_classes, d)
    b = np.asarray(model["bias"])
    return x @ w.T + b


def _classify_series(features, models, as_str: bool) -> pd.Series:
    out = []
    for m, blob in zip(features, models):
        if m is None or blob is None:
            out.append(None)
            continue
        model = _load_model(blob)
        s = _scores([m], model)[0]
        c = model["classes"][int(np.argmax(s))]
        out.append(str(c) if as_str else int(c))
    return pd.Series(out)


@pandas_udf(LongType())
def classify(features, model):
    """classify(features, Classifier<bigint>) → bigint
    (MLFunctions.java:55)."""
    return _classify_series(features, model, as_str=False)


@pandas_udf(StringType())
def classify_varchar(features, model):
    """classify(features, Classifier<varchar>) → varchar
    (MLFunctions.java:42 varcharClassify)."""
    return _classify_series(features, model, as_str=True)


@pandas_udf(DoubleType())
def regress(features, model):
    """regress(features, Regressor) → double (MLFunctions.java:66)."""
    out = []
    for m, blob in zip(features, model):
        if m is None or blob is None:
            out.append(None)
            continue
        mod = _load_model(blob)
        x = _dense([m], mod["n_features"])
        out.append(float(x[0] @ np.asarray(mod["weights"])
                         + mod["bias"]))
    return pd.Series(out)


def evaluate_classifier_predictions(df: DataFrame, truth_col: str,
                                    pred_col: str) -> DataFrame:
    """evaluate_classifier_predictions(truth, prediction) → the
    reference's report text (EvaluateClassifierPredictionsAggregation
    .java:105-113 format, %n as newline).  Pre-aggregated to
    (truth, prediction) counts in Spark; the report assembles over
    class-count-sized data."""
    counts = df.groupBy(
        F.col(truth_col).cast("string").alias("__t"),
        F.col(pred_col).cast("string").alias("__p"),
    ).agg(F.count("*").alias("__n")).withColumn("__g", F.lit(1))

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        total = int(pdf["__n"].sum())
        correct = int(pdf.loc[pdf["__t"] == pdf["__p"], "__n"].sum())
        lines = ["Accuracy: %d/%d (%.2f%%)"
                 % (correct, total, 100.0 * correct / total)]
        for label in sorted(set(pdf["__t"]) | set(pdf["__p"])):
            tp = int(pdf.loc[(pdf["__t"] == label)
                             & (pdf["__p"] == label), "__n"].sum())
            fp = int(pdf.loc[(pdf["__t"] != label)
                             & (pdf["__p"] == label), "__n"].sum())
            fn = int(pdf.loc[(pdf["__t"] == label)
                             & (pdf["__p"] != label), "__n"].sum())
            lines.append("Class '%s'" % label)
            lines.append("Precision: %d/%d (%.2f%%)"
                         % (tp, tp + fp,
                            100.0 * tp / (tp + fp) if tp + fp else 0.0))
            lines.append("Recall: %d/%d (%.2f%%)"
                         % (tp, tp + fn,
                            100.0 * tp / (tp + fn) if tp + fn else 0.0))
        return pd.DataFrame({"report": ["\n".join(lines) + "\n"]})

    return counts.groupBy("__g").applyInPandas(run, "report string") \
        .select("report")


def learn_libsvm_classifier(df: DataFrame, label_col: str,
                            features_col: str,
                            params: str = "") -> DataFrame:
    """learn_libsvm_classifier(label, features, params)
    (LearnLibSvmClassifierAggregation.java).  ``params`` is the
    reference's svm_parameter string (LibSvmUtils.java parseParameters
    — e.g. '-C 10 -t 0'); this engine's substituted closed-form
    estimator has no corresponding knobs, so the string is accepted
    for API compatibility and recorded in the model blob untouched."""
    out = _learn(df, label_col, features_col, "bigint")
    return _stamp_params(out, params)


def learn_libsvm_regressor(df: DataFrame, label_col: str,
                           features_col: str,
                           params: str = "") -> DataFrame:
    """learn_libsvm_regressor(label, features, params)
    (LearnLibSvmRegressorAggregation.java)."""
    out = _learn(df, label_col, features_col, "regressor")
    return _stamp_params(out, params)


def _stamp_params(model_df: DataFrame, params: str) -> DataFrame:
    """Record the caller's libsvm parameter string in the model blob
    (informational — see learn_libsvm_classifier)."""
    if not params:
        return model_df

    @pandas_udf(StringType())
    def stamp(models):
        out = []
        for blob in models:
            m = json.loads(blob)
            m["libsvm_params"] = params
            out.append(json.dumps(m))
        return pd.Series(out)

    return model_df.select(stamp(F.col("model")).alias("model"))
