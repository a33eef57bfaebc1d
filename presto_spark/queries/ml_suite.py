"""ML tier queries (presto-ml plugin surface).

Reference: presto-ml/ — learn_classifier / learn_regressor aggregates
(LearnClassifierAggregation.java, LearnRegressorAggregation.java),
classify/regress scalars (MLFunctions.java), features()
(MLFeaturesFunctions.java), evaluate_classifier_predictions
(EvaluateClassifierPredictionsAggregation.java).  Implementation:
operators/ml.py (deterministic ridge/OLS in place of libsvm — the
documented algorithm deviation; API and report format are parity).

The golden trains on two linearly-separated clusters derived from
customer keys (same 121 rows at every SF: c_custkey <= 120), so the
classifier must reach exactly 100% accuracy and the report text is
byte-pinnable; the regressor target is exactly linear in the
features, so OLS recovers it to < 1e-6.
"""

from pyspark.sql import functions as F

from presto_spark.functions.registry import ensure_functions
from presto_spark.operators import ml
from presto_spark.queries.base import prepare, register


@register(
    "ml_learn_classify_golden",
    oracle="""
SELECT CAST(121 AS BIGINT) AS n,
       'Accuracy: 121/121 (100.00%) | Class ''0'' | '
       || 'Precision: 61/61 (100.00%) | Recall: 61/61 (100.00%) | '
       || 'Class ''1'' | Precision: 60/60 (100.00%) | '
       || 'Recall: 60/60 (100.00%)' AS report,
       true AS reg_exact,
       CAST(61 AS BIGINT) AS v0,
       CAST(60 AS BIGINT) AS v1
""",
    doc="ML tier end-to-end (presto-ml): features() maps -> "
        "learn_classifier on two separated clusters -> classify all "
        "rows (exactly 100% accuracy, byte-pinned "
        "evaluate_classifier_predictions report in the reference's "
        "Accuracy/Precision/Recall format) -> learn_regressor on an "
        "exactly-linear target (OLS recovers to <1e-6) -> "
        "learn_varchar_classifier + classify_varchar class counts. "
        "Training is the reference's own single-site semantics "
        "(LearnState accumulates the dataset on the final node); "
        "scoring is Arrow-batched map-side.",
    tags=("ml", "functions"),
)
def ml_learn_classify_golden(spark, sf_dir):
    prepare(spark, sf_dir)
    ensure_functions(spark, "classify regress classify_varchar")  # F.expr texts
    k = F.col("c_custkey")
    feats = F.create_map(
        F.lit(0).cast("long"),
        ((k % 2) * 10.0 + (k % 7)).cast("double"),
        F.lit(1).cast("long"),
        ((k % 2) * -8.0 + (k % 5)).cast("double"),
    )
    base = (
        spark.table("customer").filter(k <= 120)
        .select(k.alias("id"),
                (k % 2).cast("long").alias("label"),
                (k % 2).cast("string").alias("label_s"),
                feats.alias("f"))
    )
    model = ml.learn_classifier(base, "label", "f")
    scored = base.crossJoin(F.broadcast(model)).select(
        "id", "label", "label_s", "f",
        F.expr("classify(f, model)").alias("pred"))
    stats = scored.agg(
        F.count("*").cast("bigint").alias("n"))
    report = ml.evaluate_classifier_predictions(
        scored, "label", "pred"
    ).select(
        F.replace(
            F.regexp_replace(F.col("report"), "\\n+$", ""),
            F.lit("\n"), F.lit(" | "),
        ).alias("report"))

    rk = F.create_map(
        F.lit(0).cast("long"), (k % 10).cast("double"),
        F.lit(1).cast("long"), (k % 6).cast("double"),
    )
    reg_base = (
        spark.table("customer").filter(k <= 120)
        .select(k.alias("id"),
                (2.0 * (k % 10) + 3.0 * (k % 6) + 1.0)
                .cast("double").alias("y"),
                rk.alias("f"))
    )
    rmodel = ml.learn_regressor(reg_base, "y", "f")
    reg_ok = reg_base.crossJoin(F.broadcast(rmodel)).agg(
        (F.max(F.abs(F.expr("regress(f, model)") - F.col("y")))
         < 1e-6).alias("reg_exact"))

    vmodel = ml.learn_varchar_classifier(base, "label_s", "f")
    vcounts = base.crossJoin(F.broadcast(vmodel)).agg(
        F.sum((F.expr("classify_varchar(f, model)") == "0")
              .cast("bigint")).cast("bigint").alias("v0"),
        F.sum((F.expr("classify_varchar(f, model)") == "1")
              .cast("bigint")).cast("bigint").alias("v1"))

    return (stats.crossJoin(report).crossJoin(reg_ok)
            .crossJoin(vcounts))
