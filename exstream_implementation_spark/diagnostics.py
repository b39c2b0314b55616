"""C10 — RandomForest feature-importance cross-check (EDA diagnostic).

Reference (testing.ipynb cells 53-56): train a RandomForestClassifier to
predict type_data from the features and compare importances against the
entropy-based explanation — a sanity check that the selected features carry
the class signal, never part of the result pipeline.

Spark-first: ``pyspark.ml`` RandomForest on the assembled sliced table; one
model per ano_key is overkill for a diagnostic, so this trains on all sliced
rows of a trace at once.  Importances come back as a tiny (feature,
importance) DataFrame for joining against explanations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.ml.classification import RandomForestClassifier
from pyspark.ml.feature import VectorAssembler

from exstream_implementation_spark.session import local_frame


def rf_feature_importances(
    sliced: DataFrame,
    features: list[str],
    num_trees: int = 20,
    seed: int = 42,
) -> DataFrame:
    """Train RF(type_data ~ features) on the sliced rows; return
    (feature, feature_order, importance) sorted descending."""
    assembled = VectorAssembler(
        inputCols=features, outputCol="_vec", handleInvalid="keep"
    ).transform(sliced.select(*features, "type_data"))
    model = RandomForestClassifier(
        featuresCol="_vec",
        labelCol="type_data",
        numTrees=num_trees,
        seed=seed,
    ).fit(assembled)
    imps = model.featureImportances.toArray().tolist()
    rows = [(f, i, float(imps[i])) for i, f in enumerate(features)]
    out = local_frame(
        sliced.sparkSession,
        rows,
        "feature string, feature_order int, importance double",
    )
    return out.orderBy(out.importance.desc(), out.feature_order)
