"""exstream_implementation_spark — a PySpark-native analytics engine with the
query and data-processing capabilities of louise-davy/exstream-implementation.

The reference (/root/reference, EXstream: Zhang/Diao/Meliou EDBT 2017) explains
annotated anomalies in multivariate metric streams. This package re-expresses
its full pipeline — interval slicing, correlation clustering, false-positive
filtering, entropy-based single-feature rewards, reward-leap selection,
instability scoring — as lazy, distributed Spark DataFrame plans, plus the
large-scale data-pipeline operators (dedup, similarity search, text analysis,
multimodal plumbing) a 100 TB deployment needs.

Import from the defining modules (``exstream_implementation_spark.pipeline``,
``.session``, ``.plans`` for the query catalog); the package init imports
nothing, so importing one module loads only what that module uses.
"""

__version__ = "0.1.0"
