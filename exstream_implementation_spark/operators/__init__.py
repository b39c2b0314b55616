"""Operator building blocks behind the pipeline and the query catalog.

Import each operator from the submodule that defines it (for example
``from exstream_implementation_spark.operators.rewards import
single_feature_rewards``); this package init imports nothing, so loading
one operator does not load the others.
"""
