"""M6 — Structured Streaming layer.

The reference processes *recorded* streams in batch (SURVEY §2.2: no streaming
loop anywhere in script_1.py); the paper's online CEP setting (exstream.pdf
§6.3) is unimplemented there.  This package realizes it Spark-natively:

- ``source.events_stream``        file-based streaming source over the events
                                  parquet
- ``features.windowed_features``  watermarked tumbling/sliding window feature
                                  aggs
- ``scoring.reference_profile`` / ``scoring.score_against_profile``
                                  stream-static broadcast join + z-score
                                  anomaly flag
- ``stateful.online_feature_rewards``
                                  driver-side reducer: C6's run-length
                                  scan continued per key from an O(1)
                                  tuple, with C4 and C7 on top
- ``explain_trigger``             flag → label → batch ``explain_anomalies``
                                  per micro-batch
- ``online_scorer``               the online reward scorer: one collect
                                  per trigger, the reducer, and the serving
                                  view that holds and journals the state
- ``unbounded``                   the online scorer over a synthetic
                                  unbounded rate source

All transforms are written against the unified DataFrame API, so each also
works on a batch frame — tests exercise both paths and assert they agree.
Import from the submodules; this package init imports nothing.
"""
