from exstream_implementation_spark.sources.tables import (  # noqa: F401
    TABLES,
    events_trace,
    load_documents_parallel,
    load_table,
    read_labels_csv,
    read_trace_csv,
    write_results,
)
