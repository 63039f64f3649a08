"""Incremental ingestion: the reference's AppendableEntryStream as
Structured Streaming operators (``structured.stream_fit_entries`` and its
merge sibling ``stream_merge_series``), restartable from the streaming
checkpoint."""
