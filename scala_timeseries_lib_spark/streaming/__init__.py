"""Incremental ingestion: the reference's AppendableEntryStream as
Structured Streaming operators (``structured.stream_fit_entries`` and its
rollup, dedup and merge siblings), restartable from the streaming
checkpoint."""
