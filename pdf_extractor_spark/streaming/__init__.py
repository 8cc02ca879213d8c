"""Streaming adapters.

The reference is strictly request/response batch (SURVEY.md §2.10): no
watermarks, event-time windows, or state stores exist in its semantics.
Incremental processing in this engine is therefore manifest-based resume
(plans/manifest.py) rather than Structured Streaming. For a true streaming
deployment the per-turn extraction map is stateless and drops into
``readStream -> plans.pipeline.extract_transcripts -> writeStream``
unchanged (the JVM payload router included, so plain turns never reach
Python); only the per-conversation assembly needs state, kept per
conversation with ``applyInPandasWithState`` — see streaming/stateful.py.
"""
