"""Structured Streaming validation.

The reference's "streaming" is incremental parse of ONE document
(JVST_MORE, src/validate.h:9). At table scale, streaming means
Structured Streaming micro-batches: the typed validation projection is
stateless, so `plan.apply_typed` applies unchanged to readStream
sources (no streaming wrapper); windowed violation-rate monitoring
(`validate_stream.violation_rate_windows`) adds watermarked
aggregation on top, and `stateful_dedup` tracks duplicate keys across
micro-batches.
"""
