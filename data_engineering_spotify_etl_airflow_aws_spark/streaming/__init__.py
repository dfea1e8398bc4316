"""Structured Streaming layer (SURVEY.md §2a T1-T3, K4-K5 + §2b streaming
windows).

    chunks       - the shared chunk feeds, the event reader and the one
                   availableNow drain every registered streaming query
                   runs through (with the stateful queries' state-
                   partition override)
    ingest       - exactly-once file-source ingest of the raw JSON inbox
                   (Snowpipe AUTO_INGEST analog): checkpointed, availableNow
                   daily trigger, optional cleanSource archival
    aggregations - watermarked tumbling and session windows over an event
                   stream (the stateful surface the reference lacks)
"""
