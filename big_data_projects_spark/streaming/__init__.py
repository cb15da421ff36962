"""Structured Streaming drains (SURVEY.md §2.9: the reference has no
streaming). The streaming queries themselves live in
``queries_streaming.py``; ``core`` holds the sinks that run them to
completion over a bounded source."""
