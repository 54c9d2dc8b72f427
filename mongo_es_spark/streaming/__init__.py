"""Structured Streaming: the CDC tail phase (``tail``, ``sink``), the
fold-stream runtime every incremental store drains through
(``fold``), streaming curation, and the stateful sketch / funnel /
transition maintainers."""
