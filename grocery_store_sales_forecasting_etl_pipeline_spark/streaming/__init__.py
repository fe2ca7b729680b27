"""Event-time operators (windows, sessions, stream-static and interval
joins) that run on batch and streaming frames alike. The reference is
batch-only; ``plans/streamops.py`` registers their batch forms
(SURVEY.md §2.12/§7 step 6)."""
