"""Sources: CSV ingestion with corrupt-record quarantine, catalog/DDL
bootstrap, the error log, and table maintenance (keyed upserts, SCD2
merge) over the medallion tables (reference S1-S13)."""
