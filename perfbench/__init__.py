"""Workflow benchmark for gather_datawarehouse_sync_spark (see README.md)."""
