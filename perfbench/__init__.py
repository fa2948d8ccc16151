"""Warehouse benchmark for gmall_realtime_ck_spark (see README.md)."""
