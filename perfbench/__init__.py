"""Subscription-analytics benchmark: workloads, checks and tracing (see run.py)."""
