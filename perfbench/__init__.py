"""KG-pipeline benchmark: workloads, tracing and layer probes (see run.py)."""
