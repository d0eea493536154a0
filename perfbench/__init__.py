"""Repository benchmark for llm_drift_detector_spark (entry point: run.py)."""
