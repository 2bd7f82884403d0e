"""Lake benchmark: seeded workloads over the public API of
ftm_datalake_spark. Entry point: lakebench/run.py."""
