"""IMDb ETL and query benchmark for pimdb_spark (see run.py)."""
