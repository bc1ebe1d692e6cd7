"""Sinks: partitioned writers + merge strategies (append/overwrite/upsert).

Reference parity map (SURVEY.md §2.2): the reference writes Spark output to
*local disk* then uploads file-by-file to S3 (``spark_client.py:207-230``) and
loads Redshift via staged ``COPY`` + transactional DELETE/INSERT merge SQL
(``rs_client.py:68-148,242-337``). Here writes go direct to the target path
(cluster-safe committers) and the three merge strategies run *in Spark* as
DataFrame algebra committed by a rename-aside directory swap
(``writers.swap_dir``).
"""

from pyveb_spark.sinks.merge import ParquetMergeSink, upsert_frames
from pyveb_spark.sinks.writers import write_csv, write_json, write_parquet

__all__ = [
    "ParquetMergeSink",
    "upsert_frames",
    "write_csv",
    "write_json",
    "write_parquet",
]
