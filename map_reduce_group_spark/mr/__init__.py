"""Reference-parity MapReduce job API (SURVEY §2A rows A3/A8/A10).

The reference's entire user-facing surface is: submit a job = (input dir,
output dir, mapper executable, reducer executable, M, R); workers stream
text lines through the executables with hash-partitioned, sorted shuffling
(reference submit.py:80-88, worker/__main__.py:113-192). This package is
that exact surface on Spark: ``rdd.pipe`` for the executables, a
``partitionBy`` shuffle on the reference's md5-mod-R partition function, and
a per-partition lexicographic sort that spills to disk past a memory budget
(``job._external_sorted``), reproducing SURVEY §1.4.
"""

from map_reduce_group_spark.mr.job import Job, run_job, submit

__all__ = ["Job", "run_job", "submit"]
