"""Expected-failure self-test: merge-on-write loses rows across micro-batches.

``BucketedMergeSink._exists()`` ignores directory entries that start with
``_``, and every ``__bucket=`` partition directory does. So each batch
after the first overwrites the buckets it touches without reading their
earlier rows. This is why the benchmark has no ``replicate_mow``
workload: timing it would baseline wrong output.

Run from the root of a checkout:

    python3 perfbench/mow_defect.py

It applies two batches with disjoint keys through the sink and counts the
alive rows. Exit 0 with ``XFAIL`` while rows are lost (the known defect);
exit 1 with ``XPASS`` once every row survives, which is the cue to add
the ``replicate_mow`` workload and retire this test.
"""

from __future__ import annotations

import os
import shutil
import sys

ROOT = os.getcwd()
N_KEYS = 200


def main() -> int:
    sys.path.insert(0, ROOT)
    from run import environment, stop_spark

    work = os.path.join(ROOT, ".perfbench", f"mow-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        environment(work, trace=False)
        from arango_clickhouse_replica_spark.session import get_spark
        from arango_clickhouse_replica_spark.streaming.merge_sink import BucketedMergeSink

        spark = get_spark("perfbench-mow")
        spark.sparkContext.setLogLevel("ERROR")
        try:
            sink = BucketedMergeSink(spark, os.path.join(work, "target"), ["eid"])
            for batch_id, lo in enumerate((0, N_KEYS)):
                batch = spark.range(lo, lo + N_KEYS).selectExpr(
                    "id AS eid", "id AS _ver", "0 AS _deleted")
                sink.apply_batch(batch, batch_id)
            alive = sink.read_alive().count()
        finally:
            stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    if alive < 2 * N_KEYS:
        print(f"XFAIL: merge-on-write kept {alive} of {2 * N_KEYS} rows after two batches")
        return 0
    print(f"XPASS: merge-on-write kept all {alive} rows; add the replicate_mow workload")
    return 1


if __name__ == "__main__":
    sys.exit(main())
