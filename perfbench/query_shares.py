"""Each headline query's share of one pass, on query-mix's seeded
tables or on any directory of the same parquet tables.

    python3 perfbench/query_shares.py --seed 1
    python3 perfbench/query_shares.py --data path/to/sf0.1

Runs query-mix's own warm-up and passes (same session settings, noop
sink): one untimed pass, then ``--passes`` timed ones. Prints per query
the median wall and its share of the summed medians, then the share of
minhash_lsh_buckets plus images_from_documents. This is how the
query-mix table sizes were matched to the sf0.1 test data.
"""

from __future__ import annotations

import argparse
import os
import shutil
import statistics

import run


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--data", help="directory of <table>.parquet files")
    ap.add_argument("--seed", type=int, default=1, help="datagen seed when no --data")
    ap.add_argument("--passes", type=int, default=3)
    args = ap.parse_args()

    run.pin_environment()
    shutil.rmtree(run.WORK, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(run.WORK, d))
    import workloads
    from crawlspark.session import get_spark
    from layers import HEAVY_QUERIES
    from spans import Tracer

    import __spark_entry__ as entry

    cls = workloads.QueryMix
    spark = get_spark(
        run.master(),
        app_name="perfbench-query-shares",
        shuffle_partitions=cls.shuffle_partitions,
        extra_conf={**cls.extra_conf, **run.spark_conf(False)},
    )
    try:
        wl = cls(spark, args.seed, os.path.join(run.WORK, "work"), Tracer())
        wl.prepare()
        if args.data:
            qs = entry.queries()
            wl.dfs = {n: qs[n](spark, args.data) for n in wl.names}
        wl.warmup()
        passes = [wl._pass()["queries"] for _ in range(args.passes)]
    finally:
        run.stop_session(spark)
        shutil.rmtree(run.WORK, ignore_errors=True)
    med = {n: statistics.median(p[n] for p in passes) for n in wl.names}
    total = sum(med.values())
    for n, m in med.items():
        print(f"{n:28s} {m:8.3f} s {m / total:7.3f}")
    print(f"{'pass':28s} {total:8.3f} s")
    print(f"{' + '.join(HEAVY_QUERIES)} share {sum(med[q] for q in HEAVY_QUERIES) / total:.3f}")


if __name__ == "__main__":
    main()
