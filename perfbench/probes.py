"""Standalone layer probes for the traced run.

The fetch stage and the codec run inside Spark tasks during a crawl,
where wrapping the Python calls would only time plan construction, so
they are measured here on fixed seeded inputs instead:

* ``codec.*_us``: microseconds per image for ``codec.synth_image``,
  ``codec.decode`` and ``codec.phash``, in this process, without Spark;
* ``fetch.stage_rows_per_s``: ``fetch.fetch_images`` over a fixed URL
  set into a noop sink;
* ``urlseen.probe_insert_s``: one ``CuckooSeen.insert`` of a fixed URL
  batch into an empty filter.

Each probe repeats and reports the median repeat.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import numpy as np

CODEC_IMAGES = 150
FETCH_ROWS = 1600
SEEN_URLS = 4000
REPEATS = 3


def _urls(seed: int, n: int) -> list[str]:
    rng = np.random.Generator(np.random.Philox(seed))
    hosts = rng.integers(1, 51, n)
    ks = rng.integers(0, 1 << 30, n)
    return [f"https://h{h}.example.com/img/{k}?p={k % 13}&s={k % 7}" for h, k in zip(hosts, ks)]


def codec_probe(seed: int) -> dict[str, float]:
    from crawlspark.codec import decode, phash, synth_image

    urls = _urls(seed, CODEC_IMAGES)
    synth, dec, ph = [], [], []
    for _ in range(REPEATS):
        t = time.perf_counter()
        imgs = [synth_image(u) for u in urls]
        synth.append(time.perf_counter() - t)
        t = time.perf_counter()
        pxs = [decode(i["bytes"], i["fmt"]) for i in imgs]
        dec.append(time.perf_counter() - t)
        t = time.perf_counter()
        for px in pxs:
            phash(px)
        ph.append(time.perf_counter() - t)
    us = 1e6 / len(urls)
    return {
        "codec.synth_us": statistics.median(synth) * us,
        "codec.decode_us": statistics.median(dec) * us,
        "codec.phash_us": statistics.median(ph) * us,
    }


def fetch_probe(spark, seed: int) -> float:
    from crawlspark.fetch import fetch_images

    df = spark.createDataFrame([(u,) for u in _urls(seed + 1, FETCH_ROWS)], "url string")
    df = df.repartition(spark.sparkContext.defaultParallelism * 2).cache()
    df.count()
    walls = []
    for _ in range(REPEATS):
        t = time.perf_counter()
        fetch_images(df).write.format("noop").mode("overwrite").save()
        walls.append(time.perf_counter() - t)
    df.unpersist()
    return FETCH_ROWS / statistics.median(walls)


def urlseen_probe(spark, seed: int, work: str) -> float:
    from crawlspark.urlseen import CuckooSeen

    df = spark.createDataFrame([(u,) for u in _urls(seed + 2, SEEN_URLS)], "url string").cache()
    df.count()
    walls = []
    for i in range(REPEATS):
        path = os.path.join(work, f"cuckoo{i}")
        cs = CuckooSeen(path, n_pg=8)
        t = time.perf_counter()
        cs.insert(df)
        walls.append(time.perf_counter() - t)
        shutil.rmtree(path, ignore_errors=True)
    df.unpersist()
    return statistics.median(walls)


def run_all(spark, seed: int, work: str) -> dict[str, float]:
    out = codec_probe(seed)
    out["fetch.stage_rows_per_s"] = fetch_probe(spark, seed)
    out["urlseen.probe_insert_s"] = urlseen_probe(spark, seed, work)
    return out
