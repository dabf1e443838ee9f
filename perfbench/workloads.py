"""The benchmark's workloads. Each one builds its inputs from the seed
(``prepare``), runs its own shape untimed (``warmup``), runs one
closed-loop job per ``job`` call, and checks outputs after the timed
window (``check``). A job returns a record: ``ops`` done, the walls of
its ``steps`` (crawl rounds or query executions) and workload details
the per-layer report reads."""

from __future__ import annotations

import os
import shutil
import sys
import time
from concurrent.futures import ThreadPoolExecutor

import pandas as pd

from compare import same_rows
from crawlspark.engine import CrawlEngine
from crawlspark.snaptable import BucketedTable, SnapTable
from crawlspark.synth import SynthConfig, gen_seeds, host_name
from crawlspark.urlseen import CuckooSeen


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            fp = os.path.join(dirpath, f)
            if not os.path.islink(fp):
                total += os.path.getsize(fp)
    return total


def install_crawl_spans(tracer) -> None:
    """Spans around the public calls of the engine, snaptable, urlseen
    and trainset layers. Lazy builders (fetch_images, select_budget,
    filter_robots) are not wrapped: they only build plans."""

    def table(args):
        return args[0].name

    tracer.wrap(CrawlEngine, "run", "engine.run")
    # always: round walls are an end-to-end metric of untraced runs too
    tracer.wrap(CrawlEngine, "run_round", "engine.round", always=True)
    tracer.wrap(CrawlEngine, "publish_dedup", "trainset.dedup")
    tracer.wrap(CrawlEngine, "export_training_set", "trainset.export")
    for op in ("append", "merge", "expire"):
        tracer.wrap(SnapTable, op, f"snaptable.{op}", table)
    tracer.wrap(SnapTable, "maybe_compact", "snaptable.compact", table)
    tracer.wrap(BucketedTable, "merge", "snaptable.merge", table)
    tracer.wrap(BucketedTable, "replace_buckets", "snaptable.replace_buckets", table)
    tracer.wrap(CuckooSeen, "insert", "urlseen.insert")


class CrawlBulk:
    """First-pass crawl of a Zipfian seed list to exhaustion, then the
    near-dup publish and a training-set release. Depth 1, fault-free,
    per-host budgets above any host's URL count: two full rounds. The
    url-seen cuckoo filter stays off (``auto`` engages it only at
    production table sizes)."""

    name = "crawl-bulk"
    shuffle_partitions = 4
    fair_jobs = True
    # the crawl settings of crawlspark/bench_crawl.py
    extra_conf = {
        "spark.sql.adaptive.enabled": "false",
        "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version": "2",
        "spark.locality.wait": "0",
    }
    n_seeds = 1000
    frontier_buckets = 8
    shard_rows = 500

    def __init__(self, spark, seed: int, work: str, tracer) -> None:
        self.spark = spark
        self.seed = seed
        self.work = work
        self.tracer = tracer
        install_crawl_spans(tracer)
        self.last_engine = None

    @staticmethod
    def config(n_seeds: int, seed: int) -> tuple[SynthConfig, pd.DataFrame]:
        n_hosts = max(50, n_seeds // 300)
        cfg = SynthConfig(
            n_seeds=n_seeds,
            n_hosts=n_hosts,
            max_depth=1,
            retry_backoff_step=0,
            fault_free=True,
            seed=seed,
        )
        pol = pd.DataFrame(
            {
                "host": [host_name(i) for i in range(1, n_hosts + 1)],
                "budget": [CrawlBulk.budget(n_seeds, i) for i in range(1, n_hosts + 1)],
            }
        )
        return cfg, pol

    @staticmethod
    def budget(n_seeds: int, hostid: int) -> int:
        return max(2000, 2 * n_seeds // hostid)

    def prepare(self) -> None:
        self.cfg, self.pol = self.config(self.n_seeds, self.seed)
        self.seeds = gen_seeds(self.cfg)

    def _crawl(self, wd, cfg, pol, seeds) -> dict:
        shutil.rmtree(wd, ignore_errors=True)
        eng = CrawlEngine(
            self.spark,
            os.path.join(wd, "crawl"),
            cfg,
            politeness_pdf=pol,
            frontier_buckets=self.frontier_buckets,
            cuckoo_pg=8,
        )
        eng.add_seeds(self.spark.createDataFrame(seeds))
        n_spans = len(self.tracer.spans)
        t = time.perf_counter()
        counters = eng.run(max_rounds=40)
        crawl_s = time.perf_counter() - t
        steps = [s.dur for s in self.tracer.spans[n_spans:] if s.name == "engine.round"]
        t = time.perf_counter()
        eng.publish_dedup()
        release = eng.export_training_set(
            os.path.join(wd, "release"), shard_rows=self.shard_rows
        )
        publish_s = time.perf_counter() - t
        crawl_dir = os.path.join(wd, "crawl")
        return {
            "ops": sum(c["fetched"] for c in counters),
            "steps": steps,
            "crawl_s": crawl_s,
            "publish_s": publish_s,
            "counters": counters,
            "release_rows": int(release["n_rows"]),
            "store_b": dir_bytes(crawl_dir),
            "tables_b": {
                t: dir_bytes(os.path.join(crawl_dir, t))
                for t in sorted(os.listdir(crawl_dir))
                if os.path.isdir(os.path.join(crawl_dir, t))
            },
            "engine": eng,
        }

    def warmup(self) -> None:
        # full size: a smaller warm crawl left the first timed job about
        # 50 % slower than the ones after it
        cfg, pol = self.config(self.n_seeds, self.seed + 1_000_003)
        self._crawl(os.path.join(self.work, "warm"), cfg, pol, gen_seeds(cfg))
        shutil.rmtree(self.work, ignore_errors=True)

    def job(self, i: int) -> dict:
        if self.last_engine is not None:  # keep only the newest crawl
            shutil.rmtree(os.path.dirname(self.last_engine.workdir), ignore_errors=True)
        rec = self._crawl(os.path.join(self.work, f"job{i}"), self.cfg, self.pol, self.seeds)
        self.last_engine = rec.pop("engine")
        return rec

    def check(self, records: list[dict]) -> list[str]:
        from pyspark.sql import functions as F

        from crawlspark.golden import simulate

        fails = []
        ok = [r for r in records if not r.get("failed_ops")]
        if not ok:
            return ["no crawl job completed"]
        ref = ok[0]["counters"]
        for r in ok[1:]:
            if r["counters"] != ref:
                fails.append("round counters differ between identical jobs")
        eng = self.last_engine
        g = simulate(
            list(self.seeds["url"]),
            self.cfg,
            budget_fn=lambda i: self.budget(self.n_seeds, i),
        )
        cols = ["round_id", "host", "rank", "url", "status", "retry_count"]
        keys = ["round_id", "host", "rank"]
        cast = {"round_id": "int64", "rank": "int64", "status": "int64", "retry_count": "int64"}
        log = eng.fetch_log.read(self.spark).select(*cols).toPandas()
        log = log.sort_values(keys).reset_index(drop=True).astype(cast)
        gold = g.fetch_order[cols].sort_values(keys).reset_index(drop=True).astype(cast)
        if not log.equals(gold):
            fails.append(f"fetch order differs from golden.simulate ({len(log)} vs {len(gold)} rows)")
        fetched = int((gold["status"] == 200).sum())
        if ok[-1]["ops"] != fetched:
            fails.append(f"fetched {ok[-1]['ops']} images, golden fetched {fetched}")
        n_img = eng.images.read(self.spark).count()
        n_dup = eng.image_dedup.read(self.spark).filter(F.col("is_dup")).count()
        for r in ok:  # the traced run reports it as trainset.dup_images
            r["dup_images"] = n_dup
        if n_img != fetched:
            fails.append(f"images table holds {n_img} rows, expected {fetched}")
        if ok[-1]["release_rows"] != n_img - n_dup:
            fails.append(
                f"release has {ok[-1]['release_rows']} rows, expected "
                f"{n_img} images - {n_dup} near-dups"
            )
        return fails


class QueryMix:
    """Repeated passes over the 16 headline queries of bench.HEADLINE
    on seeded TPC-H-style tables. No crawl state at all."""

    name = "query-mix"
    shuffle_partitions = 8
    fair_jobs = False
    extra_conf: dict = {}
    # sized so each query's share of a pass is near its share on the
    # project's sf0.1 test data (minhash_lsh_buckets plus
    # images_from_documents about 54 %); query_shares.py measures both,
    # and README.md lists them
    sizes = {"n_lineitem": 250_000, "n_documents": 4000, "n_embeddings": 1600}
    codec_sample = 64

    def __init__(self, spark, seed: int, work: str, tracer) -> None:
        self.spark = spark
        self.seed = seed
        self.work = work
        self.tracer = tracer

    def prepare(self) -> None:
        import datagen

        import __spark_entry__ as entry
        from bench import HEADLINE

        self.data = os.path.join(self.work, "data")
        self.counts = datagen.write_tables(self.data, self.seed, **self.sizes)
        self.names = list(HEADLINE)
        qs = entry.queries()
        self.oracles = entry.oracle_sql()
        self.dfs = {n: qs[n](self.spark, self.data) for n in self.names}

    def _pass(self) -> dict:
        steps, per_query, failed = [], {}, 0
        for n in self.names:
            t = time.perf_counter()
            try:
                with self.tracer.span(f"ops.{n}"):
                    self.dfs[n].write.format("noop").mode("overwrite").save()
            except Exception as e:  # a raised query is a failed op
                print(f"query {n} raised: {e}", file=sys.stderr)
                failed += 1
                continue
            steps.append(time.perf_counter() - t)
            per_query[n] = steps[-1]
        return {"ops": len(steps), "failed_ops": failed, "steps": steps, "queries": per_query}

    def warmup(self) -> None:
        """One untimed pass of the plans the timed passes run, so the
        window starts with compiled code and live Python workers."""
        self._pass()

    def job(self, i: int) -> dict:
        # one pass: at these sizes a pass is 7-12 s on a 4-core box, and
        # a second one per job does not fit the run's time budget
        return self._pass()

    def check(self, records: list[dict]) -> list[str]:
        import duckdb

        from crawlspark.codec import synth_image

        def oracles() -> dict:
            con = duckdb.connect()
            for t in self.counts:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
            refs = {n: con.execute(self.oracles[n]).df() for n in self.names if n in self.oracles}
            con.close()
            return refs

        def collect(n):
            try:
                return self.dfs[n].toPandas()
            except Exception as e:
                return e

        # the same DataFrames the timed passes wrote, collected again after
        # the window, so later executions of a plan are checked. Collects
        # run concurrently, and beside DuckDB, to keep the run's wall short
        with ThreadPoolExecutor(1) as duck, ThreadPoolExecutor(4) as pool:
            refs = duck.submit(oracles)
            outputs = dict(zip(self.names, pool.map(collect, self.names)))
            refs = refs.result()
        fails = []
        for n, mine in outputs.items():
            if isinstance(mine, Exception):
                fails.append(f"{n}: raised when collected after the window: {mine}")
                continue
            if n in self.oracles:
                ref = refs[n]
                if len(mine) == 0 or not same_rows(mine, ref):
                    fails.append(f"{n}: {len(mine)} rows differ from the DuckDB oracle ({len(ref)} rows)")
                continue
            # codec query: one row per document, each equal to the codec
            # run in this process on a seeded sample of documents
            docs = pd.read_parquet(os.path.join(self.data, "documents.parquet"))
            if sorted(mine["doc_id"]) != sorted(docs["doc_id"]):
                fails.append(f"{n}: {len(mine)} rows for {len(docs)} documents")
                continue
            sample = docs.sample(self.codec_sample, random_state=self.seed % 2**32)
            got = mine.set_index("doc_id").loc[sample["doc_id"]]
            want = []
            for d, src in zip(sample["doc_id"], sample["source"]):
                img = synth_image(f"https://{src}.example.com/img/{d}")
                want.append((img["w"], img["h"], img["fmt"], len(img["bytes"]), img["phash"], img["caption"]))
            have = list(zip(got["w"], got["h"], got["fmt"], got["n_bytes"], got["phash"], got["caption"]))
            if have != want:
                fails.append(f"{n}: sampled rows differ from the in-process codec")
        return fails


WORKLOADS = {w.name: w for w in (CrawlBulk, QueryMix)}
