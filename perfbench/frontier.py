"""``frontier_round``: the per-row cost of scheduling at scale, no commits.

A synthetic skewed frontier (about a fifth of the rows are duplicate URLs;
hosts follow a quadratic-residue skew) and a seen set of a tenth of its
size drawn from the same URL space. Every URL id is salted by the workload
seed. Three pipelines run over it:

- untiered: ``first_wins`` -> ``anti_join_seen`` -> ``two_phase_topk``;
- tiered: ``probe_words_joined`` on the narrow hash branch -> exact
  confirm of the positives -> ``two_phase_topk``;
- ingest (traced run only): raw ``(href, base)`` -> ``canonicalize`` ->
  ``url_hash`` -> ``first_wins``.

The traced run also times an image prune pass (``images.py``), so the
image layers are measured on this workload's trace.

The Bloom filter is built with ``or_merge_words`` during set-up.
"""

from __future__ import annotations

import os
import random
import statistics
import time

from pyspark.sql import functions as F

from .images import ImagePrune

N_ROWS = 1_000_000
WARM_PASSES = 2
N_INGEST = 250_000  # rows through the URL-layer timings of the traced run
HOSTS = 9973
BUDGET = 8
SALT_BUCKETS = 16
SAMPLE = 200  # ingest rows checked against py_canonicalize


def best_time(df, tries: int = 2) -> float:
    """Best of ``tries`` noop writes of ``df``: a prefix difference is only
    as good as its noisier end."""
    best = float("inf")
    for _ in range(tries):
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    return best


def _digest(df) -> tuple:
    """Order-independent digest of the selected url_hash set."""
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor("url_hash").alias("x"),
        F.sum(F.pmod("url_hash", F.lit(1_000_000_007))).alias("s"),
    ).collect()[0]
    return (int(r.n), int(r.x or 0), int(r.s or 0))


class FrontierRound:
    def __init__(self, spark, work_dir: str, seed: int):
        self.spark = spark
        self.seed = seed
        self.work_dir = work_dir
        rng = random.Random(seed)
        self.space = N_ROWS * 4 // 5
        self.salt = rng.randrange(self.space)
        self.host_salt = rng.randrange(997)
        self.sample_ids = sorted(rng.sample(range(N_ROWS), SAMPLE))
        self.steps: dict[str, list[float]] = {"untiered": [], "tiered": []}
        self.digests: dict[str, set] = {"untiered": set(), "tiered": set()}
        self.layers: dict[str, float] = {}
        self.images = None
        self.ops = 0  # timed steps and output checks attempted
        self._release = []

    # ------------------------------------------------------------ inputs

    def _host(self, uid):
        h = F.pmod(uid + F.lit(self.host_salt), F.lit(997))
        return F.pmod(h * h, F.lit(HOSTS))

    def _url(self, uid):
        return F.concat(
            F.lit("https://h"), self._host(uid).cast("string"),
            F.lit(".example.com/p/"), uid.cast("string"),
        )

    def _frontier(self, n: int = N_ROWS):
        uid = F.pmod(F.col("id") * 809 + F.lit(self.salt), F.lit(self.space))
        return self.spark.range(n).select(
            self._url(uid).alias("url"),
            F.concat(F.lit("h"), self._host(uid).cast("string"),
                     F.lit(".example.com")).alias("host"),
            F.pmod(uid, F.lit(100_000)).cast("double").alias("priority"),
            F.col("id").alias("discovered_pos"),
        ).withColumn("url_hash", F.xxhash64("url"))

    def _seen(self):
        uid = F.pmod(F.col("id") * 31 + F.lit(self.salt * 7), F.lit(self.space))
        return self.spark.range(N_ROWS // 10).select(
            F.xxhash64(self._url(uid)).alias("url_hash")
        )

    def _raw_links(self, n: int = N_ROWS):
        """(id, href, base): four href shapes that all resolve to the
        frontier generator's canonical URL for the row's url id."""
        uid = F.pmod(F.col("id") * 809 + F.lit(self.salt), F.lit(self.space))
        host = F.concat(F.lit("h"), self._host(uid).cast("string"),
                        F.lit(".example.com"))
        path = F.concat(F.lit("/p/"), uid.cast("string"))
        shape = F.pmod(F.col("id"), F.lit(4))
        href = (
            F.when(shape == 0, F.concat(F.lit("../.."), path))
            .when(shape == 1, F.concat(F.lit("https://"), host, path))
            .when(shape == 2, F.concat(F.lit("//"), host, path))
            .otherwise(F.concat(path, F.lit("#sec")))
        )
        base = F.concat(F.lit("https://"), host, F.lit("/d/"),
                        F.pmod(F.col("id"), F.lit(1000)).cast("string"),
                        F.lit("/index.html"))
        return self.spark.range(n).select(
            "id", href.alias("href"), base.alias("base"),
            F.col("id").alias("discovered_pos"),
        )

    # ------------------------------------------------------------ pipelines

    def _dedupe(self, frontier):
        from web_crawler_spark.operators.dedupe import first_wins

        return first_wins(frontier, "url_hash", [F.col("discovered_pos").asc()])

    def _topk(self, df):
        from web_crawler_spark.operators.politeness import two_phase_topk

        return two_phase_topk(
            df, ["host"], [F.col("priority").desc(), F.col("url_hash").asc()],
            BUDGET, F.col("url_hash"), SALT_BUCKETS,
        )

    def untiered(self):
        from web_crawler_spark.operators.dedupe import anti_join_seen

        return self._topk(anti_join_seen(self._dedupe(self._frontier()), self.seen))

    def _positives(self, frontier):
        from web_crawler_spark.operators.bloom import probe_words_joined

        bf = self.bf
        return probe_words_joined(
            frontier.select("url_hash"), self.blobs, m=bf.m, k=bf.k, p=bf.p
        )

    def tiered(self):
        frontier = self._frontier()
        positives = (
            self._positives(frontier)
            .filter(F.col("might_contain"))
            .select("url_hash")
        )
        to_drop = self.seen.join(positives, "url_hash", "left_semi")
        unseen = self._dedupe(frontier).join(to_drop, "url_hash", "left_anti")
        return self._topk(unseen)

    def ingest(self, raw=None):
        from web_crawler_spark.functions import urls as U
        from web_crawler_spark.operators.dedupe import first_wins

        raw = raw if raw is not None else self._raw_links()
        canon = raw.withColumn("url", U.canonicalize(F.col("href"), F.col("base")))
        hashed = canon.withColumn("url_hash", U.url_hash(F.col("url")))
        return first_wins(hashed, "url_hash", [F.col("discovered_pos").asc()])

    # ------------------------------------------------------------ phases

    def setup(self) -> None:
        """Seen set checkpoint, Bloom build (timed as ``bloom.build_s``),
        then ``WARM_PASSES`` untimed passes of each pipeline: the first
        full-size passes pay code generation, JIT and heap growth."""
        from web_crawler_spark.operators.bloom import (
            WORDS_SCHEMA,
            PartitionedBloom,
            or_merge_words,
        )

        self.seen = self._seen().localCheckpoint(eager=True)
        self._release.append(self.seen)
        self.bf = PartitionedBloom.sized_for(
            expected_keys=N_ROWS // 10, n_partitions=64
        )
        empty = self.spark.createDataFrame([], schema=WORDS_SCHEMA)
        blob_dir = os.path.join(self.work_dir, "bloom-words")
        t0 = time.perf_counter()
        or_merge_words(
            self.seen, empty, m=self.bf.m, k=self.bf.k, p=self.bf.p
        ).write.mode("overwrite").parquet(blob_dir)
        self.layers["bloom.build_s"] = time.perf_counter() - t0
        self.blobs = self.spark.read.parquet(blob_dir)
        for _ in range(WARM_PASSES):
            for name in self.steps:
                _digest(getattr(self, name)())

    def step(self, name: str) -> float:
        t0 = time.perf_counter()
        d = _digest(getattr(self, name)())
        dt = time.perf_counter() - t0
        self.ops += 1
        self.digests[name].add(d)
        return dt

    def measure(self, seconds: float, tracer, traced: bool) -> dict:
        """Alternate untiered and tiered rounds until ``seconds`` pass.
        In a traced run every other pair runs with the tracer on, so the
        tracing overhead is measured inside the same run."""
        overhead = {False: [], True: []}
        t_end = time.perf_counter() + seconds
        i = 0
        while i < 2 or time.perf_counter() < t_end:
            on = traced and i % 2 == 1
            tracer.enabled = on
            u = self.step("untiered")
            t = self.step("tiered")
            tracer.enabled = False
            overhead[on].append(u)
            if not on:
                self.steps["untiered"].append(u)
                self.steps["tiered"].append(t)
            i += 1
        out = {
            "round_s": statistics.median(self.steps["untiered"]),
            "variant_round_s": statistics.median(self.steps["tiered"]),
        }
        if traced:
            out["trace.overhead_s"] = (
                statistics.median(overhead[True]) - statistics.median(overhead[False])
            )
            self._layers()
            self.images = ImagePrune(self.spark, self.seed)
            self.images.measure(tracer)
            self.layers.update(self.images.layers)
        return out

    def _layers(self) -> None:
        """Per-layer figures as differences between materialized prefixes
        (the frames are lazy, so a prefix is timed by running it alone)."""
        from web_crawler_spark.functions import urls as U
        from web_crawler_spark.operators.dedupe import anti_join_seen
        from pyspark.sql.functions import pandas_udf
        from pyspark.sql.types import StringType

        n = N_ROWS
        frontier = self._frontier()
        deduped = self._dedupe(frontier)
        unseen = anti_join_seen(deduped, self.seen)
        t_gen = best_time(frontier)
        t_fw = best_time(deduped)
        t_aj = best_time(unseen)
        t_top = best_time(self._topk(unseen))
        self.layers["dedupe.first_wins_s"] = t_fw - t_gen
        self.layers["dedupe.anti_join_s"] = t_aj - t_fw
        self.layers["politeness.topk_s"] = t_top - t_aj
        self.layers["politeness.selected_rows"] = next(iter(self.digests["untiered"]))[0]

        narrow = frontier.select("url_hash")
        t_narrow = best_time(narrow)
        t_probe = best_time(self._positives(frontier))
        self.layers["bloom.probe_ns_per_key"] = (t_probe - t_narrow) / n * 1e9
        pos = self._positives(frontier).filter(F.col("might_contain")).count()
        self.layers["bloom.positive_share"] = pos / n

        @pandas_udf(StringType())
        def identity(s):
            return s

        n_ing = N_INGEST
        raw = self._raw_links(n_ing).localCheckpoint(eager=True)
        self._release.append(raw)
        t_scan = best_time(raw.select("href", "base"))
        t_canon = best_time(raw.select(
            U.canonicalize(F.col("href"), F.col("base")).alias("url")))
        t_ident = best_time(raw.select(identity(F.col("href")).alias("h")))
        urls = self._frontier(n_ing).select("url").localCheckpoint(eager=True)
        self._release.append(urls)
        t_hash = best_time(urls.select(U.url_hash(F.col("url")).alias("h")))
        self.layers["urls.canonicalize_rows_per_s"] = n_ing / max(t_canon - t_scan, 1e-9)
        self.layers["urls.url_hash_rows_per_s"] = n_ing / t_hash
        self.layers["arrow.roundtrip_s"] = t_ident - t_scan
        self.layers["frontier.ingest_urls_per_s"] = n_ing / best_time(self.ingest(raw))

    # ------------------------------------------------------------ checks

    def check(self) -> list[str]:
        """Tiered must select exactly what untiered selects, on every
        iteration; ingest must canonicalize as ``py_canonicalize`` does."""
        from web_crawler_spark.functions.urls import py_canonicalize

        problems = []
        self.ops += 2
        for name, ds in self.digests.items():
            if len(ds) != 1:
                problems.append(f"{name} selection changed between iterations: {ds}")
        if self.digests["tiered"] != self.digests["untiered"]:
            problems.append(
                f"tiered selection {self.digests['tiered']} != untiered "
                f"{self.digests['untiered']}"
            )
        if next(iter(self.digests["untiered"]))[0] == 0:
            problems.append("frontier round selected nothing")
        sample = self._raw_links().filter(F.col("id").isin(self.sample_ids))
        rows = self.ingest(sample).select("href", "base", "url").collect()
        if len(rows) == 0:
            problems.append("ingest sample is empty")
        for r in rows:
            want = py_canonicalize(r.href, r.base)
            if r.url != want:
                problems.append(f"canonicalize({r.href!r}, {r.base!r}) = {r.url!r}, want {want!r}")
                break
        if self.images is not None:
            self.ops += 1
            problems += self.images.check()
        return problems

    def cleanup(self) -> None:
        from web_crawler_spark.session import release_frame

        for df in self._release:
            release_frame(df)
        self._release.clear()
