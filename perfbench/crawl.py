"""``crawl_rounds``: the real engine, whose round time is almost all fixed
cost (orchestration, table commits, checkpoints, tier flushes).

A ``CrawlRun`` with ``use_bloom=True`` and the program's default tier runs
on a ``generate_site`` fixture; the seed URLs are picked from the
fixture's ``urls`` table by the workload seed. Set-up runs ``start`` and
one untimed warm round. The timed window runs steady-state rounds, then
two restarts: each appends one uncheckpointed row to ``seen_t`` through
the public ``SnapshotTable.append`` (a crash mid-round), and a new
``CrawlRun`` on the same run_dir runs ``resume()`` plus one round.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time

import pandas as pd

N_PAGES = 1500
N_HOSTS = 100
N_SEEDS = 20
HOST_BUDGET = 16
WARM_ROUNDS = 1
MIN_ROUNDS = 2
RESTARTS = 2
JUNK_HASH = 999_999_999
# reference seed-CSV columns (sources/seeds.py SEEDS_RAW)
_SEED_COLS = ["url", "mode", "scope_class", "scope_id", "format",
              "download_images", "link_type", "exclude_anchors"]


def fixture_dir(cache_dir: str) -> str:
    """The generated site, cached per fixture-content version
    (``analytics._SALT`` changes when the renderer or generator does)."""
    from web_crawler_spark.plans.analytics import _SALT
    from web_crawler_spark.sources.fixtures import generate_site

    fdir = os.path.join(cache_dir, f"site-{N_PAGES}-{N_HOSTS}-{_SALT}")
    if not os.path.exists(os.path.join(fdir, "_COMPLETE")):
        tmp = f"{fdir}.tmp-{os.getpid()}"
        generate_site(tmp, n_pages=N_PAGES, n_hosts=N_HOSTS, n_seeds=N_SEEDS)
        with open(os.path.join(tmp, "_COMPLETE"), "w") as f:
            f.write("ok")
        shutil.rmtree(fdir, ignore_errors=True)
        os.replace(tmp, fdir)
    return fdir


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for name in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, name))
            except OSError:
                pass
    return total


class CrawlRounds:
    def __init__(self, spark, work_dir: str, cache_dir: str, seed: int):
        self.spark = spark
        self.fdir = fixture_dir(cache_dir)
        self.run_dir = os.path.join(work_dir, "crawl-run")
        urls = sorted(pd.read_parquet(os.path.join(self.fdir, "urls.parquet")).url)
        self.seed_urls = random.Random(seed).sample(urls, N_SEEDS)
        self.seeds_csv = os.path.join(work_dir, "seeds.csv")
        pd.DataFrame(
            [{"url": u, "mode": "content", "scope_class": "", "scope_id": "",
              "format": "txt", "download_images": "false", "link_type": "all",
              "exclude_anchors": "true"} for u in self.seed_urls],
            columns=_SEED_COLS,
        ).to_csv(self.seeds_csv, index=False)
        self.rounds: list[dict] = []  # run_round results after set-up
        self.steps: dict[str, list[float]] = {"round": [], "restart": []}
        self.layers: dict[str, float] = {}
        self.problems: list[str] = []
        self.ops = 0  # timed steps and output checks attempted
        self.round_counts: list[tuple[int, int, int]] = []  # jobs, tasks, bytes
        self.run = None

    def _new_run(self):
        from web_crawler_spark.plans.round import CrawlConfig, CrawlRun
        from web_crawler_spark.sources.fixtures import load_fixture

        sp = self.spark
        return CrawlRun(
            sp, self.run_dir,
            urls=load_fixture(sp, self.fdir, "urls"),
            links=load_fixture(sp, self.fdir, "links"),
            pages=load_fixture(sp, self.fdir, "pages"),
            robots=load_fixture(sp, self.fdir, "robots"),
            config=CrawlConfig(
                default_host_budget=HOST_BUDGET, max_rounds=10**6, use_bloom=True
            ),
        )

    def setup(self) -> None:
        from web_crawler_spark.sources.seeds import read_seeds

        self.run = self._new_run()
        self.run.start(read_seeds(self.spark, self.seeds_csv))
        for _ in range(WARM_ROUNDS):  # the first round pays codegen and JIT
            self.run.run_round()

    # ------------------------------------------------------------ steps

    def _round(self, tracer) -> float:
        """One steady round. Traced, it also counts the Spark jobs and
        tasks it ran (``sc.statusTracker()``) and the bytes its commits
        added under run_dir."""
        traced = tracer.enabled
        if traced:
            jobs0, bytes0 = self._job_ids(), _dir_bytes(self.run_dir)
        t0 = time.perf_counter()
        m = self.run.run_round()
        t1 = time.perf_counter()
        if traced:
            tracer.record("round", t0, t1)
            new = self._job_ids() - jobs0
            st = self.spark.sparkContext.statusTracker()
            tasks = sum(
                si.numCompletedTasks
                for j in new
                for s in (getattr(st.getJobInfo(j), "stageIds", None) or ())
                if (si := st.getStageInfo(s)) is not None
            )
            self.round_counts.append(
                (len(new), tasks, _dir_bytes(self.run_dir) - bytes0))
        self.ops += 1
        self.rounds.append(m)
        return t1 - t0

    def _job_ids(self) -> set[int]:
        return set(self.spark.sparkContext.statusTracker().getJobIdsForGroup())

    def _restart(self, tracer) -> float:
        """Crash after a checkpoint plus a partial commit, then restart."""
        from web_crawler_spark.schemas import SEEN

        self.run.close()
        self.run = None
        crashed = self._new_run()
        crashed.seen_t.append(self.spark.createDataFrame(
            [(JUNK_HASH, "https://junk.example.com/x", 99)], SEEN))
        del crashed
        t0 = time.perf_counter()
        run = self._new_run()
        run.resume()
        t1 = time.perf_counter()
        m = run.run_round()
        t2 = time.perf_counter()
        if tracer.enabled:
            tracer.record("restart", t0, t2)
            tracer.record("round", t1, t2)
        self.run = run
        self.ops += 1
        self.rounds.append(m)
        return t2 - t0

    def measure(self, seconds: float, tracer, traced: bool) -> dict:
        """Steady rounds while another fits in ``seconds`` (at least
        ``MIN_ROUNDS``), then ``RESTARTS`` restarts. In a traced run the
        steady rounds alternate tracer on/off, so the tracing overhead is
        measured inside the same run, and the restarts are traced."""
        t_start = time.perf_counter()
        on_off = {True: [], False: []}
        i = 0
        while True:
            elapsed = time.perf_counter() - t_start
            if i >= MIN_ROUNDS:
                est = statistics.median(self.steps["round"] or on_off[True])
                if elapsed + est >= seconds:
                    break
            on = traced and i % 2 == 0
            tracer.enabled = on
            dt = self._round(tracer)
            tracer.enabled = False
            on_off[on].append(dt)
            if not on:
                self.steps["round"].append(dt)
            i += 1
        self._check_against_oracle("after steady rounds")
        tracer.enabled = traced
        for _ in range(RESTARTS):
            self.steps["restart"].append(self._restart(tracer))
        tracer.enabled = False
        self._check_against_oracle("after restarts")
        out = {
            "round_s": statistics.median(self.steps["round"] or on_off[True]),
            "variant_round_s": statistics.median(self.steps["restart"]),
        }
        if traced:
            out["trace.overhead_s"] = (
                statistics.median(on_off[True]) - statistics.median(on_off[False])
            )
            self._layers(tracer)
        return out

    # ------------------------------------------------------------ tracing

    def _layers(self, tracer) -> None:
        """Per-round figures over the traced rounds (the restarts' rounds
        included); ``lake.rollback_*`` per traced restart. A child span's
        time is clipped to its round, and self time subtracts the union of
        the children, never their sum."""
        from .spans import self_time, union_length

        rounds = [s for s in tracer.spans if s.name == "round"]
        restarts = [s for s in tracer.spans if s.name == "restart"]
        commits = ("lake.append", "lake.overwrite", "lake.append_local",
                   "lake.overwrite_local")
        walls, selfs, unions, commit_unions = [], [], [], []
        calls: dict[str, int] = {}
        busy: dict[str, float] = {}  # summed, so concurrent calls add up
        for r in rounds:
            kids = [s for s in tracer.within(r.start, r.end)
                    if s.name not in ("round", "restart")]
            iv = [(s.start, s.end) for s in kids]
            walls.append(r.end - r.start)
            selfs.append(self_time(r.start, r.end, iv))
            unions.append(union_length(iv, r.start, r.end))
            commit_unions.append(union_length(
                [(s.start, s.end) for s in kids if s.name in commits],
                r.start, r.end))
            for s in kids:
                calls[s.name] = calls.get(s.name, 0) + 1
                busy[s.name] = busy.get(s.name, 0.0) + (
                    min(s.end, r.end) - max(s.start, r.start))
        n = len(rounds)
        L = self.layers
        L["round.wall_s"] = statistics.median(walls)
        L["round.self_s"] = statistics.median(selfs)
        L["round.child_union_s"] = statistics.median(unions)
        for key in ("round.local_checkpoint", "round.collect", "lake.append",
                    "lake.overwrite", "lake.append_local", "lake.read",
                    "membership.dump"):
            L[key + "_n"] = calls.get(key, 0) / n
            L[key + "_s"] = busy.get(key, 0.0) / n
        L["lake.commit_union_s"] = statistics.mean(commit_unions)
        ends = [s for s in tracer.spans if s.name == "membership.end_round"]
        flush = [s.end - s.start for s in ends if s.attrs.get("flush")]
        plain = [s.end - s.start for s in ends if not s.attrs.get("flush")]
        L["membership.end_round_s"] = statistics.mean(plain) if plain else 0.0
        L["membership.end_round_flush_s"] = statistics.mean(flush) if flush else 0.0
        L["membership.end_round_flushes"] = len(flush)
        rb = [s for r in restarts for s in tracer.within(r.start, r.end, "lake.rollback")]
        nr = max(len(restarts), 1)
        L["lake.rollback_n"] = len(rb) / nr
        L["lake.rollback_s"] = sum(s.end - s.start for s in rb) / nr
        jobs, tasks, written = zip(*self.round_counts)
        L["round.spark_jobs"] = statistics.median(jobs)
        L["round.spark_tasks"] = statistics.median(tasks)
        L["lake.bytes_written_per_round"] = statistics.mean(written)
        neg = sum(m.get("rows_tier_negative", 0) for m in self.rounds)
        pos = sum(m.get("rows_tier_positive", 0) for m in self.rounds)
        fp = sum(m.get("rows_tier_fp", 0) for m in self.rounds)
        L["membership.negative_share"] = neg / max(neg + pos, 1)
        L["membership.fpr_observed"] = fp / max(neg + fp, 1)
        L["membership.probe_s"] = self._probe_s()

    def _probe_s(self) -> float:
        """The tier's probe, materialized: ``probe`` only builds a lazy plan
        that the round runs later, so the probe's work is timed here, outside
        the round, as a noop write of ``tiers.probe`` over the current
        frontier's hashes (the next round's probe input) minus the scan of
        those hashes."""
        from web_crawler_spark.session import release_frame

        from .frontier import best_time

        run, sp = self.run, self.spark
        hashes = run.frontier_t.read(sp).select("url_hash").localCheckpoint(eager=True)
        try:
            if run.tiers.kind == "driver":
                probed = run.tiers.probe(hashes)
            else:
                probed = run.tiers.probe(hashes, sp, run.seen_t, run.round)
            return best_time(probed, tries=3) - best_time(hashes, tries=3)
        finally:
            release_frame(hashes)

    # ------------------------------------------------------------ checks

    def _check_against_oracle(self, when: str) -> None:
        """Fetch log and seen set must equal the oracle crawler's after the
        same number of rounds, on the same fixture, seeds and budget."""
        from tests.oracle.crawler import OracleCrawler

        self.ops += 2
        n_rounds = self.run.round
        oc = OracleCrawler.from_fixture(self.fdir, default_budget=HOST_BUDGET)
        oc.start(list(self.seed_urls))
        for _ in range(n_rounds):
            oc.run_round()
        sp = self.spark
        got = sorted(
            (r["round"], r["fetch_seq"], r["url"], r["status"], r["error_code"],
             r["attempts"])
            for r in self.run.fetch_log_t.read(sp).collect()
        )
        want = sorted(
            (r["round"], r["fetch_seq"], r["url"], r["status"], r["error_code"],
             r["attempts"])
            for r in oc.fetch_log
        )
        if got != want:
            diff = next((g, w) for g, w in zip(got + [None] * len(want),
                                               want + [None] * len(got)) if g != w)
            self.problems.append(
                f"fetch log {when} (round {n_rounds}) differs from the oracle: "
                f"{len(got)} vs {len(want)} rows, first difference {diff}")
        seen = {r.url_hash for r in self.run.seen_t.read(sp).select("url_hash").collect()}
        if seen != set(oc.seen):
            self.problems.append(
                f"seen set {when} (round {n_rounds}) differs from the oracle: "
                f"{len(seen)} vs {len(oc.seen)} hashes")
        if not got:
            self.problems.append(f"empty fetch log {when}")

    def check(self) -> list[str]:
        return self.problems

    def cleanup(self) -> None:
        if self.run is not None:
            self.run.close()
            self.run = None
        shutil.rmtree(self.run_dir, ignore_errors=True)
