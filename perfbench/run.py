"""Frontier benchmark: one workload of ``web_crawler_spark`` per run.

Run from the root of a checkout:

    python3 perfbench/run.py --workload crawl_rounds --seed 1 --seconds 10 --trace 0

The run starts one Spark session at local[nproc] in this process, sets up
the workload's seeded inputs (untimed warm-up included in ``setup_s``),
measures for ``--seconds``, checks every output outside the timed region
and prints, as its last line, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the per-layer ones,
recorded from spans around calls into each layer. Everything it writes
goes under ``.perfbench/`` in the checkout; its work dir is removed at the
end. See perfbench/README.md for what each metric means per workload.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("crawl_rounds", "frontier_round")
END_TO_END = {
    "setup_s": "s",
    "round_s": "s",
    "variant_round_s": "s",
}
# per-layer metric -> unit; a workload reports 0 for a layer it leaves idle
PER_LAYER = {
    "process.peak_rss_mb": "MB",
    "session.start_s": "s",
    "trace.overhead_s": "s",
    "round.wall_s": "s",
    "round.self_s": "s",
    "round.child_union_s": "s",
    "round.spark_jobs": "count",
    "round.spark_tasks": "count",
    "round.local_checkpoint_n": "count",
    "round.local_checkpoint_s": "s",
    "round.collect_n": "count",
    "round.collect_s": "s",
    "lake.append_n": "count",
    "lake.append_s": "s",
    "lake.overwrite_n": "count",
    "lake.overwrite_s": "s",
    "lake.append_local_n": "count",
    "lake.append_local_s": "s",
    "lake.read_n": "count",
    "lake.read_s": "s",
    "lake.rollback_n": "count",
    "lake.rollback_s": "s",
    "lake.commit_union_s": "s",
    "lake.bytes_written_per_round": "B",
    "membership.probe_s": "s",
    "membership.end_round_s": "s",
    "membership.end_round_flush_s": "s",
    "membership.end_round_flushes": "count",
    "membership.dump_n": "count",
    "membership.dump_s": "s",
    "membership.negative_share": "ratio",
    "membership.fpr_observed": "ratio",
    "bloom.probe_ns_per_key": "ns",
    "bloom.build_s": "s",
    "bloom.positive_share": "ratio",
    "dedupe.first_wins_s": "s",
    "dedupe.anti_join_s": "s",
    "politeness.topk_s": "s",
    "politeness.selected_rows": "count",
    "urls.canonicalize_rows_per_s": "1/s",
    "urls.url_hash_rows_per_s": "1/s",
    "arrow.roundtrip_s": "s",
    "frontier.ingest_urls_per_s": "1/s",
    "images.prune_images_per_s": "1/s",
    "images.decode_phash_s": "s",
    "multimodal.pairs_components_s": "s",
    "textdedup.connected_components_s": "s",
}


def _fail(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def _install_wrappers(tracer) -> None:
    """Spans around the public methods and functions of each layer, wrapped
    from outside the program. Functions that ``plans/round.py`` imports by
    name are out of reach this way and are not wrapped."""
    from pyspark.sql.classic.dataframe import DataFrame
    from web_crawler_spark.operators import membership, multimodal, textdedup
    from web_crawler_spark.sources.lake import SnapshotTable

    tracer.wrap_method(DataFrame, "localCheckpoint", "round.local_checkpoint")
    tracer.wrap_method(DataFrame, "collect", "round.collect")
    for m in ("append", "overwrite", "append_local", "overwrite_local", "read", "rollback"):
        tracer.wrap_method(SnapshotTable, m, f"lake.{m}")
    for cls in (membership.DistributedSeenTiers, membership.TableSeenTiers,
                membership.SeenTiers):
        tracer.wrap_method(cls, "dump", "membership.dump")
        # a flush moves the watermark of the distributed and table tiers
        tracer.wrap_method(
            cls, "end_round", "membership.end_round",
            before=lambda self, *a, **k: getattr(self, "flushed_round", None),
            after=lambda prev, self, *a, **k: {
                "flush": getattr(self, "flushed_round", None) != prev},
        )
    tracer.wrap_function(multimodal, "phash_table", "images.phash_table")
    tracer.wrap_function(textdedup, "connected_components", "textdedup.connected_components")


def _stop_session(spark) -> None:
    """Stop Spark, then close the JVM's stdin (it exits on EOF) and wait
    for it, so no process of the run outlives the run."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _spark_conf_record(spark) -> dict:
    import pyarrow
    import pyspark

    conf = spark.sparkContext.getConf()
    keys = ["spark.master", "spark.driver.memory", "spark.sql.shuffle.partitions",
            "spark.default.parallelism", "spark.sql.execution.arrow.maxRecordsPerBatch",
            "spark.sql.autoBroadcastJoinThreshold", "spark.sql.adaptive.enabled"]
    rec = {k: conf.get(k, None) or spark.conf.get(k, None) for k in keys}
    rec.update(spark_version=pyspark.__version__, pyarrow_version=pyarrow.__version__,
               default_parallelism=spark.sparkContext.defaultParallelism)
    return rec


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_proc = time.perf_counter()

    if not os.path.isdir(os.path.join(ROOT, "web_crawler_spark")):
        _fail(f"no web_crawler_spark package under {ROOT}; run from a checkout")
    # this process and the JVM's Python workers import the package and the
    # oracle crawler from the checkout
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != here]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"work-{os.getpid()}")
    cache = os.path.join(base, "cache")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(cache, exist_ok=True)
    # keep every scratch file of Python, Spark and the JVMs (the launcher's
    # too, hence the environment rather than a Spark conf) inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
        os.environ.get("JAVA_TOOL_OPTIONS"),
        f"-Djava.io.tmpdir={os.environ['TMPDIR']}", "-XX:-UsePerfData"]))
    from perfbench.host import TreeSampler, host_record
    from perfbench.spans import Tracer

    sampler = TreeSampler().start()
    tracer = Tracer()
    cpus = len(os.sched_getaffinity(0))
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "host": host_record(), "parallelism": cpus}
    attempted, problems, result, spark, wl = 0, [], {}, None, None
    try:
        from web_crawler_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark("perfbench", parallelism=cpus)
        spark.range(1).count()
        session_s = time.perf_counter() - t0
        record["conf"] = _spark_conf_record(spark)
        if args.trace:
            _install_wrappers(tracer)

        if args.workload == "crawl_rounds":
            from perfbench.crawl import CrawlRounds

            wl = CrawlRounds(spark, work, cache, args.seed)
        else:
            from perfbench.frontier import FrontierRound

            wl = FrontierRound(spark, work, args.seed)
        t1 = time.perf_counter()
        wl.setup()
        setup_s = session_s + time.perf_counter() - t1
        t2 = time.perf_counter()
        result = wl.measure(args.seconds, tracer, bool(args.trace))
        t3 = time.perf_counter()
        problems = wl.check()
        attempted = wl.ops
        record["phases_s"] = {"session": session_s, "setup": t2 - t1,
                              "measure": t3 - t2, "check": time.perf_counter() - t3}
    except Exception:
        traceback.print_exc()
        problems.append("exception: " + traceback.format_exc().strip().splitlines()[-1])
    finally:
        tracer.enabled = False
        tracer.restore()
        if wl is not None:
            try:
                wl.cleanup()
            except Exception:
                traceback.print_exc()
        if spark is not None:
            _stop_session(spark)
        usage = sampler.stop()
        shutil.rmtree(work, ignore_errors=True)

    if not result:
        # the run broke before it measured anything: no figures to report
        print(json.dumps({"problems": problems}), file=sys.stderr)
        return 1
    failed = len(problems)
    attempted = max(attempted, failed, 1)
    record.update(usage, problems=problems, wall_s=time.perf_counter() - t_proc,
                  steps={k: v for k, v in wl.steps.items()})
    values = {
        "setup_s": setup_s,
        "round_s": result["round_s"],
        "variant_round_s": result["variant_round_s"],
    }
    units = END_TO_END
    if args.trace:
        layers = {k: 0.0 for k in PER_LAYER}
        layers.update({k: v for k, v in wl.layers.items() if k in PER_LAYER})
        layers["session.start_s"] = session_s
        layers["process.peak_rss_mb"] = usage["peak_rss_mb"]
        layers["trace.overhead_s"] = result["trace.overhead_s"]
        record["end_to_end"] = values
        values, units = layers, PER_LAYER
    record["metrics"] = values
    rec_dir = os.path.join(base, "records")
    os.makedirs(rec_dir, exist_ok=True)
    rec_path = os.path.join(rec_dir, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}.json")
    with open(rec_path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    for k, v in values.items():
        print(f"{k:36s} {v:16.6f} {units[k]}")
    if not args.trace:
        print(f"{'peak_rss_mb':36s} {usage['peak_rss_mb']:16.6f} MB (not gated; see README)")
    h = record["host"]
    print(f"host: {h['cpus']} cpus, {h['ram_gb']} GB, load {h['loadavg'][0]:.2f}, "
          f"foreign cpu {usage['foreign_cpu_cores']:.2f} cores, driver memory "
          f"{record['conf']['spark.driver.memory']}, record {rec_path}")
    print(f"{'error_rate':36s} {failed / attempted:16.6f} ratio "
          f"({failed} failed of {attempted} attempted)")
    for p in problems:
        print(f"FAILED CHECK: {p}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
