#!/usr/bin/env python3
"""crawlspark benchmark: one command, one workload per invocation.

    python3 perfbench/run.py --workload recrawl --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. It starts one Spark session at
local[nproc], with the driver heap sized from /proc/meminfo, makes the
workload's inputs from --seed, sets up, runs the workload's operation
in a closed loop for --seconds, checks the outputs, and prints one line
per metric followed, as the last line of standard output, by one JSON
object {"correct", "attempted", "failed", "metrics"}.

--trace 0 reports the end-to-end metrics. --trace 1 reports the
per-layer metrics, from a separate traced pass after the untraced one;
a per-layer metric of a layer the workload does not run reads 0.
The exit code is 0 when every correctness check held, 1 when one
failed, and 2 when the checkout holds no crawlspark package.
Everything the run writes stays under .bench_work/ in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

END_TO_END = {
    "setup_s": "s",
    "work_per_s": "1/s",
    "op_p50_s": "s",
}
_CRAWL_LAYERS = {
    "driver.run_wave_s": "s", "driver.run_wave_self_s": "s",
    "driver.views_s": "s", "driver.jobs_per_wave": "count",
    "driver.stages_per_wave": "count", "driver.tasks_per_wave": "count",
    "driver.compact_s": "s",
    "driver.bootstrap_s": "s", "driver.reseed_s": "s",
    "tables.commit_s": "s", "tables.read_s": "s",
    "tables.bytes_written": "bytes", "tables.files_written": "count",
    "tables.manifest_bytes": "bytes", "tables.bytes_per_url": "bytes",
    "politeness.schedule_s": "s", "politeness.deferred_ratio": "ratio",
    "extract.extract_pages_s": "s", "extract.scaling_eff_1to4": "ratio",
    "clean.clean_to_text_s": "s", "normalize.normalize_s": "s",
    "dedup.classify_s": "s", "dedup.classify_with_bloom_s": "s",
    "dedup.build_blooms_s": "s", "dedup.merge_blooms_s": "s",
    "dedup.bloom_pass_ratio": "ratio",
    "recrawl.scaling_eff_1to4": "ratio",
}
_COMMON_LAYERS = {
    "session.get_spark_s": "s", "synth.gen_inputs_s": "s",
    "peak_rss_mb": "MB", "failed_ratio": "ratio",
    "trace_overhead_ratio": "ratio",
}
_CATALOG_LAYERS = {
    "queries.ann_index_build_s": "s", "queries.jobs": "count",
    "queries.stages": "count", "queries.cached_rdds_left": "count",
}


def per_layer() -> dict[str, str]:
    """Every per-layer metric name -> unit (needs crawlspark importable)."""
    from catalog import subset

    out = {**_CRAWL_LAYERS, **_COMMON_LAYERS, **_CATALOG_LAYERS}
    out.update({f"catalog.{q}_s": "s" for q in subset()})
    return out


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    checks: list[tuple[str, bool]] = field(default_factory=list)
    prep_s: list[float] = field(default_factory=list)  # repeated set-up
    values: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    samples: dict = field(default_factory=dict)
    notes: list[str] = field(default_factory=list)
    fingerprint_file: Path | None = None

    def check(self, what: str, ok: bool) -> None:
        self.checks.append((what, bool(ok)))
        if not ok:
            print(f"CHECK FAILED: {what}", file=sys.stderr, flush=True)

    def check_across_runs(self, key: str, fp: list[int]) -> None:
        """Same seed, same fingerprints: compared with the first run of
        this key in the checkout, recorded under .bench_work/."""
        path = self.fingerprint_file
        seen = json.loads(path.read_text()) if path.exists() else {}
        self.check(f"fingerprints of {key} equal an earlier run of it",
                   seen.setdefault(key, fp) == fp)
        path.write_text(json.dumps(seen))

    def fail_op(self) -> None:
        self.failed += 1
        traceback.print_exc()

    @property
    def correct(self) -> bool:
        return all(ok for _, ok in self.checks) and self.failed == 0


@dataclass
class Context:
    spark: object
    host: dict
    work: Path
    seed: int
    seconds: float
    trace: bool
    tiny: bool
    result: Result

    def restart(self, cores: int):
        """Stop the session and start another at local[cores]."""
        self.spark.stop()
        self.spark = start_session(self.host, self.work, cores)
        return self.spark

    def fresh_session(self):
        """Stop the session and its JVM, and start both anew."""
        stop_jvm(self.spark)
        self.spark = start_session(self.host, self.work, self.host["cores"])
        return self.spark


def start_session(host: dict, work: Path, cores: int):
    from crawlspark.session import get_spark

    return get_spark("crawlspark-perfbench", master=f"local[{cores}]",
                     shuffle_partitions=cores,
                     extra_conf=spark_conf(host, work))


def spark_conf(host: dict, work: Path) -> dict:
    tmp = work / "tmp"
    return {"spark.driver.memory": host["driver_memory"],
            # no hsperfdata file in the system temp dir
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false"}


def stop_jvm(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to end
    (its Python workers exit with it)."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["recrawl", "catalog"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="smallest inputs (for the benchmark's own tests)")
    args = ap.parse_args(argv)

    if not (ROOT / "crawlspark" / "__init__.py").is_file():
        print(f"no crawlspark package under {ROOT}", file=sys.stderr)
        return 2

    keep = ROOT / ".bench_work"
    work = keep / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    sys.path[:0] = [str(ROOT), str(HERE)]

    from host import RssSampler, host_config
    from spans import spread

    host = host_config()
    print(f"host: cores={host['cores']} mem_total_mb={host['mem_total_mb']} "
          f"master={host['master']} driver_memory={host['driver_memory']} "
          f"SPARK_LOCAL_DIRS={os.environ['SPARK_LOCAL_DIRS']}", flush=True)
    res = Result(fingerprint_file=keep / "fingerprints.json")
    try:
        with RssSampler() as rss:
            import catalog
            import recrawl

            t0 = time.perf_counter()
            spark = start_session(host, work, host["cores"])
            session_s = time.perf_counter() - t0
            ctx = Context(spark, host, work, args.seed, args.seconds,
                          bool(args.trace), args.tiny, res)
            try:
                {"recrawl": recrawl, "catalog": catalog}[args.workload].run(ctx)
            finally:
                for p in work.glob("spans-*.json"):
                    shutil.copy(p, keep / f"{args.workload}-{args.seed}-{p.name}")
                stop_jvm(ctx.spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    res.check("at least one operation ran", res.attempted > 0)
    setup_s = session_s + statistics.median(res.prep_s)
    if args.trace:
        names = per_layer()
        vals = {k: 0 for k in names}
        vals.update(res.layers)
        vals.update({"session.get_spark_s": session_s, "peak_rss_mb": rss.peak,
                     "failed_ratio": res.failed / max(res.attempted, 1)})
    else:
        names = END_TO_END
        vals = {"setup_s": setup_s, **res.values}
    metrics = {k: {"value": vals[k], "unit": u} for k, u in names.items()}

    for what, ok in res.checks:
        print(f"check {'ok  ' if ok else 'FAIL'} {what}")
    for label, xs in res.samples.items():
        print(f"sample {label}: n={len(xs)} median={statistics.median(xs) if xs else 0:.4f}"
              f" spread={spread(xs):.4f}")
    print(f"sample setup (repeated part): n={len(res.prep_s)} "
          f"median={statistics.median(res.prep_s):.4f} spread={spread(res.prep_s):.4f}"
          f" + session {session_s:.4f}")
    print(f"peak_rss_mb {rss.peak:.1f}")
    for note in res.notes:
        print(f"note {note}")
    for k, m in metrics.items():
        print(f"metric {k} = {m['value']} {m['unit']}")
    print(json.dumps({"correct": res.correct, "attempted": res.attempted,
                      "failed": res.failed, "metrics": metrics}), flush=True)
    return 0 if res.correct else 1


if __name__ == "__main__":
    sys.exit(main())
