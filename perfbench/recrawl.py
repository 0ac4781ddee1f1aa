"""The `recrawl` workload: two crawl cycles under a binding budget.

One timed operation is the whole life of a small crawl: bootstrap from
the cycle-1 seed list, drain the frontier, `reseed` with the cycle-2
seed list of the grown corpus, and drain again. Every host has the
same per-wave token budget, so the Zipf-skewed top host needs two
detail waves in cycle 1; the per-wave driver floor (view resolution,
manifest reads, scheduling, bloom stages, commit jobs, one compaction)
sets the time, not data volume. Cycle 2 has 20 % updated, 70 %
unchanged and 10 % new items, so classify and the bloom run against a
full seen set with mostly-hit candidates and write a small delta.

The operation runs in a fresh process each time, as a crawl cycle
launched with spark-submit does, so it includes the JVM's warm-up.
"""

from __future__ import annotations

import json
import shutil
import time
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import functions as F

from crawlspark import dedup as D
from crawlspark import politeness, synth
from crawlspark.clean import udfs as clean_udfs
from crawlspark.driver import WaveDriver, table_hash, wave_start
from crawlspark.extract import extract_pages
from crawlspark.frontier import host_of
from crawlspark.normalize import normalize_vieclam24h
from crawlspark.tables import SnapshotStore

from spans import Tracer, median
from traced import TracedDriver, TracedStore

# 400 base items put 104-168 fetchable ones on the top host (36 % of
# the Zipf mass; checked over seeds 1-2000): two detail waves of TOKENS
# in cycle 1 whatever the seed, and one in cycle 2. Cycle 2's last wave
# is wave COMPACT_EVERY (reseed takes a wave number), so each operation
# compacts exactly once.
N_PAGES = 400
TOKENS = 90
COMPACT_EVERY = 6
MAX_WAVES = 40
PREP_REPEATS = 3


@dataclass
class Inputs:
    n: int
    pages1: str
    pages2: str
    seeds1: object
    seeds2: object
    robots: object
    ranks: object


def prepare(spark, work: Path, seed: int, n: int, cores: int,
            tokens: int) -> tuple[Inputs, float]:
    """Generate both corpora (written as parquet, so every crawl reads
    the same files) and the pandas control tables. Returns the inputs
    and the seconds spent in gen_pages_spark + write."""
    t0 = time.perf_counter()
    paths = []
    for wave in (1, 2):
        path = str(work / f"pages{wave}")
        synth.gen_pages_spark(spark, n, seed=seed, wave=wave,
                              parallelism=cores) \
             .write.mode("overwrite").parquet(path)
        paths.append(path)
    gen_s = time.perf_counter() - t0
    inputs = Inputs(
        n=n, pages1=paths[0], pages2=paths[1],
        seeds1=synth.gen_seed_list(n, seed=seed),
        seeds2=synth.gen_seed_list(n, seed=seed, wave=2),
        robots=synth.gen_robots(seed=seed).assign(tokens_per_wave=tokens),
        ranks=synth.gen_host_rank(seed=seed))
    return inputs, gen_s


def _driver(spark, root, tracer: Tracer, cores: int) -> TracedDriver:
    return TracedDriver(spark, TracedStore(root, tracer),
                        num_partitions=cores, compact_every=COMPACT_EVERY)


def lifecycle(spark, inp: Inputs, root: Path, tracer: Tracer,
              cores: int) -> tuple[list[dict], list[dict]]:
    """One timed operation; returns the wave stats of both cycles."""
    shutil.rmtree(root, ignore_errors=True)
    drv = _driver(spark, root, tracer, cores)
    pages1 = spark.read.parquet(inp.pages1)
    pages2 = spark.read.parquet(inp.pages2)
    robots = spark.createDataFrame(inp.robots)
    ranks = spark.createDataFrame(inp.ranks)
    with tracer.span("op"):
        drv.bootstrap(inp.seeds1)
        c1 = drv.run_until_done(pages1, robots, ranks, max_waves=MAX_WAVES)
        drv.reseed(inp.seeds2)
        c2 = drv.run_until_done(pages2, robots, ranks, max_waves=MAX_WAVES)
    return c1, c2


# -- correctness -------------------------------------------------------------
def fingerprints(spark, root: Path) -> list[int]:
    """driver.table_hash of the resolved frontier (order columns
    included), the seen set, and the extracted and jobs tables."""
    store = SnapshotStore(root)
    drv = WaveDriver(spark, store)
    return [table_hash(drv.frontier_view()), table_hash(drv.seen_view()),
            table_hash(store.read(spark, "extracted")),
            table_hash(store.read(spark, "jobs"))]


def extraction_errors(spark, root: Path, inp: Inputs, c2_first: int) -> int:
    """Extracted rows whose text is not byte-identical to pages.text of
    the corpus their cycle fetched, plus fetched detail URLs with no
    extracted row, plus cycle-2 extracted rows for URLs the frontier
    does not show as fetched in cycle 2."""
    store = SnapshotStore(root)
    cycle = F.when(F.col("wave") < c2_first, 1).otherwise(2).alias("_c")
    ext = store.read(spark, "extracted").select("url", "text", cycle)
    gold = (spark.read.parquet(inp.pages1).select("url", "text", F.lit(1).alias("_c"))
            .unionByName(spark.read.parquet(inp.pages2)
                         .select("url", "text", F.lit(2).alias("_c")))
            .withColumnRenamed("text", "_g"))
    bad = (ext.join(gold, ["url", "_c"], "left")
           .filter(~F.col("text").eqNullSafe(F.col("_g"))).count())
    fetched = (WaveDriver(spark, store).frontier_view()
               .filter((F.col("state") == "fetched") & (F.col("depth") > 0))
               .select("url", F.when(F.col("wave") < c2_first, 1)
                       .otherwise(2).alias("_c")))
    missing = fetched.join(ext, "url", "left_anti").count()
    extra = (ext.filter(F.col("_c") == 2).select("url", "_c")
             .join(fetched, ["url", "_c"], "left_anti").count())
    return bad + missing + extra


def classified(stats: list[dict]) -> int:
    return sum(s["new"] + s["updated"] + s["unchanged"] for s in stats)


def check_op(ctx, root: Path, inp: Inputs, c1, c2) -> list[int]:
    res = ctx.result
    res.check("crawl text byte-identical to pages.text",
              extraction_errors(ctx.spark, root, inp, c2[0]["wave"]) == 0)
    res.check("cycle 1 classifies every item once, as new",
              sum(s["new"] for s in c1) == classified(c1) == inp.n)
    res.check("cycle 2 new+updated+unchanged == n_total_ids",
              classified(c2) == synth.n_total_ids(inp.n))
    return fingerprints(ctx.spark, root)


def tree_size(root: Path) -> tuple[int, int]:
    files = [p for p in root.rglob("*") if p.is_file()]
    return len(files), sum(p.stat().st_size for p in files)


# -- lazy-layer probes (traced run) -------------------------------------------
class PinnedStore(SnapshotStore):
    """Read-only view of a warehouse as of one snapshot."""

    def __init__(self, root, sid: int):
        super().__init__(root)
        self.sid = sid

    def read(self, spark, table, snapshot_id=None):
        return super().read(spark, table, self.sid)

    def read_split(self, spark, table, snapshot_id=None):
        return super().read_split(spark, table, self.sid)


def fetch_join(spark, inp: Inputs, drv: WaveDriver):
    """The cycle-2 pages joined with the frontier, as a wave fetches."""
    front = drv.frontier_view().select(
        "url", "depth", "page", "id", "last_updated_on")
    return (spark.read.parquet(inp.pages2)
            .select("url", "html", F.col("warc_ts").alias("_warc_ts"))
            .join(F.broadcast(front), "url", "inner"))


def probe_layers(spark, tracer: Tracer, inp: Inputs, root: Path,
                 c1_last: int, c2_first: int) -> dict:
    """Call each lazy layer on this workload's own inputs and force it
    with the noop sink, so the span times execution, not planning.
    Dedup runs the cycle-2 candidates against the seen set and blooms
    as cycle 1 left them."""

    def force(name, df):
        with tracer.span(name):
            df.write.mode("overwrite").format("noop").save()

    store = SnapshotStore(root)
    after = WaveDriver(spark, store)
    sid = max(s["sid"] for s in store.snapshots() if s["wave"] == c1_last)
    before = WaveDriver(spark, PinnedStore(root, sid))
    ws = wave_start(c2_first)
    now = F.to_timestamp(F.lit(str(ws)))

    # politeness: every URL cycle 2 touched, pending again
    touched = after.frontier_view().filter(F.col("wave") >= c2_first)
    force("politeness.schedule", politeness.schedule(
        touched.withColumn("state", F.lit("pending")),
        spark.createDataFrame(inp.robots), ws))

    fetch = fetch_join(spark, inp, after)
    force("extract.extract_pages", extract_pages(fetch))
    processed = extract_pages(fetch).persist()
    processed.count()
    details = processed.filter(F.col("depth") > 0)
    _, clean_to_text_udf, _ = clean_udfs()
    force("clean.clean_to_text", details.select(
        clean_to_text_udf(F.col("x.job_description")).alias("text")))
    force("normalize.normalize", normalize_vieclam24h(
        details.withColumn("source", F.lit(after.source))
               .withColumn("item_title", F.col("x.title"))
               .withColumn("crawled_at", F.col("_warc_ts"))))

    links = (processed.filter(F.col("depth") == 0)
             .withColumn("l", F.explode("_links"))
             .select(F.col("l.href").alias("url"),
                     F.lit(after.source).alias("source"),
                     F.coalesce(F.col("l.item_id"), F.col("l.href")).alias("id"),
                     F.col("l.item_updated").alias("last_updated_on"),
                     (F.col("depth") + 1).alias("depth"),
                     F.lit(c2_first).alias("wave"), F.col("page"),
                     F.col("l.rank").alias("rank"))
             .withColumn("host", host_of(F.col("url"))))
    seen = before.seen_view()
    blooms = before.store.read(spark, "blooms")
    n_salts, cap = after.n_salts, after.bloom_capacity_per_salt
    force("dedup.classify", D.classify(links, seen, now))
    force("dedup.classify_with_bloom", D.classify_with_bloom(
        links, seen, blooms, now, n_salts=n_salts))
    cand = (links.withColumn("url_hash", D.url_hash(F.col("source"), F.col("id")))
                 .withColumn("salt", D.salt_of(F.col("host"), n_salts)))
    row = (D.bloom_might_contain(cand, blooms)
           .agg(F.count(F.lit(1)).alias("n"),
                F.count(F.when(F.col("might_contain"), 1)).alias("hit"))
           .first())
    force("dedup.build_blooms", D.build_blooms(seen, capacity_per_salt=cap))
    delta = D.build_blooms(
        D.seen_delta(links.select("source", "id", "host", "last_updated_on"),
                     now, n_salts=n_salts),
        capacity_per_salt=cap).persist()
    delta.count()
    force("dedup.merge_blooms", D.merge_blooms(blooms, delta))
    delta.unpersist()
    processed.unpersist()
    return {"dedup.bloom_pass_ratio": row["hit"] / max(row["n"], 1)}


# -- the workload ---------------------------------------------------------------
def run(ctx) -> None:
    spark, work, cores, res = ctx.spark, ctx.work, ctx.host["cores"], ctx.result
    n, tokens = (100, 15) if ctx.tiny else (N_PAGES, TOKENS)
    key = f"recrawl-{ctx.seed}-{n}-{tokens}"  # all the final state depends on
    gen = []
    for _ in range(1 if ctx.trace else PREP_REPEATS):
        t0 = time.perf_counter()
        inp, gen_s = prepare(spark, work, ctx.seed, n, cores, tokens)
        gen.append(gen_s)
        res.prep_s.append(time.perf_counter() - t0)
    if ctx.trace:
        traced_run(ctx, inp, gen, cores, key)
        return

    # closed loop: one operation at a time until --seconds is used up
    light = Tracer(None, names={"op", "driver.run_wave"})
    fetched, fp_first = 0, None
    t_end = time.perf_counter() + ctx.seconds
    i = 0
    while i == 0 or time.perf_counter() < t_end:
        root = work / f"crawl{i}"
        try:
            c1, c2 = lifecycle(spark, inp, root, light, cores)
        except Exception:
            res.fail_op()
            break
        res.attempted += len(c1) + len(c2)
        fetched += sum(s["fetched"] for s in c1 + c2)
        fp = check_op(ctx, root, inp, c1, c2)
        res.check("fingerprints repeat within the run",
                  fp_first is None or fp == fp_first)
        fp_first = fp_first or fp
        shutil.rmtree(root, ignore_errors=True)
        i += 1
    if fp_first is not None:
        res.check_across_runs(key, fp_first)
    ops, waves = light.durations("op"), light.durations("driver.run_wave")
    res.values.update(work_per_s=fetched / sum(ops) if ops else 0.0,
                      op_p50_s=median(ops))
    res.samples.update({"op (two crawl cycles)": ops, "step (wave)": waves})


def traced_run(ctx, inp: Inputs, gen: list[float], cores: int,
               key: str) -> None:
    spark, work, res = ctx.spark, ctx.work, ctx.result
    sc = spark.sparkContext
    tr = Tracer(sc)
    root = work / "crawl-traced"
    c1, c2 = lifecycle(spark, inp, root, tr, cores)
    stats = c1 + c2
    res.attempted += len(stats)
    fp = check_op(ctx, root, inp, c1, c2)
    res.check_across_runs(key, fp)
    files, nbytes = tree_size(root)
    counts = [tr.counts(s) for s in tr.named("driver.run_wave")]
    fetched = sum(s["fetched"] for s in stats)
    considered = sum(s["fetched"] + s["missing"] + s["deferred"]
                     + s["disallowed"] for s in stats)
    op_s = tr.total("op")
    per_wave = lambda *names: sum(tr.total(n) for n in names) / len(stats)
    layers = {
        "driver.run_wave_s": median(tr.durations("driver.run_wave")),
        "driver.run_wave_self_s": median(tr.self_durations("driver.run_wave")),
        "driver.views_s": per_wave("driver.frontier_view", "driver.seen_view"),
        "driver.jobs_per_wave": median([c[0] for c in counts]),
        "driver.stages_per_wave": median([c[1] for c in counts]),
        "driver.tasks_per_wave": median([c[2] for c in counts]),
        "driver.compact_s": tr.total("driver.compact"),
        "driver.bootstrap_s": tr.total("driver.bootstrap"),
        "driver.reseed_s": tr.total("driver.reseed"),
        "tables.commit_s": per_wave("tables.commit"),
        "tables.read_s": per_wave("tables.read", "tables.read_split"),
        "tables.bytes_written": nbytes,
        "tables.files_written": files,
        "tables.manifest_bytes": (root / "_manifest.json").stat().st_size,
        "tables.bytes_per_url": nbytes / max(fetched, 1),
        "politeness.deferred_ratio": sum(s["deferred"] for s in stats)
        / max(considered, 1),
        "synth.gen_inputs_s": median(gen),
        "trace_overhead_ratio": tr.overhead_s / op_s,
    }
    probe = Tracer(sc)
    layers.update(probe_layers(spark, probe, inp, root, c1[-1]["wave"],
                               c2[0]["wave"]))
    for name in ("politeness.schedule", "extract.extract_pages",
                 "clean.clean_to_text", "normalize.normalize",
                 "dedup.classify", "dedup.classify_with_bloom",
                 "dedup.build_blooms", "dedup.merge_blooms"):
        layers[f"{name}_s"] = probe.total(name)
    tr.dump(work / "spans-crawl.json")
    probe.dump(work / "spans-probes.json")

    # the same operation at local[1]: 1->N scaling, and state that must
    # not depend on the parallelism
    spark = ctx.restart(1)
    one = Tracer(None, names={"op"})
    lifecycle(spark, inp, work / "crawl-local1", one, 1)
    t1 = one.total("op")
    res.check("fingerprints equal at local[1] and local[N]",
              fingerprints(spark, work / "crawl-local1") == fp)
    fetch = fetch_join(spark, inp, WaveDriver(spark, SnapshotStore(root)))
    t0 = time.perf_counter()
    extract_pages(fetch).write.mode("overwrite").format("noop").save()
    ex1 = time.perf_counter() - t0
    layers.update({
        "recrawl.scaling_eff_1to4": t1 / (cores * op_s),
        "extract.scaling_eff_1to4":
            ex1 / (cores * layers["extract.extract_pages_s"]),
    })
    res.layers.update(layers)
    res.notes.append(json.dumps({"op_local1_s": t1, "op_localN_traced_s": op_s,
                                 "extract_local1_s": ex1}))
