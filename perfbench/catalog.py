"""The `catalog` workload: crawlspark's operator catalog over a seeded
sample of the small TPC-H-style tables shipped in data/sf0.001.

Set-up: draw the sample (every table keyed by a row id keeps each row
unless a seed-keyed hash drops it, about 1 in 20; orders drop together
with their line items), PREP_REPEATS times.

One timed operation is one pass over a fixed stride of the registry
(every fourth entry, in registry order: 22 entries), one query at a
time, each collected to the driver, in a session of its own: like a
catalog job launched with spark-submit, it includes the JVM's and the
Python workers' warm-up. The first operation uses the run's session;
any later one (when --seconds outlasts the first) starts a new JVM.
After each operation, outside the timed region, its rows are checked
against DuckDB.

Why a fresh session: on these small tables a warm pass is bound by
job-scheduling and thread hand-off latency, and on a shared 4-core
host it moved by a quarter between runs of the same code however many
passes a run took the median of; the first pass, mostly compilation
and start-up work, repeated within a tenth. A full pass over all 85
entries takes about two minutes cold, more than one run can spend,
hence the stride. The traced run builds the persisted ANN indices,
then times the same entries once each into the noop sink, in a
session that has run nothing else but that build.
"""

from __future__ import annotations

import math
import time
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq

from crawlspark.queries import QUERIES, warm_ann_indices

from spans import Tracer, median

DATA = Path(__file__).resolve().parent / "data" / "sf0.001"
# table -> column whose value decides whether a row is kept
SAMPLE_KEYS = {"customer": "c_custkey", "part": "p_partkey",
               "orders": "o_orderkey", "lineitem": "l_orderkey",
               "events": "event_id", "documents": "doc_id",
               "embeddings": "vec_id"}
DROP_ONE_IN = 20
STRIDE = 4
PREP_REPEATS = 3


def subset(tiny: bool = False) -> list[str]:
    """The entries one operation runs, in registry order."""
    names = list(QUERIES)[::STRIDE]
    return names[:3] if tiny else names


def _keep(keys: np.ndarray, seed: int) -> np.ndarray:
    x = (keys.astype(np.uint64) * np.uint64(0x9E3779B97F4A7C15)
         + np.uint64(seed & 0xFFFFFFFF)) & np.uint64(0xFFFFFFFFFFFFFFFF)
    x ^= x >> np.uint64(31)
    x *= np.uint64(0xBF58476D1CE4E5B9)
    x ^= x >> np.uint64(29)
    return x % np.uint64(DROP_ONE_IN) != 0


def prepare(out: Path, seed: int) -> Path:
    out.mkdir(parents=True, exist_ok=True)
    for src in sorted(DATA.glob("*.parquet")):
        table = pq.read_table(src)
        key = SAMPLE_KEYS.get(src.stem)
        if key is not None:
            table = table.filter(_keep(table.column(key).to_numpy(), seed))
        pq.write_table(table, out / src.name)
    return out


# -- correctness: DuckDB oracle ----------------------------------------------------
def _norm(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else str(round(v, 4))
    return str(v)


def _rows(rows) -> list[tuple]:
    return sorted(tuple(_norm(x) for x in r) for r in rows)


def expected_rows(sf: str, names: list[str]) -> dict[str, list | None]:
    """DuckDB's rows for each entry with an oracle (None without one)."""
    import duckdb

    con = duckdb.connect()
    for src in Path(sf).glob("*.parquet"):
        con.execute(f"CREATE VIEW {src.stem} AS SELECT * FROM '{src}'")
    out = {}
    for name in names:
        sql = QUERIES[name][1]
        out[name] = _rows(con.execute(sql).fetchall()) if sql else None
    con.close()
    return out


def mismatches(got: dict, want: dict) -> list[str]:
    """Entries whose rows differ from DuckDB's; entries with no oracle
    must return rows."""
    return [n for n, rows in got.items()
            if (_rows(rows) != want[n] if want[n] is not None else not rows)]


# -- the workload ---------------------------------------------------------------
def run_query(spark, sf: str, name: str, collect: bool):
    df = QUERIES[name][0](spark, sf)
    if collect:
        return df.collect()
    df.write.mode("overwrite").format("noop").save()
    return None


def timed_pass(spark, sf, names, tracer: Tracer, res, collect: bool):
    """One pass, one query at a time: its seconds (None if a query
    raised) and the rows collected per entry."""
    rows, ok = {}, True
    t0 = time.perf_counter()
    for name in names:
        res.attempted += 1
        try:
            with tracer.span(f"catalog.{name}"):
                rows[name] = run_query(spark, sf, name, collect)
        except Exception:
            res.fail_op()
            ok = False
    return (time.perf_counter() - t0 if ok else None), rows


def run(ctx) -> None:
    res = ctx.result
    gen = []
    for _ in range(1 if ctx.trace else PREP_REPEATS):
        t0 = time.perf_counter()
        sf = str(prepare(ctx.work / "sf", ctx.seed))
        gen.append(time.perf_counter() - t0)
        res.prep_s.append(gen[-1])
    names = subset(ctx.tiny)
    if ctx.trace:
        traced_run(ctx, sf, names, gen)
        return

    # closed loop: one operation at a time, each in a session of its
    # own, until --seconds is used up
    light = Tracer(None)
    ops, want = [], None
    t_end = time.perf_counter() + ctx.seconds
    while not ops or time.perf_counter() < t_end:
        if ops:
            ctx.fresh_session()
        dt, rows = timed_pass(ctx.spark, sf, names, light, res, collect=True)
        if dt is None:
            break
        ops.append(dt)
        want = want or expected_rows(sf, names)
        bad = mismatches(rows, want)
        res.check(f"operation {len(ops)}: rows match DuckDB "
                  f"(mismatches: {bad})", not bad)
    res.values.update(
        work_per_s=len(names) / median(ops) if ops else 0.0,
        op_p50_s=median(ops))
    res.samples.update({"op (pass in a fresh session)": ops,
                        "step (query)": [s.dur for s in light.spans]})


def traced_run(ctx, sf: str, names: list[str], gen: list[float]) -> None:
    """The ANN index build, then the operation's entries once, traced,
    into the noop sink; then the same entries against DuckDB."""
    spark, res = ctx.spark, ctx.result
    ann_s = warm_ann_indices(spark, sf)
    tr = Tracer(spark.sparkContext)
    timed_pass(spark, sf, names, tr, res, collect=False)
    counts = [tr.counts(s) for s in tr.spans]
    layers = {f"catalog.{n}_s": tr.total(f"catalog.{n}")
              for n in subset()}
    layers.update({
        "queries.ann_index_build_s": ann_s,
        "queries.jobs": sum(c[0] for c in counts),
        "queries.stages": sum(c[1] for c in counts),
        "queries.cached_rdds_left":
            spark.sparkContext._jsc.getPersistentRDDs().size(),
        "synth.gen_inputs_s": median(gen),
        "trace_overhead_ratio": tr.overhead_s / sum(s.dur for s in tr.spans),
    })
    res.layers.update(layers)
    tr.dump(ctx.work / "spans-catalog.json")
    dt, rows = timed_pass(spark, sf, names, Tracer(None), res, collect=True)
    bad = mismatches(rows, expected_rows(sf, names))
    res.check(f"rows match DuckDB (mismatches: {bad})",
              dt is not None and not bad)
