"""Workload ``query_suite``: the 20 headline queries, closed loop.

The tables are the repository's fixed ``sf0.01`` test tables (seed 42),
copied byte for byte into ``perfbench/data/sf0.01`` so that a run reads
nothing outside its checkout.  Set-up runs one cold pass, four queries
at a time, which warms codegen and the Python workers; the DuckDB
oracle runs beside it.  The window then runs warm passes of all 20
queries (one client, each query collected to the driver), one pass per
``SECONDS_PER_PASS`` of ``--seconds`` and at least one, in an order
drawn from ``--seed``.  Every result of every timed pass is compared
with the query's DuckDB twin from ``__spark_entry__.oracle_sql()`` (row
count, column names, value multiset), the same comparison
``tools/check_correctness.py`` makes.
"""

from __future__ import annotations

import importlib
import math
import os
import pkgutil
import random
import sys
import time
from concurrent.futures import ThreadPoolExecutor

from common import BENCH_DIR, REPO_ROOT, median

sys.path.insert(0, os.path.join(REPO_ROOT, "tools"))
from check_correctness import TABLES, _rowset  # noqa: E402

from bench import HEADLINE_QUERIES as QUERIES  # noqa: E402

DATA_DIR = os.path.join(BENCH_DIR, "data", "sf0.01")

#: one warm pass per this many seconds of --seconds (a pass takes
#: 14–23 s on a 4-core host), so every run does the same work
SECONDS_PER_PASS = 20


def _oracle(data_dir: str):
    import duckdb

    import __spark_entry__ as entry

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=1")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    sql = entry.oracle_sql()
    out = {}
    for name in QUERIES:
        cur = con.execute(sql[name])
        cols = [d[0] for d in cur.description]
        out[name] = (sorted(cols), _rowset(cols, cur.fetchall()))
    con.close()
    return out


def _pass(spark, qs, order, tracer):
    walls, outs = {}, {}
    for name in order:
        if tracer is not None:
            tracer.tag("query")
        s = time.perf_counter()
        df = qs[name](spark, DATA_DIR)
        rows = df.collect()
        walls[name] = time.perf_counter() - s
        outs[name] = (df.columns, rows)
    if tracer is not None:
        tracer.tag(None)
    return walls, outs


def run(spark, scratch: str, seed: int, seconds: float, tracer, setup_clock):
    import __spark_entry__ as entry

    if tracer is not None:
        tracer.tag("setup")
    qs = entry.queries()
    # the queries import their layers lazily; import them here, once, so
    # the threads of the cold pass do not race on the same first import
    for pkg in ("cdc", "operators", "functions", "control", "sources"):
        mod = importlib.import_module(f"data_pipeline_spark.{pkg}")
        for info in pkgutil.iter_modules(mod.__path__):
            importlib.import_module(f"{mod.__name__}.{info.name}")
    # cold pass, four queries at a time: fills codegen caches and starts
    # the Python workers; its results are not used.  The longest query
    # (a quarter of a warm pass) starts first, so the pass does not end
    # waiting on it.  The oracle needs no Spark and runs beside it on one
    # thread.
    cold = sorted(QUERIES, key=lambda n: n != "minhash_lsh_candidates")
    with ThreadPoolExecutor(max_workers=1) as pool:
        want = pool.submit(_oracle, DATA_DIR)
        with ThreadPoolExecutor(max_workers=4) as qpool:
            list(qpool.map(lambda n: qs[n](spark, DATA_DIR).collect(), cold))
        want = want.result()
    order = list(QUERIES)
    random.Random(seed).shuffle(order)
    setup_s = setup_clock.now()

    window_start = time.time()
    passes = [_pass(spark, qs, order, tracer)
              for _ in range(max(1, int(seconds // SECONDS_PER_PASS)))]
    window_end = time.time()

    # correctness gate, outside the window
    attempted = failed = 0
    errors = []
    for _, outs in passes:
        for name in QUERIES:
            attempted += 1
            cols, rows = outs[name]
            wcols, wrows = want[name]
            if sorted(cols) != wcols or _rowset(cols, rows) != wrows:
                failed += 1
                errors.append(f"{name}: rows={len(rows)}/{len(wrows)} "
                              f"cols={sorted(cols)} vs {wcols}")

    per_query = {n: median([p[0][n] for p in passes]) for n in QUERIES}
    pass_walls = [sum(p[0].values()) for p in passes]
    e2e = {
        "setup_s": setup_s,
        "latency_s": math.exp(
            sum(math.log(w) for w in per_query.values()) / len(per_query)
        ),
        "throughput_per_s": len(QUERIES) * len(passes) / sum(pass_walls),
        "read_s": median(pass_walls),
    }
    layer = {f"query.{n}_s": w for n, w in per_query.items()}
    layer["query.passes"] = len(passes)
    return {
        "attempted": attempted,
        "failed": failed,
        "errors": errors,
        "e2e": e2e,
        "layer": layer,
        "window": (window_start, window_end),
    }
