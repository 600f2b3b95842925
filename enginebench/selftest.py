"""Self-test of the benchmark at a tiny size.

    python3 enginebench/selftest.py

Checks, in one Spark session:

- every workload in ``BENCHMARK.json`` emits every end-to-end metric (and,
  traced, every per-layer metric) of ``BENCHMARK.json`` with its unit, and
  passes its checks; so does ``crawl_waves`` untraced;
- every per-layer metric of ``BENCHMARK.json`` is computed by some
  workload's traced run;
- a planted wrong expected answer makes the iteration count as failed;
- the numpy reference answers of ``corpus_dedup`` equal the DuckDB
  oracles of ``marginaliasearch_spark/oracle/sqlgen.py`` on a small corpus;
- the runner, copied without the package it measures, exits non-zero
  without printing a result;
- once the session ends, no process it started (the JVM, the Python
  workers) is left running.

Exits 0 when all hold.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, ROOT)

from enginebench import run as runner_mod  # noqa: E402
from enginebench.tracing import Tracer, tree_pids  # noqa: E402
from enginebench.workloads import (  # noqa: E402
    MAX_HAMMING,
    NEAR_DUP_THRESHOLD,
    TINY_SIZES,
    WORKLOADS,
    simhash_salt,
)


BY_HAND = ["crawl_waves"]  # runnable workloads left out of BENCHMARK.json


def check(cond: bool, msg: str) -> None:
    if not cond:
        raise SystemExit(f"selftest FAILED: {msg}")
    print(f"ok: {msg}", flush=True)


def check_emitted(result: dict, wanted: dict, what: str) -> None:
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    check(got == wanted, f"{what}: every metric emitted with its unit")
    check(
        all(isinstance(v["value"], float) for v in result["metrics"].values()),
        f"{what}: every value is a number",
    )
    check(result["correct"] and result["failed"] == 0 and result["attempted"] >= 1,
          f"{what}: all {result['attempted']} iterations correct")


def plant_wrong(wl) -> None:
    """Corrupt the expected answer the way a wrong program output would
    differ from it."""
    if "visited" in wl.expected:
        wl.expected["visited"] += 1
    else:
        wl.expected["kept"] = frozenset(list(wl.expected["kept"])[1:])


def check_reference_against_duckdb() -> None:
    import duckdb

    from enginebench import reference
    from enginebench.corpus import near_dup_documents
    from marginaliasearch_spark.oracle.sqlgen import (
        SIMHASH_UNION_CTE,
        compose_keepset_sql,
        simhash_allpairs_sql,
    )

    docs_pdf = near_dup_documents(11, 48)
    docs = list(zip(docs_pdf["doc_id"].tolist(), docs_pdf["text"].tolist()))
    con = duckdb.connect()
    try:
        con.execute("SET enable_progress_bar = false")
        con.register("documents", docs_pdf)
        kept = {r[0] for r in con.execute(compose_keepset_sql(NEAR_DUP_THRESHOLD)).fetchall()}
        pairs = {
            tuple(int(x) for x in r)
            for r in con.execute(simhash_allpairs_sql(SIMHASH_UNION_CTE, MAX_HAMMING)).fetchall()
        }
    finally:
        con.close()
    check(reference.keep_set(docs, NEAR_DUP_THRESHOLD) == kept,
          f"reference keep set equals DuckDB's ({len(kept)} ids)")
    check(reference.simhash_pairs(docs, simhash_salt(), MAX_HAMMING) == pairs,
          f"reference SimHash pairs equal DuckDB's ({len(pairs)} pairs)")


def check_empty_checkout() -> None:
    with tempfile.TemporaryDirectory() as d:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
        shutil.copytree(BENCH_DIR, os.path.join(d, "enginebench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        p = subprocess.run(
            [sys.executable, "enginebench/run.py", "--workload", "crawl_full",
             "--seed", "1", "--seconds", "1", "--trace", "0"],
            cwd=d, capture_output=True, text=True, timeout=180,
        )
    check(p.returncode != 0 and not p.stdout.strip(),
          "without the package the runner exits non-zero and prints no result")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    check_empty_checkout()
    check_reference_against_duckdb()

    cores = runner_mod.bench_cores()
    work = tempfile.mkdtemp(prefix="selftest-", dir=os.path.join(ROOT, ".bench_work")
                            if os.path.isdir(os.path.join(ROOT, ".bench_work")) else None)
    spark = runner_mod.build_session(cores, work)
    computed: set = set()
    try:
        e2e = runner_mod.declared_metrics("end_to_end")
        layer = runner_mod.declared_metrics("per_layer")
        for name in [w["name"] for w in bench["workloads"]] + BY_HAND:
            traces = ((0, e2e),) if name in BY_HAND else ((0, e2e), (1, layer))
            for trace, wanted in traces:
                args = runner_mod.parse_args(
                    ["--workload", name, "--seed", "3", "--seconds", "1", "--trace", str(trace)]
                )
                result = runner_mod.measure(
                    args, cores, os.path.join(work, f"{name}-{trace}"), spark, TINY_SIZES,
                    computed,
                )
                check_emitted(result, wanted, f"{name} trace={trace}")

            if name in BY_HAND:
                continue
            wl = WORKLOADS[name](3, os.path.join(work, f"{name}-planted"), cores, TINY_SIZES[name])
            os.makedirs(wl.work)
            wl.spark = spark
            wl.generate()
            wl.build_expected()
            wl.load()
            plant_wrong(wl)
            r = runner_mod.Runner(wl, wl.work)
            r.count(r.iteration(Tracer()))
            check(r.attempted == 1 and r.failed == 1,
                  f"{name}: a planted wrong expected answer is a failed iteration")
            wl.drop_inputs()
        check(computed == set(layer),
              f"every per-layer metric is computed by a traced run "
              f"(never: {sorted(set(layer) - computed)})")
    finally:
        runner_mod.end_processes()
        shutil.rmtree(work, ignore_errors=True)
    check(tree_pids(os.getpid()) == [os.getpid()],
          "no process started by the benchmark outlives its session")
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
