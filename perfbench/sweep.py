"""Measure every registered batch query on a generated corpus and write
the table ``query_suite`` draws its sample from (``suite_times.json``).

    python3 perfbench/sweep.py --seed 1 --sf 0.01 --check-seeds 8

One process: write the corpus, start the session as a benchmark run
does, build the derived stores of ``ALL_BUILDS``, then run every
non-streaming query twice in registry order. Per query it records the
wall time of each pass, the derived-store families it reads, the stored
indexes it reads (``sources.stored.stored_table``: the dedup, ANN, PII
and GC stores, which no set-up builds), the stores it built lazily, and
its check against ``oracle_sql()``. Then every query that passed is
checked again on the corpora of the next ``--check-seeds`` seeds, since
a result can differ from its oracle on some data only (a value rounded
at a half-way point, for one). It takes about 20 minutes on 4 cores and
writes only under ``.perfbench_work/`` and to ``suite_times.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import corpus, env, oracle  # noqa: E402

OUT = os.path.join(HERE, "suite_times.json")
PKG = "automotive_big_data_analysis_spark"

# the function each family's consumers call to reach it
FAMILY_READERS = {
    "text_mirror": (f"{PKG}.sources.text_formats", "_ensure_written"),
    "bucketed_layout": (f"{PKG}.sources.bucketed", "ensure_layout"),
    "layout_mirrors_fragmented": (f"{PKG}.operators.maintenance", "ensure_fragmented"),
    "layout_mirrors_bydate": (f"{PKG}.operators.maintenance", "ensure_bydate"),
    "schema_evo_mirror": (f"{PKG}.sources.schema_evolution", "ensure_generations"),
}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--sf", type=float, default=0.01)
    ap.add_argument("--check-seeds", type=int, default=8)
    args = ap.parse_args(argv)

    work = os.path.join(os.path.dirname(HERE), ".perfbench_work", f"sweep-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    env.prepare_process(work, min(4, os.cpu_count() or 4))
    sf_dir = os.path.join(work, "corpus")
    corpus.write_corpus(sf_dir, args.seed, args.sf)
    env.redirect_stores(work)
    spark, start_s, warmup_s = env.start_session(work, python_workers=True)

    import __spark_entry__ as entry

    from perfbench.trace import Tracer
    from perfbench.workloads import ALL_BUILDS, _builders, dir_bytes

    builds = {}
    for fam, build in _builders(spark, sf_dir, ALL_BUILDS).items():
        t0 = time.perf_counter()
        build()
        builds[fam] = time.perf_counter() - t0

    tracer = Tracer()
    for fam, (mod, attr) in FAMILY_READERS.items():
        tracer.instrument(mod, attr, fam.removesuffix("_fragmented").removesuffix("_bydate"))
    stored: dict[str, set] = {}

    def on_stored(rec, args, out):
        stored.setdefault(rec["op"], set()).add(os.path.basename(args[1]))

    tracer.instrument(f"{PKG}.sources.stored", "stored_table", "stored", on_stored)
    stores = os.path.join(work, "stores")

    def store_bytes() -> dict[str, int]:
        return {s: dir_bytes(os.path.join(stores, s)) for s in os.listdir(stores)}

    registry, sqls = entry.queries(), entry.oracle_sql()
    con = oracle.corpus_connection(sf_dir)
    names = [n for n in registry if not n.startswith("stream_")]
    rows: dict[str, dict] = {n: {"pass_s": []} for n in names}
    for rep in range(2):
        for name in names:
            before = store_bytes()
            t0 = time.perf_counter()
            status = None
            try:
                with tracer.op(name, name):
                    df = registry[name](spark, sf_dir)
                    got = df.collect()
            except Exception as exc:  # noqa: BLE001 - recorded
                status = f"error {type(exc).__name__}: {str(exc)[:200]}"
            rows[name]["pass_s"].append(round(time.perf_counter() - t0, 3))
            if rep == 0:
                if status is None:
                    status = oracle.check_query(
                        con, sqls[name], oracle.rows_to_pandas(got, df.schema)
                    )
                after = store_bytes()
                rows[name]["check"] = status or "ok"
                rows[name]["lazy_stores"] = sorted(
                    s for s in after if after[s] != before.get(s, 0)
                )
            print(rep, name, rows[name], file=sys.stderr, flush=True)
    for seed in range(args.seed + 1, args.seed + 1 + args.check_seeds):
        seed_dir = os.path.join(work, f"corpus_s{seed}")
        corpus.write_corpus(seed_dir, seed, args.sf)
        seed_con = oracle.corpus_connection(seed_dir)
        for name in names:
            if rows[name]["check"] != "ok" or rows[name]["lazy_stores"] or stored.get(name):
                continue
            try:
                df = registry[name](spark, seed_dir)
                status = oracle.check_query(
                    seed_con, sqls[name], oracle.rows_to_pandas(df.collect(), df.schema)
                )
            except Exception as exc:  # noqa: BLE001 - recorded
                status = f"error {type(exc).__name__}: {str(exc)[:200]}"
            if status:
                rows[name]["check"] = f"seed {seed}: {status}"
                print("check", seed, name, status, file=sys.stderr, flush=True)
        seed_con.close()
        shutil.rmtree(seed_dir, ignore_errors=True)
    for name in names:
        rows[name]["reads"] = sorted(
            {s["layer"] for s in tracer.spans if s["op"] == name} - {"op", "stored"}
        )
        rows[name]["stored_indexes"] = sorted(stored.get(name, ()))
    tracer.uninstall()
    with open(OUT, "w") as fh:
        json.dump(
            {
                "seed": args.seed,
                "sf": args.sf,
                "check_seeds": args.check_seeds,
                "cores": min(4, os.cpu_count() or 4),
                "session_start_s": round(start_s, 3),
                "session_warmup_s": round(warmup_s, 3),
                "build_s": {k: round(v, 3) for k, v in builds.items()},
                "queries": rows,
            },
            fh,
            indent=1,
        )
    con.close()
    spark.stop()
    shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
