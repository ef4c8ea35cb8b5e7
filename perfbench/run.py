#!/usr/bin/env python3
"""The repository's benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload catalogue|serve_rw \
        --seed N --seconds S --trace 0|1

Builds the engine from source (perfbench/build.py), generates the tables and
the seeded inputs, computes the catalogue's DuckDB oracle row counts, runs
the workload in one JVM and prints, as the last line of stdout, one JSON
object with `correct`, `attempted`, `failed` and `metrics`: the end-to-end
metrics of BENCHMARK.json with `--trace 0`, its per-layer metrics with
`--trace 1`. The lines before it name the workload's own figures. Every
artifact is written under perfbench/out/.
"""
import argparse
import hashlib
import json
import math
import os
import random
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen_tables  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("catalogue", "serve_rw")
SF = 0.1
SERVE_DOCS = int(50000 * SF)      # documents rows at SF (doc_id 0 .. SERVE_DOCS-1)
SETUPS = 3                        # set-ups per run; setup_s is their median
WRITER_PHASE_S, WRITER_PERIOD_S = 2.0, 12.5   # serve_rw re-crawl schedule
LANE = 600                        # reads per serve_rw reader, more than a run reaches
# A ceiling, not a size: the old generation grows only as far as the
# program's surviving objects push it, so peak RSS follows the program. The
# serial collector with a fixed young generation sizes the heap by what
# survives, not by GC timing as G1 does.
JVM_MEMORY = ["-Xmx3g", "-Xmn512m", "-XX:+UseSerialGC"]
DEADLINE_S = 170                  # a run must finish within 180 s (a first build may add to it)
ADD_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def cpus():
    return int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())


def catalogue_subset(modules):
    """One query per 32 of each `graft.queries` module (at least one), at
    evenly spaced positions of the module's id-ordered list."""
    picked = []
    for m in sorted(modules):
        names = sorted(modules[m], key=lambda n: int(n[1:].split("_")[0]))
        k = max(1, round(len(names) / 32))
        picked += [names[int((j + 0.5) * len(names) / k)] for j in range(k)]
    return picked


def catalogue_warm(modules):
    """The first query of every module: warm-up, never in the subset."""
    return [min(names, key=lambda n: int(n[1:].split("_")[0])) for _, names in sorted(modules.items())]


def make_inputs(workload, seed, catalogue=None):
    """Everything a run varies, from the seed alone."""
    rng = random.Random(seed)
    inputs = {"probes": {"corpus_seed": seed, "source_rows": 200000,
                         "sample_ids": rng.sample(range(10 ** 6), 200)}}
    if workload == "catalogue":
        order = list(catalogue["expected"])
        rng.shuffle(order)
        inputs["catalogue"] = {"order": order, "expected": catalogue["expected"],
                               "warm": catalogue_warm(catalogue["modules"])}
    else:
        words = gen_tables.DOC_WORDS

        def read(verb):
            if verb in ("search", "hybrid"):
                return {"verb": verb, "q": " ".join(rng.sample(words, rng.randint(2, 4)))}
            if verb == "query":
                return {"verb": verb, "lang": rng.choice(gen_tables.LANGS),
                        "min_chars": rng.randrange(100, 400, 50)}
            a, b = rng.sample(gen_tables.LANGS, 2)
            return {"verb": verb,
                    "expr": f'lang in ["{a}", "{b}"] && {rng.randrange(100, 250, 25)} <= n_chars < 700'}
        ids = rng.sample(range(SERVE_DOCS), 128)
        # one lane per reader: searches, hybrid searches, and scalar reads
        # (each pair holds a query and a retrieve, in seeded order). A writer
        # tick then stalls one read of each kind, whatever the seed; with a
        # mixed sequence the stalled reads fall on seed-chosen verbs and move
        # their medians.
        scalar = [v for _ in range(LANE // 2) for v in rng.sample(("query", "retrieve"), 2)]
        lanes = [[read("search") for _ in range(LANE)], [read("hybrid") for _ in range(LANE)],
                 [read(v) for v in scalar]]
        inputs["serve_rw"] = {"lanes": lanes, "docs": SERVE_DOCS,
                              "writer_phase_s": WRITER_PHASE_S, "writer_period_s": WRITER_PERIOD_S,
                              "writer_ids": ids[:64], "delete_ids": ids[64:]}
    return inputs


def java(classes, main_args, cwd, log, timeout, tmp):
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] + [
        *JVM_MEMORY, "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", os.pathsep.join([classes, build.spark_jars()]), "graft.perfbench.Main"] + main_args
    proc = subprocess.Popen(cmd, cwd=cwd, stdout=log, stderr=log)
    try:
        rc = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit(f"perfbench: JVM exceeded {timeout:.0f} s")
    if rc != 0:
        raise SystemExit(f"perfbench: JVM exited with {rc}; see {log.name}")


def tables_key():
    """Names the generated tables: SF and the generator's source."""
    with open(gen_tables.__file__, "rb") as f:
        return f"sf{SF}-" + hashlib.sha256(f.read() + repr(SF).encode()).hexdigest()[:12]


def tables():
    """The sf tables, generated once per checkout and generator."""
    d = os.path.join(OUT, "data", tables_key())
    if not os.path.exists(os.path.join(d, "DONE")):
        shutil.rmtree(d, ignore_errors=True)
        gen_tables.write(d, SF)
        open(os.path.join(d, "DONE"), "w").close()
    return d


def catalogue(classes, stamp, data, log, tmp):
    """The catalogue subset and its oracle row counts, computed by DuckDB
    running each query's oracle SQL on the same tables (once per build and
    set of tables)."""
    path = os.path.join(OUT, f"catalogue-{stamp[:16]}-{tables_key()}.json")
    if os.path.exists(path):
        return json.load(open(path))
    dump = os.path.join(OUT, "catalogue-dump.json")
    java(classes, ["--dump-catalogue", dump], OUT, log, 120, tmp)
    d = json.load(open(dump))
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in gen_tables.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    expected = {n: con.execute(f"SELECT count(*) FROM ({d['oracle'][n]})").fetchone()[0]
                for n in catalogue_subset(d["modules"])}
    out = {"modules": d["modules"], "expected": expected}
    with open(path, "w") as f:
        json.dump(out, f)
    return out


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, check=True).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        return None


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, default=0, choices=(0, 1))
    a = p.parse_args()
    t_start = time.time()
    # the traced run reports no setup_s: one set-up gives its build spans
    setups = 1 if a.trace else SETUPS
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    os.makedirs(OUT, exist_ok=True)
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    run_dir = os.path.join(OUT, "runs", tag)
    work = os.path.join(OUT, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(run_dir, exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        try:
            classes, stamp = build.build(log)
            data = tables()
            cat = catalogue(classes, stamp, data, log, tmp) if a.workload == "catalogue" else None
            inputs = make_inputs(a.workload, a.seed, cat)
            with open(os.path.join(run_dir, "inputs.json"), "w") as f:
                json.dump(inputs, f)
            raw_path = os.path.join(run_dir, "raw.json")
            java(classes, ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                           "--trace", str(a.trace), "--cpus", str(cpus()), "--setups", str(setups),
                           "--data", data, "--inputs", os.path.join(run_dir, "inputs.json"),
                           "--work", work, "--raw", raw_path],
                 work, log, max(DEADLINE_S - (time.time() - t_start), 120), tmp)
        finally:
            shutil.rmtree(work, ignore_errors=True)
    raw = json.load(open(raw_path))
    metrics, figures = stats.end_to_end(raw)
    ops = raw["setup_ops"] + raw["warm_ops"] + raw["ops"]
    if a.trace:
        ops += raw["probe_ops"] + [o for p in raw["plain"] for o in p["ops"]]
    failed = sum(not o["ok"] for o in ops)
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    values = stats.per_layer(raw) if a.trace else metrics
    result = {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        # a metric made infinite by failures has no number: null, and correct is false
        "metrics": {m["name"]: {"value": values[m["name"]] if math.isfinite(values[m["name"]]) else None,
                                "unit": m["unit"]} for m in wanted},
    }
    meta = dict(raw["meta"], sf=SF, commit=commit(), source_sha256=stamp, jvm_memory=JVM_MEMORY,
                serve_docs=SERVE_DOCS, setups=setups)
    with open(os.path.join(run_dir, "result.json"), "w") as f:
        json.dump({"meta": meta, "figures": figures, "end_to_end": metrics, "result": result,
                   "failures": [o for o in ops if not o["ok"]]}, f, indent=1)
    for k, v in figures.items():
        print(f"{a.workload}.{k} = {v} {stats.FIGURE_UNITS.get(k, '')}".rstrip())
    print(json.dumps(result))


if __name__ == "__main__":
    main()
