#!/usr/bin/env python3
"""Benchmark of the graft engine: one client, closed loop, named queries.

Usage (from the repository root):

    python3 perfbench/run.py --workload onepass --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --self-check

Each run compiles the engine from `src/main/scala` together with the harness
in `perfbench/harness` (cached in `.bench_build/` under a key over the
sources, the JVM and the Spark jars, with a class-data archive recorded from
a training run), writes the seed's row permutation of the tables in
`perfbench/data`, runs the harness JVM (set-up, then the timed window),
checks every workload query's result against its DuckDB oracle
(`SparkEntry.oracleSql`, compared with the normalization of
`tools/oracle_check.py`) and prints one JSON line: the end-to-end metrics
with `--trace 0`, the per-layer metrics with `--trace 1`. See
perfbench/NOTES.md for what each workload and metric means.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import zipfile
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq

sys.dont_write_bytecode = True
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
# the engine's testdata cut at TPC-H scale factor 0.01 (60 k lineitem rows)
DATA = HERE / "data" / "sf0.01"
SRC = ROOT / "src" / "main" / "scala"
HARNESS = HERE / "harness"
ORACLE_TOOL = ROOT / "tools" / "oracle_check.py"
SPEC = ROOT / "BENCHMARK.json"
BUILD = ROOT / ".bench_build" / "perfbench"
WORK = ROOT / ".bench_work"
SPARK_JARS = Path(os.environ.get("SPARK_HOME", "")) / "jars"

WORKLOADS = ("onepass", "loops")
HEAP = "3g"
RUN_DEADLINE_S = 175

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- arithmetic

def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total = 0
    cur_s = cur_e = None
    for s, e in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """{span id: its duration minus the union of its direct children's
    intervals, each clipped to the span}."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        clipped = [(max(k["start"], s["start"]), min(k["end"], s["end"]))
                   for k in kids.get(s["id"], [])]
        out[s["id"]] = (s["end"] - s["start"]) - union_length(clipped)
    return out


def tail(values, beyond=10):
    """(value, percentile) at the highest percentile that still has at least
    `beyond` samples above it: the (n - beyond)-th smallest of n samples, at
    percentile 100 * (n - beyond) / n. None when n <= beyond."""
    n = len(values)
    if n <= beyond:
        return None
    return sorted(values)[n - beyond - 1], 100.0 * (n - beyond) / n


def permute(out_dir, seed):
    """Writes every table of DATA to `out_dir` with its rows in the order
    that `seed` draws, as one file with one row group; returns the bytes
    written."""
    out_dir.mkdir(parents=True)
    rng = np.random.default_rng(seed)
    total = 0
    for src in sorted(DATA.glob("*.parquet")):
        t = pq.read_table(src)
        t = t.take(rng.permutation(t.num_rows))
        dst = out_dir / src.name
        pq.write_table(t, dst, row_group_size=max(1, t.num_rows))
        total += dst.stat().st_size
    return total


def self_check():
    """Pins the arithmetic above on small cases with known answers."""
    assert union_length([]) == 0
    assert union_length([(0, 10), (5, 15), (20, 25)]) == 20
    assert union_length([(20, 25), (0, 10), (2, 3), (10, 12)]) == 17
    assert union_length([(5, 5), (7, 6)]) == 0
    sp = [dict(id=0, parent=-1, start=0, end=100),
          dict(id=1, parent=0, start=10, end=40),
          dict(id=2, parent=0, start=30, end=60),
          dict(id=3, parent=1, start=5, end=20),    # clipped to 10..20
          dict(id=4, parent=2, start=50, end=70)]   # clipped to 50..60
    assert self_times(sp) == {0: 50, 1: 20, 2: 20, 3: 15, 4: 20}
    assert tail(list(range(10))) is None
    assert tail(list(range(11))) == (0, 100.0 / 11)
    v, p = tail([float(x) for x in range(100, 0, -1)])
    assert (v, p) == (90.0, 90.0)
    assert tail(list(range(40)), beyond=10) == (29, 75.0)


# ---------------------------------------------------------------- build

def compile_engine():
    """Compiles the engine and the harness into a jar, and records its
    class-data archive, in a directory keyed by their sources, the JVM and
    the Spark jars; returns the jar."""
    sources = sorted(SRC.rglob("*.scala")) + sorted(HARNESS.glob("*.scala"))
    h = hashlib.sha256()
    # the archive is only valid for this JVM and these Spark jars
    h.update(subprocess.run(["java", "-version"], capture_output=True, check=True).stderr)
    for f in sorted(SPARK_JARS.glob("*.jar")):
        h.update(f"{f.name}:{f.stat().st_size}".encode())
    for f in sources:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    out = BUILD / h.hexdigest()[:16]
    jar = out / "engine.jar"
    if not jar.exists():
        compile_to(jar, sources)
    if not jar.with_suffix(".jsa").exists():
        train_archive(jar)
    return jar


def compile_to(jar, sources):
    if BUILD.exists():
        shutil.rmtree(BUILD)
    out = jar.parent
    classes = out / "classes"
    classes.mkdir(parents=True)
    listing = out / "sources.txt"
    listing.write_text("\n".join(str(f) for f in sources) + "\n")
    log(f"compiling {len(sources)} sources")
    t0 = time.time()
    subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", f"{SPARK_JARS}/*",
         "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
         "-d", str(classes), f"@{listing}"],
        check=True, stdout=sys.stderr, timeout=800)
    # a jar, not a directory, so the JVM can archive its classes
    partial = out / "engine.jar.partial"
    with zipfile.ZipFile(partial, "w") as z:
        for f in sorted(classes.rglob("*")):
            if f.is_file():
                z.write(f, f.relative_to(classes).as_posix())
    partial.rename(jar)
    shutil.rmtree(classes)
    log(f"compiled in {time.time() - t0:.1f} s")


def train_archive(jar):
    """Records the classes a set-up loads into a class-data archive next to
    the jar. Every run maps the archive (`-Xshare:on`, so a run that cannot
    use it fails instead of going on without it) rather than loading those
    classes again, which takes about a third off a cold Spark set-up."""
    archive = jar.with_suffix(".jsa")
    run_dir = jar.parent / "train"
    t0 = time.time()
    permute(run_dir / "input", 0)
    try:
        run_engine(jar, run_dir, "onepass", 0, 0, 0, [f"-XX:ArchiveClassesAtExit={archive}"],
                   time.time() + 600, ["--setup-reps", "1"])
    except RuntimeError:
        archive.unlink(missing_ok=True)
        raise
    if not archive.exists():
        raise RuntimeError("the JVM recorded no class-data archive")
    log(f"class-data archive recorded in {time.time() - t0:.1f} s")
    shutil.rmtree(run_dir, ignore_errors=True)


# ---------------------------------------------------------------- run

def run_engine(jar, run_dir, workload, seed, seconds, trace, jvm_flags, deadline,
               extra_args=()):
    """Runs the harness JVM on `run_dir/input`; returns its report and its
    output directory."""
    out = run_dir / "out"
    tmp = run_dir / "store"
    local = run_dir / "local"
    for d in (tmp, local):
        d.mkdir(parents=True)
    cpus = len(os.sched_getaffinity(0))
    cmd = ["java", "-XX:-UsePerfData", f"-Xmx{HEAP}", "-Xss8m"] + jvm_flags
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={local}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{jar}:{SPARK_JARS}/*", "perfbench.PerfBench",
            "--workload", workload, "--input", str(run_dir / "input"),
            "--out", str(out), "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace), *extra_args]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
    engine_log = run_dir / "engine.log"
    with open(engine_log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, env=env,
                             cwd=run_dir, start_new_session=True)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, 9)
            p.wait()
            raise RuntimeError("engine run exceeded the time limit")
    if rc != 0:
        sys.stderr.write(engine_log.read_text()[-4000:])
        raise RuntimeError(f"engine exited with {rc}")
    return json.loads((out / "report.json").read_text()), out


def oracle_check(input_dir, out, report):
    """{query: None if its result matches the oracle, else why not}."""
    import duckdb
    spec = importlib.util.spec_from_file_location("oracle_check", ORACLE_TOOL)
    tool = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(tool)
    con = duckdb.connect()
    for t in tool.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{input_dir}/{t}.parquet'")
    oracles = json.loads((out / "oracle_sql.json").read_text())
    verdict = {}
    for q in report["queries"]:
        if q in report["setup_errors"]:
            verdict[q] = f"exception {report['setup_errors'][q]}"
            continue
        try:
            got = con.sql(f"SELECT * FROM '{out}/results/{q}/*.parquet'")
            got_cols, got_rows = list(got.columns), got.fetchall()
            if q not in oracles:
                verdict[q] = None  # no oracle: the result must only be readable
                continue
            want = con.sql(oracles[q])
            want_cols, want_rows = list(want.columns), want.fetchall()
        except Exception as e:  # noqa: BLE001 - any failure is a red row
            verdict[q] = f"exception {type(e).__name__}: {str(e)[:200]}"
            continue
        if sorted(got_cols) != sorted(want_cols):
            verdict[q] = f"columns {sorted(got_cols)} != {sorted(want_cols)}"
        elif tool.norm_rows(got_cols, got_rows) != tool.norm_rows(want_cols, want_rows):
            verdict[q] = f"rows differ ({len(got_rows)} vs {len(want_rows)})"
        else:
            verdict[q] = None
    return verdict, sorted(oracles)


def durations(spans, name):
    """Seconds of each span called `name`."""
    return [(s["end"] - s["start"]) / 1e6 for s in spans if s["name"] == name]


def op_walls(spans):
    """{operation index: its wall seconds}, from the `op` spans."""
    return {s["op"]: (s["end"] - s["start"]) / 1e6 for s in spans if s["name"] == "op"}


def throughput(report, spans, traced, first=0):
    """Operations completed per second of the (un)traced passes' wall time,
    which includes the session clears between operations; passes before
    `first` are left out."""
    passes = sorted((s for s in spans if s["name"] == "pass"), key=lambda s: s["start"])
    mine = {o["pass"] for o in report["ops"] if o["traced"] == traced and o["pass"] >= first}
    wall = sum(s["end"] - s["start"] for k, s in enumerate(passes) if k in mine) / 1e6
    done = sum(1 for o in report["ops"]
               if o["pass"] in mine and o["traced"] == traced and o["error"] is None)
    return done / wall


def latency_tail(report, spans):
    """The untraced operations' latency at the highest percentile with at
    least ten samples beyond it (the maximum when there are too few), with
    that percentile and the sample count."""
    wall = op_walls(spans)
    walls = [wall[i] for i, o in enumerate(report["ops"]) if not o["traced"]]
    t = tail(walls)
    return {"tail_s": t[0] if t else max(walls),
            "tail_percentile": t[1] if t else 100.0, "tail_samples": len(walls)}


def end_to_end(report, spans):
    wall = op_walls(spans)
    walls = [wall[i] for i, o in enumerate(report["ops"])
             if not o["traced"] and o["error"] is None]
    return {
        "queries_per_s": throughput(report, spans, False),
        "query_p50_s": statistics.median(walls),
        "setup_s": statistics.median(durations(spans, "setup")),
        "heap_live_mb": report["heap_live_mb"],
    }


def per_layer(report, spans, input_bytes):
    """Per-pass sums over each traced pass's operations; the median pass."""
    selft = self_times(spans)
    by_op = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)
    passes = {}
    for i, o in enumerate(report["ops"]):
        if not o["traced"]:
            continue
        mine = by_op[i]
        named = {s["name"]: s for s in mine if s["name"] != "spark.job"}
        jobs = [s for s in mine if s["name"] == "spark.job"]
        lookup, build = named["registry.lookup"], named["operators.build"]
        m = dict(o["counters"])
        m["registry.lookup_ms"] = (lookup["end"] - lookup["start"]) / 1e3
        m["operators.build_s"] = (build["end"] - build["start"]) / 1e6
        m["operators.jobs_in_build"] = sum(1 for j in jobs if j["parent"] == build["id"])
        m["exec.jobs_wall_s"] = union_length([(j["start"], j["end"]) for j in jobs]) / 1e6
        m["driver.gap_s"] = sum(selft[s["id"]] for s in named.values()) / 1e6
        acc = passes.setdefault(o["pass"], {})
        for k, v in m.items():
            acc[k] = acc.get(k, 0.0) + v
    for acc in passes.values():
        acc["exec.cores_busy"] = acc["exec.task_run_s"] / max(acc["exec.jobs_wall_s"], 1e-9)
    out = {k: statistics.median(acc[k] for acc in passes.values())
           for k in next(iter(passes.values()))}
    out["session.build_s"] = statistics.median(durations(spans, "session.build"))
    # the first pass after set-up still warms up (it ran 10-20% slower than
    # the later ones), so the untraced baseline is the passes after it
    out["trace.overhead_frac"] = (1.0 - throughput(report, spans, True)
                                  / throughput(report, spans, False, first=1))
    out["store.bytes_per_input_byte"] = report["store_end"][0] / input_bytes
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-check", action="store_true")
    args = ap.parse_args()
    self_check()
    if args.self_check:
        print("self-check ok")
        return 0
    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; one of {WORKLOADS}")
        return 2
    missing = [p.relative_to(ROOT) for p in (SRC, ORACLE_TOOL, SPEC, DATA) if not p.exists()]
    if missing:
        log(f"missing {', '.join(map(str, missing))}: run from a full checkout")
        return 2
    if not os.environ.get("SPARK_HOME") or not SPARK_JARS.is_dir():
        log("SPARK_HOME must name a Spark installation")
        return 2
    start = time.time()
    jar = compile_engine()
    deadline = time.time() + RUN_DEADLINE_S - 5

    run_dir = WORK / f"{args.workload}-{args.seed}-{args.trace}"
    if run_dir.exists():
        shutil.rmtree(run_dir)
    input_dir = run_dir / "input"
    input_bytes = permute(input_dir, args.seed)
    t_gen = time.time()
    share = [f"-XX:SharedArchiveFile={jar.with_suffix('.jsa')}", "-Xshare:on"]
    try:
        report, out = run_engine(jar, run_dir, args.workload, args.seed, args.seconds,
                                 args.trace, share, deadline)
        t_engine = time.time()
        verdict, oracled = oracle_check(input_dir, out, report)
        log(f"build and input {t_gen - start:.1f} s, engine {t_engine - t_gen:.1f} s, "
            f"oracle {time.time() - t_engine:.1f} s")
    finally:
        for d in ("input", "store", "local"):
            shutil.rmtree(run_dir / d, ignore_errors=True)

    problems = {q: why for q, why in verdict.items() if why}
    # every workload serves its artifacts from what set-up primed
    if report["store_end"] != report["store_after_setup"]:
        problems["<store>"] = (f"artifact store changed after set-up: "
                               f"{report['store_after_setup']} -> {report['store_end']}")
    op_errors = [o for o in report["ops"] if o["error"]]
    for q, why in problems.items():
        log(f"RED {q}: {why}")
    for o in op_errors:
        log(f"FAILED op {o['name']} (pass {o['pass']}): {o['error']}")
    spans = [json.loads(line) for line in (out / "spans.jsonl").read_text().splitlines()]
    values = per_layer(report, spans, input_bytes) if args.trace else end_to_end(report, spans)
    wanted = json.loads(SPEC.read_text())["per_layer" if args.trace else "end_to_end"]
    # the latency tail is recorded, not gated: a window holds too few
    # operations for the rule to reach an upper percentile
    report["latency_tail"] = latency_tail(report, spans)
    (out / "report.json").write_text(json.dumps(report))
    log(f"{args.workload} seed={args.seed}: {len(report['ops'])} ops, "
        f"window {sum(durations(spans, 'pass')):.1f} s, {len(oracled)} oracled, "
        f"{len(problems)} red, width {report['cpus']}, wall {time.time() - start:.1f} s")
    print(json.dumps({"latency_tail": report["latency_tail"]}))
    print(json.dumps({
        "correct": not problems and not op_errors,
        "attempted": len(report["ops"]) + len(verdict),
        "failed": len(op_errors) + len(problems),
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in wanted},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
