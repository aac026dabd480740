#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload per run, end to end or traced.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It builds the engine and the harness
(`make -C perfbench`, then a class-data sharing archive of one session
set-up), writes the workload's seeded inputs, runs the harness JVM
(perfbench/src/perfbench/Harness.scala) on `local[4]`,
checks every gate output of every pass against the DuckDB oracle
(`SparkEntry.oracleSql`, hashed with `canon` from scripts/oracle_check.py),
and prints one JSON line: `correct`, `attempted`, `failed` and `metrics`.
With `--trace 0` the metrics are the end-to-end ones; with `--trace 1` the
per-layer ones, derived from the spans the harness records (written, with
self times, to perfbench/work/runs/<run>/spans.jsonl).

Everything it writes stays under perfbench/work.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

import duckdb
import pandas as pd

import gen

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = BENCH / "work"
sys.path.insert(0, str(ROOT / "scripts"))

HEAP = "3g"
JVM_TIMEOUT_S = 160
SPARK_JARS = "/opt/spark/jars"  # as in the engine's build.sbt
JAR = WORK / "bench.jar"  # the engine and the harness (Makefile)
ARCHIVE = WORK / "session.jsa"  # class-data sharing archive, see build()

# Per workload: its gates, in run order; whether it reads the fixed
# fixture (else a corpus drawn from the seed); and the mean time of its
# passes in a run, in seconds on a 4-core VM, from which the number of
# passes follows (passes()).
WORKLOADS = {
    "mr_corpus": {"gates": ["mrjob_wc", "mrjob_indexer", "mr_wc",
                            "mr_indexer"],
                  "fixture": False, "pass_s": 6.0},
    "dedup_verify": {"gates": ["dedup_containment", "dedup_ngram",
                               "dedup_allpairs", "dedup_ngram_verify"],
                     "fixture": True, "pass_s": 28.0},
    "cc_incremental": {"gates": ["stream_cc"],
                       "fixture": True, "pass_s": 19.0},
}
# The fixture is the same for every seed: a seeded duplicate graph changes
# the candidate, verify and propagation work, and so the time, by more
# than the bounds allow.
CORPUS = {"n_files": 120, "words_per_file": 1500, "vocab_size": 20000}
FIXTURE = {"seed": 42, "n_docs": 600}

# MRJob.runFiles text outputs are checked against the oracle of the
# DataFrame gate computing the same app over the documents.parquet twin.
TEXT_GATES = {"mrjob_wc": ("mr_wc", ["word", "cnt"]),
              "mrjob_indexer": ("mr_indexer", ["word", "n_docs", "docs"])}

# Metric names and units are declared once, in BENCHMARK.json. The
# per-layer list there also names, for every gate of every workload, the
# metrics with these suffixes.
GATE_SUFFIXES = ("build_s", "action_s", "jobs", "wall_s")


def declared(kind):
    """{name: unit} of the metrics BENCHMARK.json declares under `kind`."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec[kind]}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build

def build():
    """Compile the engine and the harness into work/bench.jar, then dump
    the class-data sharing archive every run starts from: the classes one
    session set-up loads, on the fixed fixture, so the archive is the same
    whichever workload runs first."""
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        raise SystemExit("perfbench: engine sources (src/main/scala/graft) "
                         "not found; run from the repository root")
    subprocess.run(["make", "-s", "-C", str(BENCH)], check=True,
                   stdout=sys.stderr)
    if ARCHIVE.exists() and ARCHIVE.stat().st_mtime > JAR.stat().st_mtime:
        return
    log("dumping the class-data sharing archive")
    dump = ARCHIVE.with_suffix(".tmp")
    dump.unlink(missing_ok=True)
    harness(WORK / "runs" / "archive", input_dir(gen.write_fixture, FIXTURE),
            [], 0, False, [f"-XX:ArchiveClassesAtExit={dump}"])
    dump.replace(ARCHIVE)


# ----------------------------------------------------------------- inputs

def digest(text):
    return hashlib.sha1(text.encode()).hexdigest()[:12]


def inputs(workload, seed):
    """Directory holding the workload's inputs."""
    if WORKLOADS[workload].get("fixture"):
        return input_dir(gen.write_fixture, FIXTURE)
    return input_dir(gen.write_corpus, dict(CORPUS, seed=seed))


def input_dir(write, params):
    """Directory of `write(dir, **params)`, written once per generator
    version and parameters."""
    version = digest(Path(gen.__file__).read_text() + json.dumps(params))
    out = WORK / "inputs" / f"{write.__name__}-{version}"
    if not out.is_dir():
        write(str(out), **params)
    return out


def oracle(data_dir, gates):
    """{gate: [rows, sorted columns, canon hash]} of the DuckDB oracle on
    `data_dir`, cached per input and oracle query."""
    from oracle_check import canon
    sql = json.loads((WORK / "oracle_sql.json").read_text())
    cache = data_dir.with_name(data_dir.name + ".oracle.json")
    known = json.loads(cache.read_text()) if cache.exists() else {}
    names = {TEXT_GATES.get(g, (g,))[0] for g in gates}
    stale = sorted(n for n in names
                   if known.get(n, {}).get("sql") != digest(sql[n]))
    if stale:
        con = duckdb.connect()
        for p in sorted(data_dir.glob("*.parquet")):
            con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM "
                        f"read_parquet('{p}')")
        for n in stale:
            df = con.execute(sql[n]).df()
            known[n] = {"sql": digest(sql[n]),
                        "want": [len(df), sorted(df.columns), canon(df)]}
        cache.write_text(json.dumps(known))
    return {n: known[n]["want"] for n in names}


# ------------------------------------------------------------------ check

def read_output(gate, path):
    if gate in TEXT_GATES:
        cols = TEXT_GATES[gate][1]
        rows = []
        for part in sorted(Path(path).glob("part-*")):
            for line in part.read_text(encoding="utf-8").splitlines():
                rows.append(line.split(" ", len(cols) - 1))
        df = pd.DataFrame(rows, columns=cols)
        for c in cols[1:-1] if gate == "mrjob_indexer" else cols[1:]:
            df[c] = df[c].astype("int64")
        return df
    files = sorted(Path(path).glob("*.parquet"))
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def check_gate(gate, path, want):
    """None when the output at `path` equals the oracle, else the reason."""
    from oracle_check import canon
    try:
        got = read_output(gate, path)
    except Exception as e:  # missing or unreadable output
        return f"unreadable output: {e}"
    rows, cols, want_hash = want
    if len(got) != rows:
        return f"rows {len(got)} != {rows}"
    if sorted(got.columns) != cols:
        return f"columns {sorted(got.columns)} != {cols}"
    if canon(got) != want_hash:
        return "value hash mismatch"
    return None


def check_passes(passes, want):
    """Mark every gate execution ok or failed (thrown, or output differs
    from the oracle). Returns (attempted, failed)."""
    attempted = failed = 0
    for p in passes:
        for g in p["gates"]:
            attempted += 1
            if g["error"] is None:
                name = TEXT_GATES.get(g["gate"], (g["gate"],))[0]
                g["error"] = check_gate(g["gate"], g["path"], want[name])
            if g["error"] is not None:
                failed += 1
                log(f"FAIL pass {p['pass']} {g['gate']}: {g['error'][:300]}")
    return attempted, failed


# ---------------------------------------------------------------- metrics

def failed_frac(passes):
    runs = [g for p in passes for g in p["gates"]]
    return sum(g["error"] is not None for g in runs) / len(runs)


def end_to_end(record, mb):
    """Times are totals over the run's passes, the cold first one included:
    a fixed amount of work from a fresh session. On 4 cores the JIT is still
    compiling through the last pass a run can afford, so there is no warm
    steady state to take a minimum of. A failed gate execution is charged
    the slowest execution of its gate in the run, so a failure never reads
    as a fast time."""
    passes = record["passes"]
    worst = {}
    for g in (g for p in passes for g in p["gates"]):
        worst[g["gate"]] = max(worst.get(g["gate"], 0.0), g["wall_s"])
    wall, gate_s = 0.0, dict.fromkeys(worst, 0.0)
    for p in passes:
        wall += p["wall_s"]
        for g in p["gates"]:
            charged = worst[g["gate"]] if g["error"] else g["wall_s"]
            wall += charged - g["wall_s"]
            gate_s[g["gate"]] += charged
    return {
        "wall_s": wall,
        "setup_s": record["setup_s"],
        "cpu_s": sum(p["cpu_s"] for p in passes),
        "mb_per_s": mb * len(passes) / wall,
        "query_max_s": max(gate_s.values()),
        "peak_rss_mb": record["peak_rss_mb"],
    }


def union_length(intervals, lo=float("-inf"), hi=float("inf")):
    """Length of the union of [start, end] intervals clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
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
    """{span id: self time}: a span's duration minus the part of it that
    its children's intervals cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"]) - union_length(
        kids.get(s["id"], []), s["start"], s["end"]) for s in spans}


def descendants(spans, root_id):
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out, todo = [], list(kids.get(root_id, []))
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s["id"], []))
    return out


def pass_layers(p, spans, cpus):
    """Per-layer counters of one traced pass."""
    below = descendants(spans, p["span"])
    jobs = [s for s in below if s["kind"] == "job"]
    stages = [s for s in below if s["kind"] == "stage"]
    by_gate = {s["name"]: descendants(spans, s["id"])
               for s in below if s["kind"] == "gate"}
    mr_stages = [s for g in TEXT_GATES for s in by_gate.get(g, [])
                 if s["kind"] == "stage"]

    def a(s, key):  # a stage none of whose tasks ended has no counters
        return s["attrs"].get(key, 0)

    def tot(key, ss=stages):
        return sum(a(s, key) for s in ss)

    def dur(ss):
        return sum(s["end"] - s["start"] for s in ss)

    reduce_stages = [s for s in mr_stages if a(s, "shuffle_read_bytes") > 0
                     and a(s, "output_bytes") == 0]
    biggest = max(stages, key=lambda s: a(s, "shuffle_read_bytes"),
                  default=None)
    skew = 0.0
    if biggest is not None and a(biggest, "median_task_read_bytes") > 0:
        skew = (a(biggest, "max_task_read_bytes")
                / a(biggest, "median_task_read_bytes"))
    exchanged = tot("shuffle_write_records")
    run_s = tot("run_s")
    m = {
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.tasks": tot("tasks"),
        "spark.job_s_mean": (statistics.mean(s["end"] - s["start"] for s in jobs)
                             if jobs else 0.0),
        "spark.driver_gap_s": p["wall_s"] - union_length(
            [(s["start"], s["end"]) for s in jobs]),
        "spark.tasks_failed": tot("failed_tasks"),
        "exec.run_s": run_s,
        "exec.cpu_s": tot("cpu_s"),
        "exec.gc_s": tot("gc_s"),
        "exec.busy_frac": run_s / (p["wall_s"] * cpus),
        "exec.peak_task_mem_mb": max((a(s, "peak_mem_bytes")
                                      for s in stages), default=0) / 1e6,
        "exchange.write_mb": tot("shuffle_write_bytes") / 1e6,
        "exchange.read_mb": tot("shuffle_read_bytes") / 1e6,
        "exchange.records": exchanged,
        "exchange.fetch_wait_s": tot("fetch_wait_s"),
        "exchange.skew": skew,
        "exchange.yield": tot("output_records") / exchanged if exchanged else 0.0,
        "spill.mem_mb": tot("mem_spill_bytes") / 1e6,
        "spill.disk_mb": tot("disk_spill_bytes") / 1e6,
        "scan.mb": tot("input_bytes") / 1e6,
        "scan.records": tot("input_records"),
        "scan.stage_s": dur(s for s in stages if a(s, "input_bytes") > 0),
        "mr.map_stage_s": dur(s for s in mr_stages if a(s, "input_bytes") > 0),
        "mr.reduce_stage_s": dur(reduce_stages),
        "mr.reduce_max_task_s": max((a(s, "max_task_s")
                                     for s in reduce_stages), default=0.0),
        "sink.mb": tot("output_bytes") / 1e6,
        "sink.stage_s": dur(s for s in stages if a(s, "output_bytes") > 0),
        "Graft.release_s": sum(g["release_s"] for g in p["gates"]),
    }
    for g in p["gates"]:
        name = g["gate"]
        m[f"{name}.build_s"] = g["build_s"]
        m[f"{name}.action_s"] = g["action_s"]
        m[f"{name}.wall_s"] = g["wall_s"]
        m[f"{name}.jobs"] = sum(1 for s in by_gate.get(name, [])
                                if s["kind"] == "job")
    return m


def per_layer(record, spans, names):
    """Layer counters of the traced pass, plus run-level figures, for every
    metric in `names`: 0 for the gates of other workloads."""
    before, traced, after = record["passes"][-3:]
    m = dict(pass_layers(traced, spans, record["cpus"]))
    m["Graft.storage_peak_mb"] = record["storage_peak_bytes"] / 1e6
    m["failed_frac"] = failed_frac(record["passes"])
    m["trace.overhead_s"] = traced["wall_s"] - (before["wall_s"]
                                                + after["wall_s"]) / 2
    unknown = set(m) - set(names)
    if unknown:
        raise SystemExit(f"perfbench: metrics not in BENCHMARK.json: "
                         f"{sorted(unknown)}")
    return {name: m.get(name, 0.0) for name in names}


# -------------------------------------------------------------------- run

# JVM flags of every run. The heap size is fixed (-Xms = -Xmx) and so is
# the young generation (-Xmn): the collector reuses the same young regions
# instead of spreading over the whole heap, so the resident set follows
# what the engine keeps alive rather than how long the run was.
# -UsePerfData: no hsperfdata file in the system temp directory.
JVM_FLAGS = [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xmn512m", "-XX:-UsePerfData"]


def java_command(run_dir, args, flags):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    tmp = run_dir / "tmp"
    tmp.mkdir()
    cmd = ["java"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += JVM_FLAGS + flags + [
        f"-Djava.io.tmpdir={tmp}",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.local.dir={run_dir / 'spark-local'}",
        f"-Dspark.sql.warehouse.dir={run_dir / 'warehouse'}",
        f"-Dspark.checkpoint.dir={run_dir / 'checkpoint'}",
        "-cp", f"{JAR}:{SPARK_JARS}/*",
        "perfbench.Harness"] + args
    return cmd


def harness(run_dir, data, gates, n_passes, trace, flags):
    """Run the harness JVM in a fresh `run_dir`; returns its record."""
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    args = {"data": data, "out": run_dir / "out", "gates": ",".join(gates),
            "passes": n_passes, "trace": int(trace),
            "record": run_dir / "record.json",
            "spans": run_dir / "spans.jsonl"}
    argv = [str(x) for k, v in args.items() for x in (f"--{k}", v)]
    with open(run_dir / "jvm.log", "w") as jvm_log:
        argv += ["--launch-ms", str(int(time.time() * 1000))]
        proc = subprocess.Popen(java_command(run_dir, argv, flags),
                                cwd=run_dir, stdout=jvm_log,
                                stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise SystemExit(f"perfbench: harness timed out, see {jvm_log.name}")
    if code != 0:
        raise SystemExit(f"perfbench: harness exited {code}, see "
                         f"{run_dir / 'jvm.log'}")
    return json.loads((run_dir / "record.json").read_text())


def passes(workload, seconds):
    """Passes of a run: as many as fit in `seconds`, at least one. The count
    depends only on the workload and `seconds`, so every run of a workload
    measures the same work."""
    return max(1, round(seconds / WORKLOADS[workload]["pass_s"]))


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)

    build()
    w = WORKLOADS[a.workload]
    data, gates = inputs(a.workload, a.seed), w["gates"]
    run_dir = WORK / "runs" / f"{a.workload}-s{a.seed}-t{a.trace}"
    record = harness(run_dir, data, gates, passes(a.workload, a.seconds),
                     a.trace, [f"-XX:SharedArchiveFile={ARCHIVE}"])
    attempted, failed = check_passes(record["passes"], oracle(data, gates))
    if a.trace:
        spans = [json.loads(line) for line in
                 (run_dir / "spans.jsonl").read_text().splitlines()]
        selfs = self_times(spans)
        with open(run_dir / "spans.jsonl", "w") as f:
            for s in spans:
                s["run"] = run_dir.name
                s["self_s"] = selfs[s["id"]]
                f.write(json.dumps(s) + "\n")
        units = declared("per_layer")
        values = per_layer(record, spans, units)
    else:
        units = declared("end_to_end")
        values = end_to_end(record, gen.input_mb(data))
    shutil.rmtree(run_dir / "out", ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }), flush=True)


if __name__ == "__main__":
    main()
    # skip interpreter teardown: the pyarrow and duckdb thread pools can
    # abort the process while it unloads them, after the result is printed
    sys.stderr.flush()
    os._exit(0)
