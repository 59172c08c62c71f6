#!/usr/bin/env python3
"""graft's benchmark: one command runs one workload and prints every
metric by name with its unit.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. It builds graft and the harness from
source (perfbench/build.sbt, skipped while the sources are unchanged),
generates the seeded inputs (perfbench/gen.py, reused per (sf, seed)),
runs the workload's keys in a closed loop with one client for the given
seconds (perfbench/src/main/scala/perfbench/Harness.scala), and checks
the outputs:

  * every key with oracle SQL must return the row count DuckDB gets from
    SparkEntry.oracleSql on the same parquet; a key without oracle SQL
    must return its warm-up count;
  * once per seed, workload and program version, each oracle key's
    result is compared in full with the DuckDB result, using
    tools/check.py's comparison: the result the last timed pass wrote,
    or, for a workload that does not write, one written after the timed
    window.

With --trace 0 it reports the end-to-end metrics; with --trace 1 it
records spans and Spark listener events and reports per-layer metrics,
writing spans.json and layers.tsv to the run directory. The last line of
standard output is one JSON object: correct, attempted, failed, metrics.
Workloads, key lists and the layer-to-metric map are in
perfbench/workloads.json.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import gen  # noqa: E402
import stats  # noqa: E402

WORK = HERE / "work"
LAUNCH = HERE / "target" / "launch.txt"
REQUIRED = ["build.sbt", "project/build.properties",
            "src/main/scala/graft/SparkEntry.scala", "tools/gen_sf.py",
            "tools/check.py"]
DEADLINE_S = 170          # a run must end within 180 s
BUILD_DEADLINE_S = 840    # a first run, which builds, within 900 s
HEAP = "3g"
MIN_PASSES = 3            # so every key has a median of at least three
WARMUP_PASSES = 3         # fewer leave the JIT settling in timed passes
MB = 1024.0 * 1024.0

END_TO_END = [("setup_s", "s"), ("pass_s", "s"), ("geomean_ms", "ms"),
              ("key_ms.p50", "ms"), ("cache_mb", "MB")]
SELF_LAYERS = ["key", "load", "build", "action", "release", "plan", "job",
               "stage", "verify"]
DEPTH = {"key": 1, "load": 1, "verify": 1, "build": 2, "action": 2,
         "release": 2, "plan": 3, "job": 4, "stage": 5}


def fail(msg, code=1):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def cores():
    return len(os.sched_getaffinity(0))


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode() + b"\0")
        h.update(p.read_bytes())
    return h.hexdigest()


def build(deadline):
    """Build graft and the harness unless the sources are unchanged;
    returns the sources' stamp."""
    stamp = source_stamp()
    stamp_file = WORK / "build.stamp"
    if LAUNCH.exists() and stamp_file.exists() \
            and stamp_file.read_text() == stamp:
        return stamp
    WORK.mkdir(parents=True, exist_ok=True)
    log = WORK / "build.log"
    with open(log, "w") as f:
        rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "-Dsbt.server.forcestart=false", "launchFile"],
                       cwd=HERE, out=f, deadline=deadline)
    if rc != 0 or not LAUNCH.exists():
        tail = log.read_text()[-2000:]
        fail("build failed (exit %s); tail of %s:\n%s" % (rc, log, tail))
    stamp_file.write_text(stamp)
    return stamp


def run_child(cmd, cwd, out, deadline, env=None):
    """Run `cmd` in its own process group; kill the group and wait for
    it if it outlives `deadline` (time.monotonic() seconds)."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, env=env,
                         start_new_session=True)
    try:
        return p.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


# ---------------------------------------------------------------- checks

def duck(data_dir):
    import duckdb
    con = duckdb.connect()
    for t in gen.TABLES:
        p = Path(data_dir) / (t + ".parquet")
        con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s')"
                    % (t, p))
    return con


def sql_hash(sql):
    return hashlib.sha256(sql.encode()).hexdigest()[:16]


def expected_counts(data_dir, oracle, known):
    """Row count DuckDB returns for each oracle key, cached per data
    directory and SQL text; `known` holds counts already taken."""
    cache_file = Path(data_dir) / "expected_rows.json"
    cache = json.loads(cache_file.read_text()) if cache_file.exists() else {}
    for k, n in known.items():
        cache[k] = {"sql": sql_hash(oracle[k]), "rows": n}
    todo = {k: s for k, s in oracle.items()
            if cache.get(k, {}).get("sql") != sql_hash(s)}
    if todo or known:
        con = duck(data_dir)
        for k, s in todo.items():
            n = con.execute("SELECT count(*) FROM (%s) AS q" % s).fetchone()[0]
            cache[k] = {"sql": sql_hash(s), "rows": n}
        cache_file.write_text(json.dumps(cache, indent=1, sort_keys=True))
    return {k: cache[k]["rows"] for k in oracle}


def load_check_module():
    spec = importlib.util.spec_from_file_location(
        "graft_check", ROOT / "tools" / "check.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def compare(chk, con, key, sql, files, counts):
    """tools/check.py's comparison of one key: None when equal, else
    the cause. Records the oracle's row count in `counts`."""
    import pandas as pd
    want = con.execute(sql).df()
    counts[key] = len(want)
    if not files:
        return "no output written"
    got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
    probs = chk.repr_problems(got)
    if probs:
        return "unhashable column types %s" % probs
    if sorted(want.columns) != sorted(got.columns):
        return "columns %s, oracle %s" % (sorted(got.columns),
                                          sorted(want.columns))
    if len(want) != len(got):
        return "rows %d, oracle %d" % (len(got), len(want))
    w, g = chk.canon(want), chk.canon(got)
    for c in w.columns:
        if chk.kind_class(w[c]) != chk.kind_class(g[c]):
            return "column %s type %s, oracle %s" % (
                c, chk.kind_class(g[c]), chk.kind_class(w[c]))
        if not chk.col_equal(w[c], g[c]):
            return "column %s values differ" % c
    return None


def content_path(data_dir, workload, stamp):
    """Where the content check's verdict is kept: its name holds the
    program's source stamp and the comparison's, since the verdict
    holds for that program and comparison only."""
    version = hashlib.sha256((stamp + sql_hash(
        (ROOT / "tools" / "check.py").read_text())).encode()).hexdigest()
    return Path(data_dir) / ("content_%s_%s.json" % (workload, version[:12]))


def content_check(done, oracle, check_dir, write_errors):
    """Full content comparison of every oracle key, once per seed,
    workload and program version: the result is kept in `done`, in the
    data directory, under a name that holds the version."""
    if done.exists():
        return json.loads(done.read_text()), {}
    chk = load_check_module()
    con = duck(done.parent)
    failures, counts = {}, {}
    for k, sql in sorted(oracle.items()):
        files = sorted(Path(check_dir, k).glob("*.parquet"))
        try:
            cause = ("write threw: " + write_errors[k]) if write_errors.get(k) \
                else compare(chk, con, k, sql, files, counts)
        except Exception as e:  # a crash in the comparison is a failure
            cause = "comparison crashed: %s" % e
        if cause:
            failures[k] = cause
    done.write_text(json.dumps(failures, indent=1, sort_keys=True))
    return failures, counts


# ---------------------------------------------------------------- metrics

def end_to_end(rec, w):
    execs = rec["exec"]
    passes = rec["pass"]
    keys = w["keys"]
    per_key = {k: [x["wall_s"] for x in execs if x["key"] == k] for k in keys}
    medians = [stats.median(v) for v in per_key.values()]
    # a pass's median: the table load plus each key's median time; a
    # slow outlier of one key in one pass does not move it
    pass_s = stats.median([p["load_s"] for p in passes]) + sum(medians)
    key_ms = [x["wall_s"] * 1e3 for x in execs]
    m = {
        "setup_s": (rec["setup"][0]["setup_s"], "s", 1),
        "pass_s": (pass_s, "s", len(passes)),
        "geomean_ms": (stats.geomean([x * 1e3 for x in medians]),
                       "ms", len(medians)),
        "key_ms.p50": (stats.percentile(key_ms, 50, 0), "ms", len(key_ms)),
        "cache_mb": (max(p["storage_bytes"] for p in passes) / MB, "MB",
                     len(passes)),
    }
    return m, key_ms


def per_layer(rec, w, modules):
    """Per-layer metrics from a traced run, each per pass (the window's
    total divided by its number of passes), and the self-time table."""
    n = rec["window"][0]["passes"]
    ncores = rec["window"][0]["cores"]
    spans = {s["id"]: s for s in rec.get("span", []) if s["pass"] > 0}

    def root(sid):
        while spans[sid]["parent"] >= 0:
            sid = spans[sid]["parent"]
        return sid

    # the program's jobs: not those of the benchmark's read-back (verify),
    # whose span counts whole as the verify layer's self time
    jobs = [j for j in rec.get("job", []) if j["span"] in spans
            and spans[root(j["span"])]["kind"] != "verify"]
    job_span = {j["id"]: j["span"] for j in jobs}
    stages = [s for s in rec.get("stage", []) if s["job"] in job_span]
    execs = rec["exec"]
    passes = rec["pass"]

    # every timed item, grouped under the root span (key, load or verify)
    # it ran in
    items = {sid: [] for sid, s in spans.items() if s["parent"] < 0}
    for s in spans.values():
        items[root(s["id"])].append((s["start"], s["end"], s["kind"]))
    for j in jobs:
        if j["end"] >= 0:
            items[root(j["span"])].append((j["start"], j["end"], "job"))
    for s in stages:
        if s["end"] >= 0 and s["start"] >= 0:
            items[root(job_span[s["job"]])].append(
                (s["start"], s["end"], "stage"))
    phase_spans = [s for s in spans.values()
                   if s["kind"] in ("build", "action", "load")]
    plan_total = 0.0
    for p in rec.get("plan", []):
        owner = next((s for s in phase_spans
                      if s["start"] <= p["start"] < s["end"]), None)
        if owner is not None:
            plan_total += p["end"] - p["start"]
            items[root(owner["id"])].append((
                p["start"], min(p["end"], owner["end"]), "plan"))
    self_t = {k: 0.0 for k in SELF_LAYERS}
    for rid, its in items.items():
        r = spans[rid]
        clipped = [(max(s, r["start"]), min(e, r["end"]), DEPTH[k], k)
                   for s, e, k in its if min(e, r["end"]) > max(s, r["start"])]
        for k, v in stats.exclusive_times(clipped).items():
            self_t[k] += v
    covered = sum(s["end"] - s["start"] for s in spans.values()
                  if s["parent"] < 0)
    pass_wall = sum(p["wall_s"] for p in passes)
    gap = pass_wall - covered

    wall = {k: sum(s["end"] - s["start"] for s in spans.values()
                   if s["kind"] == k) for k in ("load", "build", "action")}
    run_s = sum(s["run_s"] for s in stages)
    # DataFrameWriter actions reach the listener as "command"
    saves = [a for a in rec.get("action", []) if a["name"] == "command"]
    out_bytes = sum(p["out_bytes"] for p in passes)
    out_files = sum(p["out_files"] for p in passes)
    setup = rec["setup"][0]
    load_s = sum(p["load_s"] for p in passes) / n if w["cold"] \
        else setup["load_s"]
    m = {
        "Tables.load_s": (load_s, "s"),
        "Tables.cache_mb": (setup["table_cache_bytes"] / MB, "MB"),
        "build_s": (wall["build"] / n, "s"),
        "action_s": (wall["action"] / n, "s"),
        "ScratchCache.release_s": (sum(x["release_s"] for x in execs) / n, "s"),
        "scratch.mb": (sum(x["freed_bytes"] for x in execs) / MB / n, "MB"),
        "plan_s": (plan_total / n, "s"),
        "jobs": (len(jobs) / n, "count"),
        "stages": (len(stages) / n, "count"),
        "tasks": (sum(s["tasks"] for s in stages) / n, "count"),
        "tasks.failed": (sum(s["failed"] for s in stages) / n, "count"),
        "sched.wait_s": (sum(s["first_launch"] - s["start"] for s in stages
                             if s["first_launch"] >= 0) / n, "s"),
        "exec.run_s": (run_s / n, "s"),
        "exec.cpu_s": (sum(s["cpu_s"] for s in stages) / n, "s"),
        "exec.gc_s": (sum(s["gc_s"] for s in stages) / n, "s"),
        "exec.busy_frac": (run_s / (ncores * sum(wall.values())), "ratio"),
        "skew_s": (sum(s["task_max_s"] - s["task_median_s"]
                       for s in stages) / n, "s"),
        "shuffle.write_mb": (sum(s["shuffle_write"] for s in stages)
                             / MB / n, "MB"),
        "shuffle.read_mb": (sum(s["shuffle_read"] for s in stages)
                            / MB / n, "MB"),
        "spill_mb": (sum(s["spill_disk"] + s["spill_mem"] for s in stages)
                     / MB / n, "MB"),
        "sink.s": (sum(a["duration_s"] for a in saves) / n, "s"),
        "sink.mb": (out_bytes / MB / n, "MB"),
        "sink.files": (out_files / n, "count"),
        "driver.gc_s": (rec["window"][0]["driver_gc_s"] / n, "s"),
    }
    for k in SELF_LAYERS:
        m["self.%s_s" % k] = (self_t[k] / n, "s")
    m["gap_s"] = (gap / n, "s")
    trace_pass_s = end_to_end(rec, w)[0]["pass_s"][0]
    m["trace.pass_s"] = (trace_pass_s, "s")
    for mod in sorted(set(modules.values())):
        m["mod.%s.s" % mod] = (sum(x["wall_s"] for x in execs
                                   if modules.get(x["key"]) == mod) / n, "s")
    bases = {
        "exec.busy_frac": "exec.run_s / (%d cores x (load + build + action"
                          " wall))" % ncores,
        "closure": "(self times but verify's + gaps, per pass) /"
                   " trace.pass_s (the traced run's pass_s: load and"
                   " per-key medians; verify, the read-back of written"
                   " results, is outside the timed key)",
    }
    closure = (sum(self_t.values()) - self_t["verify"] + gap) / n \
        / trace_pass_s
    return m, closure, bases


def write_spans(rec, path):
    """The span tree: harness spans, then jobs under the span they ran
    in, stages under their job, planning phases by time."""
    out = [dict(id="s%d" % s["id"],
                parent=("s%d" % s["parent"]) if s["parent"] >= 0 else None,
                kind=s["kind"], name=s["name"], start=s["start"],
                end=s["end"]) for s in rec.get("span", [])]
    out += [dict(id="j%d" % j["id"], parent="s%d" % j["span"], kind="job",
                 name=j["group"], start=j["start"], end=j["end"])
            for j in rec.get("job", []) if j["span"] >= 0]
    out += [dict(id="t%d.%d" % (s["id"], s["attempt"]),
                 parent="j%d" % s["job"], kind="stage", name=str(s["id"]),
                 start=s["start"], end=s["end"], tasks=s["tasks"])
            for s in rec.get("stage", [])]
    out += [dict(id=None, parent=None, kind="plan", name=p["phase"],
                 start=p["start"], end=p["end"]) for p in rec.get("plan", [])]
    path.write_text(json.dumps(out))


# ---------------------------------------------------------------- main

def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None,
                    help="override the workload's scale factor (smoke runs)")
    return ap.parse_args(argv)


def read_records(path):
    rec = {}
    with open(path) as f:
        for line in f:
            r = json.loads(line)
            rec.setdefault(r["type"], []).append(r)
    return rec


def fmt(v):
    return repr(float(v)) if isinstance(v, float) else str(v)


def main(argv=None):
    t_start = time.monotonic()
    args = parse_args(argv)
    missing = [f for f in REQUIRED if not (ROOT / f).is_file()]
    if missing:
        fail("not a graft checkout (missing %s) under %s"
             % (", ".join(missing), ROOT), 2)
    spec = json.loads((HERE / "workloads.json").read_text())
    if args.workload not in spec["workloads"]:
        fail("unknown workload %r (have %s)"
             % (args.workload, ", ".join(spec["workloads"])), 2)
    w = spec["workloads"][args.workload]
    sf = args.sf if args.sf is not None else w["sf"]

    stamp = build(t_start + BUILD_DEADLINE_S)
    t_built = time.monotonic()
    data_dir = gen.generate(sf, args.seed,
                            WORK / "data" / ("sf%s-seed%d" % (sf, args.seed)))
    # a run that had to build gets the first-run allowance
    deadline = max(t_start + DEADLINE_S, time.monotonic() + 150)

    run_dir = WORK / "runs" / ("%s-seed%d-trace%d"
                               % (args.workload, args.seed, args.trace))
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "local", "out", "check"):
        (run_dir / d).mkdir(parents=True)
    launch = LAUNCH.read_text().split("\n")
    classpath, jvm_opts = launch[0], [x for x in launch[1:] if x]
    records = run_dir / "records.jsonl"
    content_file = content_path(data_dir, args.workload, stamp)
    check_dir = run_dir / ("out" if w["write"] else "check")
    checked = content_file.exists()
    cmd = (["java", "-Xms" + HEAP, "-Xmx" + HEAP,
            "-Djava.io.tmpdir=%s" % (run_dir / "tmp")] + jvm_opts +
           ["-cp", classpath, "perfbench.Harness",
            "--data", str(data_dir), "--cores", str(cores()),
            "--seconds", str(args.seconds), "--min-passes", str(MIN_PASSES),
            "--warmup-passes", str(WARMUP_PASSES),
            "--keys", ",".join(w["keys"]),
            "--tables", ",".join(w["tables"]),
            "--cold", "1" if w["cold"] else "0",
            "--write-dir", str(run_dir / "out") if w["write"] else "",
            # a workload that writes leaves its last timed pass's results
            # in out/, and those are what the content check compares
            "--check-dir", "" if checked or w["write"] else str(check_dir),
            "--trace", str(args.trace), "--out", str(records),
            "--local-dir", str(run_dir / "local")])
    log = run_dir / "harness.log"
    t_jvm = time.monotonic()
    with open(log, "w") as f:
        rc = run_child(cmd, cwd=run_dir, out=f, deadline=deadline - 15)
    if rc != 0:
        fail("harness exit %s; tail of %s:\n%s"
             % (rc, log, log.read_text()[-3000:]))
    rec = read_records(records)
    t_ran = time.monotonic()

    # ---- correctness
    oracle = {r["key"]: r["sql"] for r in rec.get("oracle", [])}
    fresh = not checked
    # errors of the writes compared: the check's, or the last pass's
    content, counts = content_check(
        content_file, oracle, check_dir,
        {r["key"]: r["error"]
         for r in rec.get("exec" if w["write"] else "check", [])})
    expected = expected_counts(data_dir, oracle, counts)
    warm = rec["warmup"]
    first = {}
    for r in warm:
        first.setdefault(r["key"], r)
    for k, r in first.items():
        if k not in oracle and not r["error"]:
            expected[k] = r["rows"]   # spec-pinned: warm-up count
    problems = ["%s: warm-up threw: %s" % (r["key"], r["error"])
                for r in warm if r["error"]]
    problems += ["%s: warm-up rows %d, expected %d"
                 % (r["key"], r["rows"], expected[r["key"]]) for r in warm
                 if not r["error"] and r["key"] in expected
                 and r["rows"] != expected[r["key"]]]
    problems += ["%s: content: %s" % (k, c) for k, c in content.items()]
    execs = rec["exec"]
    failed, causes = stats.fail_count(execs, expected)
    attempted = len(execs)
    correct = failed == 0 and not problems

    # ---- report
    sizes = gen.table_sizes(data_dir)
    print("perfbench workload=%s seed=%d sf=%s cores=%d seconds=%s trace=%d"
          % (args.workload, args.seed, sf, cores(), fmt(args.seconds),
             args.trace))
    print("inputs: " + ", ".join("%s %d rows %d B" % (t, s["rows"], s["bytes"])
                                 for t, s in sizes.items()))
    print("keys (%d): %s" % (len(w["keys"]), " ".join(w["keys"])))
    print("content check: %s, %d of %d oracle keys differ"
          % ("run now" if fresh else "done earlier for this seed and build",
             len(content), len(oracle)))
    for c in problems + ["%s: %s" % c for c in causes]:
        print("FAIL " + c)
    e2e, key_ms = end_to_end(rec, w)
    passes = rec["pass"]
    print("passes=%d attempted=%d failed=%d fail_ratio=%s"
          % (len(passes), attempted, failed, fmt(failed / attempted)))
    metrics = {}
    if args.trace == 0:
        for name, unit in END_TO_END:
            v, u, n = e2e[name]
            metrics[name] = {"value": v, "unit": unit}
            print("%-16s %s %s (n=%d)" % (name, fmt(v), unit, n))
        p95 = stats.percentile(key_ms, 95)
        if p95 is not None:
            print("%-16s %s ms (n=%d)" % ("key_ms.p95", fmt(p95), len(key_ms)))
        if w["write"]:
            out_mb = stats.median([p["out_bytes"] for p in passes]) / MB
            print("out_mb %s MB per pass (n=%d)" % (fmt(out_mb), len(passes)))
        (run_dir / "result.json").write_text(json.dumps(
            {k: v[0] for k, v in e2e.items()}))
    else:
        layers, closure, bases = per_layer(rec, w, {
            k: spec["modules"][k] for k in w["keys"]})
        modules = sorted(set(spec["modules"].values()))
        for mod in modules:
            layers.setdefault("mod.%s.s" % mod, (0.0, "s"))
        write_spans(rec, run_dir / "spans.json")
        with open(run_dir / "layers.tsv", "w") as f:
            f.write("metric\tvalue\tunit\n")
            for name, (v, unit) in layers.items():
                f.write("%s\t%s\t%s\n" % (name, fmt(v), unit))
        print("per-layer, per pass (n=%d passes); files in %s"
              % (len(passes), run_dir))
        for name, (v, unit) in layers.items():
            metrics[name] = {"value": v, "unit": unit}
            print("  %-24s %s %s" % (name, fmt(v), unit))
        for k, b in bases.items():
            print("  base of %s: %s" % (k, b))
        print("  closure %s" % fmt(closure))
        untraced = WORK / "runs" / ("%s-seed%d-trace0" % (args.workload,
                                                         args.seed))
        if (untraced / "result.json").exists():
            base = json.loads((untraced / "result.json").read_text())["pass_s"]
            print("tracing overhead: traced pass_s %s - untraced %s = %s s"
                  % (fmt(e2e["pass_s"][0]), fmt(base),
                     fmt(e2e["pass_s"][0] - base)))
        else:
            print("tracing overhead: no untraced run of this seed yet")
    print("run phases: build %.1f s, inputs %.1f s, harness %.1f s, checks"
          " and report %.1f s" % (t_built - t_start, t_jvm - t_built,
                                  t_ran - t_jvm, time.monotonic() - t_ran))
    for d in ("tmp", "local", "out", "check"):
        shutil.rmtree(run_dir / d, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics},
                     separators=(",", ":")))


if __name__ == "__main__":
    main()
