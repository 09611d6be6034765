"""Same-box benchmark: production QF job, suite validation, near-dup dedup.

    python3 perfbench/run.py --workload qf_job --seed 1 --seconds 20 --trace 0

Builds the program from source (perfbench/build.py), generates the seeded
inputs (perfbench/gen.py), runs one JVM at local[4] that times passes of the
workload (perfbench/scala/Main.scala), checks every pass against DuckDB
(perfbench/oracle.py) and prints one JSON object as the last stdout line:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
See perfbench/README.md.
"""

import argparse
import fcntl
import glob
import json
import math
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")


def sf_dir():
    """The sf0.1 test tables: testdata/sf0.1 in the home directory, else the
    sf0.1 directory that TESTDATA.md names."""
    home = os.path.join(os.path.expanduser("~"), "testdata", "sf0.1")
    if os.path.isdir(home):
        return home
    try:
        with open(os.path.join(ROOT, "TESTDATA.md")) as f:
            m = re.search(r"`([^`]*sf0\.1)/?`", f.read())
    except OSError:
        m = None
    return m.group(1) if m else home


SF_DIR = sf_dir()
CORES = 4
HEAP = "4g"
SETUP_CYCLES = 2
JVM_TIMEOUT_S = 160

# Inputs of each workload: (table, replicas of the sf0.1 table). Each gets a
# warm-up twin holding every tenth conversation, order or document of it,
# which each set-up cycle runs one pass over.
QF_REPS = 2
LI_REPS = 1
TR_REPS = 1
DOC_REPS = 2
WARM_EVERY = 10

WORKLOADS = {
    "qf_job": {"events": ("events", QF_REPS)},
    "validate_dedup": {"lineitem": ("lineitem", LI_REPS),
                       "transcripts": ("transcripts", TR_REPS),
                       "documents": ("documents", DOC_REPS)},
}

# Full-size passes a run makes before its measured ones; they are checked but
# kept out of the medians. In a new SparkContext qf_job's first full-size pass
# takes about twice the CPU of later ones while the JIT compiles the session's
# generated classes; validate_dedup's first pass is within its pass spread.
SETTLE_PASSES = {"qf_job": 1, "validate_dedup": 0}


MB = 1e6


def log(msg):
    print(msg, file=sys.stderr, flush=True)


# --- exclusivity -------------------------------------------------------------

def _cmdline(pid):
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return [a.decode(errors="replace") for a in f.read().split(b"\0") if a]
    except OSError:
        return []


def _ancestors():
    pids, pid = set(), os.getpid()
    while pid > 1:
        pids.add(pid)
        try:
            with open(f"/proc/{pid}/stat") as f:
                pid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            break
    return pids


def conflicts():
    """Other benchmark runs and sbt test runs on this machine."""
    mine = _ancestors()
    found = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit() or int(entry) in mine:
            continue
        args = _cmdline(entry)
        joined = " ".join(args)
        bench = "perfbench.Main" in args or any(a.endswith("perfbench/run.py") for a in args)
        sbt_test = ("sbt.ForkMain" in joined or
                    (any("sbt" in a for a in args[:3]) and
                     any(a in ("test", "Test/test") or a.startswith(("testOnly", "testQuick"))
                         for a in args)))
        if bench or sbt_test:
            found.append(f"{entry}: {joined[:120]}")
    return found


def exclusive():
    """Hold the checkout's lock; refuse while another run or sbt test is active."""
    os.makedirs(WORK, exist_ok=True)
    fd = os.open(os.path.join(WORK, "lock"), os.O_CREAT | os.O_RDWR)
    deadline = time.monotonic() + 30
    while True:
        try:
            fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
            others = conflicts()
            if not others:
                return fd
            fcntl.flock(fd, fcntl.LOCK_UN)
        except BlockingIOError:
            others = ["another run holds this checkout's lock"]
        if time.monotonic() > deadline:
            raise SystemExit("refusing to start while these are active:\n  " + "\n  ".join(others))
        time.sleep(2)


# --- statistics --------------------------------------------------------------

def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail_percentile(n):
    """Highest percentile with at least ten samples beyond it (None below 20)."""
    if n < 20:
        return None
    return math.floor(100 * (1 - 10 / n))


# --- JVM ---------------------------------------------------------------------

def jvm_cmd(jar, archive, run_dir, mode, args):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData", archive,
             f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC"] + build.jvm_opens() +
            ["-cp", f"{jar}:{build.spark_jars()}", "perfbench.Main", mode,
             f"cores={CORES}", f"run_dir={run_dir}"] + args)


def run_java(cmd, run_dir, log_name):
    """Run one JVM to completion (killed on timeout or on our own exit)."""
    log_path = os.path.join(run_dir, log_name)
    with open(log_path, "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, cwd=run_dir)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0:
        with open(log_path) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"JVM exited with {rc}:\n{tail}")


def inputs_for(workload, seed, transcript_sql):
    inputs, gen_s = {}, 0.0
    for key, (table, reps) in WORKLOADS[workload].items():
        for k, every in ((key, 1), (key + "_warm", WARM_EVERY)):
            d, s = gen.table(WORK, SF_DIR, table, seed, reps, transcript_sql, every)
            inputs[k], gen_s = d, gen_s + s
    return inputs, gen_s


def class_archive(jar, stamp, transcript_sql):
    """Class-data-sharing archive of the classes every workload loads.

    A cold JVM spends most of a Spark session start loading classes; the
    archive, trained once per build by running each warm-up on seed-0 inputs,
    cuts that for every later run. Returns the JVM option that uses it.
    """
    path = os.path.join(WORK, "build", f"classes-{stamp[:16]}.jsa")
    if not os.path.exists(path):
        run_dir = os.path.join(WORK, "train")
        shutil.rmtree(run_dir, ignore_errors=True)
        os.makedirs(run_dir)
        args = ["workload=all"]
        for w in WORKLOADS:
            inputs, _ = inputs_for(w, 0, transcript_sql)
            args += [f"in.{k}={v}" for k, v in inputs.items()]
        run_java(jvm_cmd(jar, f"-XX:ArchiveClassesAtExit={path}.tmp", run_dir, "train", args),
                 run_dir, "train.log")
        for old in glob.glob(os.path.join(WORK, "build", "classes-*.jsa")):
            os.remove(old)
        os.replace(path + ".tmp", path)
        shutil.rmtree(run_dir, ignore_errors=True)
    return f"-XX:SharedArchiveFile={path}"


def run_jvm(jar, archive, run_dir, workload, seconds, trace, inputs):
    args = [f"workload={workload}", f"seconds={seconds}", f"trace={trace}",
            f"setup_cycles={SETUP_CYCLES}", f"min_passes={4 if trace else 3}",
            f"settle_passes={SETTLE_PASSES[workload]}"]
    args += [f"in.{k}={v}" for k, v in inputs.items()]
    run_java(jvm_cmd(jar, archive, run_dir, "run", args), run_dir, "jvm.log")
    with open(os.path.join(run_dir, "result.json")) as f:
        return json.load(f)


# --- correctness gates -------------------------------------------------------

def check_qf(passes, expected):
    bad = {}
    for p in passes:
        o = p["outputs"]
        want = {"rows_in": expected["rows_in"], "rows_kept": expected["rows_kept"],
                "pii_rows": expected["pii_rows"], "committed_rows": expected["rows_in"],
                "committed_kept": expected["rows_kept"], "committed_pii": expected["pii_rows"],
                "processed_buckets": 64, "committed_buckets": 64}
        diff = {k: (o.get(k), v) for k, v in want.items() if o.get(k) != v}
        if diff:
            bad[p["pass"]] = diff
    return bad


def _evr_key(r):
    return (r["expectation_type"], r["domain"])


def check_suite(passes, expected):
    bad = {}
    for p in passes:
        diffs = []
        for table in ("lineitem", "transcripts"):
            got = {_evr_key(r): r for r in p["outputs"][table]}
            want = {_evr_key(r): r for r in expected[table]}
            if got.keys() != want.keys():
                diffs.append((table, "expectations", sorted(got), sorted(want)))
                continue
            for k, w in want.items():
                for col in oracle.EVR_COLS[2:]:
                    if got[k][col] != w[col]:
                        diffs.append((table, k, col, got[k][col], w[col]))
        if diffs:
            bad[p["pass"]] = diffs
    return bad


def read_pairs(path):
    with open(path) as f:
        return [(int(a), int(b), float(j)) for a, b, j in (line.split("\t") for line in f if line.strip())]


def check_dedup(passes, n_docs, sql_dir, docs_dir):
    pairs = {p["pass"]: read_pairs(p["outputs"]["pairs_file"]) for p in passes}
    union = sorted({(a, b) for ps in pairs.values() for a, b, _ in ps})
    exact = oracle.exact_jaccard(WORK, sql_dir, docs_dir, union)
    bad = {}
    for p in passes:
        ps = pairs[p["pass"]]
        wrong = [(a, b, j, exact.get((a, b))) for a, b, j in ps
                 if exact.get((a, b)) is None or exact[(a, b)] < 0.5 or exact[(a, b)] != j]
        want = oracle.survivors(n_docs, [(a, b) for a, b, _ in ps])
        if wrong or p["outputs"]["survivors"] != want or len(ps) != len(set((a, b) for a, b, _ in ps)):
            bad[p["pass"]] = {"wrong_pairs": wrong[:5], "n_wrong": len(wrong),
                              "survivors": (p["outputs"]["survivors"], want)}
    return bad, pairs


# --- metrics -----------------------------------------------------------------

def pass_counters(result, p):
    """Counters of every span key of pass p, summed."""
    key = f"p{p}"
    tot = {}
    for k, c in result["counters"].items():
        if k == key or k.startswith(key + "/"):
            for name, v in c.items():
                if name != "last_job_end_ms":
                    tot[name] = tot.get(name, 0) + v
    return tot


def end_to_end(result, ok):
    walls = [p["wall_s"] for p in ok]
    wall = median(walls)
    cpu = median([pass_counters(result, p["pass"]).get("cpu_ns", 0) / 1e9 for p in ok])
    return {
        "rows_per_s": {"value": result["rows"] / wall if wall else 0.0, "unit": "rows/s"},
        "wall_s": {"value": wall, "unit": "s"},
        "cpu_s": {"value": cpu, "unit": "s"},
        "setup_s": {"value": median(result["setup_s"]), "unit": "s"},
    }


PER_LAYER = [
    ("Transcripts.wall_s", "s"), ("Transcripts.cpu_s", "s"), ("Transcripts.shuffle_write_mb", "MB"),
    ("QualityFilter.role_seq.wall_s", "s"), ("QualityFilter.role_seq.shuffle_write_mb", "MB"),
    ("QualityFilter.role_seq.spill_mb", "MB"),
    ("QualityFilter.score.wall_s", "s"), ("QualityFilter.score.cpu_ns_per_turn", "ns"),
    ("QualityFilter.keep_ratio", "ratio"),
    ("Checkpoint.wall_s", "s"), ("Checkpoint.cpu_s", "s"), ("Checkpoint.files_written", "count"),
    ("Checkpoint.bytes_written_mb", "MB"), ("Checkpoint.commit_s", "s"),
    ("SuiteRunner.lineitem.wall_s", "s"), ("SuiteRunner.lineitem.cpu_s", "s"),
    ("SuiteRunner.lineitem.jobs", "count"), ("SuiteRunner.lineitem.shuffle_write_mb", "MB"),
    ("SuiteRunner.transcripts.wall_s", "s"), ("SuiteRunner.transcripts.cpu_s", "s"),
    ("SuiteRunner.transcripts.jobs", "count"), ("SuiteRunner.transcripts.shuffle_write_mb", "MB"),
    ("SuiteRunner.jobs_per_expectation", "count"), ("SuiteRunner.failed_job_attempts", "count"),
    ("Dedup.pairs.wall_s", "s"), ("Dedup.pairs.cpu_s", "s"), ("Dedup.pairs.cpu_ns_per_doc", "ns"),
    ("Dedup.pairs.shuffle_write_mb", "MB"), ("Dedup.pairs.verified", "count"),
    ("Lsh.dropped_rows", "count"), ("Dedup.planted_recall", "ratio"),
    ("Dedup.cc.wall_s", "s"), ("Dedup.cc.cpu_s", "s"), ("Dedup.cc.jobs", "count"),
    ("Dedup.keep.wall_s", "s"), ("Dedup.survivors", "count"),
    ("spark.core_busy_frac", "ratio"), ("spark.jobs", "count"), ("spark.stages", "count"),
    ("spark.tasks", "count"), ("spark.shuffle_write_mb", "MB"), ("spark.shuffle_read_mb", "MB"),
    ("spark.fetch_wait_s", "s"), ("spark.spill_mb", "MB"), ("spark.gc_s", "s"),
    ("spark.task_failures", "count"), ("spark.retained_mb", "MB"),
    ("trace.pass_wall_s", "s"), ("trace.untraced_wall_s", "s"), ("trace.overhead_frac", "ratio"),
    ("trace.gap_s", "s"), ("trace.stale_group_jobs", "count"),
]


def per_layer(result, ok, extra):
    traced = [p for p in ok if p["traced"]]
    plain = [p for p in ok if not p["traced"]]
    spans = result["spans"]
    by_pass = {}
    for s in spans:
        by_pass.setdefault(s["pass"], []).append(s)
    counters = result["counters"]
    rows = result["row_counts"]

    def layer(name, fn):
        vals = []
        for p in traced:
            for s in by_pass.get(p["pass"], []):
                if s["name"] == name:
                    vals.append(fn(s, counters.get(s["key"], {})))
        return median(vals)

    def dur(s, c):
        return s["end_s"] - s["start_s"]

    def cnt(field, scale=1.0):
        return lambda s, c: c.get(field, 0) / scale

    m = {}
    for name in ("Transcripts", "QualityFilter.role_seq", "QualityFilter.score", "Checkpoint",
                 "SuiteRunner.lineitem", "SuiteRunner.transcripts",
                 "Dedup.pairs", "Dedup.cc", "Dedup.keep"):
        m[f"{name}.wall_s"] = layer(name, dur)
        m[f"{name}.cpu_s"] = layer(name, cnt("cpu_ns", 1e9))
        m[f"{name}.shuffle_write_mb"] = layer(name, cnt("shuffle_write_b", MB))
        m[f"{name}.spill_mb"] = layer(name, cnt("spill_b", MB))
        m[f"{name}.jobs"] = layer(name, cnt("jobs"))
    if "turns" in rows:
        m["QualityFilter.score.cpu_ns_per_turn"] = layer("QualityFilter.score",
                                                         cnt("cpu_ns", rows["turns"]))
    if "documents" in rows:
        m["Dedup.pairs.cpu_ns_per_doc"] = layer("Dedup.pairs", cnt("cpu_ns", rows["documents"]))
    m["Checkpoint.commit_s"] = layer(
        "Checkpoint", lambda s, c: max(0.0, s["end_ms"] / 1e3 - c.get("last_job_end_ms", 0) / 1e3)
        if c.get("last_job_end_ms") else 0.0)

    def out(key, fn=lambda v: v):
        return median([fn(p["outputs"][key]) for p in ok if key in p["outputs"]])

    if result["workload"] == "qf_job":
        m["QualityFilter.keep_ratio"] = median([p["outputs"]["rows_kept"] / p["outputs"]["rows_in"]
                                                for p in ok])
        m["Checkpoint.files_written"] = out("files_written")
        m["Checkpoint.bytes_written_mb"] = out("bytes_written", lambda v: v / MB)
    if "lineitem" in rows:
        jobs = [layer_sum(counters, p["pass"], ("SuiteRunner.lineitem", "SuiteRunner.transcripts"), "jobs")
                for p in traced]
        m["SuiteRunner.jobs_per_expectation"] = median(
            [j / p["outputs"]["expectations"] for j, p in zip(jobs, traced)])
        m["SuiteRunner.failed_job_attempts"] = median(
            [layer_sum(counters, p["pass"], ("SuiteRunner.lineitem", "SuiteRunner.transcripts"),
                       "job_failures") for p in traced])
    if "documents" in rows:
        m["Dedup.pairs.verified"] = out("verified")
        m["Lsh.dropped_rows"] = out("lsh_dropped_rows")
        m["Dedup.survivors"] = out("survivors")
        m["Dedup.planted_recall"] = extra.get("planted_recall", 0.0)

    # whole-pass Spark counters, from the untraced passes of this run
    cs = [(p, pass_counters(result, p["pass"])) for p in plain]
    m["spark.core_busy_frac"] = median([c.get("run_ms", 0) / 1e3 / (p["wall_s"] * CORES) for p, c in cs])
    for name, field, scale in [("jobs", "jobs", 1), ("stages", "stages", 1), ("tasks", "tasks", 1),
                               ("shuffle_write_mb", "shuffle_write_b", MB),
                               ("shuffle_read_mb", "shuffle_read_b", MB),
                               ("fetch_wait_s", "fetch_wait_ms", 1e3), ("spill_mb", "spill_b", MB),
                               ("gc_s", "gc_ms", 1e3), ("task_failures", "task_failures", 1)]:
        m[f"spark.{name}"] = median([c.get(field, 0) / scale for _, c in cs])
    m["spark.retained_mb"] = median([p["retained_mb"] for p in plain])

    # tracing: traced pass wall = its layers' self times + untimed gaps
    tw = median([p["wall_s"] for p in traced])
    uw = median([p["wall_s"] for p in plain])
    m["trace.pass_wall_s"] = tw
    m["trace.untraced_wall_s"] = uw
    m["trace.overhead_frac"] = tw / uw - 1 if uw else 0.0
    gaps = []
    for p in traced:
        kids = [s for s in by_pass.get(p["pass"], []) if s["name"] != f"p{p['pass']}"]
        gaps.append(p["wall_s"] - sum(dur(s, None) for s in kids))
    m["trace.gap_s"] = median(gaps)
    m["trace.stale_group_jobs"] = median(
        [pass_counters(result, p["pass"]).get("stale_group_jobs", 0) for p in traced])
    return {name: {"value": float(m.get(name, 0.0)), "unit": unit} for name, unit in PER_LAYER}


def layer_sum(counters, p, names, field):
    return sum(counters.get(f"p{p}/{n}", {}).get(field, 0) for n in names)


# --- main --------------------------------------------------------------------

def prepare(workload, seed, sql_dir, transcript_sql):
    """Generate (or reuse) the inputs and the expected answers for a seed."""
    inputs, gen_s = inputs_for(workload, seed, transcript_sql)
    t0 = time.monotonic()
    if workload == "qf_job":
        expected = {"qf": oracle.qf_totals(WORK, sql_dir, SF_DIR, seed, QF_REPS)}
    else:
        ev, s = gen.table(WORK, SF_DIR, "events", seed, TR_REPS)
        gen_s += s
        expected = {"suite": oracle.suite_results(WORK, sql_dir, seed, LI_REPS, TR_REPS,
                                                  inputs["lineitem"], ev),
                    "planted": oracle.planted_pairs(WORK, sql_dir, seed, DOC_REPS,
                                                    inputs["documents"])}
    return inputs, expected, gen_s, time.monotonic() - t0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    lock = exclusive()
    try:
        jar, sql_dir, stamp, build_s = build.build(WORK)
    except build.BuildError as e:
        raise SystemExit(f"build failed: {e}")
    if not os.path.isdir(SF_DIR):
        raise SystemExit(f"test data not found at {SF_DIR}")
    with open(os.path.join(sql_dir, "transcripts.sql")) as f:
        transcript_sql = f.read()
    t0 = time.monotonic()
    archive = class_archive(jar, stamp, transcript_sql)
    build_s += time.monotonic() - t0
    inputs, expected, gen_s, oracle_s = prepare(a.workload, a.seed, sql_dir, transcript_sql)

    # each run gets its own Spark local dir (inside run/), cleared at start
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    t0 = time.monotonic()
    result = run_jvm(jar, archive, run_dir, a.workload, a.seconds, a.trace, inputs)
    jvm_s = time.monotonic() - t0

    ok = [p for p in result["passes"] if "error" not in p]
    errors = {p["pass"]: p["error"] for p in result["passes"] if "error" in p}
    extra = {}
    if a.workload == "qf_job":
        bad = check_qf(ok, expected["qf"])
    else:
        bad = check_suite(ok, expected["suite"])
        bad_dedup, pairs = check_dedup(ok, result["row_counts"]["documents"], sql_dir,
                                       inputs["documents"])
        for p, why in bad_dedup.items():
            bad.setdefault(p, []).append(why)
        planted = {tuple(p) for p in expected["planted"]}
        found = [len(planted & {(x, y) for x, y, _ in ps}) / len(planted) for ps in pairs.values()]
        extra["planted_recall"] = median(found) if planted else 0.0
    for p, why in {**errors, **bad}.items():
        log(f"pass {p} FAILED: {json.dumps(why, default=str)[:2000]}")
    good = [p for p in ok if p["pass"] not in bad]
    attempted = len(result["passes"])
    failed = attempted - len(good)

    # keep the spans and counters of this run; drop its bulky outputs
    traces = os.path.join(WORK, "traces")
    os.makedirs(traces, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    with open(os.path.join(traces, f"{a.workload}-s{a.seed}-t{a.trace}-{stamp}.json"), "w") as f:
        json.dump(result, f)
    shutil.rmtree(run_dir, ignore_errors=True)

    # the settling pass is checked above but kept out of the medians
    measured = [p for p in good if not p["settle"]]
    if a.trace:
        metrics = per_layer(result, measured, extra)
    else:
        metrics = end_to_end(result, measured)
    walls = sorted(p["wall_s"] for p in measured if not p["traced"])
    settle = [round(p["wall_s"], 3) for p in good if p["settle"]]
    tp = tail_percentile(len(walls))
    print(f"perfbench {a.workload} seed={a.seed} trace={a.trace} cores={result['cores']} "
          f"heap={result['max_heap_mb']}MB spark={result['spark_version']} rows={result['rows']}")
    print(f"  passes={attempted} failed={failed} failed_ratio={failed / attempted:.4f} "
          f"untraced wall_s n={len(walls)} p50={median(walls):.4f} "
          f"min={walls[0] if walls else 0:.4f} max={walls[-1] if walls else 0:.4f} "
          f"tail={'p%d' % tp if tp else 'none (n<20)'} settling pass wall_s={settle}")
    print(f"  setup_s={['%.3f' % s for s in result['setup_s']]} "
          f"session_s={['%.3f' % s for s in result['session_s']]} measured_s={result['measured_s']:.1f} "
          f"retained_mb={median([p['retained_mb'] for p in good]):.2f} build_s={build_s:.1f} "
          f"gen_s={gen_s:.1f} oracle_s={oracle_s:.1f} jvm_s={jvm_s:.1f}")
    for k, v in metrics.items():
        print(f"  {k} = {v['value']:.6g} {v['unit']}")
    print(json.dumps({"correct": failed == 0 and attempted > 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    os.close(lock)


if __name__ == "__main__":
    # a terminated run still stops its JVM (the finally around proc.wait)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    main()
