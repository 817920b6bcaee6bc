#!/usr/bin/env python3
"""graft benchmark: one closed-loop workload per invocation.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The first call builds graft plus the
benchmark's JVM runner (perfbench/build.sbt, sbt offline) and caches the
classpath under perfbench/target; later calls reuse it while the sources
are unchanged. The last line of standard output is one JSON object with
`correct`, `attempted`, `failed` and `metrics` (end-to-end metrics with
--trace 0, per-layer metrics with --trace 1). The full record of the run,
stamped with the input layout, goes to perfbench/.work/results/.

Workloads, their members and pass counts are frozen in
perfbench/workloads.json; metric definitions and the layer map are in
perfbench/README.md.

    python3 perfbench/run.py --workload catalog_eager --seed N --seconds S --pin

re-pins perfbench/digests.json: every member is checked against its
DuckDB oracle, and the members listed under `digest_members` (whose
oracles are too slow to run on every invocation) get their result digest
recorded for later runs.
"""
import argparse
import glob
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
TARGET = os.path.join(BENCH, "target")
DIGESTS = os.path.join(BENCH, "digests.json")
JVM_DEADLINE_S = 160.0   # a run must end within 180 s; the JVM gets this much of it
BUILD_DEADLINE_S = 880.0
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


class Refused(Exception):
    """The run cannot produce a comparable result; no result is printed."""


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def load_json(path):
    with open(path) as fh:
        return json.load(fh)


def selfcheck():
    """tools/selfcheck.py, the catalog oracle gate: the check reuses its
    table list and canonical form."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    try:
        import selfcheck as sc
    except ImportError as e:
        raise Refused(f"cannot load tools/selfcheck.py: {e}")
    return sc


def nproc():
    return len(os.sched_getaffinity(0))


# ── build ───────────────────────────────────────────────────────────────
def source_fingerprint():
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    h = hashlib.sha256()
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def spark_home():
    """The Spark distribution whose jars graft compiles and runs against."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    submit = shutil.which("spark-submit")
    if not submit:
        raise Refused("no Spark distribution: set SPARK_HOME or put spark-submit on PATH")
    return os.path.dirname(os.path.dirname(os.path.realpath(submit)))


def build():
    """Compile graft + the JVM runner once per source state; returns the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise Refused(f"no graft sources under {ROOT}/src/main/scala/graft")
    stamp = os.path.join(TARGET, "perfbench-classpath.json")
    fp = source_fingerprint()
    if os.path.exists(stamp):
        cached = load_json(stamp)
        if cached.get("fingerprint") == fp:
            return cached["classpath"]
    log("building graft and the benchmark's JVM runner (sbt, offline)")
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home(), SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx3g",
        "-Dsbt.server.autostart=false"] + [
        f"-Dsbt.repository.config={p}" for p in [os.path.expanduser("~/.sbt/repositories")]
        if os.path.exists(p)]))
    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, "build.log"), "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                             "export Runtime/fullClasspath"], cwd=BENCH, stdout=out,
                            stderr=subprocess.STDOUT, timeout=BUILD_DEADLINE_S, env=env).returncode
    with open(os.path.join(WORK, "build.log")) as fh:
        lines = [l.strip() for l in fh if l.strip()]
    if rc != 0 or not lines or "scala-2.13/classes" not in lines[-1]:
        raise Refused(f"build failed (rc={rc}); see {WORK}/build.log")
    os.makedirs(TARGET, exist_ok=True)
    with open(stamp, "w") as fh:
        json.dump({"fingerprint": fp, "classpath": lines[-1]}, fh)
    return lines[-1]


# ── inputs and their layout ─────────────────────────────────────────────
def sf_layout(sf_dir):
    """(part files, row groups, bytes) per sf table, as read from disk."""
    import pyarrow.parquet as pq
    out = {}
    for t in selfcheck().TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        files = sorted(glob.glob(os.path.join(p, "*.parquet"))) if os.path.isdir(p) else [p]
        files = [f for f in files if os.path.isfile(f)]
        if not files:
            continue
        out[t] = {"files": len(files),
                  "row_groups": sum(pq.ParquetFile(f).metadata.num_row_groups for f in files),
                  "bytes": sum(os.path.getsize(f) for f in files)}
    return out


def check_layout(spec, layout):
    want = {t: {k: v[k] for k in ("files", "row_groups")} for t, v in spec["layout"].items()}
    got = {t: {k: v[k] for k in ("files", "row_groups")} for t, v in layout.items()}
    if want != got:
        raise Refused(f"sf input layout {got} differs from the pinned layout {want}; "
                      "results on different layouts are not comparable")


# ── correctness ─────────────────────────────────────────────────────────
def frames_equal(a, b):
    """None when two canonical frames hold the same values, else the first
    difference (the exact-value comparison of tools/selfcheck.py)."""
    import pandas as pd
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} vs {len(b)}"
    for c in a.columns:
        av, bv = a[c], b[c]
        eq = (av.astype(object).where(pd.notna(av), None) ==
              bv.astype(object).where(pd.notna(bv), None)) | (pd.isna(av) & pd.isna(bv))
        if not eq.all():
            i = eq.idxmin()
            return f"col {c} row {i}: {av[i]!r} vs {bv[i]!r}"
    return None


def check_catalog(sf_dir, res, work, digest_members, pin):
    """Each member's correctness-pass result against its DuckDB oracle, or
    for `digest_members` against the digest pinned in digests.json, and
    every timed operation's row count against that result. With `pin`
    every member runs its oracle and the digests are written afresh."""
    import duckdb
    import pandas as pd
    sc = selfcheck()
    check = res["check"]
    pinned = {} if pin or not os.path.exists(DIGESTS) else load_json(DIGESTS)
    con = duckdb.connect()
    con.execute(f"SET threads TO {nproc()}")
    for t in sc.TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}/*.parquet'")
        elif os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    bad = {q: f"failed in the correctness pass: {e}" for q, e in check["errors"].items()}
    for q, sql in sorted(check["oracle_sql"].items()):
        if q in bad:
            continue
        out = os.path.join(work, "check", q)
        got = pd.concat([pd.read_parquet(f) for f in glob.glob(os.path.join(out, "*.parquet"))],
                        ignore_index=True)
        rows = {o[3] for o in res["ops"] if o[1] == q and o[4] is None}
        if rows - {len(got)}:  # every timed operation returns the checked row count
            bad[q] = f"timed passes returned {sorted(rows)} rows, the checked result has {len(got)}"
            continue
        if q in digest_members and not pin:
            want = pinned.get(q)
            got_digest = list(table_digest(out))
            if got_digest != want:
                bad[q] = f"digest {got_digest} differs from the pinned {want}"
            continue
        if sql is None:
            bad[q] = "no oracle and no pinned digest"
            continue
        try:
            diff = frames_equal(sc.canon(got), sc.canon(con.execute(sql).fetchdf()))
        except Exception as e:  # a broken oracle run is a failed check, not a crash
            diff = f"oracle error {e}"
        if diff:
            bad[q] = diff
        elif q in digest_members:
            pinned[q] = list(table_digest(out))
    if pin:
        if bad or sorted(pinned) != sorted(digest_members):
            raise Refused(f"not pinning: {bad or 'digest members missing'}")
        with open(DIGESTS, "w") as fh:
            json.dump(pinned, fh, indent=1, sort_keys=True)
            fh.write("\n")
        log(f"pinned {len(pinned)} digests in {DIGESTS}")
    return bad


def table_digest(path):
    """Order-independent digest of a published table: columns sorted by
    name, values stringified (NULL as a sentinel), rows sorted, md5 over
    the rows. Equal across row orders and part layouts, unlike the bytes."""
    import pyarrow.parquet as pq
    t = pq.read_table(path)
    cols = [t.column(c).to_pylist() for c in sorted(t.column_names)]
    rows = sorted("\x01".join("\u2400" if v is None else str(v) for v in r) for r in zip(*cols))
    md = hashlib.md5()
    for r in rows:
        md.update(r.encode())
    return len(rows), md.hexdigest()


def check_pipeline(manifest, check, res, work, tables):
    """Planted counts from the generator against the published tables, the
    published table set against the frozen list, and every pass's table
    digests against the correctness pass's."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    bad = {t: f"failed in the correctness pass: {e}" for t, e in check["errors"].items()}
    base = os.path.join(work, "publish", "check")
    listed = lambda d: sorted(os.listdir(d)) if os.path.isdir(d) else []
    digests = {t: table_digest(os.path.join(base, t)) for t in listed(base)}
    rows = lambda t: digests[t][0] if t in digests else None
    counts = {"admissions_rows": rows("admissions"), "exceptions_rows": rows("exceptions"),
              "joined_rows": rows("joined"),
              "summary_n_admissions": pc.sum(pq.read_table(
                  os.path.join(base, "summary_counts"), columns=["n_admissions"])
                  .column(0)).as_py() if "summary_counts" in digests else None}
    table_of = {"admissions_rows": "admissions", "exceptions_rows": "exceptions",
                "joined_rows": "joined", "summary_n_admissions": "summary_counts"}
    for k, want in manifest["expected"].items():
        if counts[k] != want:
            bad[table_of[k]] = f"{k}: published {counts[k]}, generator planted {want}"
    failures = []
    if sorted(digests) != tables:
        failures.append((-1, "table set", f"published {sorted(digests)}, expected {tables}"))
    for k in range(len(res["pass_wall_s"])):
        d = os.path.join(work, "publish", f"pass-{k}")
        for t in sorted(set(digests) | set(listed(d))):
            got = table_digest(os.path.join(d, t)) if os.path.isdir(os.path.join(d, t)) else None
            if got != digests.get(t):
                failures.append((k, t, f"digest {got} differs from the correctness pass"))
    return bad, failures


# ── metrics ─────────────────────────────────────────────────────────────
def tail(samples):
    """Highest whole percentile of the latencies that still leaves >= 10
    samples beyond it. Below 20 samples that percentile would sit at or
    under the median, so the tail is then the slowest operation's median
    latency (p = None)."""
    values = [v for _, v in samples]
    n = len(values)
    if n < 20:
        by_op = {}
        for name, v in samples:
            by_op.setdefault(name, []).append(v)
        return max(statistics.median(v) for v in by_op.values()), None, n
    p = int(100 * (1 - 10 / n))
    return statistics.quantiles(values, n=100, method="inclusive")[p - 1], p, n


def end_to_end(res, setup_s):
    """`wall_s` is the fastest untraced pass: CPU steal on a shared host
    only ever slows a pass, so the fast side of the repeats measures the
    program and the slow side the host. The per-operation metrics take
    every untraced operation of every pass as one sample."""
    untraced = {k for k, t in enumerate(res["pass_traced"]) if not t}
    walls = [res["pass_wall_s"][k] for k in sorted(untraced)]
    samples = [(o[1], o[2]) for o in res["ops"] if o[0] in untraced]
    lat = [v for _, v in samples]
    tail_s, p, n = tail(samples)
    return {
        "wall_s": (min(walls), "s"),
        "op_p50_s": (statistics.median(lat), "s"),
        "op_tail_s": (tail_s, "s"),
        "setup_s": (setup_s, "s"),
        "peak_heap_mb": (max(res["heap_mb"]), "MB"),
    }, (f"op_tail_s is p{p} of {n} operation samples ({n - int(n * p / 100)} beyond)" if p else
        f"op_tail_s is the slowest operation's median latency ({n} samples, too few for p50+)")


BUILD_SPANS = {"build", "run", "tableList", "hygiene"}
EXEC_SPANS = {"exec", "write"}


def union_ms(intervals, lo, hi):
    """Length of the union of [s, e] intervals clipped to [lo, hi]."""
    total, cur = 0.0, lo
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= cur:
            continue
        total += e - max(s, cur)
        cur = e
    return total


def layers_of_pass(res, k, input_bytes, table_names):
    tr = res["trace"]
    spans = [s for s in tr["spans"] if s[4] == k]
    by_id = {s[0]: s for s in spans}
    jobs = [j for j in tr["jobs"] if j[1] in by_id]
    job_span = {j[0]: by_id[j[1]] for j in jobs}
    stages = [st for st in tr["stages"] if st["job"] in job_span]
    dur = lambda names: sum(s[6] - s[5] for s in spans if s[2] in names) / 1e3
    exec_stages = [st for st in stages if job_span[st["job"]][2] in EXEC_SPANS]
    build_gap = 0.0
    for s in spans:
        if s[2] in BUILD_SPANS:
            iv = [(j[2], j[3]) for j in jobs if j[1] == s[0]]
            build_gap += (s[6] - s[5]) - union_ms(iv, s[5], s[6])
    skews = []
    for st in exec_stages:
        ms = st["task_ms"]
        if len(ms) >= 2:
            skews.append(max(ms) / max(statistics.median(ms), 1.0))
    exec_s = dur(EXEC_SPANS)
    cpu_s = sum(st["cpu_ns"] for st in exec_stages) / 1e9
    read_b = res["pass_read_bytes"][k]
    write_b = sum(st["output"] for st in stages)
    m = {
        "build.s": dur(BUILD_SPANS),
        "build.jobs": sum(1 for j in jobs if job_span[j[0]][2] in BUILD_SPANS),
        "build.gap_s": build_gap / 1e3,
        "plan.s": dur({"plan"}),
        "exec.s": exec_s,
        "exec.jobs": sum(1 for j in jobs if job_span[j[0]][2] in EXEC_SPANS),
        "exec.stages": len(exec_stages),
        "exec.tasks": sum(len(st["task_ms"]) for st in exec_stages),
        "exec.cpu_s": cpu_s,
        "exec.cpu_util": cpu_s / (exec_s * res["cpus"]) if exec_s > 0 else 0.0,
        "exec.gc_s": sum(st["gc_ms"] for st in exec_stages) / 1e3,
        "exec.task_wait_s": sum(l - st["submit"] for st in exec_stages
                                for l in st["task_launch"]) / 1e3,
        "exec.shuffle_read_bytes": sum(st["shuffle_read"] for st in exec_stages),
        "exec.shuffle_write_bytes": sum(st["shuffle_write"] for st in exec_stages),
        "exec.spill_bytes": sum(st["spill"] for st in exec_stages),
        "exec.task_skew": statistics.quantiles(skews, n=10, method="inclusive")[8]
                          if len(skews) >= 2 else (skews[0] if skews else 1.0),
        "sources.read_bytes": read_b,
        "sources.read_ratio": read_b / input_bytes,
        "sources.write_s": dur({"write"}),
        "sources.swap_s": dur({"swap"}),
        "sources.write_bytes": write_b,
        "written_bytes_per_input_byte": write_b / input_bytes,
    }
    for t in table_names:
        root = [s for s in spans if s[2] == "op" and s[3] == t]
        m[f"pipeline.table.{t}.s"] = sum(s[6] - s[5] for s in root) / 1e3
        m[f"pipeline.table.{t}.jobs"] = sum(1 for j in jobs if job_span[j[0]][3] == t)
    return m


UNITS = {"s": "s", "jobs": "count", "stages": "count", "tasks": "count", "cpu_util": "ratio",
         "task_skew": "ratio", "bytes": "bytes", "ratio": "ratio", "byte": "ratio"}


def unit_of(name):
    last = name.rsplit(".", 1)[-1]
    for suffix, unit in UNITS.items():
        if last == suffix or last.endswith("_" + suffix):
            return unit
    raise KeyError(name)


def per_layer(res, input_bytes, table_names):
    """Medians over the traced passes, plus the tracing overhead: passes
    alternate untraced / traced, starting and ending untraced; each traced
    pass's wall minus the mean of its two untraced neighbours (a linear
    warm-up trend cancels) is one estimate, and the overhead is their
    median."""
    tr = res["trace"]
    got = {"jobs": len(tr["jobs"]), "stages": len(tr["stages"]),
           "tasks": sum(len(st["task_ms"]) for st in tr["stages"])}
    if got != tr["counts"]:  # the listener's atomic counters saw events the records lack
        raise Refused(f"listener records {got} disagree with its counters {tr['counts']}")
    traced = [k for k, t in enumerate(res["pass_traced"]) if t]
    per_pass = [layers_of_pass(res, k, input_bytes, table_names) for k in traced]
    out = {name: (statistics.median(p[name] for p in per_pass), unit_of(name))
           for name in per_pass[0]}
    walls = res["pass_wall_s"]
    overhead = statistics.median(walls[k] - (walls[k - 1] + walls[k + 1]) / 2 for k in traced)
    untraced = [w for w, t in zip(walls, res["pass_traced"]) if not t]
    noise = max(untraced) - min(untraced)
    out["trace.overhead_s"] = (overhead, "s")
    out["trace.overhead_ratio"] = (overhead / statistics.median(untraced), "ratio")
    note = (f"tracing overhead {overhead:+.3f} s from {len(traced)} traced pass(es): "
            + ("resolved" if abs(overhead) > noise else
               f"unresolved, within the {noise:.3f} s spread of the untraced passes"))
    return out, note


# ── one run ─────────────────────────────────────────────────────────────
def run(args):
    spec_all = load_json(os.path.join(BENCH, "workloads.json"))
    if args.workload not in spec_all["workloads"]:
        raise Refused(f"unknown workload {args.workload}")
    spec = spec_all["workloads"][args.workload]
    classpath = build()
    t_ready = time.monotonic()  # the first run may spend most of its time building
    work = os.path.join(WORK, f"run-{args.workload}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    sf_dir = os.path.expanduser(spec_all["sf_dir"])
    layout = sf_layout(sf_dir) if os.path.isdir(sf_dir) else {}
    cpus = nproc()
    setup_gen = 0.0
    jvm_args = ["--workload", args.workload, "--work", work, "--cpus", str(cpus),
                "--trace", str(args.trace), "--seconds", str(args.seconds),
                "--min-passes", str(2 * spec["min_passes"] - 1 if args.trace else spec["min_passes"])]
    if args.workload == "pipeline_publish":
        gen_times = []
        for _ in range(3):  # the generator is its own step; repeat it for a steady median
            t0 = time.monotonic()
            subprocess.run([sys.executable, os.path.join(BENCH, "gen_sessions.py"),
                            "--seed", str(args.seed), "--out", os.path.join(work, "gen")],
                           check=True)
            gen_times.append(time.monotonic() - t0)
        setup_gen = statistics.median(gen_times)
        manifest = load_json(os.path.join(work, "gen", "manifest.json"))
        input_bytes = manifest["input_bytes"]
        jvm_args += ["--corpus", os.path.join(work, "gen", "corpus")]
    else:
        if not layout:
            raise Refused(f"catalog input {sf_dir} is missing")
        check_layout(spec_all, layout)
        members = list(spec["members"])
        random.Random(args.seed).shuffle(members)  # the seed is the run order
        input_bytes = sum(v["bytes"] for v in layout.values())
        jvm_args += ["--sf", sf_dir, "--members", ",".join(members)]
    cmd = (["java", f"-Xmx{spec_all['heap']}", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}"]
           + ADD_OPENS + ["-cp", classpath, "graftbench.PerfBench"] + jvm_args)
    remaining = JVM_DEADLINE_S - (time.monotonic() - t_ready)
    with open(os.path.join(work, "jvm.log"), "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                                env=dict(os.environ, SPARK_LOCAL_DIRS=f"{work}/spark-local"))
        try:
            rc = proc.wait(timeout=max(remaining, 1.0))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise Refused(f"the JVM did not finish within {JVM_DEADLINE_S:.0f} s")
    if rc != 0:
        raise Refused(f"the JVM exited with {rc}; see {work}/jvm.log")
    res = load_json(os.path.join(work, "result.json"))

    failures = [(o[0], o[1], o[4]) for o in res["ops"] if o[4] is not None]
    table_names = spec_all["pipeline_tables"]
    if args.workload == "pipeline_publish":
        bad, more = check_pipeline(manifest, res["check"], res, work, table_names)
        failures += more
    else:
        bad = check_catalog(sf_dir, res, work, spec.get("digest_members", []), args.pin)
    failed_ops = {(o[0], o[1]) for o in res["ops"] if o[1] in bad}
    failed_ops |= {(k, name) for k, name, _ in failures}
    attempted = len(res["ops"])
    failed = len(failed_ops)
    setup_s = (setup_gen + res["jvm_start_s"] + statistics.median(res["session_start_s"])
               + res["check_s"])
    e2e, tail_note = end_to_end(res, setup_s)
    metrics, trace_note = per_layer(res, input_bytes, table_names) if args.trace else (e2e, None)
    for q, why in sorted(bad.items()):
        log(f"FAIL {q}: {why}")
    for k, name, why in failures:
        log(f"FAIL pass {k} {name}: {why}")
    for name, (v, unit) in e2e.items():
        print(f"{args.workload} {name} = {v:.6g} {unit}")
    print(f"{args.workload} failed_ratio = {failed / attempted:.6g} ({failed} of {attempted} operations)")
    print(f"{args.workload} {tail_note}")
    if args.trace:
        for name, (v, unit) in metrics.items():
            print(f"{args.workload} {name} = {v:.6g} {unit}")
        print(f"{args.workload} {trace_note}")
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "seconds": args.seconds,
              "layout": {"nproc": cpus, "sf": layout,
                         "corpus_bytes": input_bytes if args.workload == "pipeline_publish" else None},
              "passes": len(res["pass_wall_s"]), "pass_wall_s": res["pass_wall_s"],
              "failed_ratio": failed / attempted, "tail": tail_note, "trace_note": trace_note,
              "bad": bad,
              "failures": [list(f) for f in failures],
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
              "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}}
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results",
                           f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    print(json.dumps({"correct": failed == 0 and not bad, "attempted": attempted,
                      "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


def main():
    ap = argparse.ArgumentParser(description="graft benchmark (one workload per run)")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pin", action="store_true",
                    help="catalog only: check every member against its oracle and re-pin digests.json")
    args = ap.parse_args()
    try:
        run(args)
    except (Refused, subprocess.SubprocessError, OSError) as e:
        log(f"refused: {e}")
        sys.exit(2)


if __name__ == "__main__":
    main()
