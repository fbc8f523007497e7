#!/usr/bin/env python3
"""Benchmark of the state-economics engine: one workload per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the harness from source (perfbench/build.py), runs
the workload in one JVM on a local[nproc] Spark session, checks that the
outputs are correct, and prints a report followed by one JSON line:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1. Exits
non-zero when the build, the run or a correctness check fails. See
perfbench/README.md for the workloads and metrics.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("etl_refresh", "faces_sweep")
# the committed copy of the sf0.1 test tables the faces read
DATA = os.path.join(HERE, "data", "sf0.1")
MODULES = ("io", "expr", "ops", "quality", "pipeline", "profile", "serve", "text", "sim",
           "dedup", "graph", "functions", "multimodal", "queries", "util")
# the JVM is stopped well inside the 180 s a run may take
JVM_TIMEOUT_S = 165
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def load_faces():
    with open(os.path.join(HERE, "faces.json")) as f:
        spec = json.load(f)
    return spec


def face_family(name, families):
    for fam in families:
        if name.startswith(fam):
            return fam
    raise ValueError(f"face {name} has no family")


# ---------------------------------------------------------------- records

class Records:
    def __init__(self, path):
        self.rows = []
        with open(path, encoding="utf-8") as f:
            for line in f:
                self.rows.append(line.rstrip("\n").split("\t"))

    def kind(self, k):
        return [r[1:] for r in self.rows if r[0] == k]

    def value(self, name):
        vals = [float(r[1]) for r in self.kind("value") if r[0] == name]
        return vals[-1] if vals else None

    def mark(self, name):
        ms = [int(r[1]) for r in self.kind("mark") if r[0] == name]
        return ms[-1] if ms else None

    def samples(self, pred, window=None):
        """[(series, t0, t1, ok)] whose series matches pred, started in window."""
        out = []
        for s, t0, t1, ok in self.kind("sample"):
            t0, t1 = int(t0), int(t1)
            if pred(s) and (window is None or window[0] <= t0 < window[1]):
                out.append((s, t0, t1, ok == "1"))
        return out


def ms(samples):
    return [(t1 - t0) / 1e6 for _, t0, t1, _ in samples]


def op_series(workload):
    return {
        "etl_refresh": lambda s: s == "refresh",
        "faces_sweep": lambda s: s.startswith("face."),
    }[workload]


def op_ms(workload, ops):
    """The workload's per-operation time: the median refresh; for faces,
    the geometric mean of per-face medians."""
    if workload != "faces_sweep":
        return stats.median(ms(ops))
    by_face = {}
    for s, t0, t1, _ in ops:
        by_face.setdefault(s, []).append((t1 - t0) / 1e6)
    return stats.geomean([stats.median(v) for v in by_face.values()])


# ---------------------------------------------------------------- metrics

def end_to_end(rec, workload, window):
    ops = rec.samples(op_series(workload), window)
    done = [o for o in ops if o[3]]
    if not done:
        raise RuntimeError("no successful operation in the timed region")
    # session start, then the workload's set-up, which ends with one cold
    # pass of the program (a refresh, or every face once)
    setup = ms(rec.samples(lambda s: s == "setup"))
    return {
        "setup_s": (rec.value("session_s") + setup[0] / 1e3, "s"),
        "op_ms": (op_ms(workload, done), "ms"),
    }, {"ops": len(ops), "failed": len(ops) - len(done)}


def report(rec, workload, window):
    """The workload's named end-to-end figures (human-readable report)."""
    lines = []
    ops = rec.samples(op_series(workload), window)
    att, failed = stats.failures(o[3] for o in ops)
    wall = (window[1] - window[0]) / 1e9

    def timing(name, xs, unit, scale=1.0):
        if not xs:
            return
        lines.append(f"{name} = {stats.median(xs) * scale:.4f} {unit} (median of {len(xs)})")

    lines.append(f"wall_s = {wall:.4f} s")
    # the whole JVM's CPU time over the region, per operation
    lines.append(f"op_cpu_ms = {rec.value('timed.cpu_s') * 1e3 / max(att, 1):.4f} ms")
    lines.append(f"failed_frac = {failed / max(att, 1):.4f} ratio ({failed} of {att})")
    if workload == "etl_refresh":
        timing("refresh_s", ms(ops), "s", 1e-3)
    elif workload == "faces_sweep":
        by_face = {}
        for s, t0, t1, _ in ops:
            by_face.setdefault(s, []).append((t1 - t0) / 1e6)
        med = {k: stats.median(v) for k, v in by_face.items()}
        lines.append(f"faces_s = {sum(med.values()) / 1e3:.4f} s "
                     f"(sum of {len(med)} per-face medians)")
        lines.append(f"faces_geomean_ms = {stats.geomean(list(med.values())):.4f} ms")
    return lines


def per_layer(rec, workload, window, faces_spec):
    lo, hi = window
    ops = rec.samples(op_series(workload), window)
    n = max(1, len(ops))
    m = {}
    # Spark engine: events inside the traced region, per operation
    jobs = [r for r in rec.kind("job") if lo <= int(r[1]) * 10**6 < hi]
    stages = [r for r in rec.kind("stage")
              if int(r[1]) > 0 and lo <= int(r[1]) * 10**6 < hi]
    intervals = [(int(r[1]) * 10**6, int(r[2]) * 10**6) for r in stages if int(r[2]) > 0]
    m["spark.jobs"] = (len(jobs) / n, "count")
    m["spark.stages"] = (len(stages) / n, "count")
    m["spark.tasks"] = (sum(int(r[3]) for r in stages) / n, "count")
    sql_ex = sum(int(r[2]) for r in rec.kind("sqlexec") if lo <= int(r[1]) < hi)
    # a face's plan is the same on every pass: the last one recorded
    plans = {name: int(ex) for name, ex in rec.kind("faceplan")}
    face_ex = sum(plans.get(s[5:], 0) for s, *_ in ops) if workload == "faces_sweep" else 0
    m["spark.exchanges"] = ((sql_ex + face_ex) / n, "count")
    m["spark.exec_cpu_s"] = (sum(int(r[4]) for r in stages) / 1e9 / n, "s")
    m["spark.shuffle_write_mb"] = (sum(int(r[5]) for r in stages) / 2**20 / n, "MB")
    m["spark.shuffle_read_mb"] = (sum(int(r[6]) for r in stages) / 2**20 / n, "MB")
    m["spark.gc_s"] = (sum(int(r[3]) for r in rec.kind("gc") if lo <= int(r[0]) < hi)
                       / 1e3 / n, "s")
    m["spark.driver_gap_s"] = (stats.gap(window, intervals) / 1e9 / n, "s")

    # module layers: sampled busy thread-seconds per operation
    ticks = rec.kind("ticks")
    nticks = int(ticks[-1][0]) if ticks else 0
    per_tick = (hi - lo) / 1e9 / nticks if nticks else 0.0
    counts = {name: int(c) for name, c in rec.kind("layer")}
    for mod in MODULES:
        m[f"layer.{mod}_s"] = (counts.get("graft." + mod, 0) * per_tick / n, "s")
    m["layer.spark_s"] = (counts.get("spark", 0) * per_tick / n, "s")

    # ETL stages: per refresh, span self time summed over the 11 tables
    spans = {int(r[0]): (int(r[1]), int(r[3]), int(r[4])) for r in rec.kind("span")
             if lo <= int(r[3]) < hi}
    names = {int(r[0]): r[2] for r in rec.kind("span")}
    self_ns = stats.self_times(spans)
    for name, metric in (("pipeline.build", "pipeline.build_s"), ("io.sink", "io.sink_s"),
                         ("profile.report", "profile.report_s")):
        tot = sum(t for sid, t in self_ns.items() if names[sid] == name)
        m[metric] = (tot / 1e9 / n if workload == "etl_refresh" else 0.0, "s")
    written = [int(r[0]) for r in rec.kind("bytes_written")]
    m["io.bytes_written"] = (stats.median(written) if written else 0, "bytes")

    # residency: persisted RDDs left behind by the region's operations
    leaked = sum(int(a) - int(b) for s, t, b, a in rec.kind("cache")
                 if op_series(workload)(s) and lo <= int(t) < hi)
    m["cache.rdds_leaked"] = (leaked, "count")

    # faces: per family summed medians, and the roadmap faces
    by_face = {}
    for s, t0, t1, _ in ops if workload == "faces_sweep" else []:
        by_face.setdefault(s[5:], []).append((t1 - t0) / 1e9)
    fams = faces_spec["families"]
    for fam in fams:
        tot = sum(stats.median(v) for f, v in by_face.items() if face_family(f, fams) == fam)
        m[f"queries.{fam.rstrip('_')}_s"] = (tot, "s")
    for f in faces_spec["roadmap"]:
        m[f"face.{f}_s"] = (stats.median(by_face[f]) if f in by_face else 0.0, "s")

    # tracing overhead: the traced region's op time against the untraced one
    plain = (rec.mark("plain_start"), rec.mark("plain_end"))
    pops = [o for o in rec.samples(op_series(workload), plain) if o[3]] if plain[0] else []
    tops = [o for o in ops if o[3]]
    m["trace.overhead_frac"] = (op_ms(workload, tops) / op_ms(workload, pops) - 1
                                if pops and tops else 0.0, "ratio")
    # driver heap still in use after the full GC forced right after the
    # region: what the region's work left live. Not an end-to-end metric:
    # it varied 12-21 % between runs of one workload (README).
    forced = [int(r[2]) for r in rec.kind("gc")
              if int(r[0]) >= hi and r[4] == "System.gc()"]
    m["jvm.live_heap_mb"] = ((forced[0] if forced else 0) / 2**20, "MB")
    warm = ms(rec.samples(lambda s: s == "warmup"))
    m["warmup_s"] = (warm[0] / 1e3 if warm else 0.0, "s")
    return m


# ---------------------------------------------------------------- driver

def java_cmd(classpath, args, run_dir):
    opens = []
    for p in ADD_OPENS:
        opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    return (["java", "-Xms2g", "-Xmx2g", "-XX:+UseG1GC", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
             f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
             "-Dspark.ui.enabled=false"] + opens +
            ["-cp", classpath, "perfbench.Main"] + args)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    classpath = build.build(quiet=True)
    faces_spec = load_faces()
    run_dir = os.path.join(build.OUT, f"run-{a.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    out = os.path.join(run_dir, "records.tsv")
    faces = ",".join(f"{f['name']}:{f['rows']}" for f in faces_spec["faces"])
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--run-dir", run_dir, "--data-dir", DATA,
            "--faces", faces, "--out", out]
    proc = None

    def stop(signum, frame):
        # a stopped benchmark leaves no JVM behind
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        raise SystemExit(f"{a.workload}: stopped by signal {signum}")

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        # Spark prefers SPARK_LOCAL_DIRS to spark.local.dir: keep it inside
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
        proc = subprocess.Popen(java_cmd(classpath, args, run_dir), cwd=run_dir, env=env,
                                stdout=sys.stderr, stderr=sys.stderr)
        try:
            proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"{a.workload}: the run did not finish in {JVM_TIMEOUT_S} s")
        if not os.path.exists(out):
            raise SystemExit(f"{a.workload}: the harness exited {proc.returncode} without records")
        rec = Records(out)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    checks = rec.kind("check")
    bad = [c for c in checks if c[1] != "1"]
    window = (rec.mark("timed_start"), rec.mark("timed_end"))
    if window[0] is None or window[1] is None:
        for c in bad:
            print(f"check failed: {c[0]}: {c[2] if len(c) > 2 else ''}")
        raise SystemExit(f"{a.workload}: no timed region recorded")
    e2e, extra = end_to_end(rec, a.workload, window)
    for line in report(rec, a.workload, window):
        print(line)
    print(f"checks: {len(checks) - len(bad)} of {len(checks)} passed")
    for c in bad:
        print(f"check failed: {c[0]}: {c[2] if len(c) > 2 else ''}")
    if a.trace:
        metrics = per_layer(rec, a.workload, window, faces_spec)
    else:
        metrics = e2e
    for k, (v, u) in metrics.items():
        print(f"{k} = {v:.6g} {u}")
    correct = not bad and proc.returncode == 0 and len(checks) > 0
    print(json.dumps({
        "correct": correct,
        "attempted": extra["ops"],
        "failed": extra["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
