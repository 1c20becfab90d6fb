#!/usr/bin/env python3
"""Lake benchmark for graft: one closed-loop client, Spark in local[nproc].

    python3 lakebench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds graft and the harness
from source with sbt (cached under lakebench/.work until a source file
changes), generates the seed's inputs with DuckDB, runs the workload in one
JVM, checks every result, prints one line per metric, and ends with one
JSON line: {"correct", "attempted", "failed", "metrics"}. `--trace 0`
reports the end-to-end metrics, `--trace 1` the per-layer ones (a traced
segment, then as many untraced operations, for trace.overhead_pct).
Exit status: 0 when every result is right, 1 on a wrong result, 2 when the
run cannot be made at all.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

# the generated tables each workload reads
INPUTS = {"scan_mix": ("embeddings",), "lake_ingest": ("orders",),
          "stream_stateful": ("events",)}
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
# per-layer metrics of the traced run: layer sums divided by traced ops,
# except the run-level ones below
PER_OP_LAYERS = [
    "build.ms", "catalyst.analyze_ms", "catalyst.optimize_ms", "catalyst.physical_ms",
    "exec.ms", "sched.driver_gap_ms", "sched.jobs", "sched.stages", "sched.tasks",
    "sched.task_wait_ms", "sched.task_run_ms", "sched.task_cpu_ms", "scan.bytes_read",
    "scan.records_read", "shuffle.write_bytes", "shuffle.read_bytes", "spill.memory_bytes",
    "spill.disk_bytes", "plan.exchanges", "plan.broadcasts", "plan.rdd_scans",
    "sources.files_added", "sources.data_bytes_written", "sources.meta_bytes_written",
    "stream.batches", "stream.input_rows", "stream.state_rows", "stream.state_mem_bytes",
    "stream.late_rows_dropped", "jvm.gc_ms"]
# traced figures of one workload only: printed, not in the JSON line
REPORT_LAYERS = [
    "commit.append.delta_ms", "commit.append.iceberg_ms", "commit.delete.delta_ms",
    "commit.delete.iceberg_ms", "commit.upsert.delta_ms", "commit.upsert.iceberg_ms",
    "commit.compact.delta_ms", "commit.compact.iceberg_ms", "sources.snapshot_ms",
    "shuffle.fetch_wait_ms", "stream.trigger_ms", "stream.plan_ms", "stream.get_batch_ms",
    "stream.add_batch_ms", "stream.wal_commit_ms", "stream.state_commit_ms", "sched.floor_ms"]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def fail(msg):
    log(f"lakebench: {msg}")
    sys.exit(2)


# ------------------------------------------------------------------ build
def sources_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(REPO, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(REPO, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(REPO, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile graft and the harness; returns the runtime classpath."""
    if not (os.path.isfile(os.path.join(REPO, "build.sbt")) and
            os.path.isdir(os.path.join(REPO, "src", "main", "scala"))):
        fail("graft's sources are not beside lakebench/ (run from a full checkout)")
    os.makedirs(WORK, exist_ok=True)
    stamp_file, cp_file = os.path.join(WORK, "build.stamp"), os.path.join(WORK, "classpath")
    stamp = sources_stamp()
    if os.path.isfile(stamp_file) and os.path.isfile(cp_file):
        with open(stamp_file) as f, open(cp_file) as g:
            cp = g.read().strip()
            if f.read().strip() == stamp and all(os.path.exists(p) for p in cp.split(os.pathsep)):
                return cp
    log("lakebench: building graft and the harness with sbt")
    t0 = time.time()
    shutil.rmtree(os.path.join(WORK, "cds"), ignore_errors=True)
    with open(os.path.join(WORK, "build.log"), "w") as out:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, stdout=subprocess.PIPE, stderr=out, text=True,
                           timeout=840, stdin=subprocess.DEVNULL)
        out.write(p.stdout)
    lines = [x for x in p.stdout.splitlines() if x and not x.startswith("[") and ".jar" in x]
    if p.returncode != 0 or not lines:
        fail(f"sbt build failed (exit {p.returncode}); see {WORK}/build.log")
    cp = jar_classpath(lines[-1].strip())
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"lakebench: built in {time.time() - t0:.0f} s")
    return cp


def jar_classpath(cp):
    """The classpath with each class directory packed into a jar under
    .work/cds: the JVM's class-data sharing archives classes from jars only."""
    d = os.path.join(WORK, "cds")
    os.makedirs(d, exist_ok=True)
    out = []
    for i, p in enumerate(cp.split(os.pathsep)):
        if os.path.isdir(p):
            jar = os.path.join(d, f"classes{i}.jar")
            with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
                for root, dirs, names in os.walk(p):
                    dirs.sort()
                    for n in sorted(names):
                        f = os.path.join(root, n)
                        z.write(f, os.path.relpath(f, p))
            p = jar
        out.append(p)
    return os.pathsep.join(out)


def cds_flags(cp, args):
    """JVM flags that load the workload's classes from a class-data sharing
    archive, which halves a cold JVM's first set-up. After a build, the
    first run makes every workload's archive, each by an untimed run of
    that workload with a zero-second window, so that only the run that
    builds pays for them and every measured run maps its archive."""
    for w in sorted(INPUTS):
        jsa = os.path.join(WORK, "cds", f"{w}.jsa")
        if not os.path.isfile(jsa):
            t0 = time.time()
            run_jvm(cp, w, args.seed, inputs(args.seed, INPUTS[w]), seconds=0, trace=0,
                    flags=[f"-XX:ArchiveClassesAtExit={jsa}"])
            log(f"lakebench: {w} class-data sharing archive made in {time.time() - t0:.0f} s")
    jsa = os.path.join(WORK, "cds", f"{args.workload}.jsa")
    return [f"-XX:SharedArchiveFile={jsa}"] if os.path.isfile(jsa) else []


# ------------------------------------------------------------------- data
def inputs(seed, names):
    """The seed's generated tables, cached per seed and generator version."""
    import gen
    with open(gen.__file__, "rb") as f:
        tag = hashlib.sha256(f.read()).hexdigest()[:12]
    d = os.path.join(WORK, "data", f"{seed}-{tag}")
    gen.generate(d, seed, names)
    cached = sorted((os.path.join(WORK, "data", x) for x in os.listdir(os.path.join(WORK, "data"))),
                    key=os.path.getmtime)
    for old in cached[:-24]:
        if old != d:
            shutil.rmtree(old, ignore_errors=True)
    return d


# -------------------------------------------------------------------- run
def run_jvm(cp, workload, seed, data, seconds, trace, flags):
    root = os.path.join(WORK, "run")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(os.path.join(root, "tmp"))
    out_file = os.path.join(WORK, "result.json")
    if os.path.exists(out_file):
        os.remove(out_file)
    cmd = ["java", "-Xms3g", "-Xmx3g", "-Xss4m"] + flags
    for o in JVM_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    # no hsperfdata file: the JVM would otherwise write one outside the root
    cmd += ["-XX:-UsePerfData", "-Dspark.ui.enabled=false", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={os.path.join(root, 'tmp')}",
            "-cp", cp, "lakebench.LakeBench",
            "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace),
            "--data", data, "--root", root, "--out", out_file]
    jvm_log = os.path.join(WORK, "jvm.log")
    with open(jvm_log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=seconds + 140)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"the JVM did not finish in time; see {jvm_log}")
    if not os.path.isfile(out_file):
        with open(jvm_log) as f:
            tail = f.read()[-3000:]
        fail(f"the JVM exited {rc} without a result:\n{tail}")
    with open(out_file) as f:
        return json.load(f), rc


def pct(values, q):
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(INPUTS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    t0 = time.time()
    cp = build()
    flags = cds_flags(cp, args)
    t1 = time.time()
    data = inputs(args.seed, INPUTS[args.workload])
    t2 = time.time()
    out, rc = run_jvm(cp, args.workload, args.seed, data, args.seconds, args.trace, flags)
    t3 = time.time()
    import check
    bad, msgs, extras = check.check(out, data)
    ph = out["jvm_phases_s"]
    log(f"lakebench: build {t1 - t0:.1f} s, inputs {t2 - t1:.1f} s, jvm {t3 - t2:.1f} s "
        f"(set-ups {ph['setup']:.1f}, warm-up {ph['warm']:.1f}, window {ph['window']:.1f}), "
        f"checks {time.time() - t3:.1f} s")
    for m in msgs[:20]:
        log(f"WRONG {m}")

    measured = out["ops"][out["measured_from"]:]
    # the end-to-end figures come from untraced ops only (in a traced run,
    # the untraced segment after the traced one)
    timed = [o for o in measured if not o["traced"]]
    reads = [o["ms"] for o in timed if o["kind"] == "read"]
    commits = [o for o in timed if o["kind"] == "commit"]
    attempted = len(measured)
    failed = len([o for o in measured if o["i"] in bad]) + (1 if -1 in bad else 0)
    if not reads:
        fail("no read completed in the timed window")
    window_s = sum(o["ms"] for o in timed) / 1000 if args.trace else out["wall_s"]

    # the gated end-to-end metrics: every workload has them
    e2e = {
        "setup_s": (statistics.median(out["setup_s"][1:]), "s"),
        "read_ms_p50": (statistics.median(reads), "ms"),
        "reads_per_s": (len(reads) / window_s, "1/s"),
        "retained_heap_mb": (out["retained_heap_mb"], "MB"),
    }
    # printed beside them: p90 with its sample count (too few reads per run
    # to gate on), the workload-only figures, and the run's context
    context = {"read_ms_p90": (pct(reads, 90), "ms"), "reads": (len(reads), "count"),
               "fail_ratio": (failed / attempted, "ratio"),
               "setup_first_s": (out["setup_s"][0], "s"),
               "nproc": (out["nproc"], "count"),
               "loadavg_1m_start": (out["loadavg_1m_start"], "load"),
               "loadavg_1m_end": (out["loadavg_1m_end"], "load"),
               "cpu_steal_pct": (out["cpu_steal_pct"], "%"),
               "tmp_bytes_left": (out["tmp_bytes_left"], "bytes"),
               "tmp_entries_left": (out["tmp_entries_left"], "count")}
    if commits:
        cms = [o["ms"] for o in commits]
        rows_in = extras["rows_in"]
        ing = out["ingest"]
        src_bytes = os.path.getsize(os.path.join(data, "orders.parquet"))
        import gen
        src_rows = gen.ROWS["orders"]
        committed = sum(rows_in[o["k"]] for o in commits)
        context.update({
            "commit_ms_p50": (statistics.median(cms), "ms"),
            "commit_ms_p90": (pct(cms, 90), "ms"),
            "commits": (len(cms), "count"),
            "ingest_rows_per_s": (committed / (sum(cms) / 1000), "rows/s"),
            "storage_amp": (ing["table_bytes"] / (2 * sum(rows_in) * src_bytes / src_rows), "x"),
        })
    if args.workload == "stream_stateful":
        passes = {}
        for o in timed:
            passes.setdefault(o["pass"], []).append(o["ms"])
        whole = [sum(v) / 1000 for v in passes.values() if len(v) == 3]
        context["stream_pass_s"] = (statistics.median(whole) if whole else
                                    3 * statistics.median(reads) / 1000, "s")
        context["stream_rows_per_s"] = (sum(o["input_rows"] for o in timed) /
                                        (sum(o["ms"] for o in timed) / 1000), "rows/s")
    for name in sorted({o["name"] for o in timed}):
        v = [o["ms"] for o in timed if o["name"] == name]
        context[f"op.{name}.p50_ms"] = (statistics.median(v), "ms")

    metrics = {}
    if args.trace:
        tr = out["trace"]
        layers = tr["layers"]
        traced_ops = layers.get("trace.ops", 0) or 1
        # traced segment against the untraced segment right after it
        seg = {}
        for o in measured:
            seg.setdefault((o["name"], o["traced"]), []).append(o["ms"])
        names = {n for (n, t) in seg if t} & {n for (n, t) in seg if not t}
        over = (sum(statistics.median(seg[(n, True)]) for n in names) /
                sum(statistics.median(seg[(n, False)]) for n in names) - 1) * 100 \
            if names else 0.0
        for k in PER_OP_LAYERS:
            metrics[k] = {"value": layers.get(k, 0.0) / traced_ops, "unit": unit_of(k)}
        known = layers.get("scan.files_read_ops", 0)
        metrics["scan.files_read"] = {"value": layers.get("scan.files_read", 0.0) / known
                                      if known else 0.0, "unit": "count"}
        tot = layers.get("scan.files_total_ops", 0)
        metrics["scan.files_total"] = {"value": layers.get("scan.files_total", 0) / tot
                                       if tot else 0.0, "unit": "count"}
        metrics["scan.files_ratio"] = {"value": metrics["scan.files_read"]["value"] /
                                       metrics["scan.files_total"]["value"]
                                       if tot and known else 0.0, "unit": "ratio"}
        metrics["sources.versions"] = {"value": layers.get("sources.versions", 0.0),
                                       "unit": "count"}
        metrics["jvm.tmp_bytes_left"] = {"value": layers.get("jvm.tmp_bytes_left", 0.0),
                                         "unit": "bytes"}
        metrics["trace.overhead_pct"] = {"value": over, "unit": "%"}
        report_layers(out, layers, traced_ops, args)
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}

    for k, (v, u) in list(e2e.items()) + list(context.items()):
        print(f"{args.workload} {k} = {v:.6g} {u}")
    print(json.dumps({"correct": not bad and rc == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if not bad and rc == 0 else 1)


def unit_of(k):
    if k.endswith("_ms") or k.endswith(".ms"):
        return "ms"
    if k.endswith("_bytes") or k.endswith(".bytes_read") or "bytes" in k:
        return "bytes"
    return "count"


def report_layers(out, layers, traced_ops, args):
    """Print the traced run's one-workload figures and per-op self times,
    and keep the spans in lakebench/.work/trace-<workload>.json."""
    commits = {}
    for o in out["ops"][out["measured_from"]:]:
        if o["traced"] and o["kind"] == "commit":
            commits.setdefault(o["name"] + "_ms", []).append(o["ms"])
    for k in REPORT_LAYERS:
        if k in commits:
            v = statistics.median(commits[k])
        elif k == "sched.floor_ms":
            fl = out.get("floor_ms")
            v = statistics.mean(fl.values()) if fl else None
        elif k == "sources.snapshot_ms":
            n = layers.get("sources.snapshot_calls", 0)
            v = layers.get(k, 0.0) / n if n else None
        else:
            v = layers.get(k, 0.0) / traced_ops if k in layers else None
        print(f"{args.workload} layer {k} = {'n/a' if v is None else f'{v:.6g}'}")
    self_by = {}
    spans = out["trace"]["spans"]
    op_name = {o["i"]: o["name"] for o in out["ops"]}
    for s in spans:
        key = (op_name.get(s["op"], "?"), s["name"])
        self_by.setdefault(key, []).append(s["self_ms"])
    for (op, span), v in sorted(self_by.items()):
        print(f"{args.workload} self {op} {span} = {statistics.median(v):.3f} ms (n={len(v)})")
    # exact plan-shape counts per read; files_read is null behind an RDD scan
    shapes = {}
    for row in out["trace"]["ops"]:
        if row["kind"] == "read":
            shapes.setdefault(row["name"], (row["plan.exchanges"], row["plan.broadcasts"],
                                            row["plan.rdd_scans"], row["scan.files_read"]))
    for name, (ex, bc, rdd, files) in sorted(shapes.items()):
        print(f"{args.workload} plan {name} exchanges={ex} broadcasts={bc} "
              f"rdd_scans={rdd} files_read={'null' if files is None else files}")
    with open(os.path.join(WORK, f"trace-{args.workload}.json"), "w") as f:
        json.dump({"layers": layers, "ops": out["trace"]["ops"], "spans": spans,
                   "floor_ms": out.get("floor_ms")}, f)


if __name__ == "__main__":
    main()
