"""graft benchmark: one workload, one JVM, one JSON result line.

Usage (from the repository root):

    python3 perfbench/run.py --workload <mapreduce|relational|corpus> \\
        --seed <n> --seconds <s> --trace <0|1>

The first run builds the engine and the harness with sbt (offline) into
``perfbench/work/``; later runs reuse that build while the sources are
unchanged.  Each run starts one JVM, sets the session up, drops warm-up
passes, measures whole passes for ``--seconds``, checks every operation's
output, and prints a detail line followed by the result line.  With
``--trace 0`` the result carries the end-to-end metrics, with ``--trace 1``
the per-layer metrics.  See ``perfbench/README.md``.

``--record`` (relational, corpus) writes the observed result fingerprints to
``perfbench/fingerprints.json`` instead of checking against it.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
BUILD = os.path.join(WORK, "build")
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import gen  # noqa: E402

WORKLOADS = ("mapreduce", "relational", "corpus")
HEAP = "4g"
# The harness cuts its own passes short 150 s after JVM start; this kill is
# the last resort.
DEADLINE_S = 170.0
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
FINGERPRINTS = os.path.join(HERE, "fingerprints.json")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------- build

def source_digest():
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in tops:
        for d, subdirs, names in os.walk(top):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            files += [os.path.join(d, n) for n in names
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    for f in sorted(files):
        h.update(f[len(ROOT):].encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """sbt-compile the engine plus harness; return the runtime classpath."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no graft sources next to perfbench/ (run from a repository checkout)")
    digest = source_digest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = os.path.join(BUILD, "digest.txt")
    if os.path.isfile(cp_file) and os.path.isfile(stamp) and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=700)
    lines = open(log).read().splitlines()
    cps = [ln for ln in lines if not ln.startswith("[") and ".jar" in ln]
    if r.returncode != 0 or not cps:
        fail("build failed, see " + log)
    with open(cp_file, "w") as fh:
        fh.write(cps[-1].strip())
    with open(stamp, "w") as fh:
        fh.write(digest)
    return cps[-1].strip()


# ------------------------------------------------------------ host noise

def cpu_times():
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def loadavg():
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


# ------------------------------------------------------------------ run

def run_jvm(cp, args, run_dir, deadline):
    local = os.path.join(run_dir, "spark-local")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    nproc = os.cpu_count()
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(nproc), SPARK_LOCAL_DIRS=local)
    cmd = (["java", "-Xms" + HEAP, "-Xmx" + HEAP]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-Djava.io.tmpdir=" + tmp,
              "-Dspark.sql.warehouse.dir=" + os.path.join(run_dir, "warehouse"),
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", cp, "graftbench.Run"] + args)
    t0 = cpu_times()
    loads = [loadavg()]
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log,
                             stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            while p.poll() is None:
                if time.monotonic() > deadline:
                    raise TimeoutError
                time.sleep(1.0)
                loads.append(loadavg())
        except BaseException:
            p.kill()
            p.wait()
            fail("harness did not finish in time, see " + log.name)
    t1 = cpu_times()
    if p.returncode != 0:
        fail("harness exited %d, see %s" % (p.returncode, log.name))
    d = [b - a for a, b in zip(t0, t1)]
    steal = d[7] / sum(d) if len(d) > 7 and sum(d) else 0.0
    return {"nproc": nproc, "cpu_steal_frac": steal,
            "loadavg_mean": statistics.fmean(loads), "loadavg_max": max(loads)}


# --------------------------------------------------------------- checks

def md5_part(key, r):
    return int(hashlib.md5(key.encode("utf-8")).hexdigest(), 16) % r


def read_parts(d, reducers):
    names = sorted(os.listdir(d))
    want = ["part-%05d" % i for i in range(reducers)]
    if names != want:
        raise ValueError("part files %s" % names[:12])
    parts = []
    for n in names:
        with open(os.path.join(d, n), encoding="utf-8", newline="\n") as fh:
            data = fh.read()
        parts.append(data.split("\n")[:-1] if data else [])
    return parts


def check_wordcount(d, expected, reducers):
    got = {}
    for r, lines in enumerate(read_parts(d, reducers)):
        prev = None
        for ln in lines:
            key, n = ln.rsplit("\t", 1)
            if md5_part(key, reducers) != r:
                raise ValueError("key %r in part %d" % (key, r))
            if prev is not None and key <= prev:
                raise ValueError("part %d not sorted at %r" % (r, key))
            prev = key
            got[key] = int(n)
    want = expected["counts"]
    if got != want:
        key = min(k for k in set(got) | set(want) if got.get(k) != want.get(k))
        raise ValueError("count of %r is %s, expected %s" % (key, got.get(key), want.get(key)))


def check_grep(d, expected, reducers):
    home = md5_part("1", reducers)
    for r, lines in enumerate(read_parts(d, reducers)):
        if lines != (expected["grep"] if r == home else []):
            raise ValueError("grep part %d differs (%d lines)" % (r, len(lines)))


MR_CHECKS = {"mr1_wordcount": check_wordcount, "mr2_grep": check_grep,
             "mr3_submit_wordcount": check_wordcount}


def check_ops(workload, res, run_dir, record):
    """Mark each op record with `failed` (threw or wrong output); return
    the fingerprints seen when recording."""
    expected = None
    if workload == "mapreduce":
        with open(os.path.join(run_dir, "expected.json")) as fh:
            expected = json.load(fh)
    fps = {}
    if workload != "mapreduce" and not record:
        with open(FINGERPRINTS) as fh:
            fps = json.load(fh)[workload]
    seen = {}
    for p in res["passes"]:
        for op in p["ops"]:
            op["failed"] = not op["ok"]
            if op["failed"]:
                continue
            try:
                if workload == "mapreduce":
                    MR_CHECKS[op["name"]](
                        os.path.join(run_dir, "out", "p%d" % p["index"], op["name"]),
                        expected, res["conf"]["reducers"])
                else:
                    fp = {"rows": op.get("rows"), "hash": op.get("hash")}
                    if record:
                        if seen.setdefault(op["name"], fp) != fp:
                            raise ValueError("fingerprint changed between passes")
                    else:
                        want = fps.get(op["name"])
                        if want != fp:
                            raise ValueError("fingerprint %s, expected %s" % (fp, want))
            except (ValueError, OSError) as e:
                op["failed"] = True
                op["error"] = "output check: %s" % e
    return seen


# -------------------------------------------------------------- metrics

def slowest_op(passes):
    """The slowest operation's median wall time over the given passes."""
    walls = {}
    for p in passes:
        for op in p["ops"]:
            walls.setdefault(op["name"], []).append(op["wall_s"])
    name = max(walls, key=lambda n: statistics.median(walls[n]))
    return statistics.median(walls[name]), name


def dir_size(d):
    total, files = 0, 0
    for base, _, names in os.walk(d):
        for n in names:
            total += os.path.getsize(os.path.join(base, n))
            files += 1
    return total, files


LAYER_SUMS = ["query.build_s", "plan.s", "save.s", "sched.jobs", "sched.stages",
              "sched.tasks", "sched.tasks_failed", "sched.job_span_s", "task.run_s",
              "task.cpu_s", "task.gc_s", "scan.input_mb", "scan.input_records",
              "shuffle.write_mb", "shuffle.read_mb", "shuffle.records",
              "shuffle.fetch_wait_s", "spill.mem_mb", "spill.disk_mb",
              "output.write_s", "pipe.job_s", "ledger.drain_s"]


def layer_metrics(workload, res, run_dir, untraced_pass_s):
    traced = [p for p in res["passes"] if p["kind"] == "traced"]
    cores = res["conf"]["parallelism"]
    per_pass = []
    for p in traced:
        m = {k: sum(op.get(k, 0) for op in p["ops"]) for k in LAYER_SUMS}
        wall_ops = sum(op["wall_s"] for op in p["ops"])
        m["sched.driver_gap_s"] = wall_ops - m["sched.job_span_s"]
        tasks = m["sched.tasks"]
        m["sched.task_success_frac"] = (tasks - m["sched.tasks_failed"]) / tasks if tasks else 1.0
        m["task.util"] = m["task.run_s"] / (p["wall_s"] * cores)
        builds = [b for op in p["ops"] for b in op["memo_builds"]]
        m["memo.build_s"] = sum(b["s"] for b in builds)
        m["memo.build_s.corpus"] = sum(b["s"] for b in builds if b["memo"] == "corpus")
        m["memo.build_s.tok"] = sum(b["s"] for b in builds if b["memo"] == "tok")
        m["memo.builds"] = len(builds)
        m["memo.storage_mb"] = p["storage_end_mb"]
        size, files = (dir_size(os.path.join(run_dir, "out", "p%d" % p["index"]))
                       if workload == "mapreduce" else (0, 0))
        m["output.mb"] = size / 1e6
        m["output.files"] = files
        m["pass_s"] = p["wall_s"]
        # Consistency: operations lie inside their pass, and memo builds
        # inside the operations that trigger them.
        if wall_ops > p["wall_s"] + 1e-6:
            raise ValueError("sum of op wall %.3f > pass %.3f" % (wall_ops, p["wall_s"]))
        for op in p["ops"]:
            built = sum(b["s"] for b in op["memo_builds"])
            if built > op["wall_s"] + 1e-6:
                raise ValueError("%s: memo builds %.3f s > op wall %.3f s"
                                 % (op["name"], built, op["wall_s"]))
        if p["untagged_jobs"]:
            raise ValueError("%d jobs ran outside any operation" % p["untagged_jobs"])
        per_pass.append(m)
    out = {k: statistics.median(m[k] for m in per_pass) for k in per_pass[0]}
    out["session.start_s"] = res["setup"]["get_s"]
    out["session.warm_query_s"] = res["setup"]["entry_s"]
    out["trace.overhead_s"] = out.pop("pass_s") - untraced_pass_s
    return out


def declared_units():
    """Metric name -> unit, from the benchmark's BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        b = json.load(fh)
    return ({m["name"]: m["unit"] for m in b["end_to_end"]},
            {m["name"]: m["unit"] for m in b["per_layer"]})


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()

    cp = build()
    deadline = time.monotonic() + DEADLINE_S
    if a.workload != "mapreduce" and not os.path.isdir(SF_DIR):
        fail("test data not found: " + SF_DIR)
    if a.workload != "mapreduce" and not a.record and not os.path.isfile(FINGERPRINTS):
        fail("no recorded fingerprints: " + FINGERPRINTS)
    run_dir = os.path.join(WORK, "run-" + a.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    if a.workload == "mapreduce":
        gen.generate(a.seed, run_dir)

    out_json = os.path.join(run_dir, "result.json")
    host = run_jvm(cp, [
        "--workload", a.workload, "--sf", SF_DIR, "--work", run_dir, "--out", out_json,
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--clk-tck", str(os.sysconf("SC_CLK_TCK"))], run_dir, deadline)
    with open(out_json) as fh:
        res = json.load(fh)

    seen = check_ops(a.workload, res, run_dir, a.record)
    ops = [op for p in res["passes"] for op in p["ops"]]
    failed = [op for op in ops if op["failed"]]
    measured = [p for p in res["passes"] if p["kind"] == "untraced"]
    op_walls = [op["wall_s"] for p in measured for op in p["ops"]]
    tail_v, tail_op = slowest_op(measured)
    pass_s = statistics.median(p["wall_s"] for p in measured)
    e2e = {
        "setup_s": res["setup"]["setup_s"],
        "pass_s": pass_s,
        "op_p50_s": statistics.median(op_walls),
        "op_tail_s": tail_v,
        "cpu_s": statistics.median(p["cpu_s"] for p in measured),
    }
    detail = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "ops_failed_frac": len(failed) / len(ops),
        "storage_peak_mb": max(p["storage_peak_mb"] for p in res["passes"]),
        "op_tail": {"op": tail_op, "n_samples": len(op_walls)},
        "passes": {"warmup_dropped": sum(p["kind"] == "warmup" for p in res["passes"]),
                   "measured": len(measured),
                   "traced": sum(p["kind"] == "traced" for p in res["passes"]),
                   "wall_s": [round(p["wall_s"], 3) for p in res["passes"]]},
        "setup": {k: round(v, 3) for k, v in res["setup"].items()},
        "host": dict(host, master=res["conf"]["master"],
                     parallelism=res["conf"]["parallelism"],
                     deadline_s=res["conf"]["deadline_s"],
                     jvm_heap=res["conf"]["jvm_args"]),
        "failures": [{"op": op["name"], "error": op["error"]} for op in failed][:20],
    }
    correct = not failed
    if a.trace:
        try:
            layers = layer_metrics(a.workload, res, run_dir, pass_s)
        except ValueError as e:
            correct = False
            detail["trace_check"] = str(e)
            layers = {}
        layers["storage_peak_mb"] = detail["storage_peak_mb"]
        layers["ops_failed_frac"] = detail["ops_failed_frac"]
        values, units = layers, declared_units()[1]
    else:
        detail.update(e2e)
        values, units = e2e, declared_units()[0]
    missing = sorted(set(units) - set(values))
    if missing and correct:
        correct = False
        detail["missing_metrics"] = missing
    metrics = {k: {"value": values[k], "unit": u} for k, u in units.items() if k in values}

    if a.record and correct:
        fps = {}
        if os.path.isfile(FINGERPRINTS):
            with open(FINGERPRINTS) as fh:
                fps = json.load(fh)
        fps[a.workload] = dict(sorted(seen.items()))
        with open(FINGERPRINTS, "w") as fh:
            json.dump(fps, fh, indent=1, sort_keys=True)
            fh.write("\n")

    print(json.dumps(detail, sort_keys=True))
    print(json.dumps({"correct": correct, "attempted": len(ops), "failed": len(failed),
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
