#!/usr/bin/env python3
"""graft workload benchmark.

    python3 perfbench/run.py --workload explore|analyze|curate --seed N \
        --seconds S --trace 0|1

Run from the root of a graft checkout. The tables are graft's sf0.1
test data: --data, else SPARK_GRAFT_SF_DIR, else the sf0.1 directory
that TESTDATA.md names. The first run builds the library and the
benchmark driver (perfbench/build.sbt); later runs reuse the build until
a source file changes. Each run:

1. generates the workload's requests from (workload, seed) (gen.py);
2. starts one JVM with Spark local[N], N = CPU count, which sets up
   once, cold (session start and warm-up: setup_s), and then runs the
   requests closed-loop for S seconds (perfbench.Main);
3. checks the outputs of the requests marked for checking against
   independent answers (checks.py), outside the timed window;
4. prints a human-readable summary, then one JSON line: with --trace 0
   the end-to-end metrics, with --trace 1 the per-layer metrics of two
   traced windows of S/4 seconds, between two untraced ones that give
   the tracing overhead.

Exit code 0 means the run completed; `correct` in the JSON line says
whether every output check passed and no operation threw.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

LIBRARY = os.path.join(ROOT, "src", "main", "scala", "graft")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
HEAP = "2g"
JVM_TIMEOUT_S = 165
# with --trace 1 the JVM runs windows 0-3, of which these are traced
TRACED = (1, 2)
BUILD_TIMEOUT_S = 840
# Spark 4 on JDK 17 needs these outside spark-submit (the repository's
# build.sbt passes the same list)
OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise BenchError("no Spark distribution found: set SPARK_HOME")
    return home


def source_digest():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, f) for f in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(home):
    digest = source_digest()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read() == digest:
                return
    log("building the library and the benchmark driver (sbt compile)")
    t0 = time.time()
    env = dict(os.environ, SPARK_HOME=home)
    # the build resolves only from local caches: the toolchain is
    # installed, and a benchmark run must not reach the network
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        raise BenchError(f"build failed (sbt exit {r.returncode})")
    with open(STAMP, "w") as f:
        f.write(digest)
    log(f"built in {time.time() - t0:.0f} s")


def default_data():
    """The tables graft's own bench reads: SPARK_GRAFT_SF_DIR, else the
    sf0.1 row of the table in the checkout's TESTDATA.md."""
    if os.environ.get("SPARK_GRAFT_SF_DIR"):
        return os.environ["SPARK_GRAFT_SF_DIR"]
    try:
        with open(os.path.join(ROOT, "TESTDATA.md")) as f:
            m = re.search(r"^\|\s*0\.1\s*\|\s*`([^`]+)`", f.read(), re.M)
    except OSError:
        return None
    return m.group(1) if m else None


def write_requests(work, workload, seed, seconds):
    # a batch per half second of window: room for passes ten times
    # faster than today's ~5 s before a client runs out
    passes = int(seconds * 2) + 4 if workload == "curate" else 0
    reqs = gen.stream(workload, seed, passes)
    batch_rows = {}
    if workload == "curate":
        bdir = os.path.join(work, "batches")
        os.makedirs(bdir)
        batch_rows = gen.batches(seed, passes)
        for name, rows in batch_rows.items():
            with open(os.path.join(bdir, name), "w") as f:
                f.write(gen.batch_csv(rows))
        reqs = [(c, s, k, chk, (os.path.join(bdir, p[0]),)) for c, s, k, chk, p in reqs]
    with open(os.path.join(work, "requests.tsv"), "w") as f:
        f.writelines(gen.to_line(r) + "\n" for r in reqs)
    return batch_rows


def run_jvm(home, data, work, workload, window_s, trace):
    cp = os.pathsep.join([CLASSES, os.path.join(home, "jars", "*")])
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", *OPENS,
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-cp", cp, "perfbench.Main",
           "--workload", workload, "--requests", os.path.join(work, "requests.tsv"),
           "--data", data, "--work", work, "--seconds", str(window_s),
           "--trace", "1" if trace else "0", "--cpus", str(os.cpu_count() or 1)]
    os.makedirs(os.path.join(work, "tmp"))
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise BenchError(f"the JVM did not finish within {JVM_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if code != 0:
        raise BenchError(f"the JVM exited with code {code}")


def read_jsonl(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def read_ops(work):
    ops = []
    with open(os.path.join(work, "ops.tsv")) as f:
        for line in f:
            w, c, s, kind, t0, t1, items, rows, kept, err = line.rstrip("\n").split("\t")
            ops.append({"window": int(w), "id": f"{c}.{s}", "kind": kind,
                        "t0": int(t0), "t1": int(t1), "items": int(items),
                        "rows": int(rows), "kept_bytes": int(kept), "ok": err == "",
                        "err": err})
    return ops


def run_checks(data, work, workload, batch_rows):
    """{request id: [failure messages]} for every checked request."""
    con = checks.connect(data)
    out = {}
    for res in read_jsonl(os.path.join(work, "results.jsonl")):
        rid = f"{res['client']}.{res['seq']}"
        rows = None
        if workload == "curate":
            rows = batch_rows[os.path.basename(res["params"][0])]
        try:
            out[rid] = checks.check(workload, con, res, rows)
        except Exception as e:  # a checker crash is a failed check
            out[rid] = [f"check raised {type(e).__name__}: {e}"]
    con.close()
    return out


def fmt(v):
    return f"{v:.4g}" if isinstance(v, float) else str(v)


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", default=default_data(),
                    help="directory of graft's sf0.1 parquet tables")
    a = ap.parse_args(argv)

    if not os.path.isdir(LIBRARY):
        raise BenchError(f"graft's sources are missing ({os.path.relpath(LIBRARY, ROOT)}): "
                         "run from the root of a graft checkout")
    if not a.data or not os.path.isfile(os.path.join(a.data, "lineitem.parquet")):
        raise BenchError(f"no sf0.1 tables at {a.data!r}: pass --data or set SPARK_GRAFT_SF_DIR")
    data = os.path.abspath(a.data)
    home = spark_home()
    build(home)
    work = os.path.join(HERE, ".work", f"{a.workload}-trace{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    batch_rows = write_requests(work, a.workload, a.seed, a.seconds)
    window_s = a.seconds / 4 if a.trace else a.seconds
    t0 = time.time()
    run_jvm(home, data, work, a.workload, window_s, a.trace)
    log(f"JVM ran {time.time() - t0:.1f} s")

    with open(os.path.join(work, "summary.json")) as f:
        summary = json.load(f)
    if summary["exhausted"]:
        raise BenchError("a client ran out of requests before the window ended")
    ops = read_ops(work)
    t0 = time.time()
    failures = run_checks(data, work, a.workload, batch_rows)
    log(f"{len(failures)} checks ran {time.time() - t0:.1f} s")
    for name in ("out", "batches", "spark-local", "tmp", "warehouse"):
        shutil.rmtree(os.path.join(work, name), ignore_errors=True)

    thrown = [o["id"] for o in ops if not o["ok"]]
    bad = [rid for rid, msgs in failures.items() if msgs]
    for o in ops:
        if not o["ok"]:
            log(f"request {o['id']} ({o['kind']}) threw: {o['err']}")
    for rid in bad:
        log(f"request {rid} failed its check: {'; '.join(failures[rid])}")
    frac = stats.fail_frac(len(ops), thrown, bad)
    timed = [o for o in ops if (o["window"] in TRACED) == bool(a.trace)]
    if not any(o["ok"] for o in timed):
        raise BenchError("no operation completed in the timed window")

    e2e = stats.end_to_end(timed, summary["setup_s"])
    lat = stats.latency_report(timed)
    head = (f"{a.workload} seed={a.seed} trace={a.trace}: {len(timed)} timed operations "
            f"of {len(ops)}, {len(failures)} checked, fail_frac={frac:.4g}")
    print(head)
    names = {"op_mean_ms": "req_mean_ms" if a.workload == "explore" else "pass_mean_ms"}
    for k, (v, unit) in e2e.items():
        print(f"  {names.get(k, k)} = {fmt(v)} {unit}")
    for k, v in lat.items():
        print(f"  {'req' if a.workload == 'explore' else 'pass'}_{k} = {fmt(v)} ms")
    if a.workload == "explore":
        print(f"  req_per_s = {fmt(e2e['items_per_s'][0])} 1/s")
    print(f"  peak_rss_mb = {fmt(summary['peak_rss_kb'] / 1024.0)} MB")
    if a.trace:
        base = [o for o in ops if o["window"] not in TRACED]
        traced = [w for w in summary["windows"] if w["window"] in TRACED]
        counters = {k: sum(w[k] for w in traced) for k in
                     ("compiles", "compile_ns", "files_discovered", "file_cache_hits")}
        metrics = stats.per_layer(
            timed, read_jsonl(os.path.join(work, "spans.jsonl")),
            read_jsonl(os.path.join(work, "jobs.jsonl")), counters,
            summary, summary["cpus"], base, gen.EXPLORE_KINDS)
        for k, (v, unit) in metrics.items():
            print(f"  {k} = {fmt(v)} {unit}")
    else:
        metrics = e2e
    print(json.dumps({
        "correct": frac == 0.0, "attempted": len(ops),
        "failed": len(set(thrown) | set(bad)),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)


if __name__ == "__main__":
    # a terminated benchmark unwinds, so the JVM it started is killed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        main(sys.argv[1:])
    except (BenchError, subprocess.TimeoutExpired) as e:
        log(f"error: {e}")
        sys.exit(2)
