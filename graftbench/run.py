#!/usr/bin/env python3
"""graft benchmark: builds the engine with the benchmark driver, runs one
workload in one JVM, checks the outputs and prints one JSON result line.

    python3 graftbench/run.py --workload batch|joins \
        --seed N --seconds S --trace 0|1
    python3 graftbench/run.py --selftest

Run it from the root of a checkout. Everything it writes goes under
`.graftbench/` there: the sbt state and classpath (`build/`), per-run
scratch space (`tmp/`, removed after the run) and the run records
(`runs/`). See graftbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = Path.cwd()
STATE = ROOT / ".graftbench"
WORKLOADS = ("batch", "joins")
JVM_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 800

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(code)


_children = []


def _stop_children(signum, _frame):
    for p in _children:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
    sys.exit(128 + signum)


def run_group(cmd, timeout, **kw):
    """Runs `cmd` in its own process group and waits for it; on timeout
    kills the whole group (the sbt script starts a JVM of its own), waits,
    and returns None. A signal that stops this script stops the group too."""
    p = subprocess.Popen(cmd, start_new_session=True, stdin=subprocess.DEVNULL, **kw)
    _children.append(p)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    finally:
        _children.remove(p)


def source_files():
    """Every file the build reads, in a stable order."""
    dirs = [ROOT / "src" / "main" / "scala", BENCH / "src"]
    files = [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for d in dirs:
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def source_sha():
    h = hashlib.sha256()
    for f in source_files():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compiles engine + benchmark with offline sbt; returns the classpath.
    Reuses the last build while no source file changed."""
    build_dir = STATE / "build"
    stamp, cp_file = build_dir / "stamp", build_dir / "classpath"
    sha = source_sha()
    if stamp.exists() and cp_file.exists() and stamp.read_text() == sha:
        return cp_file.read_text().strip(), sha
    build_dir.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.override.build.repos=true",
           f"-Dsbt.repository.config={Path.home() / '.sbt' / 'repositories'}",
           f"-Dsbt.global.base={build_dir / 'sbt-global'}",
           f"-Dsbt.boot.directory={Path.home() / '.sbt' / 'boot'}",
           "-Dsbt.server.autostart=false",
           "compile", "export Runtime/fullClasspath"]
    log = build_dir / "build.log"
    with open(log, "w") as out:
        rc = run_group(cmd, BUILD_TIMEOUT_S, cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT)
    if rc is None:
        fail(f"build timed out, see {log}", 3)
    lines = log.read_text().splitlines()
    if rc != 0:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (sbt exit {rc}), see {log}", 3)
    cps = [l for l in lines if l.startswith("/") and ".jar" in l]
    if not cps:
        fail(f"build printed no classpath, see {log}", 3)
    cp_file.write_text(cps[-1])
    stamp.write_text(sha)
    return cps[-1], sha


def meminfo_kb():
    for line in Path("/proc/meminfo").read_text().splitlines():
        if line.startswith("MemTotal:"):
            return int(line.split()[1])
    return 0


def heap_mb(mem_kb):
    """A quarter of the machine's memory, between 1 and 4 GiB."""
    return int(min(4096, max(1024, mem_kb // 4 // 1024)))


def jdk_version():
    r = subprocess.run(["java", "-version"], capture_output=True, text=True, stdin=subprocess.DEVNULL)
    first = (r.stderr or r.stdout).splitlines()
    return first[0] if first else "unknown"


def git_sha():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True,
                           stdin=subprocess.DEVNULL, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


# JIT per workload. batch's pass is ~120 small Spark jobs bound by the
# driver's planning code; C2 compiles that code from its profile into a
# steady speed that differs by 10-20% from one JVM to the next (five-seed
# spread of op_p50_ms 0.21 with C2, 0.05 with C1 only). joins keeps C2:
# its CR-6/CR-12 and triangle plans spend their time in executor code
# that runs ~60% slower under C1.
JIT = {"batch": ["-XX:TieredStopAtLevel=1"], "joins": []}


def java_cmd(cp, heap, tmp, args, jit=()):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", f"-Xmx{heap}m", "-XX:+UseParallelGC", *jit, f"-Djava.io.tmpdir={tmp}",
             f"-Dlog4j2.configurationFile={BENCH / 'src' / 'main' / 'resources' / 'log4j2.properties'}",
             "-Dspark.ui.enabled=false"] + opens + ["-cp", cp, "graftbench.Main"] + args)


# ---------------------------------------------------------------------------
# DuckDB twin check of the CR query rows
# ---------------------------------------------------------------------------

def norm(v):
    if isinstance(v, float):
        return round(v, 9)
    if isinstance(v, bool) or v is None or isinstance(v, str):
        return v
    if isinstance(v, int):
        return v
    try:  # Decimal and other numerics from DuckDB
        return round(float(v), 9)
    except (TypeError, ValueError):
        return str(v)


def canon(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(norm(r[i]) for i in order) for r in rows]
    return [columns[i] for i in order], sorted(out, key=lambda t: tuple((x is None, str(type(x)), x) for x in t))


def check_twins(twins, threads):
    """Returns (failed executions, messages)."""
    if not twins:
        return 0, []
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET threads TO {threads}")
    failed, msgs = 0, []
    for t in twins:
        try:
            cur = con.execute(t["sql"])
            rows = cur.fetchall()
            cols = [d[0] for d in cur.description]
        except Exception as e:  # a twin that cannot run is a failed check
            failed += t["executions"]
            msgs.append(f"{t['key']}: twin SQL failed: {str(e)[:200]}")
            continue
        got_cols, got = canon(t["columns"], t["rows"])
        want_cols, want = canon(cols, rows)
        if got_cols != want_cols:
            failed += t["executions"]
            msgs.append(f"{t['key']}: columns {got_cols} vs twin {want_cols}")
        elif got != want:
            failed += t["executions"]
            msgs.append(f"{t['key']}: {len(got)} rows differ from the twin's {len(want)}")
    con.close()
    return failed, msgs


# ---------------------------------------------------------------------------

def load_spec():
    spec_file = ROOT / "BENCHMARK.json"
    if not spec_file.exists():
        fail("BENCHMARK.json not found in the current directory")
    return json.loads(spec_file.read_text())


def main():
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, _stop_children)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir() or not (BENCH / "build.sbt").exists():
        fail("run from the root of a graft checkout (src/main/scala/graft not found)")
    spec = None if a.selftest else load_spec()

    t_start = time.monotonic()
    cp, sha = build()
    t_built = time.monotonic()
    mem_kb = meminfo_kb()
    heap = heap_mb(mem_kb)
    nproc = len(os.sched_getaffinity(0))
    if a.selftest:
        (STATE / "tmp").mkdir(parents=True, exist_ok=True)
        rc = run_group(java_cmd(cp, 512, STATE / "tmp", ["--selftest"]), JVM_TIMEOUT_S)
        sys.exit(1 if rc is None else rc)

    run_id = f"{a.workload}-s{a.seed}-t{a.trace}"
    tmp = STATE / "tmp" / f"{run_id}-{os.getpid()}"
    runs = STATE / "runs"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    runs.mkdir(parents=True, exist_ok=True)
    host = {"nproc": nproc, "mem_total_kb": mem_kb, "load_before": os.getloadavg(),
            "jdk": jdk_version(), "git_sha": git_sha(), "source_sha256": sha}
    settings = {"heap_mb": heap, "nproc": nproc, "jit": " ".join(JIT[a.workload]) or "tiered (C1+C2)"}
    try:
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--out", str(tmp / "out")]
        with open(tmp / "jvm.log", "w") as jlog:
            rc = run_group(java_cmd(cp, heap, tmp, args, JIT[a.workload]), JVM_TIMEOUT_S, cwd=tmp, stdout=jlog,
                           stderr=subprocess.STDOUT)
        if rc is None:
            fail(f"{run_id}: JVM did not finish within {JVM_TIMEOUT_S} s", 4)
        result_file = tmp / "out" / "result.json"
        if rc != 0 or not result_file.exists():
            sys.stderr.write("".join((tmp / "jvm.log").read_text().splitlines(True)[-40:]))
            fail(f"{run_id}: JVM exited {rc}", 4)
        res = json.loads(result_file.read_text())
        t_jvm = time.monotonic()
        twin_failed, twin_msgs = check_twins(res["twins"], nproc)
        t_twins = time.monotonic()
        host["load_after"] = os.getloadavg()
        host["spark"] = res["settings"].get("spark_version")
        settings.update(res["settings"])
        trace_file = tmp / "out" / "trace.json"
        if trace_file.exists():
            shutil.copy(trace_file, runs / f"{run_id}.trace.json")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    failures = res["failures"] + twin_msgs
    failed = len(res["failures"]) + twin_failed
    attempted = res["attempted"]
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    values = res["per_layer"] if a.trace else res["e2e"]
    missing = [m["name"] for m in wanted if values.get(m["name"]) is None]
    if missing:
        fail(f"{run_id}: metrics not produced: {missing}", 5)
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}

    record = {"run": run_id, "host": host, "settings": settings, "phases": res["phases"], "e2e": res["e2e"],
              "per_layer": res["per_layer"], "details": res["details"], "counts": res["counts"],
              "samples": res["samples"], "attempted": attempted, "failed": failed, "failures": failures}
    (runs / f"{run_id}.json").write_text(json.dumps(record, indent=1))

    s = res["samples"]
    print(f"# graftbench {run_id}: {len(s['pass_s'])} passes, {len(s['op_ms'])} ops "
          f"(op p90 has {s['op_p90']['beyond']} beyond; highest percentile with >=10 beyond: "
          f"p{round(s['op_tail']['q'] * 100)} = {s['op_tail']['value']:.1f} ms)")
    print(f"# host: nproc={nproc} MemTotal={mem_kb} kB load {host['load_before']} -> {host['load_after']} "
          f"jdk='{host['jdk']}' spark={host['spark']} git={host['git_sha']} src={sha[:12]}")
    print(f"# settings: {json.dumps(settings, sort_keys=True)}")
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    for m in spec["end_to_end"]:
        print(f"{m['name']} = {res['e2e'][m['name']]:.6g} {m['unit']}")
    for k, v in res["details"].items():
        unit = "1/s" if k.endswith("_eps") else "s"
        print(f"  {k} = {v:.6g} {unit}")
    if a.trace:
        for k, v in sorted(res["per_layer"].items()):
            print(f"  {k} = {v:.6g} {units.get(k, '')}")
        print(f"# spans and per-layer table: {runs / (run_id + '.trace.json')}")
    print(f"# wall: build {t_built - t_start:.1f} s, jvm {t_jvm - t_built:.1f} s "
          f"({', '.join(f'{k} at {v:.1f}' for k, v in res['phases'].items())}), "
          f"twin check {t_twins - t_jvm:.1f} s")
    for f in failures:
        print(f"# FAILED: {f}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    sys.stdout.flush()
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
