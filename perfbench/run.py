#!/usr/bin/env python3
"""The repository's benchmark: one workload, one seed, one fresh JVM.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds the engine and the benchmark from
source with sbt (skipped when the sources are unchanged since the last
build in this checkout), makes the workload's inputs from the seed, runs
perfbench.Main in a fresh JVM, checks every output, and prints a report and,
as its last line, one JSON object with `correct`, `attempted`, `failed` and
`metrics`: the end-to-end metrics with `--trace 0`, the per-layer metrics
with `--trace 1`.

Workloads (why each exists: BENCHMARK.json; the gate list: slices.json):
  survey_dag  the reference's Airflow DAG over loopback HTTP against
              api.PipelineServer, on seeded FlatConnect tables
  lake_write  a committed slice of registry gates that write fixtures,
              commit table logs or drain a stream, at sf0.1

Everything it writes stays in the checkout: the build under .bench_build
and target directories, each run's inputs, outputs and audit files under a
fresh directory in .bench_runs, removed at the end of the run.

`--select-slices` instead measures the property that chose the slice
(output bytes written, bytes left in scratch, stream batches drained, on
one warm run) for every candidate gate in slices.json, one JSON line each.
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
from pathlib import Path

ROOT = Path.cwd()
BENCH = Path(__file__).resolve().parent
BUILD = ROOT / ".bench_build"
RUNS = ROOT / ".bench_runs"
SF = "0.1"
SF_SEED = 42
SURVEY_WIDTHS = [300, 100]
SURVEY_ROWS = 1000
# JDK 17 module opens Spark needs outside spark-submit (Spark's
# JavaModuleOptions; the engine's build.sbt passes the same list)
ADD_OPENS = [x for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")
    for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
# the heap limit the engine's build.sbt gives its JVMs
JVM_HEAP = [f"-Xmx{os.environ.get('SPARK_DRIVER_MEM', '8g')}"]
RUN_LIMIT_S = 170

sys.path.insert(0, str(BENCH))


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def slices():
    return json.loads((BENCH / "slices.json").read_text())


# --- build ------------------------------------------------------------------

def _sources():
    roots = [ROOT / "src" / "main", ROOT / "project", BENCH / "src", BENCH / "project"]
    files = [ROOT / "build.sbt", BENCH / "build.sbt"]
    for r in roots:
        files += sorted(p for p in r.rglob("*") if p.is_file()
                        and "target" not in p.relative_to(r).parts[:-1]
                        and "project" not in p.relative_to(r).parts[:-1])
    return files


def build():
    """Compiles the engine and the benchmark; returns the runtime classpath."""
    h = hashlib.sha256()
    for f in _sources():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "stamp"
    if stamp_file.exists() and stamp_file.read_text() == stamp and cp_file.exists():
        return cp_file.read_text().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", " ".join([
        "-Dsbt.override.build.repos=true",
        f"-Dsbt.repository.config={Path.home() / '.sbt' / 'repositories'}",
        "-Dsbt.offline=true", "-Xmx2g"]))
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], cwd=BENCH, env=env,
                       capture_output=True, text=True, timeout=840)
    lines = [x for x in p.stdout.splitlines() if ".jar" in x and not x.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    BUILD.mkdir(exist_ok=True)
    cp_file.write_text(lines[-1])
    stamp_file.write_text(stamp)
    return lines[-1]


# --- inputs -----------------------------------------------------------------

def _digest(d):
    h = hashlib.sha256()
    for f in sorted(Path(d).rglob("*.parquet")):
        h.update(f.name.encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def make_inputs(workload, seed, run_dir):
    """Returns (input dir, generation seconds, generations). survey_dag
    generates three times: for the seed, for the seed again (its files
    must be byte-identical) and for another seed (they must differ), and
    reports the median time. lake_write's tables do not depend on the seed
    (it only permutes the gate order): they are generated once."""
    in_dir = run_dir / "in"
    if workload == "lake_write":
        import sfgen
        t0 = time.perf_counter()
        sfgen.write_tables(in_dir, float(SF), SF_SEED)
        return in_dir, time.perf_counter() - t0, 1
    import surveygen
    times, dirs = [], []
    for i, s in enumerate((seed, seed, seed + 1)):
        d = in_dir if i == 0 else run_dir / f"selfcheck{i}"
        t0 = time.perf_counter()
        surveygen.write_inputs(surveygen.spec(s, SURVEY_WIDTHS, SURVEY_ROWS), d)
        times.append(time.perf_counter() - t0)
        dirs.append(d)
    digests = [_digest(d) for d in dirs]
    for d in dirs[1:]:
        shutil.rmtree(d)
    if digests[0] != digests[1]:
        fail("input generator is not deterministic: one seed gave different files")
    if digests[0] == digests[2]:
        fail("input generator ignores its seed: two seeds gave the same files")
    return in_dir, statistics.median(times), len(times)


# --- load evidence ------------------------------------------------------------

def loadavg():
    try:
        return " ".join(Path("/proc/loadavg").read_text().split()[:3])
    except OSError:
        return "unavailable"


def cpu_probe_s():
    """Seconds to hash a fixed 128 MiB: a fixed-work, single-thread CPU
    probe, so a run on a busy machine carries its own evidence."""
    buf = b"\x5a" * (1 << 20)
    t0 = time.perf_counter()
    h = hashlib.sha256()
    for _ in range(128):
        h.update(buf)
    return time.perf_counter() - t0


def git_provenance():
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=30)
        if sha.returncode != 0:
            return "unknown", None
        st = subprocess.run(["git", "status", "--porcelain"], cwd=ROOT, capture_output=True,
                            text=True, timeout=30)
        return sha.stdout.strip(), bool(st.stdout.strip())
    except (OSError, subprocess.SubprocessError):
        return "unknown", None


# --- the JVM ------------------------------------------------------------------

def run_jvm(cp, run_dir, args, deadline):
    (run_dir / "tmp").mkdir(parents=True, exist_ok=True)
    cmd = ["java", *ADD_OPENS, *JVM_HEAP, f"-Djava.io.tmpdir={run_dir / 'tmp'}", "-cp", cp,
           "perfbench.Main", "--dir", str(run_dir), "--cpus", str(len(os.sched_getaffinity(0))),
           *args]
    log = run_dir / "jvm.log"
    with open(log, "w") as err:
        try:
            p = subprocess.run(cmd, cwd=run_dir, stdout=subprocess.PIPE, stderr=err, text=True,
                               timeout=max(deadline - time.monotonic(), 1))
        except subprocess.TimeoutExpired:
            fail("the benchmark JVM ran past its time limit")
    lines = [x for x in p.stdout.splitlines() if x.startswith("PERFBENCH ")]
    for x in log.read_text(errors="replace").splitlines():
        if x.startswith(("[perfbench]", "[survey_dag]", "[registry]", "[verify]")):
            print(x, file=sys.stderr)
    if p.returncode != 0 or not lines:
        sys.stderr.write(log.read_text(errors="replace")[-4000:])
        fail(f"the benchmark JVM exited with {p.returncode}")
    return json.loads(lines[-1][len("PERFBENCH "):])


def check_survey(spec_path, outputs):
    """Outputs that differ from the spec, as (module, output, reason)."""
    import surveygen
    spec = json.loads(Path(spec_path).read_text())
    want = surveygen.expected_outputs(spec)
    bad = []
    for module, name, path in outputs:
        why = surveygen.compare(path, want[(module, name)])
        if why:
            bad.append((module, name, why))
    return bad


def check_registry(verify_out, sf_dir, gates, timeout=120):
    """The gates whose dump does not match the DuckDB oracle. (The oracle
    file lists every registry gate; only the dumped slice is judged.)"""
    p = subprocess.run([sys.executable, str(ROOT / "tools" / "oracle_check.py"),
                        str(verify_out), str(sf_dir)], capture_output=True, text=True,
                       timeout=timeout)
    verdicts = {x[6:].split(":")[0]: x[:5] for x in p.stdout.splitlines()
                if x.startswith(("[OK ] ", "[BAD] "))}
    if not verdicts:
        sys.stderr.write(p.stdout[-2000:] + p.stderr[-2000:])
        fail("the DuckDB oracle check produced no verdicts")
    return [g for g in gates if verdicts.get(g) != "[OK ]"]


# --- metrics ------------------------------------------------------------------

def tail(values):
    """The latency at the highest percentile with at least ten samples
    beyond it, and that percentile."""
    s = sorted(values)
    n = len(s)
    if n <= 10:
        return s[-1], 100.0
    return s[n - 11], 100.0 * (n - 10) / n


def unit_of(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith(("_frac", "_share", "_per_input_byte")):
        return "ratio"
    return "count"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--select-slices", action="store_true")
    a = ap.parse_args()
    deadline = time.monotonic() + RUN_LIMIT_S
    for need in ("build.sbt", "src/main/scala", "tools/oracle_check.py"):
        if not (ROOT / need).exists():
            fail(f"{need} not found: run from the root of a checkout of the engine")
    if not a.select_slices and a.workload not in ("survey_dag", "lake_write"):
        fail(f"unknown workload {a.workload!r}")

    sha, dirty = git_provenance()
    prov = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "git_sha": sha,
            "dirty": dirty, "nproc": len(os.sched_getaffinity(0)),
            "loadavg_start": loadavg(), "cpu_probe_start_s": round(cpu_probe_s(), 4)}
    cp = build()
    deadline = max(deadline, time.monotonic() + 150)  # a fresh build does not eat the run
    run_dir = RUNS / f"{a.workload or 'select'}-{a.seed}-{os.getpid()}"
    if run_dir.exists():
        shutil.rmtree(run_dir)
    run_dir.mkdir(parents=True)
    try:
        if a.select_slices:
            select_slices(cp, run_dir, deadline + 3600)
            return
        result = run(a, cp, run_dir, deadline, prov)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    prov.update(loadavg_end=loadavg(), cpu_probe_end_s=round(cpu_probe_s(), 4))
    print("provenance " + json.dumps(prov))
    print(json.dumps(result))


def run(a, cp, run_dir, deadline, prov):
    in_dir, gen_s, gens = make_inputs(a.workload, a.seed, run_dir)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace)]
    if a.workload == "survey_dag":
        args += ["--spec", str(in_dir / "spec.json")]
    else:
        args += ["--sf-dir", str(in_dir), "--gates", ",".join(slices()[a.workload]["gates"]),
                 "--verify-out", str(run_dir / "verify")]
    out = run_jvm(cp, run_dir, args, deadline)

    # output checks, outside the timed region
    attempted, failed = out["attempted"], out["failed"]
    if a.workload == "survey_dag":
        bad = check_survey(in_dir / "spec.json", out["outputs"])
        for module, name, why in bad:
            print(f"wrong output: {module}/{name}: {why}", file=sys.stderr)
        failed += len(bad)
    else:
        bad = check_registry(run_dir / "verify", in_dir, slices()[a.workload]["gates"])
        for g in bad:
            print(f"wrong output: gate {g} does not match its DuckDB oracle", file=sys.stderr)
        # a wrong gate makes every run of it wrong
        failed += sum(out["ops_per_kind"].get(g, 1) for g in bad)
    failed = min(failed, attempted)

    setup_s = gen_s + out["session_s"] + out["warmup_s"]
    prov.update(input_generation_s=round(gen_s, 4), session_s=round(out["session_s"], 4),
                warmup_s=round(out["warmup_s"], 4), passes=out["passes"],
                failed_frac=failed / attempted, inputs=out["describe"],
                peak_rss_mb=round(out["peak_rss_mb"], 1), jvm_cpu_s=round(out["jvm_cpu_s"], 2),
                jvm_gc_s=round(out["jvm_gc_s"], 3))
    if a.trace == 0:
        ops, dags, passes = out["op_seconds"], out["dag_seconds"], out["pass_seconds"]
        tail_s, tail_pct = tail(ops)
        metrics = {
            "wall_s": (statistics.median(passes), "s", len(passes)),
            "op_p50_s": (statistics.median(ops), "s", len(ops)),
            "op_tail_s": (tail_s, "s", len(ops)),
            "dag_p50_s": (statistics.median(dags), "s", len(dags)),
            "setup_s": (setup_s, "s", gens),
        }
        prov["op_tail_percentile"] = round(tail_pct, 2)
    else:
        metrics = {k: (v, unit_of(k), out["passes"]) for k, v in out["layers"].items()}
    prov["samples"] = {k: n for k, (_, _, n) in metrics.items()}
    for k, (v, unit, n) in metrics.items():
        pct = f" at p{prov['op_tail_percentile']:g}" if k == "op_tail_s" else ""
        print(f"{k:40s} {v:14.6g} {unit:6s} n={n}{pct}")
    print(f"{'failed_frac':40s} {failed / attempted:14.6g} ratio  n={attempted}")
    # printed, not gated: with the collector free to size the heap, VmHWM
    # spread 0.27-0.32 (IQR/median over ten seeds, 4-vCPU VM), wider than
    # the largest bound a metric may have
    print(f"{'peak_rss_mb':40s} {out['peak_rss_mb']:14.6g} MB     n=1")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u, _) in metrics.items()}}


def select_slices(cp, run_dir, deadline):
    """One warm run of each candidate gate, with its output bytes and stream
    batches: the property the committed slices were chosen by."""
    import sfgen
    sf_dir = run_dir / "in"
    sfgen.write_tables(sf_dir, float(SF), SF_SEED)
    cand = slices()["candidates"]
    out = run_jvm(cp, run_dir, ["--workload", "select", "--seed", "1", "--seconds", "0",
                                "--trace", "1", "--sf-dir", str(sf_dir),
                                "--gates", ",".join(cand), "--verify-out",
                                str(run_dir / "verify")], deadline)
    bad = set(check_registry(run_dir / "verify", sf_dir, cand, timeout=3600))
    for g in out["select"]:
        g["oracle_match"] = g["gate"] not in bad
        print(json.dumps(g))


if __name__ == "__main__":
    main()
