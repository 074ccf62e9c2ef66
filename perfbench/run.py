#!/usr/bin/env python3
"""danaespark benchmark: one workload per run, one JSON result line.

    python3 perfbench/run.py --workload serve_publish --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --selftest

Run from the repository root. The first run builds the engine together with
the benchmark program (``perfbench/build.sbt``, offline sbt); later runs reuse
the build while the sources are unchanged. Every input is generated from
``--seed`` into a work directory under ``.bench_work/``, which is removed
when the run ends. With ``--trace 1`` the result carries the per-layer
metrics instead of the end-to-end ones; the trace itself is kept in
``.bench_out/``. See perfbench/README.md for what each metric measures.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ["serve_publish", "corpus_admit"]
E2E_UNITS = {
    "setup_s": "s",
    "first_answer_s": "s",
    "latency_p50_ms": "ms",
    "throughput_per_s": "1/s",
    "artifact_mb": "MB",
}
# Lake scale (lineitem = 6e6 * sf). graft.Bench serves at sf0.1
# (Bench.scala:16), but there serve_publish takes about 120 s a run on a
# 4-core box, more than the run budget allows (see README.md). The gate's
# seed corpus is the documents below DocBound at any scale, so sf only
# sizes the serving lake.
LAKE_SF = 0.01
SELFTEST_SF = 0.001
# Admission micro-batch size: the 500-doc batches of graft.Bench's
# stream_admit line (Bench.scala:301-305).
BATCH_DOCS = 500
# Share of a micro-batch that copies a seed document. In the engine's sf0.1
# fixture lake, 21% of the documents have the same token set as another one
# (a token-set Jaccard of 1, which the gate's 0.95 threshold rejects).
DUP_SHARE = 0.2
# DanaeBench.SetupReps: set-ups per run, each with its own first answer in
# corpus_admit.
SETUP_REPS = 3
# Wall-clock budget of one run, set-up and checks included.
RUN_TIMEOUT_S = 175
BUILD_TIMEOUT_S = 840
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def layer_unit(name: str) -> str:
    if name.endswith("_ms") or "_ms_" in name:
        return "ms"
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_pct"):
        return "%"
    if name.endswith("ratio") or name.endswith("share"):
        return "ratio"
    return "count"


# ---- build ----

def sources() -> list:
    files = glob.glob(f"{ROOT}/src/main/scala/**/*.scala", recursive=True)
    files += glob.glob(f"{HERE}/src/main/scala/**/*.scala", recursive=True)
    files += [f"{HERE}/build.sbt", f"{HERE}/project/build.properties"]
    return sorted(files)


def build() -> str:
    """Package the engine and the benchmark with sbt when the sources changed;
    returns the jar."""
    jar = f"{HERE}/target/perfbench.jar"
    stamp_file = f"{HERE}/target/perfbench.stamp"
    h = hashlib.sha256()
    for f in sources():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp and os.path.exists(jar):
        return jar
    log("building the engine and the benchmark with sbt (offline)")
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.autostart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    res = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "package"],
                         cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         text=True, timeout=BUILD_TIMEOUT_S, start_new_session=True)
    if res.returncode != 0 or not os.path.exists(jar):
        sys.stderr.write(res.stdout[-4000:])
        raise SystemExit("[perfbench] build failed")
    log(f"build took {time.time() - t0:.1f}s")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return jar


def spark_home() -> str:
    """SPARK_HOME, or the Spark installation whose spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home:
        raise SystemExit("[perfbench] no Spark installation: set SPARK_HOME")
    return home


def spark_jars() -> str:
    return os.path.join(spark_home(), "jars")


def java_cmd(jar: str, work: str) -> list:
    # a fixed heap: no resizing that differs from run to run
    return (["java", "-Xms2g", "-Xmx2g", f"-Djava.io.tmpdir={work}/tmp"]
            + [f"--add-opens={p}=ALL-UNNAMED" for p in JAVA_OPENS]
            + ["-cp", f"{jar}:{spark_jars()}/*", "perfbench.DanaeBench"])


# ---- inputs ----

def make_inputs(work: str, workload: str, seed: int, seconds: float, trace: bool,
                sf: float) -> dict:
    import inputs as gen
    lake = f"{work}/lake"
    sizes = gen.make_lake(lake, seed, sf)
    spec = {"workload": workload, "seed": seed, "sf": sf, "lake_rows": sizes}
    # with --trace 1 the measured phase runs three times (untraced, traced,
    # untraced), for half the time each
    phases, half = (3, seconds / 2) if trace else (1, seconds)
    if workload == "serve_publish":
        # Serving.publishes (2) in the measured phase, one in each traced-run phase
        spec["versions"] = gen.make_versions(lake, f"{work}/versions", seed, 3 if trace else 2)
    if workload == "corpus_admit":
        # one first-answer batch per set-up, then Admission.measure's
        # snapshot cycles (snapshotEvery = 3 batches, one cycle per
        # cycleSeconds = 12 s)
        cycles = max(1, int(half / 12 + 0.5))
        batches = SETUP_REPS + phases * 3 * cycles
        st = gen.make_stream(lake, f"{work}/stream", seed, batches, BATCH_DOCS, DUP_SHARE)
        spec.update(stream_files=st["files"], exact_dup_ids=st["exact_dup_ids"],
                    batch_docs=BATCH_DOCS, seed_docs=st["seed_docs"])
    with open(f"{work}/inputs.json", "w") as fh:
        json.dump(spec, fh)
    return spec


# ---- oracle ----

class OracleRun:
    """DuckDB running the oracle SQL over the lake's files as they are at the
    end of the measured phase. It starts as soon as the JVM marks the lake
    final, so it overlaps the JVM's own checks and shutdown."""

    def __init__(self, lake: str, ready_marker: str):
        self.lake, self.marker = lake, ready_marker
        self.thread, self.results, self.error = None, {}, None

    def start_when_ready(self) -> None:
        if self.thread is None and os.path.exists(self.marker):
            self.thread = threading.Thread(target=self._run, daemon=True)
            self.thread.start()

    def _run(self) -> None:
        try:
            import duckdb
            con = duckdb.connect()
            for f in sorted(glob.glob(f"{self.lake}/*.parquet")):
                t = os.path.basename(f)[:-len(".parquet")]
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{f}'")
            with open(os.path.join(os.path.dirname(self.lake), "oracle_sql.json")) as fh:
                sql = json.load(fh)
            for q, text in sql.items():
                self.results[q] = sorted(tuple(r) for r in con.sql(text).fetchall())
        except Exception as e:  # reported as a failed check
            self.error = repr(e)

    def compare(self, answers: list) -> list:
        self.start_when_ready()
        if self.thread is None:
            return ["the benchmark JVM never marked the lake final"]
        self.thread.join()
        if self.error:
            return [f"oracle SQL failed: {self.error}"]
        bad = [] if {a["name"] for a in answers} == set(self.results) else \
            [f"engine answered {[a['name'] for a in answers]}, oracle has {sorted(self.results)}"]
        for a in answers:
            got, exp = sorted(tuple(r) for r in a["rows"]), self.results.get(a["name"])
            if not got or got != exp:
                bad.append(f"{a['name']}: engine {got[:3]}... vs oracle {(exp or [])[:3]}... "
                           f"({len(got)} vs {len(exp or [])} rows)")
        return bad


# ---- one run ----

def run(workload: str, seed: int, seconds: float, trace: bool, sf: float) -> dict:
    if workload not in WORKLOADS:
        raise SystemExit(f"[perfbench] unknown workload {workload!r}; one of {WORKLOADS}")
    if not os.path.isdir(f"{ROOT}/src/main/scala/graft"):
        raise SystemExit(f"[perfbench] engine sources not found under {ROOT}/src/main/scala")
    jar = build()
    t_start = time.time()
    work = f"{ROOT}/.bench_work/{workload}-{seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(f"{work}/tmp")
    proc = None
    try:
        spec = make_inputs(work, workload, seed, seconds, trace, sf)
        t_gen = time.time()
        cpus = min(4, os.cpu_count() or 1)
        cmd = java_cmd(jar, work) + [workload, work, str(seconds), "1" if trace else "0",
                                          str(seed), str(cpus)]
        oracle = OracleRun(f"{work}/lake", f"{work}/measured.done") \
            if workload == "serve_publish" else None
        with open(f"{work}/jvm.log", "w") as errf, open(f"{work}/jvm.out", "w") as outf:
            proc = subprocess.Popen(cmd, cwd=work, stdout=outf, stderr=errf,
                                    text=True, start_new_session=True)
            deadline = t_start + RUN_TIMEOUT_S
            while proc.poll() is None:
                if time.time() > deadline:
                    raise SystemExit("[perfbench] the benchmark JVM timed out")
                if oracle:
                    oracle.start_when_ready()
                time.sleep(0.2)
        stdout = open(f"{work}/jvm.out").read()
        for line in stdout.splitlines():
            if line.startswith("[perfbench]"):
                log(line[len("[perfbench] "):])
        if not os.path.exists(f"{work}/result.json"):
            sys.stderr.write(open(f"{work}/jvm.log").read()[-4000:])
            raise SystemExit(f"[perfbench] the benchmark JVM exited {proc.returncode} without a result")
        res = json.load(open(f"{work}/result.json"))
        t_java = time.time()
        if oracle:
            bad = oracle.compare(res["oracle"])
            res["checks"].append({
                "name": "DuckDB running the oracle SQL equals the engine on "
                        + ", ".join(a["name"] for a in res["oracle"]),
                "ok": not bad, "detail": " || ".join(bad)})
        res["spec"] = spec
        res["info"]["run_py_s"] = {"inputs": round(t_gen - t_start, 2),
                                   "jvm": round(t_java - t_gen, 2),
                                   "checks": round(time.time() - t_java, 2)}
        if trace:
            os.makedirs(f"{ROOT}/.bench_out", exist_ok=True)
            shutil.copy(f"{work}/trace.jsonl",
                        f"{ROOT}/.bench_out/trace_{workload}_{seed}.jsonl")
        return res
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)


def report(workload: str, seed: int, trace: bool, res: dict) -> dict:
    spec, info = res["spec"], res["info"]
    log(f"workload={workload} seed={seed} lake_rows={spec['lake_rows']}")
    for k in ["repeat_share", "requests", "requests_during_publishes", "batches",
              "batch_s", "offered_docs", "admitted_docs", "setup_reps_s", "first_answer_reps_s",
              "publish_searchable_s", "persistent_rdds_before_after",
              "persistent_rdds_baseline_reset", "catalog_bootstrap_s",
              "timeline_s", "run_py_s"]:
        if k in info:
            log(f"{k}={info[k]}")
    log(f"confs={info.get('confs')}")
    for c in res["checks"]:
        log(f"check {'PASS' if c['ok'] else 'FAIL'}: {c['name']}"
            + (f" -- {c['detail']}" if c["detail"] else ""))
    for k, v in res["e2e"].items():
        log(f"end-to-end {k} = {v} {E2E_UNITS.get(k, '')}")
    if not (res["layer"] if trace else all(k in res["e2e"] for k in E2E_UNITS)):
        raise SystemExit("[perfbench] the workload did not complete; no result")
    if trace:
        log(f"tracing overhead on the headline latency: {res['layer'].get('trace.overhead_pct')} %")
        log(f"job call-site modules: {info.get('job_modules')}")
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in res["layer"].items()}
    else:
        metrics = {k: {"value": res["e2e"][k], "unit": u} for k, u in E2E_UNITS.items()}
    correct = all(c["ok"] for c in res["checks"]) and all(
        m["value"] is not None for m in metrics.values())
    return {"correct": correct, "attempted": int(res["attempted"]),
            "failed": int(res["failed"]), "metrics": metrics}


def selftest() -> int:
    """A tiny pass of every workload, traced and untraced."""
    bench = json.load(open(f"{ROOT}/BENCHMARK.json"))
    want_e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    want_layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert want_e2e == E2E_UNITS, "BENCHMARK.json end_to_end differs from run.py"
    assert sorted(w["name"] for w in bench["workloads"]) == sorted(WORKLOADS)
    failures = []
    for w in WORKLOADS:
        for trace in (False, True):
            out = report(w, 7, trace, run(w, 7, 4.0, trace, SELFTEST_SF))
            got = {k: m["unit"] for k, m in out["metrics"].items()}
            want = want_layer if trace else want_e2e
            problems = []
            if not out["correct"]:
                problems.append("not correct")
            if got != want:
                problems.append(f"metrics differ from BENCHMARK.json: {set(got) ^ set(want)}")
            if out["failed"]:
                problems.append(f"{out['failed']} failed operations")
            if trace and out["metrics"]["spark.unattributed_jobs"]["value"] != 0:
                problems.append("unattributed jobs")
            print(f"selftest {w} trace={int(trace)}: {'ok' if not problems else problems}")
            failures += problems
    return 1 if failures else 0


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--selftest", action="store_true")
    a = p.parse_args()
    if a.selftest:
        return selftest()
    if not a.workload:
        p.error("--workload is required")
    res = run(a.workload, a.seed, a.seconds, bool(a.trace), LAKE_SF)
    out = report(a.workload, a.seed, bool(a.trace), res)
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
