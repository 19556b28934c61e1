#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one fresh JVM.

Usage (from the root of a graft checkout):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
      --trace <0|1>

Each run builds graft and the benchmark harness from source (cached
under .bench_build/), generates the workload's tables from the seed
(cached under .bench_work/data/), then runs the workload in one fresh
JVM: set-up (launch to SparkSession ready), a cold pass over the query
list, then warm passes until --seconds have passed and at least
MIN_WARM ran.
After the timed passes every query's result is checked against DuckDB
running graft's own oracle SQL over the same parquet. The last line of
standard output is one JSON object with the run's metrics: the
end-to-end metrics with --trace 0, the per-layer metrics with
--trace 1 (listeners, spans and the layer probes switched on).
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

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True  # write nothing into the benchmark's dir

import metrics  # noqa: E402
import oracle  # noqa: E402
from gen import generate  # noqa: E402

CORES = min(os.cpu_count() or 1, 4)
# Fixed heap and young generation: every run cycles the whole young
# generation, so peak RSS tracks retained (old) memory and non-heap
# use instead of how far the heap happened to grow.
HEAP, YOUNG = "2g", "512m"
JVM_TIMEOUT_S = 165  # a run must end within 180 s, build aside

# Closed loop, one client: each workload is a fixed query list over
# tables generated from the seed at GenData scale factor SF (500 docs,
# 200 vectors, 10k events, 60k lineitem). Each run makes a cold pass,
# then at least MIN_WARM warm passes. Three warm passes of nine queries
# put both the median and the tail sample (27 - 10 = rank 17) in the
# middle of one query's three samples, not between two queries.
SF = 0.01
MIN_WARM = 3
WORKLOADS = {
    # Many small full plans on the star schema and events: Catalyst,
    # the scheduler, Tables scans, etl (Features, Clean.strict/light)
    # and the CSV/ORC round-trips. PlanMemo, the custom kernels and
    # streaming barely run: the no-change side for those layers.
    "star_sql": [
        "q01_trips_per_day", "q11_clean_pipeline", "q19_sql_surface",
        "q20_clean_light", "r01_star_revenue", "r06_asof_join",
        "r10_asof_native", "c01_csv_roundtrip", "c08_orc_roundtrip"],
    # The corpus side: PlanMemo builds and published artifacts (LSH
    # bands, bpe_vocab), the dedup and BPE kernels, Par.jobs (t29),
    # vector search through DotProduct, TopK and PqEncode, k-means,
    # packing and a streaming drain. Cold pays every build; warm
    # passes reuse them.
    "corpus_pipeline": [
        "d01_exact_dedup", "d02_minhash_lsh", "t29_bpe_ids_large",
        "p01_pack_chunks", "s01_cosine_topk", "s07_ivf_search",
        "s11_ivfpq_search", "km01_kmeans_assign",
        "w14_streaming_semantic_gate"],
}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


# ---------------------------------------------------------------- build
def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    jars = Path(home) / "jars" if home else None
    if not jars or not jars.is_dir():
        fail("no Spark installation found (set SPARK_HOME)")
    return jars


def build(root, jars):
    """Compile graft's main sources and the harness into one classes
    dir with the Scala compiler Spark ships; cached on a source hash."""
    sources = sorted((root / "src" / "main" / "scala").rglob("*.scala"))
    if not sources:
        fail("no graft sources under src/main/scala: run from the root "
             "of a graft checkout")
    sources += sorted((HERE / "src").glob("*.scala"))
    h = hashlib.sha256()
    for s in sources:
        h.update(str(s.relative_to(root)).encode())
        h.update(s.read_bytes())
    out = root / ".bench_build" / "perfbench" / h.hexdigest()[:16]
    if (out / "ok").exists():
        return out
    shutil.rmtree(out, ignore_errors=True)
    (out / "classes").mkdir(parents=True)
    cp = ":".join(str(j) for j in sorted(jars.glob("*.jar")))
    log(f"compiling {len(sources)} sources")
    t0 = time.time()
    r = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*",
         "scala.tools.nsc.Main", "-nowarn", "-classpath", cp,
         "-d", str(out / "classes")] + [str(s) for s in sources],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=sys.stderr)
        fail("build failed")
    (out / "ok").write_text(f"{time.time() - t0:.1f}\n")
    return out


# ----------------------------------------------------------------- data
def ensure_data(work, seed, sf):
    gen_hash = hashlib.sha256((HERE / "gen.py").read_bytes()).hexdigest()[:8]
    d = work / "data" / f"sf{sf}-seed{seed}-{CORES}p-{gen_hash}"
    if not (d / "ROWS").exists():
        tmp = d.with_name(d.name + f".tmp{os.getpid()}")
        shutil.rmtree(tmp, ignore_errors=True)
        counts = generate(str(tmp), seed, sf, CORES)
        (tmp / "ROWS").write_text(json.dumps(counts))
        shutil.rmtree(d, ignore_errors=True)
        tmp.rename(d)
    counts = json.loads((d / "ROWS").read_text())
    log("rows " + " ".join(f"{k}={v}" for k, v in counts.items()))
    return d


# ------------------------------------------------------------------ jvm
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def cpu_ticks():
    """(busy, steal) clock ticks of the whole host, all CPUs: busy is
    every /proc/stat field but idle and iowait; steal is time the
    hypervisor ran something else while this host wanted a CPU."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v[:8]) - v[3] - v[4] - v[7], v[7]


def jvm(classes, jars, run_dir, spec):
    """Run the harness in a fresh JVM with a hermetic working dir,
    tmpdir and Spark local dir; returns (launch epoch s, raw dict)."""
    for sub in ("tmp", "local", "warehouse"):
        (run_dir / sub).mkdir(parents=True, exist_ok=True)
    spec_file = run_dir / "spec.properties"
    spec["rundir"] = str(run_dir)
    spec["out"] = str(run_dir / "raw.json")
    spec_file.write_text("".join(f"{k}={v}\n" for k, v in spec.items()))
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = (["java", "-XX:-UsePerfData"] +
           [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] +
           [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}",
            f"-Djava.io.tmpdir={run_dir / 'tmp'}",
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{classes / 'classes'}:{jars}/*",
            "graft.perfbench.Harness", str(spec_file)])
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(run_dir / "local"))
    (run_dir / "raw.json").unlink(missing_ok=True)
    launch = time.time()
    with open(run_dir / "jvm.log", "w") as logf:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=logf,
                             stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = -9
        finally:  # timeout or termination: never leave the JVM behind
            if p.poll() is None:
                p.terminate()  # shutdown hooks reclaim graft's scratch dirs
                try:
                    p.wait(timeout=10)
                except subprocess.TimeoutExpired:
                    p.kill()
                    p.wait()
    if rc != 0 or not (run_dir / "raw.json").exists():
        lines = (run_dir / "jvm.log").read_text().splitlines()
        first = next((i for i, x in enumerate(lines)
                      if "Exception" in x or "Error" in x), len(lines) - 30)
        print("\n".join(lines[max(0, first):first + 30]), file=sys.stderr)
        fail(f"harness JVM exited with {rc}")
    return launch, json.loads((run_dir / "raw.json").read_text())


# ----------------------------------------------------------------- main
def main():
    # SIGTERM unwinds like an error, so the JVM is killed and scratch
    # removed on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    queries = WORKLOADS[a.workload]
    root = Path.cwd()
    work = root / ".bench_work"
    jars = spark_jars()
    classes = build(root, jars)
    data = ensure_data(work, a.seed, SF)

    run_dir = work / "runs" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        load0 = os.getloadavg()[0]
        busy0, steal0 = cpu_ticks()
        launch, raw = jvm(classes, jars, run_dir, {
            "data": data, "cores": CORES, "trace": a.trace,
            "queries": ",".join(queries), "seconds": a.seconds,
            "min_warm": MIN_WARM})
        busy1, steal1 = cpu_ticks()
        load1 = os.getloadavg()[0]
        verdicts = oracle.check(work / "oracle", a.workload, a.seed, data,
                                run_dir / "results", raw["oracle_sql"],
                                queries)
        for q, err in raw["verify_errors"].items():
            verdicts[q] = f"result not written: {err}"
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    tck = os.sysconf("SC_CLK_TCK")
    noise = {"load_1m_start": load0, "load_1m_end": load1,
             "other_cpu_s": (busy1 - busy0 - raw["ticks"]) / tck,
             "steal_s": (steal1 - steal0) / tck,
             "jvm_cpu_s": raw["ticks"] / tck}
    res = metrics.compute(raw, verdicts, launch, CORES, MIN_WARM,
                          a.trace == 1)
    for q, why in sorted(res["failures"].items()):
        log(f"FAILED {q}: {why}")
    for q, v in sorted(verdicts.items()):
        if v == "unchecked":
            log(f"no oracle SQL for {q}: checked that it ran")
    log("host noise " + json.dumps({k: round(v, 3) for k, v in
                                    noise.items()}))
    print("detail " + json.dumps(res["detail"], sort_keys=True))
    print("host_noise " + json.dumps(noise, sort_keys=True))
    last = work / "last" / f"{a.workload}-{a.seed}.json"
    if a.trace:
        if last.exists():
            untraced = json.loads(last.read_text())
            diff = {k: res["traced"][k] - untraced[k]
                    for k in res["traced"] if k in untraced}
            print("tracing_overhead " + json.dumps(diff, sort_keys=True))
        else:
            print("tracing_overhead unknown: no untraced run of this "
                  "workload and seed in this checkout yet")
    else:
        last.parent.mkdir(parents=True, exist_ok=True)
        last.write_text(json.dumps({k: v["value"] for k, v in
                                    res["metrics"].items()}))
    print(json.dumps({"correct": not res["failures"],
                      "attempted": res["attempted"],
                      "failed": res["failed"],
                      "metrics": res["metrics"]}))


if __name__ == "__main__":
    main()
