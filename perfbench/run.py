#!/usr/bin/env python3
"""Repository benchmark: flagship capture and operator-fleet workloads.

Run from the repository root:

    python3 perfbench/run.py --workload capture_wide --seed 1 --seconds 20 --trace 0

It builds the engine from ``src/main`` plus the benchmark's JVM side in
``perfbench/src`` with the Scala compiler shipped in the Spark jars (no sbt),
generates the workload's inputs from the seed, runs one JVM at
``local[nproc]``, checks every operation's output, prints a human-readable
report and, as the last stdout line, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer metrics of a traced run
(its spans are written to ``<build>/perfbench/traces``). The exit code is
non-zero when any operation failed or an output check did not match.

``--corrupt-expected`` perturbs one expected value before the run; the run
must then fail. ``perfbench/selftest.py`` uses it to prove the gate is live.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen_pcap  # noqa: E402
import gen_tables  # noqa: E402

DEADLINE_S = 170  # the whole run, build excluded

# Why each workload exists and what it should (not) move: see README.md.
WORKLOADS = {
    "capture_wide": {"kind": "capture", "packets": 40000, "warmups": 1},
    "ops_fleet": {"kind": "ops", "warmups": 2, "keys": [
        ("sim_pq_topk", "queries.SimilarityQ"),
        ("g_bfs_depth", "queries.GraphQ"),
        ("x_copurchase", "queries.AnalyticsExtQ"),
        ("d_minhash_lsh", "queries.DedupQ"),
        ("st_dedup_replay", "queries.StreamingReplayQ"),
    ]},
}

DIGESTS = os.path.join(HERE, "expected_digests.json")
DATA = gen_tables.DATA
# A fixed, pre-touched heap under the parallel collector. With G1, `run_s` spread
# across seeds was two to three times wider; with a resizable heap, peak RSS
# varied by ~25 %.
JVM_OPTS = ["-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:+AlwaysPreTouch", "-Xss8m", "-XX:-UsePerfData", "-XX:+IgnoreUnrecognizedVMOptions"] + [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
        "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "jdk.internal.ref",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", flush=True)


def fail(msg, code=2):
    print(f"[perfbench] error: {msg}", file=sys.stderr, flush=True)
    sys.exit(code)


def spark_jars():
    """The Spark jars: ``$SPARK_JARS``, else the build's ``unmanagedBase``."""
    if "SPARK_JARS" in os.environ:
        return os.environ["SPARK_JARS"]
    with open("build.sbt") as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        fail("build.sbt declares no unmanagedBase; set SPARK_JARS")
    return m.group(1)


def classpath(classes):
    return f"{classes}:{os.path.join(spark_jars(), '*')}"


def build(build_dir):
    """Compile src/main + perfbench/src into a content-addressed class dir."""
    main_srcs = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    java_srcs = sorted(glob.glob("src/main/java/**/*.java", recursive=True))
    bench_srcs = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    if not main_srcs:
        fail("no engine sources under src/main/scala: run from the repository root")
    compiler = glob.glob(os.path.join(spark_jars(), "scala-compiler-*.jar"))
    if not compiler:
        fail(f"no scala-compiler jar in {spark_jars()}")
    h = hashlib.sha256()
    resources = sorted(p for p in glob.glob("src/main/resources/**", recursive=True) if os.path.isfile(p))
    for p in main_srcs + java_srcs + bench_srcs + resources:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update(os.path.basename(compiler[0]).encode())
    classes = os.path.join(build_dir, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(classes):
        return classes
    for stale in glob.glob(os.path.join(build_dir, "classes-*")):
        shutil.rmtree(stale, ignore_errors=True)
    tmp = classes + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(spark_jars(), "*")
    t0 = time.time()
    log(f"building {len(main_srcs) + len(bench_srcs)} scala sources")
    r = subprocess.run(["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
                        "-d", tmp, "-classpath", cp] + main_srcs + java_srcs + bench_srcs)
    if r.returncode == 0 and java_srcs:
        r = subprocess.run(["javac", "-nowarn", "-d", tmp, "-cp", f"{tmp}:{cp}"] + java_srcs)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail("build failed")
    for p in resources:
        dest = os.path.join(tmp, os.path.relpath(p, "src/main/resources"))
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        shutil.copy(p, dest)
    os.rename(tmp, classes)
    log(f"built in {time.time() - t0:.1f} s")
    return classes


def check_snapshot(res, exp):
    """Read the published snapshot back (no engine involved) and compare it
    with what the generator computed. Returns a list of mismatches."""
    import pyarrow.parquet as pq

    def scan(path):
        n, chk, meta, labels = 0, 0, 0, {}
        for f in sorted(glob.glob(os.path.join(path, "*.parquet"))):
            t = pq.read_table(f)
            if t.num_rows == 0:
                continue
            n += t.num_rows
            us = np.rint(t.column("timestamp").to_numpy() * 1e6).astype(np.int64)
            row = np.zeros(t.num_rows, dtype=np.int64)
            for i in range(gen_pcap.WIDTH):
                b = np.rint(t.column(f"byte({i})").to_numpy().astype(np.float64) * 255).astype(np.int64)
                row += (i + 1) * b
            chk += int((row * (1 + us % 1009)).sum())
            ip = [np.array([gen_pcap.ip_u32(s) for s in t.column(c).to_pylist()], dtype=np.int64)
                  for c in ("src_ip", "dst_ip")]
            meta += int((ip[0] + 3 * ip[1] + 5 * t.column("src_port").to_numpy()
                         + 7 * t.column("dst_port").to_numpy()
                         + 11 * t.column("protocol").to_numpy().astype(np.int64)).sum())
            for k, c in zip(*np.unique(np.array(t.column("label").to_pylist(), dtype=str), return_counts=True)):
                labels[k] = labels.get(k, 0) + int(c)
        return n, chk, meta, labels

    bad = []
    n, chk, meta, labels = scan(res["snapshot_data"])
    for name, got, want in [("in_range rows", n, exp["in_range"]), ("checksum", chk, exp["checksum"]),
                            ("meta_checksum", meta, exp["meta_checksum"]), ("labels", labels, exp["labels"])]:
        if got != want:
            bad.append(f"data {name}: {got} != expected {want}")
    if exp["forward"] == 0:
        if res["snapshot_adv"]:
            bad.append("adversarial table published with no forward rows")
    elif not res["snapshot_adv"]:
        bad.append("adversarial table missing")
    else:
        n, chk, meta, _ = scan(res["snapshot_adv"])
        for name, got, want in [("rows", n, exp["forward"]), ("checksum", chk, exp["adv_checksum"]),
                                ("meta_checksum", meta, exp["adv_meta_checksum"])]:
            if got != want:
                bad.append(f"adversarial {name}: {got} != expected {want}")
    return bad


def quantile_line(name, unit, xs):
    """Median plus the highest percentile with at least ten samples beyond it."""
    s = sorted(xs)
    line = f"{name}: median {statistics.median(s):.4f} {unit}, n={len(s)} ({' '.join(f'{x:.3f}' for x in xs)})"
    for p in (99, 95, 90, 75, 50):
        if len(s) * (100 - p) / 100 >= 10:
            line += f", p{p} {s[min(len(s) - 1, int(len(s) * p / 100))]:.4f} {unit}"
            break
    else:
        line += ", no percentile has >=10 samples beyond it"
    return line


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--corrupt-expected", action="store_true")
    a = ap.parse_args()
    wl = WORKLOADS[a.workload]

    build_dir = os.path.join(os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    os.makedirs(build_dir, exist_ok=True)
    classes = build(build_dir)
    t_start = time.time()

    work = os.path.abspath(os.path.join(build_dir, "work", f"{a.workload}-{a.seed}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cores = len(os.sched_getaffinity(0))
    args = [f"cores={cores}", f"seconds={a.seconds}", f"trace={a.trace}", f"work={work}",
            f"result={work}/result.json", f"run_id={a.workload}-{a.seed}",
            f"warmups={wl['warmups']}"]
    exp = None
    try:
        if wl["kind"] == "capture":
            pcap = os.path.join(work, "capture.pcap")
            exp = gen_pcap.generate(a.seed, wl["packets"], pcap)
            if a.corrupt_expected:
                exp["decodable"] += 1
            # at least two scan tasks per core
            split = max(64 * 1024, -(-exp["bytes"] // (2 * cores)))
            args += ["kind=capture", f"pcap={pcap}", f"split={split}"] + [
                f"{k}={exp[k]}" for k in ("packets", "decodable", "in_range", "forward")]
            log(f"{a.workload}: {exp['packets']} packets, {exp['bytes']} bytes, split {split} B, "
                f"{exp['decodable']} decodable, {exp['in_range']} in range, {exp['forward']} forward, "
                f"{exp['udp_share']:.0%} UDP (ASCII payload), {exp['short_share']:.0%} short payloads")
        else:
            data = gen_tables.generate(a.seed, os.path.join(work, "tables"))
            with open(DIGESTS) as f:
                digests = json.load(f)
            missing = [k for k, _ in wl["keys"] if k not in digests]
            if missing:
                fail(f"no expected digest for {missing}: run perfbench/make_digests.py")
            specs = [f"{k}:{m}:{digests[k] if not a.corrupt_expected or i else 'corrupt'}"
                     for i, (k, m) in enumerate(wl["keys"])]
            args += ["kind=ops", f"data={data}", "keys=" + ",".join(specs)]
            log(f"{a.workload}: keys {' '.join(k for k, _ in wl['keys'])}")
        if a.trace:
            os.makedirs(os.path.join(build_dir, "traces"), exist_ok=True)
            args.append("trace_out=" + os.path.abspath(
                os.path.join(build_dir, "traces", f"{a.workload}-{a.seed}.json")))

        cmd = ["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={work}/tmp", "-cp", classpath(classes),
                                     "perfbench.PerfBench"] + args
        with open(os.path.join(work, "jvm.log"), "w") as logf:
            proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT)
            # the JVM must not outlive this process, whatever ends it
            for sig in (signal.SIGTERM, signal.SIGINT):
                signal.signal(sig, lambda n, _: (proc.kill(), proc.wait(), sys.exit(128 + n)))
            try:
                proc.wait(timeout=max(10, DEADLINE_S - (time.time() - t_start)))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                fail("run exceeded its deadline", 3)
        res_path = os.path.join(work, "result.json")
        if proc.returncode != 0 or not os.path.exists(res_path):
            with open(os.path.join(work, "jvm.log")) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            fail(f"benchmark JVM exited with {proc.returncode}", 4)
        with open(res_path) as f:
            res = json.load(f)

        errors = list(res["errors"])
        attempted, failed = res["attempted"], res["failed"]
        if wl["kind"] == "capture":  # the read-back is one more checked operation
            try:
                bad = check_snapshot(res, exp)
            except Exception as e:  # an unreadable snapshot is a wrong output
                bad = [f"snapshot read-back failed: {e}"]
            attempted, failed, errors = attempted + 1, failed + bool(bad), errors + bad
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for e in errors:
        log(f"FAILED {e}")
    runs = res["run_times"]
    metrics = {}
    if runs:
        run_s = statistics.median(runs)
        metrics["run_s"] = {"value": run_s, "unit": "s"}
        log(quantile_line("run_s", "s", runs))
        if wl["kind"] == "capture":
            log(f"pkt_s: {exp['packets'] / run_s:.1f} packets/s (n={len(runs)})")
            log(f"out_bytes_per_in_byte: {res['out_bytes'] / exp['bytes']:.4f} ratio")
    metrics["setup_s"] = {"value": res["setup_s"], "unit": "s"}
    metrics["peak_rss_mb"] = {"value": res["peak_rss_mb"], "unit": "MB"}
    for k, ts in sorted(res.get("key_times", {}).items()):  # timed passes only
        if ts[wl["warmups"]:]:
            log(quantile_line(f"  {k}", "s", ts[wl["warmups"]:]))
    log(f"setup_s: {res['setup_s']:.4f} s, n=1 (JVM start to the first timed operation, "
        f"{wl['warmups']} warm-up operation(s))")
    log(f"peak_rss_mb: {res['peak_rss_mb']:.1f} MB")
    log(f"old_gen_live_mb: {res['old_gen_live_mb']:.1f} MB (heap old generation after full GC, "
        "largest over the timed operations)")
    log(f"failed_ratio: {failed / attempted:.4f} ({failed}/{attempted})")
    log("output check: " + ("PASS" if not errors else f"FAIL ({len(errors)} mismatches)"))
    if a.trace:
        per = dict(res.get("per_layer", {}), **{"jvm.old_gen_live_mb": res["old_gen_live_mb"]})
        if wl["kind"] == "capture" and runs:
            per["capture.pkt_s"] = exp["packets"] / statistics.median(runs)
            per["capture.out_bytes_per_in_byte"] = res["out_bytes"] / exp["bytes"]
        with open("BENCHMARK.json") as f:
            units = {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}
        for name in sorted(set(per) - set(units)):
            log(f"per-layer metric {name} is not declared in BENCHMARK.json; not reported")
        # metrics of layers this workload does not run read 0
        metrics = {n: {"value": float(per.get(n) or 0.0), "unit": u} for n, u in units.items()}
        log(f"spans: {res['trace_file']}")
    print(json.dumps({"correct": not errors, "attempted": attempted, "failed": failed, "metrics": metrics}))
    sys.exit(1 if errors else 0)


if __name__ == "__main__":
    main()
