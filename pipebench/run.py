#!/usr/bin/env python3
"""Pipeline benchmark: firehose ingest -> groom -> two-phase train -> score.

    python3 pipebench/run.py --workload trickle|train_cycle --seed N \
        --seconds S --trace 0|1 [--size full|tiny]

Run from the repository root. Builds the engine from `src/main/scala`
plus the driver in `pipebench/src` (scalac from the Spark jars, cached
under `.bench_build/` by source hash), generates the run's inputs from
the seed, replays them in one JVM, checks the outputs against the
planted truth and prints one JSON line as the last line of stdout:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
The line before it is a report (machine, calibration probe, sample
counts, checks) that is not a metric. See pipebench/README.md.
"""

import argparse
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
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build", "pipebench")
JVM_TIMEOUT_S = 170

SPANS = ["ingest.parse", "ingest.merge_write", "groom", "train.load", "train.p1",
         "train.ckpt_save", "train.ckpt_load", "train.p2", "train.publish", "score.rank"]
SPAN_FIELDS = [("wall_s", "s"), ("driver_s", "s"), ("jobs", "count"), ("tasks", "count"),
               ("exec_cpu_s", "s"), ("gc_s", "s"), ("shuffle_write_bytes", "B"),
               ("spill_bytes", "B"), ("input_bytes", "B")]
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


class BenchError(Exception):
    pass


def sources(base):
    if not os.path.isdir(base):
        raise BenchError("no sources at %s: run from the repository root" % base)
    out = []
    for d, _, names in os.walk(base):
        out += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    return sorted(out)


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m or not os.path.isdir(m.group(1)):
        raise BenchError("Spark jars not found: set SPARK_HOME")
    return m.group(1)


def compile_once(name, srcs, deps):
    """scalac `srcs` against `deps` (jars) + the Spark jars; returns a jar
    of the classes, kept under a name keyed by the sources' hash."""
    h = hashlib.sha256("\0".join(deps).encode())
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    out = os.path.join(BUILD, "%s-%s" % (name, h.hexdigest()[:16]))
    jar = os.path.join(out, name + ".jar")
    if os.path.exists(jar):
        return jar
    classes = os.path.join(out, "classes")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(classes)
    cp = os.pathsep.join(deps + [os.path.join(spark_jars(), "*")])
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    t0 = time.time()
    proc = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(spark_jars(), "*"),
         "scala.tools.nsc.Main", "-nowarn", "-d", classes, "-classpath", cp, "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        raise BenchError("build of %s failed" % name)
    # a jar, not a class directory: the JVM's class-data sharing archive
    # only covers classes loaded from jars
    with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_DEFLATED) as z:
        for d, _, names in os.walk(classes):
            for n in sorted(names):
                z.write(os.path.join(d, n), os.path.relpath(os.path.join(d, n), classes))
    os.replace(jar + ".tmp", jar)
    shutil.rmtree(classes)
    sys.stderr.write("built %s (%d sources) in %.1f s\n" % (name, len(srcs), time.time() - t0))
    return jar


def build():
    """Engine jar from src/main/scala, then the driver jar against it.
    Returns the jars and the path of the class-data sharing archive the
    first run leaves behind (it cuts JVM and Spark start-up by several
    seconds on every later run)."""
    engine = compile_once("engine", sources(os.path.join(ROOT, "src", "main", "scala")), [])
    driver = compile_once("driver", sources(os.path.join(HERE, "src")), [engine])
    return [driver, engine], os.path.join(os.path.dirname(driver), "classes.jsa")


def heap_size():
    """Half of RAM, clamped to 2..8 GiB (the tier-1 test heap rule)."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration):
        g = 2
    return "%dg" % min(8, max(2, g))


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def spark_threads():
    """Spark's task threads: half the CPUs, so that the driver thread,
    the JIT compilers (about one CPU's worth in a run) and the garbage
    collector do not queue for a CPU behind tasks."""
    return max(1, cpus() // 2)


def cpu_stat():
    """The aggregate `cpu` line of /proc/stat, or None."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def steal_share(a, b):
    """Share of CPU time the hypervisor gave to other guests between two
    /proc/stat samples: a sign of a loaded host, reported, not a metric."""
    if not a or not b or len(a) < 8 or len(b) < 8:
        return None
    total = sum(b[:8]) - sum(a[:8])
    return (b[7] - a[7]) / total if total > 0 else None


def machine():
    info = {"cpus": cpus(), "heap": heap_size(), "python": sys.version.split()[0]}
    try:
        with open("/proc/cpuinfo") as f:
            info["cpu_model"] = next((l.split(":", 1)[1].strip() for l in f
                                      if l.startswith("model name")), "unknown")
        with open("/proc/meminfo") as f:
            info["mem_total_kb"] = int(next(l.split()[1] for l in f if l.startswith("MemTotal:")))
        info["loadavg"] = os.getloadavg()[0]
    except (OSError, StopIteration):
        pass
    return info


def run_jvm(jars, run_dir, trace, jvm_flags):
    tmp = os.path.join(run_dir, "scratch", "tmp")
    os.makedirs(tmp, exist_ok=True)
    # no hsperfdata file: the JVM would write it to the system temp
    # directory, outside the checkout
    cmd = ["java", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
    cmd += jvm_flags + ["-Xmx" + heap_size(), "-Djava.io.tmpdir=" + tmp,
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", os.pathsep.join(jars + [os.path.join(spark_jars(), "*")]),
            "pipebench.PipeBench", "--dir", run_dir, "--cpus", str(spark_threads()),
            "--trace", str(trace)]
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run_dir,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = None
    if rc != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        raise BenchError("driver JVM %s" % ("timed out" if rc is None else "exited %d" % rc))
    with open(os.path.join(run_dir, "observed.json")) as f:
        return json.load(f)


# ---- output checks --------------------------------------------------------

def check(obs, truth):
    """Returns [(check name, ok, detail)] against the planted truth."""
    out = []

    def add(name, ok, detail=""):
        out.append((name, bool(ok), detail))

    census = {}
    for b in obs["batches"]:
        for k, v in b["census"].items():
            census[k] = census.get(k, 0) + v
    add("invalid_census", census == truth["invalid_census"],
        "%s vs planted %s" % (census, truth["invalid_census"]))
    for model, t in sorted(truth["models"].items()):
        s = obs["store"].get(model, {})
        add("rows[%s]" % model, s.get("rows") == t["decisions"],
            "%s rows vs %d distinct decisions" % (s.get("rows"), t["decisions"]))
        add("orphans[%s]" % model, s.get("orphans") == 0, str(s.get("orphans")))
        got = s.get("reward_sum", float("nan"))
        add("reward_sum[%s]" % model, abs(got - t["reward_sum"]) <= 1e-6 * max(1.0, t["reward_sum"]),
            "%s vs planted %s" % (got, t["reward_sum"]))
        add("no_overlaps[%s]" % model, s.get("overlaps") == 0, str(s.get("overlaps")))
        add("rows_per_file[%s]" % model, s.get("max_rows_per_file", 0) <= 10000
            and s.get("name_rows") == s.get("rows"),
            "max %s, names %s" % (s.get("max_rows_per_file"), s.get("name_rows")))
    for g in obs["grooms"]:
        add("groom_overlaps[%s]" % g["model"], g["overlaps"] == 0, str(g["overlaps"]))
    for t in obs["trains"]:
        add("trees[%s,%s]" % (t["model"], t["mode"]), t["trees_p1"] > 0 and t["trees_p2"] > 0,
            "%d/%d" % (t["trees_p1"], t["trees_p2"]))
        add("checkpoint[%s,%s]" % (t["model"], t["mode"]), t["ckpt_loaded"] == (t["mode"] == "warm"),
            "loaded=%s" % t["ckpt_loaded"])
    sc, pol = obs["score"], obs["policy"]
    add("scores_finite", sc["all_finite"] and pol["all_finite"], "")
    add("ranked_all", sc["ranked"] == sum(len(h["items"]) for h in truth["holdout"][:len(sc["top"])]),
        str(sc["ranked"]))
    add("rank_matches_score", sc["top"] == pol["top"][:len(sc["top"])],
        "%s vs %s" % (sc["top"], pol["top"][:len(sc["top"])]))
    return out


def chosen_values(obs, truth):
    """Planted expected reward of the published model's top item, and of
    the best candidate, for every holdout context."""
    return [(h["values"][h["items"].index(top)], max(h["values"]))
            for top, h in zip(obs["policy"]["top"], truth["holdout"])]


def policy_value(obs, truth):
    """Mean planted expected reward of the model's top-ranked item."""
    return statistics.mean(v for v, _ in chosen_values(obs, truth))


def regret(obs, truth):
    """Mean shortfall of the model's top item against the best candidate."""
    return statistics.mean(best - v for v, best in chosen_values(obs, truth))


def quantile(values, q):
    """Linear-interpolated quantile of a non-empty list."""
    v = sorted(values)
    pos = (len(v) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def metrics(obs, truth):
    # the first ingest call in the JVM pays class loading and code
    # generation, as every IngestJob process does: it counts in the
    # throughput but not in the batch latencies, which compare like with
    # like
    batches = obs["batches"]
    small = [b["wall_s"] for b in batches[1:] if not b["bulk"]]
    ingest_s = sum(b["wall_s"] for b in batches)
    ingest_lines = sum(b["lines"] for b in batches)
    ingest_bytes = sum(b["bytes_written"] for b in obs["batches"])
    groom_s = sum(g["wall_s"] for g in obs["grooms"])
    groom_bytes = sum(g["bytes_written"] for g in obs["grooms"])
    trains = obs["trains"]
    rows = sum(s.get("rows", 0) for s in obs["store"].values())
    return {
        "setup_s": (statistics.median(obs["setup_s"]), "s"),
        "ingest_batch_p50_s": (quantile(small, 0.5), "s"),
        "ingest_batch_p75_s": (quantile(small, 0.75), "s"),
        "ingest_records_per_s": (ingest_lines / ingest_s, "1/s"),
        "groom_s": (groom_s, "s"),
        "groom_write_amp": (groom_bytes / ingest_bytes, "ratio"),
        "store_bytes_per_row": (sum(s.get("bytes", 0) for s in obs["store"].values()) / rows, "B"),
        "train_s": (statistics.median(t["wall_s"] for t in trains if t["mode"] == "cold"), "s"),
        "retrain_s": (statistics.median(t["wall_s"] for t in trains if t["mode"] == "warm"), "s"),
        "chain_s": (obs["chain_s"], "s"),
        "policy_value": (policy_value(obs, truth), "reward"),
        "peak_heap_mb": (obs["peak_heap_mb"], "MB"),
    }


def layer_metrics(obs, truth, failed_ratio):
    spans = obs["spans"]
    out = {}
    for s in SPANS:
        for field, unit in SPAN_FIELDS:
            out["%s.%s" % (s, field)] = (spans.get(s, {}).get(field, 0), unit)
    batches, grooms, trains = obs["batches"], obs["grooms"], obs["trains"]
    out.update({
        "ingest.records": (sum(b["lines"] for b in batches), "count"),
        "ingest.invalid": (sum(sum(b["census"].values()) for b in batches), "count"),
        "ingest.files_written": (sum(b["files_written"] for b in batches), "count"),
        "ingest.bytes_written": (sum(b["bytes_written"] for b in batches), "B"),
        "groom.iterations": (sum(g["iterations"] for g in grooms), "count"),
        "groom.files_in": (sum(g["files_in"] for g in grooms), "count"),
        "groom.files_out": (sum(g["files_out"] for g in grooms), "count"),
        "groom.bytes_written": (sum(g["bytes_written"] for g in grooms), "B"),
        "groom.peak_concurrency": (max([g["peak_concurrency"] for g in grooms] or [0]), "count"),
        "train.files_selected": (sum(t["files_selected"] for t in trains), "count"),
        "train.rows_p1": (sum(t.get("rows_p1", 0) for t in trains), "count"),
        "train.rows_p2": (sum(t.get("rows_p2", 0) for t in trains), "count"),
        "train.features": (max(t["features"] for t in trains), "count"),
        "train.trees_p1": (sum(t["trees_p1"] for t in trains if not t["ckpt_loaded"]), "count"),
        "train.trees_p2": (sum(t["trees_p2"] for t in trains), "count"),
        "train.artifact_bytes": (trains[-1]["artifact_bytes"], "B"),
        "failed_ratio": (failed_ratio, "ratio"),
        "policy.regret": (regret(obs, truth), "reward"),
        "trace.chain_s": (obs["chain_s"], "s"),
        "trace.listener_s": (spans["trace"]["listener_s"], "s"),
    })
    return out


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.SIZES))
    ap.add_argument("--seed", type=int, required=True)
    # the work per run is fixed by the workload; --seconds is accepted
    # for the calling convention and recorded in the report
    ap.add_argument("--seconds", type=int, default=50)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    a = ap.parse_args(argv)
    try:
        jars, cds = build()
        run_dir = os.path.join(BUILD, "runs", "%s-%d-%d-%d" % (a.workload, a.seed, a.trace, os.getpid()))
        shutil.rmtree(run_dir, ignore_errors=True)
        t0 = time.time()
        _, truth = gen.generate(a.workload, a.seed, run_dir, a.size)
        gen_s = time.time() - t0
        stat0 = cpu_stat()
        try:
            if os.path.exists(cds):
                obs = run_jvm(jars, run_dir, a.trace, ["-XX:SharedArchiveFile=" + cds])
            else:
                obs = run_jvm(jars, run_dir, a.trace, ["-XX:ArchiveClassesAtExit=" + cds + ".tmp"])
                if os.path.exists(cds + ".tmp"):
                    os.replace(cds + ".tmp", cds)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
        steal = steal_share(stat0, cpu_stat())
    except BenchError as e:
        sys.stderr.write("pipebench: %s\n" % e)
        return 2

    checks = check(obs, truth)
    ops = len(obs["batches"]) + len(obs["grooms"]) + len(obs["trains"]) + len(obs["score"]["top"])
    failed = sum(1 for _, ok, _ in checks if not ok)
    attempted = ops + len(checks)
    failed_ratio = failed / attempted
    for name, ok, detail in checks:
        if not ok:
            sys.stderr.write("CHECK FAILED %s: %s\n" % (name, detail))
    chosen = layer_metrics(obs, truth, failed_ratio) if a.trace else metrics(obs, truth)
    report = {
        "workload": a.workload, "seed": a.seed, "size": a.size, "trace": a.trace,
        "machine": machine(), "calibration": obs["calibration"],
        "generate_s": gen_s, "setup_runs_s": obs["setup_s"],
        "ingest_batch_samples": sum(1 for b in obs["batches"][1:] if not b["bulk"]),
        "ingest_first_s": obs["batches"][0]["wall_s"],
        "spark_threads": spark_threads(), "cpu_steal": steal, "thread_cpu_s": obs["thread_cpu_s"],
        "failed_ratio": failed_ratio, "checks_failed": [c[0] for c in checks if not c[1]],
        "planted": {k: truth[k] for k in ("invalid_census", "duplicates", "late_rewards", "lines")},
        "gc_s": obs["gc_s"],
        "chain_cpu_s": obs["chain_cpu_s"], "seconds": a.seconds,
    }
    print(json.dumps({"report": report}, sort_keys=True))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
