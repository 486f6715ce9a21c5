#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the engine and the harness from
source (sbt, offline) on first use, generates the inputs, runs one
workload in a fresh JVM, checks every op's output and prints one JSON
object as the last line of stdout:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
The full record (header, per-op results, trace) is written under
.bench_build/records/. Everything the run writes stays under .bench_build/.
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

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import layers  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
HEAP = "3g"
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def call(cmd, timeout, **kw):
    """Run cmd in its own process group and wait for it; on timeout the
    whole group (sbt's JVM included) is killed before raising."""
    p = subprocess.Popen(cmd, start_new_session=True, stdin=subprocess.DEVNULL, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, out


# ---- build ----

def source_digest():
    """Digest of everything the harness is built from."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_jars():
    """The installed Spark distribution's jar directory."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise BenchError("no Spark installation found (set SPARK_HOME)")
    return os.path.join(home, "jars")


def build():
    """Compile engine + harness with sbt when the sources changed; returns
    the runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft", "SparkEntry.scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise BenchError(f"{need} not found: run from the root of a full checkout")
    digest = source_digest()
    stamp = os.path.join(BUILD, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            s = json.load(f)
        if s.get("digest") == digest:
            return s["classpath"], digest
    log("building engine and harness (sbt, offline)")
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] += f" -Djava.io.tmpdir={tmp} -Dperfbench.spark.jars={spark_jars()}"
    with open(os.path.join(BUILD, "build.log"), "w") as logf:
        code, out = call(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            840, cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=logf, text=True)
        logf.write(out)
    cps = [ln for ln in out.splitlines() if ln.startswith("/") and ".jar" in ln]
    if code != 0 or not cps:
        raise BenchError(f"build failed (exit {code}); see .bench_build/build.log")
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": cps[-1]}, f)
    return cps[-1], digest


# ---- JVM ----

def jvm(classpath, cfg, tag):
    """Run the harness on one configuration; returns its JSON output."""
    work = os.path.join(BUILD, "work")
    tmp = os.path.join(BUILD, "tmp")
    for d in (work, tmp, os.path.join(BUILD, "logs")):
        os.makedirs(d, exist_ok=True)
    cfg = dict(cfg, local_dir=os.path.join(BUILD, "spark-local"),
               warehouse_dir=os.path.join(work, "spark-warehouse"))
    cfg_path = os.path.join(tmp, f"{tag}.config.json")
    out_path = os.path.join(tmp, f"{tag}.out.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    if os.path.exists(out_path):
        os.remove(out_path)
    cmd = (["java", f"-Xmx{HEAP}", "-XX:+UseG1GC"]
           + [a for p in JVM_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Dgraft.sink.root={os.path.join(BUILD, 'sink')}",
              f"-Djava.io.tmpdir={tmp}",
              "-cp", classpath, "graft.perfbench.Harness", cfg_path, out_path])
    with open(os.path.join(BUILD, "logs", f"{tag}.log"), "w") as logf:
        code, _ = call(cmd, 900, cwd=work, stdout=logf, stderr=subprocess.STDOUT)
    if code != 0 or not os.path.exists(out_path):
        raise BenchError(f"harness exited {code}; see .bench_build/logs/{tag}.log")
    with open(out_path) as f:
        return json.load(f)


def cores():
    return len(os.sched_getaffinity(0))


# ---- inputs ----

def corpus_dir(classpath, name):
    """The read corpus `name` ("base", or "x<copies>" for its ScaleGen
    scale-up), generated once per checkout; row counts are verified from
    the parquet footers before any timing."""
    d = os.path.join(BUILD, "data", name)
    if name == "base":
        want = dict(gen.BASE_ROWS)
        if _counts(d) != want:
            log("generating base corpus")
            gen.write_corpus(d)
    else:
        want = workloads.scaled_rows(gen.BASE_ROWS)
        if _counts(d) != want:
            log(f"scaling the base corpus to {name} with graft.ScaleGen")
            jvm(classpath, {"mode": "prepare", "cores": cores(), "src": corpus_dir(classpath, "base"),
                            "dst": d, "copies": workloads.SCALE_COPIES}, "prepare")
    got = _counts(d)
    if got != want:
        raise BenchError(f"corpus {d} row counts {got} != expected {want}")
    return d


def _counts(d):
    try:
        return gen.corpus_row_counts(d)
    except Exception:
        return None


# ---- header ----

def disk_fingerprint(read_dir):
    """Sequential write (64 MiB, fsync'd) and read (corpus bytes, up to
    64 MiB) throughput of the checkout's disk, in MB/s."""
    path = os.path.join(BUILD, "tmp", "fingerprint.bin")
    block = b"\0" * (8 << 20)
    t0 = time.perf_counter()
    with open(path, "wb") as f:
        for _ in range(8):
            f.write(block)
        f.flush()
        os.fsync(f.fileno())
    w = 64 * 1.048576 / (time.perf_counter() - t0)
    os.remove(path)
    n, t0 = 0, time.perf_counter()
    for d, _, fs in os.walk(read_dir):
        for fn in sorted(fs):
            if n >= 64 << 20:
                break
            with open(os.path.join(d, fn), "rb") as f:
                while chunk := f.read(8 << 20):
                    n += len(chunk)
    r = n / 1e6 / max(time.perf_counter() - t0, 1e-9)
    return {"write_mb_s": round(w, 1), "read_mb_s": round(r, 1), "read_mb": round(n / 1e6, 1),
            "cold": 0}


def git_commit():
    """HEAD of the checkout when it is the root of a git work tree."""
    try:
        p = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        top, head = p.stdout.split()
        return head if p.returncode == 0 and os.path.samefile(top, ROOT) else None
    except Exception:
        return None


# ---- checks ----

def check_queries(ops, expected):
    """Mark each query op failed unless it ran and its checksum equals
    the expected one for this corpus."""
    for op in ops:
        exp = expected.get(op["name"])
        if "error" in op:
            op["failed"] = "error"
        elif exp is None:
            op["failed"] = "no expected checksum"
        elif (op["rows"], op["sum"]) != (exp["rows"], exp["sum"]):
            op["failed"] = f"checksum {op['rows']}/{op['sum']} != {exp['rows']}/{exp['sum']}"
    return ops


def check_batches(ops, model):
    """Mark each batch op failed unless its quarantine count, head rows,
    head key checksum and served kNN result match the model."""
    for i, op in enumerate(ops):
        m = model[i + 1]
        if "error" in op:
            op["failed"] = "error"
            continue
        bad = []
        if op["quarantined"] != m["quarantined"]:
            bad.append(f"quarantined {op['quarantined']} != {m['quarantined']}")
        if op["head_rows"] != m["head_rows"] or op["head_check"] != m["head_check"]:
            bad.append(f"head {op['head_rows']}/{op['head_check']} != {m['head_rows']}/{m['head_check']}")
        if not op["index_equal"]:
            bad.append("maintained index != rebuilt index")
        if "rebuilt_rows" in op and (op["knn_rows"], op["knn_sum"]) != (op["rebuilt_rows"], op["rebuilt_sum"]):
            bad.append("maintained kNN result != rebuilt kNN result")
        if bad:
            op["failed"] = "; ".join(bad)
    return ops


# ---- one run ----

def run(workload, seed, seconds, trace):
    spec = workloads.get(workload)
    classpath, digest = build()
    n_cores = cores()
    cfg = {"mode": spec["mode"], "trace": bool(trace), "cores": n_cores,
           "setups": workloads.SETUPS, "standing": spec.get("standing", [])}
    model = None
    if spec["mode"] == "etl":
        batches = workloads.etl_batches(seconds)
        etl_dir = os.path.join(BUILD, "data", f"etl_seed{seed}")
        model = gen.write_etl_inputs(etl_dir, seed, batches)
        cfg["corpus"] = etl_dir
        table = os.path.join(BUILD, "sink", "etl_commit")
        cfg["etl"] = {"dir": etl_dir, "batches": model, "page": gen.ETL_PAGE, "fail_every": 5,
                      "rows": model[-1]["hi"], "table": table}
        # the untimed JIT warm-up commits the first two batches to a scratch table
        cfg["jit_warmup"] = dict(cfg["etl"], batches=model[:2], table=table + "_warmup")
        input_bytes = sum(os.path.getsize(os.path.join(etl_dir, m["file"])) for m in model[1:])
    else:
        cfg["corpus"] = corpus_dir(classpath, spec["corpus"])
        cfg["ops"] = workloads.op_order(spec, seed, seconds)
        cfg["jit_warmup"] = {"corpus": corpus_dir(classpath, "base"), "ops": workloads.JIT_WARMUP}
    header = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": bool(trace),
        "git_commit": git_commit(), "source_digest": digest, "nproc": n_cores, "heap": HEAP,
        "load": "closed loop, 1 client thread, 1 JVM",
        "disk": disk_fingerprint(cfg["corpus"]),
        "corpus_rows": _counts(cfg["corpus"]) if spec["mode"] != "etl" else None,
    }
    t0 = time.time()
    raw = jvm(classpath, cfg, f"{workload}-{seed}-{int(trace)}")
    header["settings"] = raw.get("settings")
    # host-speed fingerprint: the untimed warm-up does the same work on
    # every run, so its time moves with the host, not with the workload
    header["jit_warmup_s"] = raw["jit_warmup_ms"] / 1000.0
    header["run_s"] = round(time.time() - t0, 3)
    ops = raw["ops"]
    if spec["mode"] == "etl":
        check_batches(ops, model)
    else:
        with open(os.path.join(HERE, "expected", f"{spec['corpus']}.json")) as f:
            expected = json.load(f)["queries"]
        check_queries(ops, expected)
    failed = [op for op in ops if op.get("failed")]
    times = [op["ms"] / 1000.0 for op in ops]
    setups = [s["total_ms"] / 1000.0 for s in raw["setups"]]
    record = {"header": header, "setups": raw["setups"], "ops": ops,
              "oracle_failed": workloads.oracle_failed(spec)}
    summary = {
        "setup_s": stats.median(setups),
        "wall_s": raw["wall_ms"] / 1000.0,
        "op_p50_s": stats.median(times),
        "standing_mb": raw["standing_bytes"] / 1e6,
        "failed_share": len(failed) / len(ops),
    }
    t = stats.tail(times)
    if t and len(ops) >= 40:
        summary["op_tail_s"], summary["op_tail_pct"], summary["op_tail_n"] = t
    if spec["mode"] == "etl":
        committed = sum(m["hi"] - m["lo"] for m in model[1:])
        summary["rows_per_s"] = committed / summary["wall_s"]
        summary["write_amp"] = (raw["etl"]["bytes_end"] - raw["etl"]["bytes_start"]) / input_bytes
    record["summary"] = summary
    if trace:
        record["layers"], record["op_layers"] = layers.per_layer(raw, spec, n_cores)
        record["layers"]["etl.rows_per_s"] = summary.get("rows_per_s", 0.0)
        record["layers"]["ledger.write_amp"] = summary.get("write_amp", 0.0)
        if record["layers"]["trace.attributed_share"] < layers.ATTRIBUTION_TOLERANCE:
            log(f"named layers account for only {record['layers']['trace.attributed_share']:.1%} "
                f"of op wall time (tolerance {layers.ATTRIBUTION_TOLERANCE:.0%})")
    os.makedirs(os.path.join(BUILD, "records"), exist_ok=True)
    with open(os.path.join(BUILD, "records", f"{workload}-seed{seed}-trace{int(trace)}.json"), "w") as f:
        json.dump(record, f, indent=1)
    for op in failed:
        log(f"FAILED {op['name']}: {op['failed']}")
    if trace:
        metrics = {m["name"]: {"value": record["layers"].get(m["name"], 0), "unit": m["unit"]}
                   for m in workloads.benchmark()["per_layer"]}
    else:
        metrics = {m["name"]: {"value": summary[m["name"]], "unit": m["unit"]}
                   for m in workloads.benchmark()["end_to_end"]}
    return {"correct": not failed, "attempted": len(ops), "failed": len(failed), "metrics": metrics}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    try:
        result = run(a.workload, a.seed, a.seconds, a.trace)
    except (BenchError, KeyError, subprocess.TimeoutExpired, FileNotFoundError) as e:
        log(f"error: {e}")
        return 2
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
