#!/usr/bin/env python3
"""Benchmark of the graft cleaning engine: one workload, one run.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1 [--scale full|smoke]

Run from the repository root. Builds the library and the benchmark program
when their sources changed (``perfbench/build.py``), generates the workload's inputs
from the seed (``perfbench/gen.py``), runs them through one SparkSession at
local[nproc] with a single closed-loop client, checks every op's output and
prints one JSON line last: ``correct``, ``attempted``, ``failed`` and the
metrics (end-to-end with ``--trace 0``, per-layer with ``--trace 1``).
Failed ops are named on stderr. ``--scale smoke`` runs the sf0.001 inputs,
for the benchmark's own tests.

Workloads:
  clean_session   cleaning actions over a dirty in-memory lineitem, and
                  declared TPC-H-shaped reports checked against DuckDB
  corpus_ingest   dedup/decontaminate/score/append of arriving doc batches

A run times whole decks of ops: it starts decks until ``--seconds`` have
passed and always finishes the deck it is in. Each deck holds the workload's
full mix (14 ops on ``clean_session``, 2 ingest batches on
``corpus_ingest``), and one deck of either takes longer than 10 s on a
4-core host, so at ``--seconds 10`` a run times exactly one deck.

Per-layer metrics are means per traced op. Spans wrap the benchmark's own
calls into each layer, so some layers show only indirectly: ``functions``
(native expressions) through ``spark.task_cpu_s``, ``plans`` (the optimizer
rule) through ``spark.optimize_s``. ``clean.*`` count only the work a
cleaning call does at once (fitting a fill value, a quantile); applying the
cleaned frame is lazy and is booked to the action or write that runs it
(``spark.action_s``, ``sources.write_s``). The ``llm`` steps of a traced
ingest are instead run to completion inside their spans (a local
checkpoint), so ``llm.*`` hold the curation work and ``sources.write_*``
only the append; the traced ingest therefore also runs each step once
where the untraced append may recompute shared parts, which
``trace.overhead_s`` includes. Planning phases are read from the queries
the benchmark collects; a parquet write does not expose them, so
``corpus_ingest`` reports 0 there. ``llm.candidate_pairs`` and
``llm.candidate_precision`` come from re-running the self-dedup step's
candidate and verify passes outside the timed op. The last traced run's
spans, with self times, are kept in ``.bench_build/runs/spans-<workload>.json``.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.dont_write_bytecode = True
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ["clean_session", "corpus_ingest"]
GEN_REPEATS = 3
DEADLINE_S = 170
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def run_jvm(classpath, args, work, timeout):
    cmd = ["java", "-Xmx3g", "-Xss8m", f"-Djava.io.tmpdir={work / 'tmp'}"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main"] + args
    with open(work / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                cwd=work, start_new_session=True)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None


def end_to_end(res, ops, gen_s):
    walls = [o["wall"] for o in ops]
    ok = [o for o in ops if o["err"] is None]
    # a failed op counts as slower than any completed one
    ranked = sorted(o["wall"] for o in ok) + [max(walls)] * (len(ops) - len(ok))
    return {
        "setup_s": (statistics.median(gen_s) + res["setup_jvm_s"], "s"),
        "op_p50_s": (statistics.median(ranked), "s"),
        "rows_per_s": (sum(o["rows"] for o in ok) / sum(walls), "1/s"),
        "storage_peak_mb": (res["storage_peak_mb"], "MB"),
    }


def per_layer(res, ops):
    units = {"_s": "s", "_bytes": "bytes", "_mb": "MB", "_ratio": "ratio",
             "_precision": "ratio", "_recall": "ratio"}
    out = {}
    for k, v in res["layers"].items():
        unit = next((u for suf, u in units.items() if k.endswith(suf)), "count")
        out[k] = (v, unit)
    traced = [o["wall"] for o in ops if o["traced"]]
    plain = [o["wall"] for o in ops if not o["traced"]]
    out["trace.overhead_s"] = (statistics.median(traced) - statistics.median(plain), "s")
    out["spark.control_s"] = (statistics.median(res["control_s"]), "s")
    out["fail_ratio"] = (sum(o["err"] is not None for o in ops) / len(ops), "ratio")
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    ap.add_argument("--scale", default="full", choices=sorted(gen.SCALES))
    a = ap.parse_args()
    t_start = time.monotonic()
    try:
        classpath = build.build()
    except (OSError, RuntimeError, subprocess.SubprocessError) as e:
        sys.exit(f"build failed: {e}")

    runs = ROOT / ".bench_build" / "runs"
    work = runs / f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    data = work / "data"
    gen_s = []
    for _ in range(GEN_REPEATS):  # set-up measured several times, median kept
        shutil.rmtree(data, ignore_errors=True)
        t = time.monotonic()
        gen.generate(a.workload, a.seed, a.scale, str(data))
        gen_s.append(time.monotonic() - t)

    out = work / "result.json"
    rc = run_jvm(classpath, [
        "--workload", a.workload, "--data", str(data), "--work", str(work),
        "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--out", str(out)],
        work, DEADLINE_S - (time.monotonic() - t_start))
    if rc != 0 or not out.exists():
        tail = (work / "jvm.log").read_text(errors="replace")[-4000:]
        sys.exit(f"benchmark JVM {'timed out' if rc is None else f'exited {rc}'}:\n{tail}")
    res = json.loads(out.read_text())
    ops = res["ops"]
    problems = list(res["warmup_failed"])
    if "oracle" in res:
        verdict = oracle.check(data / "tpch", work / "dumps", res["oracle"], res["dumps"])
        for key in res["oracle"]:
            why = verdict.get(key, "no checked result")
            if why:
                problems.append(f"{key}: oracle mismatch: {why}")
                for o in ops:
                    if o["key"] == key and o["err"] is None:
                        o["err"] = f"oracle mismatch: {why}"
    for o in ops:
        if o["err"] is not None:
            problems.append(f"{o['kind']}/{o['key']}: {o['err']}")
    for p in sorted(set(problems)):
        print(f"[perfbench] FAILED {p}", file=sys.stderr)

    if a.trace == "1":
        shutil.copy(work / "spans.json", runs / f"spans-{a.workload}.json")
        metrics = per_layer(res, ops)
    else:
        metrics = end_to_end(res, ops, gen_s)
    failed = sum(o["err"] is not None for o in ops)
    print(json.dumps({"workload": a.workload, "ops": len(ops), "decks": res["decks"],
                      "run_s": res["run_s"], "gen_s": gen_s,
                      "setup_jvm_s": res["setup_jvm_s"], "session_s": res["session_s"],
                      "load_s": res["load_s"], "warmup_s": res["warmup_s"],
                      "warmup_walls": res["warmup_walls"],
                      "walls": [round(o["wall"], 3) for o in ops],
                      "control_s": res["control_s"]}), file=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0 and not problems,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
