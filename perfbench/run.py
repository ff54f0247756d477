"""KG-construction benchmark driver.

  python3 perfbench/run.py --workload kg_batch --seed 1 --seconds 30 --trace 0

Runs from the root of a source checkout.  Generates the workload's inputs
from ``--seed`` (cached, untimed), runs operations in fresh processes for
``--seconds``, checks every operation's triples against the pure-Python
reference, and prints one JSON object as the last stdout line.  With
``--trace 0`` its metrics are the end-to-end metrics; with ``--trace 1``
the per-layer metrics of a traced run.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

WORKLOADS = {
    "kg_batch": {"kind": "batch", "docs": 4000, "skew": False, "groups": 0,
                 "window_docs": 100},
    "kg_dictionary": {"kind": "dict", "docs": 300, "skew": True,
                      "groups": 4500, "window_docs": 100},
}
TINY = {
    "kg_batch": {"docs": 200, "window_docs": 20},
    "kg_dictionary": {"docs": 100, "groups": 200, "window_docs": 20},
}
END_TO_END_UNITS = {"setup_s": "s", "docs_per_s": "docs/s",
                    "cpu_s_per_kdoc": "core-s"}
SETUP_SAMPLES = 2
EPISODE_TIMEOUT_S = 160


class Runner:
    """Starts episodes (perfbench/episode.py) one at a time and measures
    each from outside: set-up time, the op's tree CPU and peak RSS."""

    def __init__(self, sampler, work: str, cpus: int):
        self.sampler = sampler
        self.work = work
        self.cpus = cpus
        self.log = os.path.join(work, "episodes.log")
        self.env = dict(os.environ)
        self.env["PYTHONPATH"] = ROOT + (
            os.pathsep + self.env["PYTHONPATH"]
            if self.env.get("PYTHONPATH") else "")
        # scratch space inside the checkout: Spark's local dirs, Python's
        # and the JVM's temp files, the session's warehouse dir; no
        # hsperfdata files in /tmp
        for var, sub in (("SPARK_LOCAL_DIRS", "spark-local"),
                         ("TMPDIR", "tmp"),
                         ("SPARK_GRAFT_WAREHOUSE", "warehouse")):
            self.env[var] = os.path.join(work, sub)
            os.makedirs(self.env[var], exist_ok=True)
        self.env["JAVA_TOOL_OPTIONS"] = (
            f"-Djava.io.tmpdir={self.env['TMPDIR']} -XX:-UsePerfData")

    def episode(self, mode: str, *argv: str) -> dict:
        from perfbench import proctree
        self.sampler.reset_peak()
        cmd = [sys.executable, os.path.join(BENCH, "episode.py"), mode,
               "--cpus", str(self.cpus), *argv]
        rec: dict = {"mode": mode}
        with open(self.log, "a") as log:
            log.write(f"\n### {' '.join(cmd)}\n")
            log.flush()
            t_spawn = time.perf_counter()
            cpu0 = self.sampler.cpu_s()
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log,
                                    env=self.env, cwd=ROOT, text=True)
            timer = threading.Timer(EPISODE_TIMEOUT_S, proc.kill)
            timer.start()
            try:
                for line in proc.stdout:
                    if not line.startswith("@@"):
                        log.write(line)
                        continue
                    tag, _, payload = line[2:].partition(" ")
                    now = time.perf_counter()
                    rec[tag] = json.loads(payload)
                    if tag == "READY":
                        rec["setup_s"] = now - t_spawn
                        rec["cpu_ready"] = self.sampler.cpu_s()
                    elif tag == "OP":
                        rec["op_cpu_s"] = self.sampler.cpu_s() - rec.get(
                            "cpu_ready", cpu0)
                rec["rc"] = proc.wait()
            finally:
                timer.cancel()
                proctree.reap()
        rec["wall_s"] = time.perf_counter() - t_spawn
        rec["peak_rss_mb"] = self.sampler.peak_rss_bytes / 2**20
        return rec

    def op(self, workload: dict, inputs: dict, out: str) -> dict:
        shutil.rmtree(out, ignore_errors=True)
        if workload["kind"] == "batch":
            return self.episode("cli", "--input", inputs["corpus"],
                                "--out", out)
        return self.episode("dict", "--input", inputs["corpus"],
                            "--aliases", inputs["aliases"], "--out", out)


def prepare(workload: dict, seed: int, procs: int) -> dict:
    """perfbench/inputs.py in its own process, so its process pool and
    helpers have ended before anything is measured."""
    from perfbench import proctree
    done = subprocess.run(
        [sys.executable, os.path.join(BENCH, "inputs.py"), "--cache",
         os.path.join(BENCH, ".work", "cache"), "--workload",
         json.dumps(workload), "--seed", str(seed), "--procs", str(procs)],
        stdout=subprocess.PIPE, check=True, text=True, cwd=ROOT)
    proctree.reap()
    return json.loads(done.stdout.strip().splitlines()[-1])


def check(rows, reference: dict) -> bool:
    from perfbench.inputs import summarize
    return summarize(rows) == reference


def checked_op(runner, workload, inputs, out) -> dict:
    from perfbench.inputs import read_triples
    rec = runner.op(workload, inputs, out)
    ok = rec["rc"] == 0 and "OP" in rec and check(
        read_triples(os.path.join(out, "stage4_triples")),
        inputs["reference"])
    rec["ok"] = ok
    if ok:
        with open(os.path.join(out, "_PIPELINE.json")) as f:
            rec["stage_wall_s"] = {k: v["wall_sec"] for k, v in
                                   json.load(f)["stages"].items()}
    shutil.rmtree(out, ignore_errors=True)
    return rec


def end_to_end(runner, workload, inputs, seconds, work) -> tuple:
    ops: list = []
    t0 = time.perf_counter()
    while True:
        ops.append(checked_op(runner, workload, inputs,
                              os.path.join(work, f"out{len(ops)}")))
        elapsed = time.perf_counter() - t0
        if not ops[-1]["ok"] or elapsed + ops[-1]["wall_s"] > seconds:
            break
    setups = [r["setup_s"] for r in ops if "setup_s" in r]
    while len(setups) < SETUP_SAMPLES:
        probe = runner.episode("setup")
        if "setup_s" not in probe:
            raise RuntimeError("set-up probe failed; see episodes.log")
        setups.append(probe["setup_s"])
    good = [r for r in ops if r["ok"]]
    docs = inputs["docs"]
    metrics = {}
    if good:
        metrics = {
            "setup_s": statistics.median(setups),
            "docs_per_s": statistics.median(
                docs / r["OP"]["wall_s"] for r in good),
            "cpu_s_per_kdoc": statistics.median(
                1000.0 * r["op_cpu_s"] / docs for r in good),
        }
    detail = {"ops": [{"wall_s": r["OP"]["wall_s"] if "OP" in r else None,
                       "episode_s": r["wall_s"],
                       "ok": r["ok"], "setup_s": r.get("setup_s"),
                       "op_cpu_s": r.get("op_cpu_s"),
                       "peak_rss_mb": r["peak_rss_mb"],
                       "stage_wall_s": r.get("stage_wall_s")} for r in ops],
              "setup_samples": setups,
              "spark": next((r["READY"] for r in ops if "READY" in r), None)}
    units = END_TO_END_UNITS
    return ops, {k: {"value": v, "unit": units[k]}
                 for k, v in metrics.items()}, detail


PER_LAYER_UNITS = {
    "session.start_s": "s", "session.peak_rss_mb": "MB", "io.scan_s": "s",
    "stage1.boundary_s": "s",
    "stage1.extract_s": "s", "stage1.tasks": "count",
    "stage1.cpu_util": "ratio", "stage1.efficiency": "ratio",
    "readability.docs_per_s_core": "docs/s", "stage2.detect_s": "s",
    "stage2.mentions": "count", "stage2.link_s": "s",
    "stage2.link_yield": "ratio", "linking.docs_per_s_core": "docs/s",
    "linking.build_s": "s", "stage3.canonicalize_s": "s",
    "stage3.jobs": "count", "stage3.stages": "count",
    "stage3.edges": "count", "stage3.distributed": "flag",
    "stage3.shuffle_bytes": "bytes", "stage4.assemble_s": "s",
    "stage4.triples": "count", "stage4.jobs": "count",
    "tableio.write_s": "s", "tableio.jobs_per_write": "count",
    "tableio.bytes_written": "bytes", "pipeline.jobs": "count",
    "pipeline.stages": "count", "pipeline.tasks": "count",
    "pipeline.shuffle_bytes": "bytes", "pipeline.spill_bytes": "bytes",
    "pipeline.gc_s": "s", "pipeline.resume_s": "s",
    "streaming.window_s": "s", "streaming.jobs_per_window": "count",
    "streaming.stages_per_window": "count", "streaming.sink_files": "count",
    "trace.overhead_s": "s", "trace.stage12_self_share": "ratio",
    "trace.stage3_self_share": "ratio",
}


def traced(runner, workload, inputs, work) -> tuple:
    """An untraced op and a traced run, each in a fresh process; the
    overhead is the traced ``run_pipeline`` call's wall minus the untraced
    op's."""
    from perfbench.inputs import read_triples
    plain = checked_op(runner, workload, inputs, os.path.join(work, "out"))
    out = os.path.join(work, "trace_out")
    twork = os.path.join(work, "trace_work")
    for d in (out, twork):
        shutil.rmtree(d, ignore_errors=True)
    argv = ["--input", inputs["corpus"], "--out", out, "--work", twork,
            "--window-docs", str(workload["window_docs"])]
    if workload["kind"] == "batch":
        argv.append("--cli-conf")
    else:
        argv += ["--aliases", inputs["aliases"]]
    rec = runner.episode("trace", *argv)
    ok = rec["rc"] == 0 and "TRACE" in rec
    trace = {}
    if ok:
        with open(rec["TRACE"]["path"]) as f:
            trace = json.load(f)
        ok = check(read_triples(os.path.join(out, "stage4_triples")),
                   inputs["reference"])
        # the windows' union against the reference of their documents
        ok = ok and check(read_triples(trace["windows_sink"]),
                          inputs["window_reference"])
    shutil.rmtree(out, ignore_errors=True)
    ops = [plain, {"ok": ok}]
    metrics = dict(trace.get("metrics", {}))
    if ok and plain["ok"]:
        metrics["session.start_s"] = rec["setup_s"]
        metrics["session.peak_rss_mb"] = plain["peak_rss_mb"]
        metrics["trace.overhead_s"] = (metrics.pop("trace.run_s")
                                       - plain["OP"]["wall_s"])
    metrics = {k: {"value": metrics[k], "unit": u}
               for k, u in PER_LAYER_UNITS.items() if k in metrics}
    detail = {"self_s_by_layer": trace.get("self_s_by_layer"),
              "untraced_op_s": plain.get("OP", {}).get("wall_s"),
              "trace_file": rec.get("TRACE", {}).get("path"),
              "window_docs": workload["window_docs"]}
    return ops, metrics, detail


def _cpu_ticks() -> list:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _memory() -> dict:
    """The host's memory state from /proc/meminfo, in MB."""
    info = {}
    with open("/proc/meminfo") as f:
        for line in f:
            key, _, rest = line.partition(":")
            info[key] = int(rest.split()[0]) / 1024.0
    return {"mem_available_mb": round(info["MemAvailable"]),
            "swap_used_mb": round(info["SwapTotal"] - info["SwapFree"])}


def _foreign_jvms() -> int:
    """Java processes on the host that this benchmark did not start: a
    resident JVM of another Spark job competes for memory and cores."""
    from perfbench import proctree
    mine = set(proctree.descendants(os.getpid()))
    count = 0
    for name in os.listdir("/proc"):
        if not name.isdigit() or int(name) in mine:
            continue
        try:
            with open(f"/proc/{name}/comm") as f:
                count += f.read().strip() == "java"
        except OSError:
            pass
    return count


def _steal_frac(before: list, after: list) -> float:
    """Share of the host's CPU time the hypervisor gave to other guests
    while the run measured (the 8th /proc/stat field): neighbour load
    that the guest's load average does not show."""
    delta = [a - b for a, b in zip(after, before)]
    return delta[7] / max(1, sum(delta))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: the self-test's inputs")
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "recrun_spark")):
        print(f"no recrun_spark package under {ROOT}: run from the root of "
              "a source checkout", file=sys.stderr)
        return 2

    from perfbench import proctree
    proctree.become_subreaper()
    workload = dict(WORKLOADS[args.workload])
    if args.size == "tiny":
        workload.update(TINY[args.workload])
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(BENCH, ".work", f"{args.workload}-s{args.seed}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    inputs = prepare(workload, args.seed, cpus)

    load_before, cpu_before = os.getloadavg(), _cpu_ticks()
    mem_before, jvms_before = _memory(), _foreign_jvms()
    with proctree.TreeSampler() as sampler:
        runner = Runner(sampler, work, cpus)
        if args.trace:
            ops, metrics, detail = traced(runner, workload, inputs, work)
            wanted = PER_LAYER_UNITS
        else:
            ops, metrics, detail = end_to_end(runner, workload, inputs,
                                              args.seconds, work)
            wanted = END_TO_END_UNITS
    proctree.reap()
    failed = sum(1 for r in ops if not r["ok"])
    host = {"nproc": cpus, "cpu_count": os.cpu_count(), "cpus_passed": cpus,
            "cpus_explicit": True,
            "driver_memory": (detail.get("spark") or {}).get("driver_memory")
            or os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g (default)"),
            "loadavg_before": load_before, "loadavg_after": os.getloadavg(),
            "memory_before": mem_before, "memory_after": _memory(),
            "foreign_jvms_before": jvms_before,
            "steal_frac": _steal_frac(cpu_before, _cpu_ticks())}
    record = {"workload": args.workload, "seed": args.seed,
              "trace": args.trace, "docs": inputs["docs"], "host": host,
              "failed_frac": failed / len(ops), "detail": detail}
    with open(os.path.join(work, "result.json"), "w") as f:
        json.dump({**record, "metrics": metrics}, f, indent=1)
    print(json.dumps({"host": host, "detail": detail}))
    print(f"failed_frac {failed / len(ops):.4f} ratio "
          f"({failed} of {len(ops)} operations)")
    for name, m in metrics.items():
        print(f"{name} {m['value']:.6g} {m['unit']}")
    correct = failed == 0 and set(metrics) == set(wanted)
    print(json.dumps({"correct": correct, "attempted": len(ops),
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
