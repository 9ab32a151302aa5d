"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload graph --seed 1 --seconds 20 --trace 0

Run from the repository root. The session is fitted to this machine
(local[<usable cores>], as many shuffle partitions, driver heap below
physical memory). Set-up generates the workload's inputs from --seed and
writes them to parquet; the timed section then repeats whole passes
until --seconds have been spent in it. Every pass's outputs are checked
against independent numpy references after its timed section.

--trace 0 prints the end-to-end metrics (the CPU seconds of the timed
section and of set-up, scaled to a reference host speed: see HostClock);
--trace 1 turns on the Spark
status API, records per-layer spans, prints the per-layer metrics and
writes the spans to .perfbench_traces/<workload>-seed<seed>.json.
The last line of standard output is one JSON object; the lines before it
are a readable report. The exit code is 0 only if every check passed.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPEATS = 3
# a HostClock reading on the 4-core machine the benchmark was written on;
# the gated CPU times are scaled to it
PROBE_REF_S = 0.25


class ProcessTree:
    """Resident memory and CPU time of this process and all its
    descendants (the JVM and the Python workers); a background thread
    samples the summed resident memory for its peak."""

    def __init__(self, every_s: float = 0.5):
        self.every_s, self.peak_kb = every_s, 0
        self._stop = threading.Event()
        self.paused = threading.Lock()  # held: no sampling (it takes the GIL)
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _stats(self) -> tuple[int, float]:
        children: dict[int, list[int]] = {}
        stat: dict[int, list[str]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue  # exited while listing
            children.setdefault(int(fields[1]), []).append(int(d))
            stat[int(d)] = fields
        rss = ticks = 0
        todo = [os.getpid()]
        while todo:
            pid = todo.pop()
            if pid in stat:
                f = stat[pid]
                rss += int(f[21])
                # own and reaped children's user + system time
                ticks += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
            todo.extend(children.get(pid, []))
        return (rss * os.sysconf("SC_PAGE_SIZE") // 1024,
                ticks / os.sysconf("SC_CLK_TCK"))

    def cpu_s(self) -> float:
        return self._stats()[1]

    def _run(self) -> None:
        while not self._stop.is_set():
            with self.paused:
                self.peak_kb = max(self.peak_kb, self._stats()[0])
            self._stop.wait(self.every_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def _fit_environment(work: str, trace: bool) -> int:
    """Environment the session and its workers inherit; returns cores."""
    cores = len(os.sched_getaffinity(0))
    mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        # workers are forked from the JVM and import the package themselves
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p),
        "SPARK_GRAFT_DRIVER_MEM": f"{max(1, min(4, int(mem_gb // 4)))}g",
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_UI": "1" if trace else "0",
        "TMPDIR": tmp,
        # both the launcher and the driver JVM: temp files in the work dir
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    return cores


def _stop(spark) -> None:
    """Stop the session and wait for the JVM to exit (it exits when its
    standard input closes; spark.stop() alone leaves it running)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


class HostClock:
    """Samples the host's speed outside the timed sections: one rep of
    host_calibration's pinned kernel (a 1-key sort cascade and gathers)
    over a 500k-row working set, before the session starts, after each
    input set-up and after each timed operation. The run's reading is
    the median of its samples.

    On a shared machine every instruction costs more in a busy window,
    so CPU seconds grow with the probe's time; scaling them by
    PROBE_REF_S over the reading makes a run in a slow window read about
    the same as one in a fast window. (Wall time also waits while the
    host runs other machines, which the probe does not see, so wall
    time is reported, not gated.)"""

    def __init__(self, tree: ProcessTree):
        self.tree, self.samples = tree, []

    def sample(self) -> None:
        import host_calibration

        with self.tree.paused:
            self.samples.append(
                host_calibration.pinned_kernel_sec(n=500_000, reps=1))

    def reading(self) -> float:
        return statistics.median(self.samples)

    def scaled(self, seconds: float) -> float:
        """Seconds at the reference host speed."""
        return seconds * PROBE_REF_S / self.reading()


def _timing(xs: list[float]) -> str:
    return (f"median {statistics.median(xs):.4f}, max {max(xs):.4f}, "
            f"n={len(xs)}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]
    import host_calibration
    from kgraph_framework_spark.session import get_spark
    from spans import NullTracer, Tracer
    from workloads import WORKLOADS, trace_layers

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")

    calib = {"anon_fault_gbps": host_calibration.anon_fault_gbps(reps=1)}

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    cores = _fit_environment(work, bool(args.trace))
    spark = None
    try:
        with ProcessTree() as tree:
            host = HostClock(tree)
            host.sample()
            t0, c0 = time.monotonic(), tree.cpu_s()
            spark = get_spark("perfbench", cores=cores, shuffle_partitions=cores)
            session_s, session_cpu = time.monotonic() - t0, tree.cpu_s() - c0
            tracer = Tracer(spark) if args.trace else NullTracer()
            wl = WORKLOADS[args.workload](spark, work, args.seed, tracer,
                                          tree.cpu_s, host.sample)
            setups, setups_cpu = [], []
            for _ in range(SETUP_REPEATS):
                t0, c0 = time.monotonic(), tree.cpu_s()
                wl.setup()
                setups.append(time.monotonic() - t0)
                setups_cpu.append(tree.cpu_s() - c0)
                host.sample()
            if args.trace:
                trace_layers(tracer)

            passes, spent = [], 0.0
            while not passes or spent < args.seconds:
                with tracer.span("pass"):
                    p = wl.run_pass(len(passes))
                passes.append(p)
                spent += p.wall
                if not all(p.ops.values()):
                    break
            if args.trace:
                tracer.collect()
                tracer.write(os.path.join(
                    ROOT, ".perfbench_traces", f"{args.workload}-seed{args.seed}.json"))
        setup_cpu = session_cpu + statistics.median(setups_cpu)
        return _report(args, cores, calib, host, session_s, setups, setup_cpu,
                       passes, tree, wl, tracer)
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still use it
            os.rmdir(os.path.dirname(work))


def _report(args, cores, calib, host, session_s, setups, setup_cpu, passes,
            tree, wl, tracer) -> int:
    attempted = sum(len(p.ops) for p in passes)
    failed = sum(not ok for p in passes for ok in p.ops.values())
    for p in passes:
        for err in p.errors:
            print(f"FAILED {err}", file=sys.stderr)
    ok = failed == 0
    job_s = [p.wall for p in passes]
    job_cpu_s = [p.cpu for p in passes]
    setup_wall_s = session_s + statistics.median(setups)
    job_cpu_ref_s = [host.scaled(p.cpu) for p in passes]
    setup_s = host.scaled(setup_cpu)

    print(f"workload {args.workload}  seed {args.seed}  local[{cores}]  "
          f"trace {args.trace}  passes {len(passes)}")
    calib["kernel_s"] = host.reading()
    print(f"host   {json.dumps(calib)}  samples {json.dumps(host.samples)}")
    print(f"counts {json.dumps(passes[-1].counts)}")
    print(f"setup_s       {setup_s:.4f} s CPU at reference speed; measured "
          f"{setup_cpu:.4f} s CPU, wall {setup_wall_s:.4f} s (session start "
          f"{session_s:.4f} s + input set-up {_timing(setups)})")
    print(f"job_cpu_s     {_timing(job_cpu_ref_s)} s at reference speed; "
          f"measured {_timing(job_cpu_s)} s")
    print(f"job_wall_s    {_timing(job_s)} s  (checks outside it: "
          f"{sum(p.check_s for p in passes):.2f} s)")
    names = sorted({k for p in passes for k in p.times})
    for k in names:
        print(f"  {k:<40} {_timing([p.times[k] for p in passes if k in p.times])} s")
    bench = _benchmark_spec()
    units = {m["name"]: m["unit"] for m in bench["per_layer"]}
    for k in sorted({k for p in passes for k in p.values}):
        vals = [p.values[k] for p in passes if k in p.values]
        print(f"  {k:<40} median {statistics.median(vals):.6g} {units[k]}")
    print(f"peak_rss_mb   {tree.peak_kb / 1024:.1f} MB")
    print(f"failed_ops_ratio {failed}/{attempted}")

    if args.trace:
        measured = wl.layer_metrics(tracer, passes)
        measured.update({
            "session.start_s": session_s,
            "trace.job_cpu_s": statistics.median(job_cpu_ref_s),
            "job_wall_s": statistics.median(job_s),
            "setup_wall_s": setup_wall_s,
            "host.kernel_s": host.reading(),
            "peak_rss_mb": tree.peak_kb / 1024,
            "failed_ops_ratio": failed / attempted,
        })
        spec = bench["per_layer"]
        names = {m["name"] for m in spec}
        unknown = set(measured) - names
        if unknown:
            raise KeyError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
        # a layer this workload leaves idle reads 0
        values = {m["name"]: measured.get(m["name"], 0) for m in spec}
        for m in spec:
            print(f"  layer {m['name']:<36} {values[m['name']]:.6g} {m['unit']}")
    else:
        spec = bench["end_to_end"]
        values = {"setup_s": setup_s, "job_cpu_s": statistics.median(job_cpu_ref_s)}
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in spec}
    print(json.dumps({"correct": ok, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if ok else 1


def _benchmark_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


if __name__ == "__main__":
    sys.exit(main())
