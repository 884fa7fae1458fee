#!/usr/bin/env python3
"""The repository benchmark: seeded ``store_to_zarr`` workloads on
``local[<nproc>]``, end-to-end metrics by default, per-layer metrics with
``--trace 1``. Every op's output is checked; a wrong output fails the run.

    python3 perfbench/run.py --workload rechunk_payload --seed 1 --seconds 6 --trace 0

See perfbench/README.md for the workloads and metrics.
"""

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import ctypes  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "pangeo_forge_recipes_spark"
#: pinned driver heap: session.py pre-touches Xms == Xmx, so each cold start
#: commits this much; it must fit the host with the set-up probes beside it
DRIVER_MEM = "2g"
#: set-up probes started beside the benchmark's own session
SETUP_PROBES = 1
#: no new warm op starts after this much wall time, and an op still running
#: at RUN_LIMIT_S is cancelled, so a run ends within 180 s
RUN_BUDGET_S = 150
RUN_LIMIT_S = 170
MB = 1e6

sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

from fixtures import WORKLOADS, check_store, source_path  # noqa: E402


def proc_tree(root_pid: int) -> list:
    """Pids of every live descendant of ``root_pid``."""
    children = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root_pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def tree_cpu_s(pid: int) -> float:
    """CPU seconds (user + system) spent so far by ``pid`` and its live
    descendants, plus what their reaped children spent. A process that ends
    moves its time into its parent's children's time, so the sum only grows
    and a difference of two samples is the CPU the tree spent between them."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for p in [pid] + proc_tree(pid):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += sum(int(v) for v in fields[11:15])  # utime stime cutime cstime
        except (OSError, IndexError, ValueError):
            pass
    return total / tick


def tree_rss_mb(pid: int) -> float:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for p in [pid] + proc_tree(pid):
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError):
            pass
    return total / MB


class RssSampler:
    """Peak RSS of this process and all its descendants, sampled every
    0.25 s while a window is open."""

    def __init__(self) -> None:
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = None

    def start(self) -> None:
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()

    def _run(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, tree_rss_mb(os.getpid()))
            if self._stop.wait(0.25):
                return


def fixture_medium(path: str) -> str:
    best, fstype = "", "?"
    with open("/proc/mounts") as f:
        for line in f:
            mnt, typ = line.split()[1:3]
            mnt = mnt.replace("\\040", " ")
            if (path + "/").startswith(mnt.rstrip("/") + "/") and len(mnt) >= len(best):
                best, fstype = mnt, typ
    return "tmpfs" if fstype in ("tmpfs", "ramfs") else f"disk ({fstype})"


def mem_total() -> str:
    with open("/proc/meminfo") as f:
        kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return f"{kb / 2**20:.1f} GiB"


def pin_env(work: str) -> dict:
    """The run environment, set before anything starts a JVM or a worker."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "PYTHONPATH": ROOT,
        "TMPDIR": tmp,
        # keep the JVM's temporary files inside the checkout too
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    os.environ.update(env)
    return env


def become_subreaper() -> None:
    """Orphaned descendants (Python workers whose JVM died) re-parent to this
    process, so the final sweep can still find and reap them."""
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int, ctypes.c_ulong, ctypes.c_ulong, ctypes.c_ulong, ctypes.c_ulong]
    libc.prctl.restype = ctypes.c_int
    libc.prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER


def reap_all(timeout_s: float = 30.0) -> None:
    """Terminate every remaining descendant and wait until each has ended."""
    deadline = time.monotonic() + timeout_s
    sig = signal.SIGTERM
    while True:
        pids = proc_tree(os.getpid())
        if not pids:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        for p in pids:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.2)
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass


def _raise_exit(signum, frame):
    raise SystemExit(128 + signum)


class Bench:
    def __init__(self, args, work: str) -> None:
        self.args = args
        self.w = WORKLOADS[args.workload]
        self.work = work
        self.spark = None
        self.probes = []
        self.tracer = None
        self.sampler = None
        self.ops = []
        self.fixture_s = 0.0

    # -- set-up ------------------------------------------------------------

    def generate(self) -> None:
        t0 = time.perf_counter()
        src = os.path.join(self.work, "src")
        os.makedirs(src)
        subprocess.run(
            [sys.executable, os.path.join(HERE, "fixtures.py"), self.w.name, str(self.args.seed), src],
            check=True, timeout=170,
        )
        self.paths = [source_path(src, i) for i in range(self.w.nfiles)]
        self.out = os.path.join(self.work, "out")
        os.sync()  # flush the inputs now, not during a timed op
        self.fixture_s = time.perf_counter() - t0

    def start(self, n_probes: int, before_fixtures_s: float) -> list:
        """Build the session, launching ``n_probes`` cold starts beside it;
        return the set-up samples (this process's first)."""
        t0 = time.perf_counter()
        for _ in range(n_probes):
            self.probes.append(subprocess.Popen(
                [sys.executable, os.path.join(HERE, "probe.py")],
                stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
            ))
        from probe import trivial_udf_job
        from pangeo_forge_recipes_spark.session import get_spark

        self.spark = get_spark()
        trivial_udf_job(self.spark)
        samples = [before_fixtures_s + time.perf_counter() - t0]
        for p in self.probes:
            out, _ = p.communicate(timeout=170)
            if p.returncode != 0:
                raise RuntimeError(f"set-up probe exited with {p.returncode}")
            samples.append(json.loads(out.strip().splitlines()[-1])["setup_s"])
        self.probes = []
        from pangeo_forge_recipes_spark import pattern_from_file_sequence

        self.pattern = pattern_from_file_sequence(
            self.paths, "time", nitems_per_file=self.w.steps_per_file, file_type="npz"
        )
        return samples

    # -- ops ---------------------------------------------------------------

    def run_op(self, k: int, traced: bool = False) -> dict:
        from pangeo_forge_recipes_spark import store_to_zarr

        sc = self.spark.sparkContext
        group = f"perfbench-op{k}"
        sc.setJobGroup(group, f"perfbench {self.w.name} op {k}")
        timer = threading.Timer(max(0.0, T0 + RUN_LIMIT_S - time.perf_counter()), sc.cancelJobGroup, (group,))
        timer.start()
        if traced:
            self.tracer.op = k
        if self.sampler:
            self.sampler.start()
        result, errors = None, []
        start = time.time()
        cpu0 = tree_cpu_s(os.getpid())
        t0 = time.perf_counter()
        try:
            result = store_to_zarr(
                self.spark, self.pattern, self.out, f"op{k}.zarr",
                target_chunks=self.w.target_chunks, rechunk_shuffle=self.w.rechunk_shuffle,
            )
        except Exception as exc:  # an op that raises or times out is a failed op
            errors.append(f"{type(exc).__name__}: {str(exc)[:500]}")
        finally:
            wall = time.perf_counter() - t0
            end = time.time()
            cpu = tree_cpu_s(os.getpid()) - cpu0
            timer.cancel()
            if self.sampler:
                self.sampler.stop()
            if self.tracer:
                self.tracer.op = None
        op = {"k": k, "wall": wall, "cpu": cpu, "start": start, "end": end, "traced": traced, "result": result}
        if result is not None:
            c0 = time.perf_counter()
            try:
                errors += check_store(self.w, self.args.seed, result.path, result.n_chunks_written, result.bytes_written)
            except Exception as exc:  # an unreadable store is a wrong output
                errors.append(f"check raised {type(exc).__name__}: {exc}")
            if traced and not errors:
                op["layers"] = self.op_layers(op)
            shutil.rmtree(result.path, ignore_errors=True)
            os.sync()  # and this op's shuffle files, before the next op
            op["check_s"] = time.perf_counter() - c0
        op["errors"] = errors
        for e in errors:
            print(f"op {k} FAILED: {e}", file=sys.stderr)
        self.ops.append(op)
        return op

    def op_layers(self, op: dict) -> dict:
        from sparkstats import drain_listener_bus, group_jobs, python_nodes
        from tracing import add_spark_spans, layer_metrics

        drain_listener_bus(self.spark)
        calls = self.tracer.op_spans(op["k"])
        op_span = {"name": "op", "start": op["start"], "end": op["end"], "parent": None, "op": op["k"]}
        self.tracer.spans.append(op_span)
        jobs = group_jobs(self.spark, f"perfbench-op{op['k']}")
        add_spark_spans(self.tracer, op_span, jobs)
        schema_end = calls["determine_schema"]["end"]
        nodes_all = python_nodes(self.spark, [j["id"] for j in jobs])
        nodes_write = python_nodes(self.spark, [j["id"] for j in jobs if j["start"] >= schema_end])
        return layer_metrics(calls, op_span, jobs, nodes_all, nodes_write, op["result"], self.w.nfiles)

    def run_ops(self, trace: bool, deadline: float) -> None:
        """The cold op, then warm ops until ``--seconds`` of them are timed
        (at least two) or the run's budget is spent. Traced runs interleave
        traced and untraced warm ops as T U U T T U U T ..., at least two of
        each, so that both kinds sit equally early in the warm-up."""
        self.run_op(0, traced=trace)
        k, timed, least = 1, 0.0, 5 if trace else 3
        while time.perf_counter() < deadline and (k < least or timed < self.args.seconds):
            timed += self.run_op(k, traced=trace and k % 4 in (0, 1))["wall"]
            k += 1

    def stop(self) -> None:
        for p in self.probes:
            p.kill()
            p.wait()
        if self.spark is not None:
            from probe import stop_spark

            stop_spark(self.spark)
            self.spark = None


def good(ops, key: str, **match) -> list:
    return [o[key] for o in ops if not o["errors"] and all(o[k] == v for k, v in match.items())]


def end_to_end(bench: Bench, samples: list) -> dict:
    """The declared metrics are set-up wall time, the CPU seconds an op costs
    and peak memory. Op wall times are printed beside them but not declared:
    on a shared host they follow the CPU the neighbours take (see README)."""
    w = bench.w
    cold = bench.ops[0]
    warm = good(bench.ops[1:], "wall")
    warm_cpu = good(bench.ops[1:], "cpu")
    p50 = statistics.median(warm)
    cpu50 = statistics.median(warm_cpu)
    mb = w.expected_counts()[1] / MB
    name = w.name
    print(f"{name} setup_s = {statistics.median(samples):.3f} s (median of n={len(samples)} cold starts launched together: "
          + ", ".join(f"{s:.2f}" for s in samples) + ")")
    print(f"{name} cold_op_cpu_s = {cold['cpu']:.2f} s (n=1, CPU of the whole process tree in the run's first op)")
    print(f"{name} op_cpu_s = {cpu50:.2f} s (median of n={len(warm_cpu)} warm ops: "
          + ", ".join(f"{s:.2f}" for s in warm_cpu) + "; CPU of the whole process tree per op)")
    print(f"{name} peak_rss_mb = {bench.sampler.peak_mb:.1f} MB (whole process tree, sampled during n={len(bench.ops)} timed ops)")
    print(f"{name} cold_op_s = {cold['wall']:.3f} s (n=1, the run's first op; printed, not declared)")
    print(f"{name} op_s_p50 = {p50:.3f} s (median of n={len(warm)} warm ops: "
          + ", ".join(f"{s:.2f}" for s in warm) + "; no tail percentile: a percentile needs ten samples above it; printed, not declared)")
    print(f"{name} write_mb_per_s = {mb / p50:.1f} MB/s ({mb:.1f} MB written per op / op_s_p50, n={len(warm)}; printed, not declared)")
    return {
        "setup_s": {"value": statistics.median(samples), "unit": "s"},
        "cold_op_cpu_s": {"value": cold["cpu"], "unit": "s"},
        "op_cpu_s": {"value": cpu50, "unit": "s"},
        "peak_rss_mb": {"value": bench.sampler.peak_mb, "unit": "MB"},
    }


def unit_of(key: str) -> str:
    if key.endswith("mb_s"):
        return "MB/s"
    if key.endswith(("_mb", ".mb", "mb_written")):
        return "MB"
    if key.endswith(("files", "records", "chunks")):
        return "count"
    if key.endswith(("efficiency", "skew")):
        return "ratio"
    return "s"


def per_layer(bench: Bench, ncpu: int) -> dict:
    from tracing import kernel_metrics, self_times

    w = bench.w
    traced = [o for o in bench.ops[1:] if o["traced"] and "layers" in o]
    untraced = good(bench.ops[1:], "wall", traced=False)
    values = {key: statistics.median(o["layers"][key] for o in traced) for key in traced[0]["layers"]}
    values.update(kernel_metrics(w, bench.paths, bench.tracer.schema, os.path.join(bench.work, "kernel.zarr")))
    base = statistics.median(untraced)
    # the untraced warm ops' wall time: op_s_p50 of the untraced run, which
    # is printed there but not declared, because it follows the host's load
    values["wall.op_s_p50"] = base
    values["tracing.overhead_s"] = statistics.median(good(traced, "wall")) - base

    # single-core baseline: same JVM, a fresh local[1] context
    from pangeo_forge_recipes_spark.session import get_spark

    bench.spark.stop()
    bench.spark = get_spark(master="local[1]")
    n = len(bench.ops)
    bench.run_op(n)
    one = bench.run_op(n + 1)
    values["scaling.local1_op_s"] = one["wall"]
    values["scaling.efficiency"] = one["wall"] / (ncpu * base)

    # leading newline: Spark's progress bar leaves stderr mid-line
    print("\n" + json.dumps({"spans": bench.tracer.spans, "self_s": self_times(bench.tracer.spans)}), file=sys.stderr)
    out = {}
    for key in sorted(values):
        out[key] = {"value": values[key], "unit": unit_of(key)}
        how = "" if key.startswith(("kernel.", "scaling.", "tracing.")) else f" (median of n={len(traced)} traced warm ops)"
        if key == "wall.op_s_p50":
            how = f" (median of n={len(untraced)} untraced warm ops)"
        print(f"{w.name} {key} = {values[key]:.4g} {unit_of(key)}{how}")
    return out


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args()
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2

    for stale in os.listdir(ROOT):
        if stale.startswith(".perfbench_work-") and not os.path.exists(f"/proc/{stale.rsplit('-', 1)[1]}"):
            shutil.rmtree(os.path.join(ROOT, stale), ignore_errors=True)
    work = os.path.join(ROOT, f".perfbench_work-{os.getpid()}")
    os.makedirs(work)
    signal.signal(signal.SIGTERM, _raise_exit)
    signal.signal(signal.SIGHUP, _raise_exit)
    become_subreaper()
    bench = Bench(args, work)
    try:
        os.chdir(work)  # stray files Spark writes into its cwd land here
        env = pin_env(work)
        print("env: " + " ".join(f"{k}={v}" for k, v in env.items())
              + f" MemTotal={mem_total()} fixtures={fixture_medium(work)} loadavg={os.getloadavg()[0]:.2f}")
        before_fixtures = time.perf_counter() - T0
        bench.generate()
        samples = bench.start(0 if args.trace else SETUP_PROBES, before_fixtures)
        if args.trace:
            from tracing import Tracer
            from pangeo_forge_recipes_spark import transforms

            bench.tracer = Tracer()
            bench.tracer.install(transforms)
        else:
            bench.sampler = RssSampler()
        bench.run_ops(bool(args.trace), T0 + RUN_BUDGET_S)
        if args.trace:
            metrics = per_layer(bench, int(os.environ["SPARK_GRAFT_CPUS"]))
        else:
            metrics = end_to_end(bench, samples)
    finally:
        # a second signal must not cut the clean-up short
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        signal.signal(signal.SIGHUP, signal.SIG_IGN)
        os.chdir(ROOT)
        try:
            bench.stop()
        finally:
            reap_all()
            shutil.rmtree(work, ignore_errors=True)
    checks = sum(o.get("check_s", 0.0) for o in bench.ops)
    print(f"{args.workload} run: fixtures {bench.fixture_s:.1f} s, output checks {checks:.1f} s, "
          f"wall {time.perf_counter() - T0:.1f} s")
    attempted = len(bench.ops)
    failed = sum(bool(o["errors"]) for o in bench.ops)
    print(f"{args.workload} ops_failed_ratio = {failed / attempted:.3f} ratio ({failed} failed of n={attempted} attempted ops)")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
