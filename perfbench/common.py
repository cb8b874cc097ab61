"""Shared helpers: percentiles, process-tree and store probes, the
service process handle, the HTTP client and the run-environment record.

Nothing here imports pyspark or gigapipe_spark: the load generator
stays a light process whose own CPU time is one of the measurements.
"""

from __future__ import annotations

import ctypes
import http.client
import json
import math
import os
import platform
import signal
import socket
import statistics
import subprocess
import sys
import threading
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)

# A percentile is reported only when at least this many samples lie
# beyond it; otherwise it is omitted and the sample count is stated.
MIN_BEYOND = 10


# ------------------------------------------------------------ statistics
def percentile(values, p: float):
    """Nearest-rank percentile (p in (0, 1]) or None when fewer than
    MIN_BEYOND samples lie strictly beyond the reported rank."""
    n = len(values)
    if n == 0:
        return None
    rank = max(1, math.ceil(p * n))
    if n - rank < MIN_BEYOND:
        return None
    return sorted(values)[rank - 1]


def median(values):
    return statistics.median(values) if values else None


def overhead(samples) -> tuple:
    """Tracing overhead: traced minus untraced median latency, and the
    smaller sample count. samples: [(traced, latency_ms)]."""
    on = [lat for traced, lat in samples if traced]
    off = [lat for traced, lat in samples if not traced]
    if not on or not off:
        return 0.0, 0
    return median(on) - median(off), min(len(on), len(off))


def summarize(name: str, values_ms) -> dict:
    """Median plus p95 under the percentile rule, with the sample count:
    {"<name>_p50_ms": {...}, "<name>_p95_ms": {...} or omitted note}."""
    out = {}
    n = len(values_ms)
    p50 = median(values_ms)
    if p50 is not None:
        out[f"{name}_p50_ms"] = {"value": p50, "unit": "ms", "n": n}
    p95 = percentile(values_ms, 0.95)
    if p95 is not None:
        out[f"{name}_p95_ms"] = {"value": p95, "unit": "ms", "n": n}
    else:
        out[f"{name}_p95_ms"] = {
            "omitted": f"n={n}: p95 needs >= {MIN_BEYOND} samples beyond it",
        }
    return out


def open_loop(rate: float, t0: float, t_end: float, send,
              clock=time.perf_counter, sleep=time.sleep) -> list:
    """Send on a fixed schedule (request k is due at t0 + k / rate) until
    t_end, whatever earlier requests took. Latency is timed from the due
    time, so a stall also counts against the requests queued behind it.
    Returns [(k, lag_ms, latency_ms, send(k))]; lag is how late the
    generator itself started the send."""
    out, k = [], 0
    while t0 + k / rate < t_end:
        due = t0 + k / rate
        if due > clock():
            sleep(due - clock())
        lag = (clock() - due) * 1000
        res = send(k)
        out.append((k, lag, (clock() - due) * 1000, res))
        k += 1
    return out


# ------------------------------------------------------------ processes
def become_subreaper() -> None:
    """Orphaned grandchildren (the JVM, Python workers) re-parent to this
    process, so it can reap every process it started."""
    try:
        libc = ctypes.CDLL(None, use_errno=True)
        libc.prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


def _proc_stat(pid: int):
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    # comm may contain spaces: split after the closing parenthesis
    rest = s[s.rindex(")") + 2:].split()
    # utime, stime, cutime, cstime: fields 14-17 of proc(5)
    ticks = sum(int(x) for x in rest[11:15])
    return {"state": rest[0], "ppid": int(rest[1]), "pgid": int(rest[2]),
            "cpu_s": ticks / os.sysconf("SC_CLK_TCK")}


def _all_pids():
    return [int(d) for d in os.listdir("/proc") if d.isdigit()]


def group_pids(pgid: int) -> list:
    """Live (non-zombie) processes of a process group."""
    out = []
    for pid in _all_pids():
        st = _proc_stat(pid)
        if st and st["pgid"] == pgid and st["state"] != "Z":
            out.append(pid)
    return out


def tree_pids(root: int) -> list:
    children: dict = {}
    for pid in _all_pids():
        st = _proc_stat(pid)
        if st:
            children.setdefault(st["ppid"], []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int) -> float:
    """CPU time (user + system) of a process tree, its reaped children
    included."""
    total = 0.0
    for pid in tree_pids(root):
        st = _proc_stat(pid)
        if st:
            total += st["cpu_s"]
    return total


def pss_mb(pid: int) -> float:
    """Proportional set size: shared pages are split between the
    processes mapping them, so a process tree's sum is its real use."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class PeakRss:
    """Peak memory of a process tree: the largest sum of the members'
    proportional set sizes over the samples taken (every 0.5 s while a
    workload runs)."""

    def __init__(self, root: int):
        self.root = root
        self.peak = 0.0

    def sample(self) -> float:
        self.peak = max(self.peak, sum(pss_mb(p) for p in tree_pids(self.root)))
        return self.peak

    def mb(self) -> float:
        return self.peak


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to others (all CPUs), from /proc/stat:
    a run with much of it was measured on a busy host."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def spark_cpus() -> int:
    """Spark's task slots (SPARK_GRAFT_CPUS): half the cores. The Python
    driver, the JVM's own threads and the load generator need CPU beyond
    the task slots (at 2 slots of 4 cores the service used 3.1 cores in
    the measured phase, the datapipe worker 2.5), so the run does not
    ask for more cores than the host has."""
    return max(1, nproc() // 2)


class Failures:
    """Operations attempted and failed, with the failure reasons. Every
    failure counts: nothing is filtered out."""

    def __init__(self):
        self.lock = threading.Lock()
        self.attempted = 0
        self.failed = 0
        self.reasons: dict = {}

    def record(self, err: str | None) -> None:
        with self.lock:
            self.attempted += 1
            if err is not None:
                self.failed += 1
                key = err[:160]
                self.reasons[key] = self.reasons.get(key, 0) + 1


# The JVM heap cap (SPARK_GRAFT_DRIVER_MEM). The data fit in a fraction
# of it; under a 2 GB cap the heap grew to a size that followed GC timing
# and peak memory spread 0.10-0.23 across seeds, under 1 GB 0.02-0.11.
DRIVER_MEM = "1g"


def bench_env(work: str) -> dict:
    """Environment shared by every child process: all scratch output
    stays under the run's work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update(
        PYTHONPATH=ROOT,
        PYTHONDONTWRITEBYTECODE="1",
        SPARK_GRAFT_CPUS=str(spark_cpus()),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        PYSPARK_SUBMIT_ARGS=(
            f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell"
        ),
    )
    env.pop("OMP_NUM_THREADS", None)
    return env


class Child:
    """A child process started in its own process group; stop() ends the
    whole group and waits until every member is gone."""

    def __init__(self, argv, cwd: str, env: dict, log_path: str):
        self.log = open(log_path, "w")
        self.proc = subprocess.Popen(
            argv, cwd=cwd, env=env, stdout=self.log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        self.pid = self.proc.pid
        self.rss = PeakRss(self.pid)
        self._sampler = threading.Thread(target=self._sample, daemon=True)
        self._sampler.start()

    def _sample(self) -> None:
        while self.alive():
            self.rss.sample()
            time.sleep(0.5)

    def alive(self) -> bool:
        return self.proc.poll() is None

    def signal(self, sig) -> None:
        if self.alive():
            os.kill(self.pid, sig)

    def stop(self, grace_s: float = 30.0) -> None:
        if self.alive():
            os.kill(self.pid, signal.SIGTERM)
            try:
                self.proc.wait(timeout=grace_s)
            except subprocess.TimeoutExpired:
                pass
        deadline = time.time() + grace_s
        while True:
            left = group_pids(self.pid)
            if not left:
                break
            sig = signal.SIGTERM if time.time() < deadline else signal.SIGKILL
            try:
                os.killpg(self.pid, sig)
            except ProcessLookupError:
                pass
            _reap()
            time.sleep(0.2)
        if self.proc.poll() is None:
            self.proc.wait()
        _reap()
        self._sampler.join()
        self.log.close()


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


# ------------------------------------------------------------ http
class Client:
    """One keep-alive HTTP connection (a dashboard panel or an agent)."""

    def __init__(self, port: int, timeout: float = 120.0):
        self.port = port
        self.timeout = timeout
        self.conn = None

    def request(self, method: str, path: str, body: bytes | None = None,
                ctype: str = "application/json", headers: dict | None = None):
        """Returns (status, body bytes). Reconnects once on a dropped
        keep-alive connection."""
        for attempt in (0, 1):
            if self.conn is None:
                self.conn = http.client.HTTPConnection(
                    "127.0.0.1", self.port, timeout=self.timeout
                )
            try:
                hdrs = dict(headers or {})
                if body is not None:
                    hdrs["Content-Type"] = ctype
                self.conn.request(method, path, body=body, headers=hdrs)
                resp = self.conn.getresponse()
                data = resp.read()
                return resp.status, data
            except (http.client.RemoteDisconnected, BrokenPipeError,
                    ConnectionResetError):
                self.close()
                if attempt:
                    raise
        raise AssertionError("unreachable")

    def close(self) -> None:
        if self.conn is not None:
            self.conn.close()
            self.conn = None


def wait_ready(port: int, child: Child, timeout_s: float = 150.0) -> None:
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        if not child.alive():
            raise RuntimeError("service exited during start-up")
        try:
            c = Client(port, timeout=30)
            status, _ = c.request("GET", "/ready")
            c.close()
            if status == 200:
                return
        except OSError:
            pass
        time.sleep(0.1)
    raise RuntimeError("service not ready in time")


def scrape_metrics(port: int) -> dict:
    """/metrics text → {series: value} (counters and histogram sums)."""
    c = Client(port, timeout=60)
    try:
        status, body = c.request("GET", "/metrics")
    finally:
        c.close()
    if status != 200:
        raise RuntimeError(f"/metrics answered {status}")
    out = {}
    for line in body.decode().splitlines():
        if not line or line.startswith("#"):
            continue
        key, _, val = line.rpartition(" ")
        try:
            out[key] = float(val)
        except ValueError:
            pass
    return out


def metrics_delta(before: dict, after: dict) -> dict:
    def total(d, prefix):
        return sum(v for k, v in d.items()
                   if k == prefix or k.startswith(prefix + "{"))

    return {
        "telemetry.sent_rows": total(after, "sent_rows") - total(before, "sent_rows"),
        "telemetry.sent_bytes": total(after, "sent_bytes") - total(before, "sent_bytes"),
        "telemetry.tx_close_time_ms": (
            total(after, "tx_close_time_ms_sum")
            - total(before, "tx_close_time_ms_sum")
        ),
        "telemetry.json_parse_errors": (
            total(after, "json_parse_errors_count")
            - total(before, "json_parse_errors_count")
        ),
        "bulk.flush_cycles": (
            total(after, "bulk_flush_cycles_total")
            - total(before, "bulk_flush_cycles_total")
        ),
        "bulk.flush_errors": (
            total(after, "bulk_flush_errors_total")
            - total(before, "bulk_flush_errors_total")
        ),
    }


def store_usage(store: str) -> dict:
    """{table: {"files": n, "bytes": b}} over the store's parquet files."""
    out: dict = {}
    if not os.path.isdir(store):
        return out
    for table in sorted(os.listdir(store)):
        tdir = os.path.join(store, table)
        if not os.path.isdir(tdir):
            continue
        files = size = 0
        for dirpath, _, names in os.walk(tdir):
            for name in names:
                if name.endswith(".parquet"):
                    files += 1
                    size += os.path.getsize(os.path.join(dirpath, name))
        if files:
            out[table] = {"files": files, "bytes": size}
    return out


def usage_delta(before: dict, after: dict) -> dict:
    out = {}
    for table, now in after.items():
        prev = before.get(table, {"files": 0, "bytes": 0})
        out[table] = {"files": now["files"] - prev["files"],
                      "bytes": now["bytes"] - prev["bytes"]}
    return out


def run_environment(seed: int, store_bytes: int | None) -> dict:
    def java_version():
        try:
            p = subprocess.run(["java", "-version"], capture_output=True,
                               text=True, timeout=30)
            return (p.stderr or p.stdout).splitlines()[0]
        except (OSError, subprocess.SubprocessError, IndexError):
            return None

    try:
        from importlib.metadata import version
        spark = version("pyspark")
    except Exception:  # noqa: BLE001 - the record stays best-effort
        spark = None
    return {
        "cpus": nproc(),
        "spark_cpus": spark_cpus(),
        "seed": seed,
        "store_bytes": store_bytes,
        "spark": spark,
        "java": java_version(),
        "python": platform.python_version(),
        "driver_mem": DRIVER_MEM,
    }


def catalogue() -> dict:
    """BENCHMARK.json's metric lists: {"end_to_end": [(name, unit)],
    "per_layer": [(name, unit)]}, in file order."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {kind: [(m["name"], m["unit"]) for m in spec[kind]]
            for kind in ("end_to_end", "per_layer")}


def dump_json(path: str, obj) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)
