"""The server under test as a child process, and host measurements:
peak memory from /proc/<pid>/status, CPU steal from /proc/stat (steal
as a share of busy ticks, the method of plans/steal_bench.py), the
load average, and the speed of the host's cores (``SpeedProbe``).

The benchmark is the subreaper of everything it starts, so that the
server's JVM and the JVM's Python workers can be reaped after the
server exits."""

from __future__ import annotations

import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
STARTUP_TIMEOUT_S = 120.0
JVM_HEAP = "2g"


def cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        for line in f:
            if line.startswith("cpu "):
                return [int(x) for x in line.split()[1:]]
    return []


def steal_pct_busy(before: list[int], after: list[int]) -> float:
    """Steal as a share of non-idle ticks between two samples."""
    d = [a - b for a, b in zip(after, before)]
    if len(d) < 8:
        return 0.0
    busy = sum(d) - d[3] - d[4]
    return 100.0 * d[7] / busy if busy > 0 else 0.0


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the subreaper of its descendants: the server's
    JVM, and the Python workers the JVM forks, are re-parented here when
    their parent exits instead of to init, so ``reap_children`` can end
    and reap them. Left to init they can linger, or stay as zombies."""
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    libc.prctl.restype = ctypes.c_int
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        err = ctypes.get_errno()
        raise OSError(err, f"prctl(PR_SET_CHILD_SUBREAPER): {os.strerror(err)}")


def _children() -> list[int]:
    me = os.getpid()
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == me:
            out.append(int(d))
    return out


def reap_children() -> None:
    """Kill and reap every child of this process, and every descendant
    re-parented to it as their parents die, until none is left."""
    while True:
        kids = _children()
        if not kids:
            return
        for pid in kids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        for pid in kids:
            try:
                os.waitpid(pid, 0)
            except ChildProcessError:
                pass


class Server:
    """The program under test, in its own process."""

    def __init__(self, work: str, trace_out: str | None) -> None:
        self.tmp = os.path.abspath(os.path.join(work, f"tmp-{os.getpid()}"))
        shutil.rmtree(self.tmp, ignore_errors=True)
        os.makedirs(self.tmp)
        env = dict(os.environ)
        env["TMPDIR"] = self.tmp
        env["SPARK_LOCAL_DIRS"] = self.tmp
        env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
        # A fixed, pre-touched JVM heap: left to grow, the heap's size
        # depends on GC timing and the peak RSS varies by a fifth from
        # run to run. Fixed, the RSS metric moves with the Python and
        # off-heap memory the server's own state lives in.
        env["PYSPARK_SUBMIT_ARGS"] = f"--driver-memory {JVM_HEAP} pyspark-shell"
        env["SPARK_SUBMIT_OPTS"] = (
            env.get("SPARK_SUBMIT_OPTS", "")
            + f" -Djava.io.tmpdir={self.tmp} -XX:-UsePerfData"
            + f" -Xms{JVM_HEAP} -XX:+AlwaysPreTouch"
        ).strip()
        adopt_orphans()
        cmd = [sys.executable, os.path.join(HERE, "serve.py")]
        if trace_out:
            cmd += ["--trace-out", trace_out]
        self.log = open(os.path.join(work, "server.log"), "wb")
        self.t0 = time.monotonic()
        self.proc = subprocess.Popen(
            cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            stderr=self.log, env=env,
        )
        try:
            self.info = self._ready_line()
            self.setup_s = self._first_select()
        except BaseException:
            self.stop()
            raise

    def _ready_line(self) -> dict:
        box: list = []
        t = threading.Thread(
            target=lambda: box.append(self.proc.stdout.readline()),
            daemon=True,
        )
        t.start()
        t.join(STARTUP_TIMEOUT_S)
        if not box or not box[0]:
            raise RuntimeError("server did not start (see server.log)")
        return json.loads(box[0])

    def _first_select(self) -> float:
        import workloads

        h = workloads.Http(self.info["http"])
        try:
            while True:
                status, body, _ = h.request("/?query=SELECT%201")
                if status == 200 and body.strip() == b"1":
                    return time.monotonic() - self.t0
                if time.monotonic() - self.t0 > STARTUP_TIMEOUT_S:
                    raise RuntimeError(f"SELECT 1 answered {status} {body!r}")
                time.sleep(0.05)
        finally:
            h.close()

    def peak_rss_mb(self) -> tuple[float, float]:
        """VmHWM of the Python server process and of its JVM."""
        return vm_hwm_mb(self.info["pid"]), vm_hwm_mb(self.info["jvm_pid"])

    def stop(self) -> None:
        if self.proc.poll() is None:
            try:
                self.proc.stdin.close()
                self.proc.wait(timeout=90)
            except (subprocess.TimeoutExpired, OSError):
                self.proc.kill()
                self.proc.wait()
        if self.proc.stdout:
            self.proc.stdout.close()
        # The server process has exited; its JVM and the JVM's Python
        # workers, now children of this process, hold nothing we need.
        reap_children()
        self.log.close()
        shutil.rmtree(self.tmp, ignore_errors=True)


PROBE_LOOPS = 100_000  # iterations of the reference loop
PROBE_PERIOD_S = 0.25
# CPU milliseconds the reference loop takes on the reference host (this
# host's slow state, a 4-vCPU cloud VM); metrics are scaled to it.
PROBE_REF_MS = 10.0


def _reference_loop() -> float:
    """CPU seconds one fixed pure-Python loop takes on this thread."""
    c = time.thread_time()
    s = 0
    for i in range(PROBE_LOOPS):
        s += i * i
    return time.thread_time() - c


class SpeedProbe:
    """Samples the host's speed while the program is measured, every
    PROBE_PERIOD_S on a thread of its own: the CPU time of a fixed loop,
    and the CPU tick counters. CPU time leaves out waiting for a core,
    so it moves with how fast a core runs (clock rate, sharing with
    other tenants), not with how busy the program keeps the cores. The
    ticks give the share of busy time the hypervisor took away (steal),
    which CPU time does not see."""

    def __init__(self) -> None:
        # (monotonic, loop CPU s, /proc/stat cpu ticks)
        self.samples: list[tuple[float, float, list[int]]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="probe",
                                        daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(PROBE_PERIOD_S):
            t = time.monotonic()
            self.samples.append((t, _reference_loop(), cpu_ticks()))

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()

    def slowness(self, t0: float, t1: float) -> float:
        """How many times slower than the reference host the program
        ran between t0 and t1: the median loop time of the samples in
        that span (or of the one nearest to it) over PROBE_REF_MS,
        divided by the share of busy time left after steal, counted
        from the last sample before t0 to the first after t1."""
        s = self.samples
        inside = [x[1] for x in s if t0 <= x[0] <= t1]
        if not inside:
            mid = (t0 + t1) / 2
            inside = [min(s, key=lambda x: abs(x[0] - mid))[1]]
        a = max((x for x in s if x[0] <= t0), key=lambda x: x[0], default=s[0])
        b = min((x for x in s if x[0] >= t1), key=lambda x: x[0], default=s[-1])
        steal = steal_pct_busy(a[2], b[2]) / 100 if b[0] > a[0] else 0.0
        speed_left = 1 - min(steal, 0.9)
        return 1000 * statistics.median(inside) / PROBE_REF_MS / speed_left
