from __future__ import annotations

import json
import os
import shlex
import shutil
import subprocess
import sys
import tempfile
import threading

import pytest


@pytest.fixture(scope="session")
def spark():
    from mongo_es_spark.session import get_spark

    s = get_spark("mongo-es-spark-tests", shuffle_partitions=8)
    yield s


# ---------------------------------------------------------------------------
# Sharded execution: the full suite is ~570 Spark-heavy tests whose wall
# time is dominated by DRIVER-side work (py4j round-trips, Catalyst,
# streaming trigger machinery), so a single process leaves most cores
# idle and the run outgrows the CI verify window.  When the suite is
# invoked as one process, the run loop below splits the collected tests
# BY FILE (module-scoped fixtures stay together) into N subprocesses,
# streams their output and replays their test reports, so the parent's
# summary and exit status count every test.  Each shard is a plain `pytest <node ids>` run in
# a smaller `local[N]` session, so any subset reproduces by copying the
# printed command.  SPARK_GRAFT_TEST_WORKERS=1 disables sharding.
# ---------------------------------------------------------------------------

# Measured per-file wall seconds: each shard records its files' test
# durations (pytest_runtest_logreport) and appends them to
# tests/.file_costs.jsonl at exit; the parent folds them into the next
# run's balance.  Greedy LPT with stale costs measured 28 min wall on a
# 72 min shard-time total (shards 10-28 min); accurate costs bound the
# wall by max(biggest file, total/N).
_COSTS_PATH = os.path.join(os.path.dirname(__file__), ".file_costs.jsonl")


def _measured_costs() -> dict[str, float]:
    costs: dict[str, float] = {}
    try:
        with open(_COSTS_PATH) as fh:
            for line in fh:
                try:
                    rec = json.loads(line)
                except ValueError:
                    continue
                for k, v in rec.items():
                    # newest record wins (file appends chronologically)
                    costs[k] = float(v)
    except OSError:
        pass
    return costs


_SHARD_DURATIONS: dict[str, float] = {}

# Each shard also writes every test report, serialized with pytest's own
# report hooks, one JSON line per report to the file named here; the
# parent replays them into its session so its summary line, exit status
# and failure tracebacks cover the whole suite (it runs no test itself).
_REPORTS_ENV = "_SPARK_GRAFT_TEST_REPORTS"
_CONFIG: list[pytest.Config] = []
_REPORTS_FH: list = []


def pytest_configure(config):
    _CONFIG[:] = [config]


def pytest_runtest_logreport(report):
    # inside a shard: accumulate wall seconds by file for the balance
    # cache (setup+call+teardown all count — they all cost wall time)
    if os.environ.get("_SPARK_GRAFT_TEST_SHARD") is None:
        return
    fname = os.path.basename(report.nodeid.split("::", 1)[0])
    _SHARD_DURATIONS[fname] = (
        _SHARD_DURATIONS.get(fname, 0.0) + report.duration
    )
    path = os.environ.get(_REPORTS_ENV)
    if path and _CONFIG:
        if not _REPORTS_FH:
            _REPORTS_FH.append(open(path, "a"))
        data = _CONFIG[0].hook.pytest_report_to_serializable(
            config=_CONFIG[0], report=report
        )
        # flushed per line: a shard that dies mid-run still leaves the
        # reports of every test it finished
        _REPORTS_FH[0].write(json.dumps(data, default=str) + "\n")
        _REPORTS_FH[0].flush()


def pytest_sessionfinish(session, exitstatus):
    if os.environ.get("_SPARK_GRAFT_TEST_SHARD") is None:
        return
    if not _SHARD_DURATIONS:
        return
    try:
        with open(_COSTS_PATH, "a") as fh:
            fh.write(
                json.dumps(
                    {k: round(v, 1) for k, v in _SHARD_DURATIONS.items()}
                )
                + "\n"
            )
    except OSError:
        pass


# fallback estimates for files with no measured record yet (from a full
# single-process run; only used to balance the shards)
_FILE_COST = {
    "test_extensions.py": 480,
    "test_curate_stream.py": 290,
    "test_search_cdc.py": 260,
    "test_search_snapshot.py": 150,
    "test_ivf_cdc.py": 150,
    "test_searchapi.py": 130,
    "test_aggs.py": 120,
    "test_analysis.py": 110,
    "test_runner_cli.py": 100,
    "test_maintenance.py": 100,
    "test_ivf_exact.py": 90,
    "test_tokenstats.py": 80,
    "test_indexops.py": 70,
    "test_store_compaction.py": 60,
    "test_sink.py": 50,
    "test_tail_e2e.py": 50,
}


def _child_driver_memory(n_shards: int) -> str | None:
    """Heap cap for each shard's JVM when ``SPARK_DRIVER_MEMORY`` is
    unset: the host's ``MemAvailable`` split evenly across the shards,
    of which the heap takes 3/4 — the rest of each share covers the
    JVM's off-heap memory and the Python workers.  Without it every
    shard inherits the session default of 8g, and N concurrent JVMs
    can outgrow a host without swap (a shard JVM died mid-run on a
    4-core / 16 GB host).  ``None`` (keep the default) when the
    variable is set or ``/proc/meminfo`` cannot be read."""
    if os.environ.get("SPARK_DRIVER_MEMORY"):
        return None
    try:
        with open("/proc/meminfo") as fh:
            kb = next(
                int(line.split()[1])
                for line in fh
                if line.startswith("MemAvailable:")
            )
    except (OSError, StopIteration, ValueError):
        return None
    return f"{max(1024, kb * 3 // 4 // 1024 // max(1, n_shards))}m"


def _replay_reports(session, path: str) -> set[str]:
    """Feed one shard's serialized reports to the parent's hooks, test
    by test with the same logstart / logreport / logfinish sequence a
    local run makes; returns the node ids whose teardown reported (a
    test the shard died inside has reported its setup at most)."""
    hook = session.config.hook
    by_node: dict[str, list] = {}
    try:
        with open(path) as fh:
            for line in fh:
                try:
                    data = json.loads(line)
                except ValueError:
                    continue  # a line torn by a shard killed mid-write
                rep = hook.pytest_report_from_serializable(
                    config=session.config, data=data
                )
                if rep is not None:
                    by_node.setdefault(rep.nodeid, []).append(rep)
    except OSError:
        pass
    for nodeid, reps in by_node.items():
        hook.pytest_runtest_logstart(nodeid=nodeid, location=reps[0].location)
        for rep in reps:
            hook.pytest_runtest_logreport(report=rep)
        hook.pytest_runtest_logfinish(nodeid=nodeid, location=reps[0].location)
    return {
        nid for nid, reps in by_node.items()
        if any(rep.when == "teardown" for rep in reps)
    }


def pytest_runtestloop(session):
    workers = int(os.environ.get("SPARK_GRAFT_TEST_WORKERS", "4"))
    if (
        workers <= 1
        or os.environ.get("_SPARK_GRAFT_TEST_SHARD")
        or session.config.option.collectonly
        or len(session.items) < 50  # targeted runs stay in-process
    ):
        return None  # fall through to pytest's default loop

    # group node ids by file, preserving collection order
    by_file: dict[str, list[str]] = {}
    for item in session.items:
        fname = item.nodeid.split("::", 1)[0]
        by_file.setdefault(fname, []).append(item.nodeid)

    # greedy longest-processing-time assignment to the emptiest shard
    measured = _measured_costs()

    def cost(fname: str, ids: list[str]) -> float:
        base = os.path.basename(fname)
        if base in measured:
            return measured[base]
        return _FILE_COST.get(base, 2 * len(ids))

    shard_files: list[list[tuple[str, list[str]]]] = [
        [] for _ in range(workers)
    ]
    loads = [0.0] * workers
    for fname, ids in sorted(
        by_file.items(), key=lambda kv: -cost(kv[0], kv[1])
    ):
        i = loads.index(min(loads))
        shard_files[i].append((fname, ids))
        loads[i] += cost(fname, ids)
    # Stagger the heavy files in time: LPT assignment puts every
    # shard's MOST expensive file first, so at t=0 all N shards run
    # their heaviest streaming drains concurrently — the observed
    # worst case (a 60 s solo drain outlasting a 600 s hang guard).
    # Rotating shard i's file order by i/N spreads the heavy starts.
    shards: list[list[str]] = []
    for i, files in enumerate(shard_files):
        if not files:
            continue
        k = (i * len(files)) // workers
        files = files[k:] + files[:k]
        shards.append([nid for _, ids in files for nid in ids])

    # each shard gets a smaller core slice so N concurrent local-mode
    # JVMs do not oversubscribe the host; tests pin their shuffle
    # partitioning themselves and never read the core count
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    child_cpus = str(max(4, cpus // max(1, len(shards))))
    child_mem = _child_driver_memory(len(shards))
    failfast = bool(session.config.getoption("maxfail"))

    report_dir = tempfile.mkdtemp(prefix="spark-graft-reports-")
    report_paths = [
        os.path.join(report_dir, f"shard{i}.jsonl") for i in range(len(shards))
    ]

    procs: list[subprocess.Popen] = []
    results: dict[int, int] = {}
    lock = threading.Lock()

    def pump(i: int, proc: subprocess.Popen) -> None:
        # chunk reads, not line reads: pytest's progress dots carry no
        # newline, and the CI log tail must show liveness mid-shard
        fd = proc.stdout.fileno()  # type: ignore[union-attr]
        buf = b""
        while True:
            chunk = os.read(fd, 4096)
            if not chunk:
                break
            buf += chunk
            *lines, buf = buf.split(b"\n")
            out = "".join(
                f"[shard {i}] {ln.decode(errors='replace')}\n"
                for ln in lines
            )
            if not lines and len(buf) > 400:
                out, buf = f"[shard {i}] {buf.decode(errors='replace')}\n", b""
            if out:
                with lock:
                    sys.stdout.write(out)
                    sys.stdout.flush()
        if buf:
            with lock:
                sys.stdout.write(f"[shard {i}] {buf.decode(errors='replace')}\n")
                sys.stdout.flush()
        results[i] = proc.wait()

    threads = []
    for i, ids in enumerate(shards):
        env = dict(os.environ)
        env["_SPARK_GRAFT_TEST_SHARD"] = str(i)
        env["SPARK_GRAFT_CPUS"] = child_cpus
        env[_REPORTS_ENV] = report_paths[i]
        if child_mem is not None:
            env["SPARK_DRIVER_MEMORY"] = child_mem
        cmd = [sys.executable, "-m", "pytest", "-q", "--no-header"]
        if failfast:
            cmd.append("-x")
        cmd += ids
        print(
            f"[shard {i}] {len(ids)} tests, local[{child_cpus}], "
            f"driver memory {env.get('SPARK_DRIVER_MEMORY', '8g')}: "
            f"{shlex.join(cmd[:6])} ...",
            flush=True,
        )
        proc = subprocess.Popen(
            cmd,
            env=env,
            stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT,
        )
        procs.append(proc)
        t = threading.Thread(target=pump, args=(i, proc), daemon=True)
        t.start()
        threads.append(t)

    try:
        while any(t.is_alive() for t in threads):
            for t in threads:
                t.join(timeout=0.5)
            if failfast and any(rc != 0 for rc in results.values()):
                for p in procs:
                    if p.poll() is None:
                        p.terminate()
    finally:
        for p in procs:
            if p.poll() is None:
                p.terminate()
        for t in threads:
            t.join(timeout=10)

    reported: set[str] = set()
    try:
        for path in report_paths:
            reported |= _replay_reports(session, path)
    finally:
        shutil.rmtree(report_dir, ignore_errors=True)

    # a shard that exited non-zero, or that never reported some of its
    # tests (killed mid-run), fails the run even when every report that
    # did arrive passed
    failed = [i for i in range(len(shards)) if results.get(i) != 0]
    unreported = [
        nid for ids in shards for nid in ids if nid not in reported
    ]
    n = len(session.items)
    if failed or unreported:
        session.testsfailed = max(
            session.testsfailed, len(failed) + len(unreported)
        )
        _SHARD_SUMMARY.append(
            f"SHARDED RUN FAILED: shards {failed} exited non-zero, "
            f"{len(unreported)} tests never reported "
            f"({n} tests total across {len(shards)} shards)"
        )
        _SHARD_SUMMARY.extend(f"  not reported: {nid}" for nid in unreported[:20])
    else:
        _SHARD_SUMMARY.append(
            f"SHARDED RUN OK: {n} tests reported across {len(shards)} shards"
        )
    return True


_SHARD_SUMMARY: list[str] = []


def pytest_terminal_summary(terminalreporter):
    # after the replayed reports' progress line, before the stats line
    for line in _SHARD_SUMMARY:
        terminalreporter.write_line(line)
