"""Repository benchmark: user-path workloads through the package's public
entry points, end to end, with a traced run for per-layer numbers.

Usage (from the repository root)::

    python3 perfbench/run.py --workload extract-bulk --seed 1 --seconds 15 --trace 0

One process, one SparkSession on ``local[<cores>]`` (cores = nproc). Each run:

1. starts the session (cold, from process start); an untraced run restarts
   it twice more in the same JVM and reports the median of the three as
   ``setup_s``;
2. generates the workload's inputs from ``--seed`` (cached, untimed);
3. runs the workload's warm-up iterations, then ``--seconds`` worth of
   timed iterations (a count fixed per workload), checking every output;
4. prints one JSON line: ``--trace 0`` gives the end-to-end metrics,
   ``--trace 1`` the per-layer metrics (see ``layers.py``).

The workloads, metrics and the reasons for them are declared in
``BENCHMARK.json``; ``perfbench/README.md`` holds the prediction table and
the baseline.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import io  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
from pathlib import Path  # noqa: E402

import pandas as pd  # noqa: E402  (resolves the pandas-UDF type hints)

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CORES = os.cpu_count() or 1
SETUP_CYCLES = 3

#: End-to-end metrics (``--trace 0``): name -> unit.
E2E_UNITS = {
    "setup_s": "s",
    "wall_s": "s",
    "docs_per_s": "docs/s",
    "html_mb_per_s": "MB/s",
    "peak_rss_mb": "MB",
    "ops_ok_frac": "ratio",
}


def _prepare_env(work: Path) -> None:
    """Environment the Python workers and the JVM inherit. Workers import
    the package by name, so the checkout root goes on PYTHONPATH."""
    local = work / "spark-local"
    local.mkdir(parents=True, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + path if path else "")
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    # The CLI's get_session() re-applies these to the running session.
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ.pop("SPARK_MASTER", None)
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    if str(HERE) not in sys.path:
        sys.path.insert(0, str(HERE))


# -- session ---------------------------------------------------------------------


def start_session(event_dir: Path | None = None):
    """SparkSession ready and the Python worker pool warm (one trivial
    pandas-UDF job). Returns (spark, session_s, worker_warm_s)."""
    from pyspark.sql import functions as F

    from wpextract_spark.session import default_builder

    t0 = time.perf_counter()
    builder = (
        default_builder("perfbench", f"local[{CORES}]")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.eventLog.enabled", "true" if event_dir else "false")
    )
    if event_dir is not None:
        event_dir.mkdir(parents=True, exist_ok=True)
        builder = (
            builder.config("spark.eventLog.dir", event_dir.as_uri())
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()

    @F.pandas_udf("long")
    def _plus_one(s: pd.Series) -> pd.Series:
        return s + 1

    spark.range(4 * CORES, numPartitions=CORES).select(_plus_one("id")).write.format(
        "noop"
    ).mode("overwrite").save()
    return spark, t1 - t0, time.perf_counter() - t1


# -- memory ----------------------------------------------------------------------


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_mb(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1])
        except OSError:
            continue
    return total * os.sysconf("SC_PAGE_SIZE") / 1e6


class RssSampler:
    """Peak summed RSS of this process's descendants (the driver JVM and
    its Python daemon and workers), sampled from /proc."""

    def __init__(self, interval: float = 0.1) -> None:
        self.interval = interval
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _rss_mb(_descendants(me)))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# -- workloads -------------------------------------------------------------------


class Workload:
    """One user path: ``run_once`` is the timed command (input on disk to
    complete output on disk); ``check`` validates its output."""

    name = ""
    #: The pages parquet (under the input directory) the command reads.
    pages = ""
    #: Discarded iterations before timing: JIT, codegen and worker caches.
    warmup = 1
    #: Nominal seconds of one warm iteration on 4 cores. A run times
    #: round(--seconds / iteration_s) iterations, at least one: a count fixed
    #: by the arguments, not by the host's speed, because iterations keep
    #: getting faster for a while and a median must cover the same ones in
    #: every run.
    iteration_s = 1.0

    def __init__(self, spark, inputs: Path, manifest: dict, seed: int) -> None:
        self.spark = spark
        self.inputs = inputs
        self.manifest = manifest
        self.seed = seed

    def run_once(self, out: Path) -> None:
        raise NotImplementedError

    def check(self, out: Path) -> list[str]:
        raise NotImplementedError


class ExtractBulk(Workload):
    name = "extract-bulk"
    pages = "pages.parquet"
    #: Iteration times fall fast for three iterations after the first (10 s,
    #: then 4-7 s, then ~3.5 s on 4 cores) and slowly after that.
    warmup = 3
    iteration_s = 3.0
    #: Resume granularity: two chunks keep the per-chunk fixed cost small
    #: next to the kernel work while still exercising the chunk protocol.
    n_chunks = 2

    def run_once(self, out: Path) -> None:
        from wpextract_spark.plans.job import ResumableExtractJob

        pages = self.spark.read.parquet(str(self.inputs / self.pages))
        ResumableExtractJob(self.spark, pages, out, n_chunks=self.n_chunks).run(resume=False)

    def check(self, out: Path) -> list[str]:
        import checks

        return checks.check_extract_bulk(self.inputs, self.manifest, self.seed, out)


class CorpusBuild(Workload):
    name = "corpus-build"
    #: The generated documents as a pages table, for the traced run's
    #: probes; the command itself reads the WARC files.
    pages = "pages.parquet"
    #: The first iteration (~35 s: code generation for ~80 jobs) is the only
    #: slow one; later ones are steady at ~20 s.
    warmup = 1
    iteration_s = 20.0

    def run_once(self, out: Path) -> None:
        from wpextract_spark import cli

        argv = [
            "build-corpus", str(self.inputs / "warc"), str(out), "--input-format", "warc",
            "--seq-len", str(self.manifest["seq_len"]),
            "--seqs-per-shard", str(self.manifest["seqs_per_shard"]),
        ]
        with contextlib.redirect_stdout(io.StringIO()):
            code = cli.main(argv)
        if code != 0:
            raise RuntimeError(f"build-corpus exited {code}")

    def check(self, out: Path) -> list[str]:
        import checks

        return checks.check_corpus_build(self.inputs, self.manifest, self.seed, out)


WORKLOADS = {w.name: w for w in (ExtractBulk, CorpusBuild)}


# -- measurement -----------------------------------------------------------------


class Iterations:
    """Timed iterations of one workload, each checked after its timing."""

    def __init__(self, workload: Workload, work: Path) -> None:
        self.workload = workload
        self.work = work
        self.walls: list[float] = []
        self.rss: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self._n = 0

    def one(self, timed: bool = True) -> float:
        out = self.work / f"out-{self._n}"
        self._n += 1
        ok = True
        with RssSampler() as rss:
            t0 = time.perf_counter()
            try:
                self.workload.run_once(out)
            except Exception as exc:  # a failed iteration is counted, not fatal
                ok = False
                self.problems.append(f"{type(exc).__name__}: {exc}"[:300])
            wall = time.perf_counter() - t0
        if ok:
            try:
                found = self.workload.check(out)
            except Exception as exc:  # unreadable output fails its check
                found = [f"check raised {type(exc).__name__}: {exc}"[:300]]
            if found:
                ok = False
                self.problems.extend(found[:5])
        shutil.rmtree(out, ignore_errors=True)
        if timed:
            self.attempted += 1
            self.failed += 0 if ok else 1
            self.walls.append(wall)
            self.rss.append(rss.peak)
        elif not ok:
            # A failing warm-up is a failed operation too.
            self.attempted += 1
            self.failed += 1
        return wall

    def record(self, problems: list[str]) -> None:
        """A checked operation outside the timed iterations (a probe)."""
        self.attempted += 1
        self.failed += 1 if problems else 0
        self.problems.extend(problems[:5])

    def timed(self, seconds: float) -> None:
        """The timed iterations of a ``seconds``-long measurement."""
        for _ in range(max(1, round(seconds / self.workload.iteration_s))):
            self.one()


def end_to_end(it: Iterations, setup: list[float], manifest: dict) -> dict:
    wall = statistics.median(it.walls)
    values = {
        "setup_s": statistics.median(setup),
        "wall_s": wall,
        "docs_per_s": manifest["n_docs"] / wall,
        "html_mb_per_s": manifest["html_bytes"] / 1e6 / wall,
        "peak_rss_mb": statistics.median(it.rss),
        "ops_ok_frac": 1.0 - it.failed / max(it.attempted, 1),
    }
    return {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in values.items()}


def run(args: argparse.Namespace, work: Path) -> dict:
    import gen

    spark, session_s, warm_s = start_session()
    setup = [time.perf_counter() - T_PROCESS]
    # setup_s is an end-to-end metric only; a traced run reports the cold
    # start's parts instead.
    for _ in range(0 if args.trace else SETUP_CYCLES - 1):
        spark.stop()
        t0 = time.perf_counter()
        spark, _, _ = start_session()
        setup.append(time.perf_counter() - t0)
    inputs, manifest = gen.generate(args.workload, args.seed)
    workload = WORKLOADS[args.workload](spark, inputs, manifest, args.seed)
    it = Iterations(workload, work)
    for _ in range(workload.warmup):
        it.one(timed=False)

    if not args.trace:
        it.timed(args.seconds)
        metrics = end_to_end(it, setup, manifest)
    else:
        import layers

        metrics = layers.traced(
            args, work, workload, it,
            {"session.start_s": session_s, "session.worker_warm_s": warm_s},
            restart=lambda event_dir: start_session(event_dir)[0], cores=CORES,
        )
    return {
        "correct": it.failed == 0,
        "attempted": it.attempted,
        "failed": it.failed,
        "metrics": metrics,
        "_detail": {
            "samples": len(it.walls),
            "walls_s": [round(w, 4) for w in it.walls],
            "rss_mb": [round(r) for r in it.rss],
            "setup_s": [round(s, 4) for s in setup],
            "problems": it.problems[:10],
        },
    }


def shutdown_spark() -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM to exit
    (the Python workers are its children and end with it)."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    session = SparkSession.getActiveSession()
    if session is not None:
        session.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = parser.parse_args(argv)

    missing = [p for p in ("wpextract_spark", "tests/data/e2e") if not (ROOT / p).is_dir()]
    if missing:
        print(f"error: {', '.join(missing)} not found under {ROOT}", file=sys.stderr)
        return 2

    work = HERE / ".work" / f"{args.workload}-{os.getpid()}"
    _prepare_env(work)
    try:
        result = run(args, work)
    finally:
        shutdown_spark()
        shutil.rmtree(work, ignore_errors=True)
    detail = result.pop("_detail")
    print(json.dumps({"detail": detail}), flush=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
