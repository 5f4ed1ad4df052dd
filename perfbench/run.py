#!/usr/bin/env python3
"""Extraction-pipeline benchmark.

Run from the root of a checkout::

    python3 perfbench/run.py --workload html_crawl --seed 1 --seconds 12 --trace 0

One driver process, one Spark job at a time (a closed loop with a
single client). The run generates the workload's pages table from the
seed (perfbench/corpus.py), starts the program's own ``get_spark``
session at ``local[nproc]`` (the start plus a warm-up pass is one set-up
sample), checks one full pass against the oracle (perfbench/oracle.py),
then repeats the workload's operation for ``--seconds``, in rounds with
a fresh session (one more set-up sample) before each round:

* ``html_crawl``, ``pdf_papers``: one ``extract_documents`` job into the
  ``noop`` sink;
* ``checkpoint_resume``: ``CheckpointedExtractJob.run(max_groups=half)``
  then a second job's ``run()`` that resumes from the checkpoint,
  writing parquet; the output of the last pair is checked against the
  oracle.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` adds the
traced layer run (perfbench/trace.py) and prints the per-layer metrics.
The last line of stdout is one JSON object.

``--steady N`` runs the workload N times with seeds ``seed..seed+N-1``
and prints each end-to-end metric's quartile spread against its bound
from BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

SETUP_REPEATS = 3
MIN_OPS = {"html_crawl": 4, "pdf_papers": 4, "checkpoint_resume": 2}
CHECKPOINT_GROUPS = 2
DRIVER_MEM = "3g"


def _configure_env(root: str, work: str) -> None:
    """Run hygiene, set before pyspark starts the JVM: fit driver memory
    to the box, keep Spark's scratch inside the checkout, make the
    program importable by the Python workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def _alive(pid: int) -> bool:
    """True while ``pid`` runs; a zombie counts as ended (and is reaped
    when it is this process's own child)."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            stat = f.read()
    except OSError:
        return False
    if stat[stat.rindex(b")") + 2:].startswith(b"Z"):
        try:
            os.waitpid(pid, os.WNOHANG)
        except ChildProcessError:
            pass
        return False
    return True


def _wait_gone(pids: list[int], timeout_s: float = 30) -> None:
    """Wait for processes to end (orphaned workers are no longer our
    children, so poll /proc); kill what is left after ``timeout_s``."""
    deadline = time.monotonic() + timeout_s
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.05)
    for p in pids:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass


def _stop_descendants() -> None:
    """Kill and wait for every process still under this one: the last
    guard, on every way out of a run, against a process outliving it."""
    from perfbench.probes import ProcTree

    left = [p for p in ProcTree().pids() if p != os.getpid()]
    for p in left:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    _wait_gone(left)


class Runner:
    """Owns the Spark session: start, stop, and full JVM shutdown."""

    def __init__(self, cpus: int):
        self.cpus = cpus
        self.spark = None

    def start(self):
        from paper2llm_spark.session import get_spark

        self.spark = get_spark(
            app_name="perfbench", cpus=self.cpus,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                # a heap sized and touched up front is resident in full on
                # every run, so peak RSS measures the program, not GC timing
                "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
            },
        )
        return self.spark

    def stop(self, jvm: bool = False) -> None:
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        # the program caches its pandas UDF objects per process; they hold
        # the stopped context's accumulator server, so drop them
        for name, mod in list(sys.modules.items()):
            if name.startswith("paper2llm_spark."):
                for obj in list(vars(mod).values()):
                    if callable(getattr(obj, "cache_clear", None)):
                        obj.cache_clear()
        gateway = SparkContext._gateway
        if jvm and gateway is not None:
            from perfbench.probes import ProcTree

            proc = gateway.proc
            jvm_tree = ProcTree(proc.pid).pids()  # the JVM and its Python workers
            gateway.shutdown()
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None
            _wait_gone(jvm_tree)


def noop_pass(spark, path: str, mode: str) -> None:
    from paper2llm_spark.plans.extract import extract_documents
    from paper2llm_spark.sources.pages import read_pages

    extract_documents(read_pages(spark, path), mode=mode).write.format("noop").mode("overwrite").save()


def checkpoint_pair(spark, path: str, mode: str, out_dir: str) -> list[dict]:
    """Half the commit groups, then a fresh job resuming the rest. Two
    groups rather than the job's default eight: each commit group costs
    seconds of fixed work, which would leave one pair per run."""
    from paper2llm_spark.plans.extract import CheckpointedExtractJob

    def job():
        return CheckpointedExtractJob(spark, path, out_dir, mode=mode, n_groups=CHECKPOINT_GROUPS)

    return [job().run(max_groups=CHECKPOINT_GROUPS // 2), job().run()]


class Workload:
    """One operation of the workload, repeatable and checkable."""

    def __init__(self, corpus, work: str):
        self.corpus = corpus
        self.out_root = os.path.join(work, "out")
        self.n_ops = 0
        self.last_out = None

    @property
    def checkpointed(self) -> bool:
        return self.corpus.workload == "checkpoint_resume"

    def run_once(self, spark) -> None:
        if not self.checkpointed:
            noop_pass(spark, self.corpus.path, self.corpus.mode)
            return
        if self.last_out:
            shutil.rmtree(self.last_out, ignore_errors=True)
        self.n_ops += 1
        self.last_out = os.path.join(self.out_root, f"op{self.n_ops}")
        checkpoint_pair(spark, self.corpus.path, self.corpus.mode, self.last_out)

    def output_df(self, spark):
        """The DataFrame the oracle checks: a full pass for the noop
        workloads, the last pair's parquet output otherwise."""
        from paper2llm_spark.plans.extract import extract_documents
        from paper2llm_spark.sources.pages import read_pages

        if self.checkpointed:
            return spark.read.parquet(os.path.join(self.last_out, "extracted"))
        return extract_documents(read_pages(spark, self.corpus.path), mode=self.corpus.mode)


def start_session(runner: Runner, corpus) -> float:
    """One set-up sample: session start plus a warm-up pass."""
    t0 = time.monotonic()
    noop_pass(runner.start(), corpus.warmup_path, corpus.mode)
    return time.monotonic() - t0


def timed_ops(spark, workload: Workload, seconds: float, tree, min_ops: int):
    """Closed loop: repeat the operation for ``seconds`` (at least
    ``min_ops`` times); returns per-op (wall_s, cpu_s) and peak RSS."""
    from perfbench.probes import RssSampler

    ops = []
    deadline = time.monotonic() + seconds
    with RssSampler(tree) as rss:
        while len(ops) < min_ops or time.monotonic() < deadline:
            c0, t0 = tree.cpu_s(), time.monotonic()
            workload.run_once(spark)
            ops.append((time.monotonic() - t0, tree.cpu_s() - c0))
    return ops, rss.peak_mb


def run(args, root: str) -> dict:
    from perfbench import corpus as corpus_mod
    from perfbench import metrics, oracle
    from perfbench.probes import ProcTree

    started = time.monotonic()
    work = os.path.join(root, ".bench_cache")
    _configure_env(root, work)
    cpus = len(os.sched_getaffinity(0))
    corpus = corpus_mod.materialize(args.workload, args.seed, os.path.join(work, "corpus"),
                                    n_files=max(16, 2 * cpus), workers=cpus)
    n_docs = len(corpus.meta["expected"])
    tree = ProcTree()
    runner = Runner(cpus)
    workload = Workload(corpus, os.path.join(work, f"run-{os.getpid()}"))
    try:
        setup = [start_session(runner, corpus)]
        if not workload.checkpointed:  # full untimed pass: warms up and is checked
            check = oracle.compare(corpus.meta["expected"],
                                   oracle.collect_digests(workload.output_df(runner.spark)))
        # the timed ops run in rounds, each after a fresh session (one more
        # set-up sample): every op then starts from the same state (an op
        # right after the oracle pass runs ~10% slower), and the ops spread
        # over the run, past the host's speed swings of tens of seconds. The
        # traced run does not report setup_s; one round keeps it short.
        rounds = 1 if args.trace else SETUP_REPEATS - 1
        ops, peak_rss = [], 0.0
        for _ in range(rounds):
            runner.stop()
            setup.append(start_session(runner, corpus))
            more, peak = timed_ops(runner.spark, workload, args.seconds / rounds, tree,
                                   -(-MIN_OPS[args.workload] // rounds))
            ops += more
            peak_rss = max(peak_rss, peak)
        if workload.checkpointed:
            check = oracle.compare(corpus.meta["expected"],
                                   oracle.collect_digests(workload.output_df(runner.spark)))
        e2e = {
            "docs_per_s": statistics.median(n_docs / wall for wall, _ in ops),
            "cpu_s_per_kdoc": statistics.median(cpu / n_docs * 1000 for _, cpu in ops),
            "peak_rss_mb": peak_rss,
            "setup_s": statistics.median(setup),
        }
        layer = None
        if args.trace:
            from perfbench import trace

            layer, traced_check = trace.traced_run(
                runner, workload, corpus, args.seed,
                untraced_wall=statistics.median(w for w, _ in ops), docs_per_s=e2e["docs_per_s"],
                started=started)
            if traced_check is not None:
                check = oracle.merge(check, traced_check)
    finally:
        runner.stop(jvm=True)
        shutil.rmtree(workload.out_root, ignore_errors=True)
        shutil.rmtree(os.path.dirname(workload.out_root), ignore_errors=True)

    frac = check["failed"] / check["attempted"]
    print(f"workload {args.workload} seed {args.seed} mode {corpus.mode} rows {corpus.meta['n_rows']} "
          f"docs {n_docs} table {corpus.digest[:16]} ops {len(ops)} cores {cpus}")
    print(f"oracle: attempted {check['attempted']} failed {check['failed']} {check['by_reason']}")
    print(f"  failed_doc_frac = {frac} fraction")
    for name, value in e2e.items():
        print(f"  {name} = {value:.6g} {metrics.END_TO_END[name][0]}")
    print(f"  setup samples = {[round(s, 3) for s in setup]} s; op walls = {[round(w, 3) for w, _ in ops]} s")
    if layer is not None:
        for name, value in layer.items():
            print(f"  {name} = {value:.6g} {metrics.PER_LAYER[name][0]}")
    return {
        "correct": check["failed"] == 0,
        "attempted": check["attempted"],
        "failed": check["failed"],
        "metrics": metrics.render(layer, metrics.PER_LAYER) if args.trace
        else metrics.render(e2e, metrics.END_TO_END),
    }


def steady(args, root: str) -> dict:
    """Run the workload ``args.steady`` times, one seed each, and report
    every end-to-end metric's quartile spread against its bound."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bounds = {m["name"]: m["bound"] for m in json.load(f)["end_to_end"]}
    values: dict[str, list[float]] = {}
    for seed in range(args.seed, args.seed + args.steady):
        cmd = [sys.executable, os.path.join(root, "perfbench", "run.py"), "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(args.seconds), "--trace", "0"]
        t0 = time.monotonic()
        out = subprocess.run(cmd, cwd=root, capture_output=True, text=True, check=True).stdout
        res = json.loads(out.strip().splitlines()[-1])
        if not res["correct"]:
            raise SystemExit(f"seed {seed}: output differs from the oracle")
        for name, m in res["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        walls = next(line.strip() for line in out.splitlines() if "op walls" in line)
        print(f"seed {seed} ({time.monotonic() - t0:.0f} s): "
              + ", ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()) + f"; {walls}",
              flush=True)
    summary = {}
    for name, vals in values.items():
        q1, med, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med
        summary[name] = {"median": med, "spread": spread, "bound": bounds[name]}
        print(f"{name}: median {med:.4g} spread {spread:.3f} bound {bounds[name]} "
              f"({'ok' if spread <= bounds[name] / 3 else 'WIDE'})")
    return summary


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["html_crawl", "pdf_papers", "checkpoint_resume"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--steady", type=int, default=0, help="runs for the steadiness check")
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "paper2llm_spark")):
        print("perfbench: run from the root of a checkout that holds paper2llm_spark/", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    try:
        result = steady(args, root) if args.steady else run(args, root)
    finally:
        _stop_descendants()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
