"""Repository benchmark for nise_dedup.

Usage (from the repository root):

    python3 perfbench/run.py --workload hotbucket --seed 1 --seconds 10 \
        --trace 0

Each invocation is one fresh Spark application at local[nproc], shaped
like a production ``spark-submit`` job: start the session, load the
seeded input, run the dedup pipeline through its public functions, check
the output against the planted truth. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` adds an untraced reference run and a
traced composition of the pipeline and reports the per-layer metrics
(see perfbench/trace.py). The last stdout line is the JSON result; the
line before it is the environment record (input fingerprint, versions,
steal jiffies, failures, and in traced runs the spans).

The benchmark itself runs in a child process; this process waits for it
and then for every process it left (the Spark JVM outlives its Python
driver by its shutdown hooks), stopping any that linger, before it prints
the child's output and exits with the child's code.

To check steadiness over seeds, see perfbench/seeds.py.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("hotbucket", "largefiles_ckpt")
DRIVER_MEM = "3g"
WORK_ENV = "PERFBENCH_WORK"     # set for the child: its scratch directory
CHILD_DEADLINE_S = 170.0        # a run must end within 180 s
GRACE_S = 10.0                  # left-over processes may end on their own
PR_SET_CHILD_SUBREAPER = 36


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def steal_jiffies() -> int:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def mem_total_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024
    return 0.0


def pin_environment(work: Path, ui: bool) -> None:
    """Everything the Spark application writes stays under ``work``;
    Python workers import nise_dedup from the repository root. The
    status UI (and its REST endpoint) runs only when ``ui`` is set."""
    for sub in ("tmp", "local", "warehouse"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["NISE_DRIVER_MEM"] = DRIVER_MEM
    os.environ["NISE_SPARK_CONF"] = json.dumps({
        "spark.local.dir": str(work / "local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work / 'tmp'} -Dderby.system.home={work}",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": str(ui).lower(),
        "spark.ui.port": "0",
    })
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))


def run_pipeline_out(spark, corpus, cfg, ckpt: str) -> list:
    """One run_pipeline call plus the collect of its published clusters
    (the output a caller reads)."""
    from nise_dedup.pipeline import run_pipeline

    res = run_pipeline(spark, corpus, cfg, ckpt=ckpt, collect_metrics=False)
    out = res.clusters.collect()
    res.release()
    return out


class Bench:
    """One benchmark invocation: session, input, operation, checks."""

    def __init__(self, workload: str, seed: int, work: Path):
        from nise_dedup.config import DedupConfig
        from nise_dedup.session import build_session

        from perfbench import workloads as W

        self.workload, self.seed, self.work = workload, seed, work
        self.ckpt_mode = workload.endswith("_ckpt")
        self.n = nproc()
        self.cfg = DedupConfig(shuffle_partitions=max(2 * self.n, 16))
        t0 = time.perf_counter()
        self.spark = build_session(master=f"local[{self.n}]", cfg=self.cfg)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_s = time.perf_counter() - t0

        t0 = time.perf_counter()
        self.rows = W.GENERATORS[workload](seed)
        self.fingerprint = W.fingerprint(self.rows)
        if workload == "hotbucket":
            top = W.largest_bucket(self.rows, self.cfg)
            if top <= self.cfg.bucket_cap:
                raise RuntimeError(f"hotbucket input does not salt: largest "
                                   f"LSH bucket {top} <= bucket_cap")
        self.truth = {(r.repo, r.path, r.commit): r.gt_cluster
                      for r in self.rows}

        # the input is a parquet file the run reads, as a production job
        # reads its source table
        import pyarrow as pa
        import pyarrow.parquet as pq

        from nise_dedup import corpus as C
        from nise_dedup.ingest import read_corpus
        path = str(work / "corpus.parquet")
        pq.write_table(pa.Table.from_pandas(C.to_pandas(self.rows),
                                            preserve_index=False), path)
        self.corpus = read_corpus(self.spark, path)
        self.generate_s = time.perf_counter() - t0
        self.failures: list[str] = []

        # In-memory use runs in a long-lived session, which pays JIT and
        # worker start-up once: warm up on the generator's 200-file corpus
        # so the timed run measures the workload. A checkpointed run is a
        # spark-submit job in a fresh JVM that pays that start-up on every
        # run, so it is timed cold.
        t0 = time.perf_counter()
        if not self.ckpt_mode:
            tiny = self.spark.createDataFrame(
                C.to_pandas(C.generate("tiny", seed)))
            run_pipeline_out(self.spark, tiny, self.cfg, "")
        self.warmup_s = time.perf_counter() - t0

    @property
    def setup_s(self) -> float:
        return self.session_s + self.generate_s + self.warmup_s

    def ckpt_dir(self, tag: str) -> str:
        return str(self.work / f"ckpt-{tag}")

    def run_once(self, ckpt: str = "") -> tuple[float, list]:
        """The workload's operation over its input; (wall_s, rows)."""
        t0 = time.perf_counter()
        out = run_pipeline_out(self.spark, self.corpus, self.cfg, ckpt)
        return time.perf_counter() - t0, out

    # -- correctness -----------------------------------------------------
    def labels(self, out: list) -> dict:
        return {(r["repo"], r["path"], r["commit"]): r["cluster_id"]
                for r in out}

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        if not ok:
            self.failures.append(f"{name}: {detail}")
        return ok

    def check_output(self, out: list) -> dict | None:
        """Checks one published result; returns its pair quality."""
        from nise_dedup.pipeline import assert_sha_invariant

        from perfbench.stats import pair_quality

        keys = [(r["repo"], r["path"], r["commit"]) for r in out]
        if not self.check("one_row_per_input",
                          len(keys) == len(self.truth)
                          and set(keys) == self.truth.keys(),
                          f"{len(keys)} rows for {len(self.truth)} inputs"):
            return None
        try:
            published = self.spark.createDataFrame(
                [(r["repo"], r["path"], r["commit"], r["content_sha256"])
                 for r in out],
                "repo string, path string, commit string, "
                "content_sha256 string")
            assert_sha_invariant(self.corpus, published)
        except AssertionError as e:
            self.check("sha_invariant", False, str(e))
        q = pair_quality(self.truth, self.labels(out))
        self.check("dup_pair_recall", q["recall"] >= 0.99,
                   f"recall {q['recall']:.4f} < 0.99")
        return q

    def stop(self):
        self.spark.stop()


def timed(bench: Bench, seconds: float) -> dict:
    """The end-to-end measurement: repeat the workload's operation until
    ``seconds`` have elapsed (at least once) and report medians."""
    from perfbench.stats import median, metric

    walls, qualities, attempted, failed = [], [], 0, 0
    steal0 = steal_jiffies()
    t_start = time.perf_counter()
    while attempted == 0 or time.perf_counter() - t_start < seconds:
        attempted += 1
        ckpt = bench.ckpt_dir(str(attempted)) if bench.ckpt_mode else ""
        n_fail = len(bench.failures)
        try:
            wall, out = bench.run_once(ckpt)
            q = bench.check_output(out)
            if ckpt:
                shutil.rmtree(ckpt)
        except Exception as e:   # a failed run is counted, not fatal
            bench.check("run", False, f"{type(e).__name__}: {e}")
        if len(bench.failures) == n_fail:
            walls.append(wall)
            qualities.append(q)
        else:
            failed += 1
    if not walls:
        return {"attempted": attempted, "failed": failed, "metrics": {}}
    wall = median(walls)
    return {
        "attempted": attempted, "failed": failed, "walls_s": walls,
        "steal_jiffies": steal_jiffies() - steal0,
        "metrics": {
            "run_wall_s": metric(wall, "s"),
            "files_per_s": metric(len(bench.rows) / wall, "1/s"),
            "dup_pair_recall": metric(
                median(q["recall"] for q in qualities), "ratio"),
            "pair_precision": metric(
                median(q["precision"] for q in qualities), "ratio"),
            "setup_s": metric(bench.setup_s, "s"),
        },
    }


def environment(bench: Bench, extra: dict) -> dict:
    import numpy
    import pyarrow
    import pyspark
    return {
        "workload": bench.workload, "seed": bench.seed,
        "input_sha256": bench.fingerprint, "n_files": len(bench.rows),
        "nproc": bench.n, "mem_total_mb": round(mem_total_mb()),
        "master": f"local[{bench.n}]",
        "shuffle_partitions": bench.cfg.shuffle_partitions,
        "driver_mem": DRIVER_MEM, "config_hash": bench.cfg.config_hash(),
        "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__, "session_s": bench.session_s,
        "generate_s": bench.generate_s, "warmup_s": bench.warmup_s,
        "failures": bench.failures, **extra}


def check_declared(metrics: dict, trace: int) -> None:
    """The reported metrics must be exactly the ones BENCHMARK.json
    declares for this mode (end_to_end untraced, per_layer traced)."""
    from perfbench.stats import check_names

    with open(ROOT / "BENCHMARK.json") as f:
        spec = json.load(f)["per_layer" if trace else "end_to_end"]
    declared = {m["name"]: m["unit"] for m in spec}
    got = {k: v["unit"] for k, v in check_names(metrics).items()}
    if got != declared:
        raise RuntimeError(
            f"metrics differ from BENCHMARK.json: missing "
            f"{sorted(declared.keys() - got.keys())}, undeclared "
            f"{sorted(got.keys() - declared.keys())}, units "
            f"{sorted(k for k in got.keys() & declared.keys() if got[k] != declared[k])}")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def bench_main(argv, work: Path) -> int:
    """The benchmark proper (the child process)."""
    args = parse_args(argv)
    pin_environment(work, ui=bool(args.trace))
    bench = None
    try:
        bench = Bench(args.workload, args.seed, work)
        if args.trace:
            from perfbench.trace import traced
            res = traced(bench)
        else:
            res = timed(bench, args.seconds)
        record = environment(bench, {
            k: v for k, v in res.items() if k != "metrics"})
        result = {"correct": not bench.failures,
                  "attempted": res["attempted"], "failed": res["failed"],
                  "metrics": res["metrics"]}
        check_declared(result["metrics"], args.trace)
    finally:
        if bench is not None:
            bench.stop()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(record, sort_keys=True))
    print(json.dumps(result))
    return 0


# -- supervision: no process of a run outlives it ----------------------------
def descendants(root_pid: int) -> list[int]:
    """Live (not zombie) descendants of ``root_pid``, read from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if fields[0] != "Z":
            children.setdefault(int(fields[1]), []).append(int(d))
    out, todo = [], list(children.get(root_pid, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def end_descendants(grace: float) -> None:
    """Returns once every descendant of this process has ended and been
    reaped. Descendants still running after ``grace`` seconds get SIGTERM,
    five seconds later SIGKILL. This process is a child subreaper, so
    orphaned descendants are re-parented to it and reaped here."""
    t0 = time.monotonic()
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        elapsed = time.monotonic() - t0
        if elapsed > grace:
            sig = signal.SIGTERM if elapsed < grace + 5 else signal.SIGKILL
            for d in descendants(os.getpid()):
                try:
                    os.kill(d, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def is_result(line: str) -> bool:
    try:
        obj = json.loads(line)
    except ValueError:
        return False
    return isinstance(obj, dict) and "correct" in obj


def supervise(argv) -> int:
    """Runs the benchmark in a child process and returns its exit code once
    no process it started is left. Its output is printed afterwards, with
    the result line last (anything a dying JVM prints cannot follow it),
    and without the result line if the child failed."""
    ctypes.CDLL(None).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    work = ROOT / ".perfbench_work" / f"run-{os.getpid()}"
    child = subprocess.Popen(
        [sys.executable, __file__, *argv], stdout=subprocess.PIPE,
        text=True, env={**os.environ, WORK_ENV: str(work)})
    lines: list[str] = []
    reader = threading.Thread(target=lambda: lines.extend(child.stdout),
                              daemon=True)
    reader.start()
    code, grace = 1, 0.0
    try:
        code = child.wait(timeout=CHILD_DEADLINE_S)
        grace = GRACE_S
    except subprocess.TimeoutExpired:
        print(f"run exceeded {CHILD_DEADLINE_S:.0f} s; stopped",
              file=sys.stderr)
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        end_descendants(grace)
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass
    reader.join(timeout=5)
    results = [ln for ln in lines if is_result(ln)]
    for ln in lines:
        if not is_result(ln):
            sys.stdout.write(ln)
    if code == 0 and results:
        sys.stdout.write(results[-1])
    elif code == 0:
        print("the run printed no result", file=sys.stderr)
        code = 1
    sys.stdout.flush()
    return code


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if WORK_ENV in os.environ:
        return bench_main(argv, Path(os.environ[WORK_ENV]))
    parse_args(argv)            # a usage error needs no child
    return supervise(argv)


if __name__ == "__main__":
    sys.exit(main())
