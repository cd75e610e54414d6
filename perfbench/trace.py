"""Traced run: per-layer metrics for one workload.

Runs the workload's ``run_pipeline`` call once untraced (the reference,
as the timed mode measures it, with the program's barrier log on), then
composes the same pipeline from the public layer functions in
``run_pipeline``'s order, one span per layer. Each span runs under a Spark
job group of its own name and materializes its output, so Spark's
per-stage task metrics (read from the application's status REST endpoint
on localhost) map onto it. Afterwards it times the signature and suffix
kernels on samples of the workload's input and, on QUERY_WORKLOAD, runs
the declared queries that read only ``documents``/``embeddings`` over a
view of the workload's corpus, checking each against its DuckDB oracle.
The tracing overhead is the traced composition's wall time minus that of
an untraced ``run_pipeline`` call made right after it.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import threading
import time
import urllib.request
from contextlib import contextmanager

import numpy as np

from perfbench.stats import layer_name, median, metric, partition, self_times

SPANS = ("ingest", "uniq", "signatures", "lsh", "verify", "cc", "publish")
# io.run_stage runs each checkpoint write under a job group named after
# its stage; these map onto the span that called it
STAGE_SPAN = {"cand_pairs": "lsh", "verified_pairs": "verify",
              "clusters_uniq": "cc", "clusters": "publish"}
CKPT_STAGES = ("ingest", "uniq", "signatures", "cand_pairs",
               "verified_pairs", "clusters_uniq", "clusters")
RESUME_STAGES = ("verified_pairs", "clusters_uniq", "clusters")
MB = float(1 << 20)


class Tracer:
    """Spans kept in memory: name, start, end, parent, run id."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[str] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        self.sc.setJobGroup(name, name)
        start = time.perf_counter() - self._t0
        try:
            yield
        finally:
            end = time.perf_counter() - self._t0
            self._stack.pop()
            self.sc.setJobGroup(parent or "", parent or "")
            self.spans.append({"name": name, "start": start, "end": end,
                               "parent": parent, "run_id": self.run_id})

    def regroup(self):
        """Re-assert the current span's job group (io.run_stage clears
        it after its write)."""
        if self._stack:
            self.sc.setJobGroup(self._stack[-1], self._stack[-1])

    def wall(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name)


def _tree_rss_mb(root_pid: int) -> float:
    """Summed RSS of ``root_pid`` and every descendant (JVM, Python
    workers), read from /proc."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        pid = int(d)
        children.setdefault(int(fields[1]), []).append(pid)
        rss[pid] = int(fields[21])
    page = os.sysconf("SC_PAGE_SIZE")
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0) * page
        todo.extend(children.get(pid, []))
    return total / (1 << 20)


class RssSampler:
    """Peak process-tree RSS, sampled on a background thread."""

    def __init__(self, period: float = 0.2):
        self.period, self.peak = period, 0.0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_mb(os.getpid()))
            self._stop.wait(self.period)

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join()


# -- Spark status REST (localhost) ------------------------------------------

def _get(sc, path: str):
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{path}"
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def _settled_jobs(sc, timeout: float = 30.0) -> list[dict]:
    """Job list once the status listener has caught up (no job running)."""
    deadline = time.time() + timeout
    while True:
        jobs = _get(sc, "jobs")
        if all(j["status"] != "RUNNING" for j in jobs) \
                or time.time() > deadline:
            return jobs
        time.sleep(0.5)


def max_job_id(sc) -> int:
    return max((j["jobId"] for j in _settled_jobs(sc)), default=-1)


_SIZE = re.compile(r"([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)\b")
_SCALE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
          "TiB": 1 << 40}


def _size_bytes(text: str) -> float:
    """A Spark SQL size metric ("12.3 MiB", or its "total (min, med,
    max ...)" form) in bytes; the total is the first size in the text."""
    m = _SIZE.search(text)
    return float(m.group(1).replace(",", "")) * _SCALE[m.group(2)] if m else 0.0


def stage_metrics(sc, spans, after_job: int) -> dict:
    """Per span, over the jobs after ``after_job``: tasks, task run time,
    JVM task CPU (Spark does not count Python worker CPU), shuffle write,
    spill and the bytes the Python UDF nodes sent to their workers. Each
    stage counts once, for the job that ran it."""
    jobs = sorted((j for j in _settled_jobs(sc) if j["jobId"] > after_job),
                  key=lambda j: j["jobId"])
    owner: dict[int, str] = {}
    job_group: dict[int, str] = {}
    for j in jobs:
        g = j.get("jobGroup") or ""
        g = STAGE_SPAN.get(g, g)
        job_group[j["jobId"]] = g
        for sid in j["stageIds"]:
            owner.setdefault(sid, g)
    out = {g: {"tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "shuffle_write_mb": 0.0,
               "spill_mb": 0.0, "python_sent_mb": 0.0} for g in spans}
    for st in _get(sc, "stages"):
        g = owner.get(st["stageId"])
        if g not in out or st["status"] != "COMPLETE":
            continue
        o = out[g]
        o["tasks"] += st["numCompleteTasks"]
        o["run_s"] += st["executorRunTime"] / 1e3
        o["cpu_s"] += st["executorCpuTime"] / 1e9
        o["shuffle_write_mb"] += st["shuffleWriteBytes"] / MB
        o["spill_mb"] += (st["memoryBytesSpilled"]
                          + st["diskBytesSpilled"]) / MB
    for ex in _get(sc, "sql?details=true&planDescription=false"
                       "&offset=0&length=100000"):
        ids = (ex.get("successJobIds", []) + ex.get("runningJobIds", [])
               + ex.get("failedJobIds", []))
        gs = {job_group.get(i) for i in ids} & set(out)
        if len(gs) != 1:
            continue
        g = gs.pop()
        for node in ex.get("nodes", []):
            for m in node.get("metrics", []):
                if m["name"] == "data sent to Python workers":
                    out[g]["python_sent_mb"] += _size_bytes(m["value"]) / MB
    return out


# -- the traced composition ---------------------------------------------------

def compose(bench, tr: Tracer, ckpt: str = "", prefix: str = "") -> dict:
    """The dedup pipeline from its public layer functions, in
    run_pipeline's order (including the salted-bucket escalation wave),
    one span per layer, named ``prefix + layer``. With ``ckpt`` every
    stage goes through io.run_stage as run_pipeline's checkpoint mode
    does."""
    from pyspark.sql import functions as F

    from nise_dedup import cc, ingest, instrument, lsh, verify
    from nise_dedup.io import run_stage
    from nise_dedup.pipeline import FILES_COLS, ensure_min_partitions
    from nise_dedup.signatures import compute_signatures

    spark, cfg = bench.spark, bench.cfg
    ch = cfg.config_hash()
    cached: list = []

    def stage(name, fn, **kw):
        if ckpt:
            df = run_stage(spark, ckpt, ch, name, fn, **kw)
            tr.regroup()
        else:
            df = fn().persist()
            cached.append(df)
        df.count()
        return df

    facts: dict = {}
    instrument.enable()
    with tr.span(prefix + "ingest"):
        spread = min(cfg.shuffle_partitions,
                     max(spark.sparkContext.defaultParallelism, 16))
        hashed = stage("ingest", lambda: ensure_min_partitions(
            ingest.with_sha(ingest.with_file_id(
                ingest.basic_filters(bench.corpus, cfg)))
            .select(*FILES_COLS, "content"), spread))
        files = hashed.select(*FILES_COLS)
        ingest.assert_unique_ids(files)
    with tr.span(prefix + "uniq"):
        if ckpt:
            winners = None
            uniq = stage("uniq", lambda: ingest.uniq_with_content(hashed),
                         extra_manifest={"uniq_buckets": 0},
                         require_manifest={"uniq_buckets": 0})
        else:
            winners = stage("winners", lambda: ingest.compute_winners(hashed))
            uniq = stage("uniq", lambda: ingest.uniq_with_content(
                hashed, winners=winners))
    with tr.span(prefix + "signatures"):
        sigs = stage("signatures", lambda: compute_signatures(
            uniq, cfg, keep_minhash=False),
            **({"extra_manifest": {"sig_buckets": 0},
                "require_manifest": {"sig_buckets": 0}} if ckpt else {}))
    cand_stats: dict = {}
    cand_handles: list = []
    with tr.span(prefix + "lsh"):
        cand = stage("cand_pairs", lambda: lsh.candidate_pairs(
            lsh.explode_bands(sigs), cfg, handles=cand_handles,
            stats=cand_stats))
    vh: list = []
    with tr.span(prefix + "verify"):
        def _verified():
            v = verify.verify_pairs(cand, sigs, uniq, cfg, handles=vh)
            if not cfg.escalate_failed_rep_pairs:
                return v
            if cand_handles:
                if cand_stats.get("n_salted_rows", 0) == 0:
                    return v
                salted = cand_handles[0]
            else:           # resumed past the candidate stage
                salted = lsh.salted_buckets(
                    lsh.explode_bands(sigs), cfg).persist()
                cached.append(salted)
                if salted.where(F.col("nsplits") > 1).limit(1).count() == 0:
                    return v
            rep = verify.verify_pairs(
                lsh.cross_rep_pairs(salted, cfg.rep_k), sigs, uniq, cfg,
                handles=vh, eager_meta=False, formulation="joined").persist()
            cached.append(rep)
            esc = (lsh.escalation_pairs(salted, rep, cfg)
                   .join(cand.select("a", "b"), on=["a", "b"],
                         how="left_anti"))
            return v.unionByName(verify.verify_pairs(
                esc, sigs, uniq, cfg, handles=vh, eager_meta=False,
                formulation="joined", deep_budget=cfg.escalate_deep_budget))
        verified = stage("verified_pairs", _verified,
                         **({"extra_manifest": {"vp_buckets": 0},
                             "require_manifest": {"vp_buckets": 0}}
                            if ckpt else {}))
    for h in cand_handles:
        h.unpersist()
    with tr.span(prefix + "cc"):
        clusters_uniq = stage("clusters_uniq",
                              lambda: cc.canonical_clusters(verified, sigs))
    for h in vh:
        h.unpersist()
    with tr.span(prefix + "publish"):
        clusters = stage("clusters", lambda: ingest.expand_exact(
            clusters_uniq, files, winners=winners))
        out = clusters.collect()
    facts["barriers"] = instrument.disable()
    facts.update(out=out, cand=cand, sigs=sigs, uniq=uniq, verified=verified,
                 clusters_uniq=clusters_uniq,
                 n_salted_rows=cand_stats.get("n_salted_rows", 0))
    facts["release"] = lambda: [d.unpersist() for d in cached]
    return facts


# -- kernel microbenchmarks ----------------------------------------------------

def _best_of(fn, reps: int = 5) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return median(times)


def kernel_metrics(bench, pairs: list[tuple[bytes, bytes]]) -> dict:
    """Signature kernels on the first 256 inputs (normalized as the
    signature stage does) and suffix kernels on a fixed pair sample."""
    import math

    from nise_dedup import hashing as H
    from nise_dedup import suffix

    cfg = bench.cfg
    raws = [H.normalize_text(r.content, cfg.normalize).encode("utf-8")
            for r in bench.rows[:256]]
    n, kb = len(raws), sum(map(len, raws)) / 1024
    values, starts = H.shingle_sets_batch(raws, cfg.shingle_k)
    mh = H.minhash_oph_batch(values, starts, cfg.num_perm, cfg.seed)
    est_m = min(cfg.est_components, cfg.num_perm)
    us = 1e6
    m = {
        "hashing.shingle_us_per_kb": _best_of(
            lambda: H.shingle_sets_batch(raws, cfg.shingle_k)) * us / kb,
        "hashing.minhash_us_per_doc": _best_of(
            lambda: H.minhash_oph_batch(values, starts, cfg.num_perm,
                                        cfg.seed)) * us / n,
        "hashing.simhash_us_per_doc": _best_of(
            lambda: H.simhash64_batch(values, starts)) * us / n,
        "hashing.bands_us_per_doc": _best_of(
            lambda: H.band_keys_batch(mh, cfg.bands, cfg.rows,
                                      cfg.seed)) * us / n,
        "hashing.pack_us_per_doc": _best_of(
            lambda: H.pack_bbit_batch(mh, est_m)) * us / n,
    }
    a_list = [a for a, _ in pairs]
    b_list = [b for _, b in pairs]
    need = [int(max(cfg.tau_lcs_min_bytes,
                    math.ceil(cfg.tau_lcs_ratio * min(len(a), len(b)))))
            for a, b in pairs]
    m["suffix.lcs_us_per_pair"] = _best_of(
        lambda: suffix.lcs_batch(a_list, b_list), 1) * us / len(pairs)
    m["suffix.common_substring_us_per_pair"] = _best_of(
        lambda: [suffix.has_common_substring(a, b, k)
                 for (a, b), k in zip(pairs, need)], 3) * us / len(pairs)
    m["suffix.n_sample_pairs"] = float(len(pairs))
    return m


def _pair_sample(bench, facts, n: int = 16) -> list[tuple[bytes, bytes]]:
    """The first ``n`` deep-verified pairs by (a, b), or the first
    candidate pairs when the cascade had no deep residue."""
    from pyspark.sql import functions as F

    from nise_dedup import hashing as H

    v = facts["verified"]
    deep = v.where((F.col("jaccard") >= 0) | (F.col("lcs_len") >= 0))
    src = deep if deep.limit(1).count() else facts["cand"]
    ids = src.select("a", "b").orderBy("a", "b").limit(n).collect()
    wanted = {i for r in ids for i in (r["a"], r["b"])}
    content = {r["file_id"]: r["content"] for r in
               facts["uniq"].where(F.col("file_id").isin(list(wanted)))
               .select("file_id", "content").collect()}
    norm = bench.cfg.normalize
    return [(H.normalize_text(content[r["a"]], norm).encode("utf-8"),
             H.normalize_text(content[r["b"]], norm).encode("utf-8"))
            for r in ids]


# -- declared queries over a view of the workload ---------------------------

QUERY_LAYERS = {
    "relational": ("f1_scan_documents", "f3_sha256", "r3_exact_collapse",
                   "x1_explode_tokens"),
    "textops": ("token_quality", "lang_markers", "v1_word_jaccard",
                "v1_ngram3_jaccard"),
    "vectors": ("knn_bruteforce", "ann_planted_recall",
                "lsh_embedding_buckets", "embedding_neardup"),
    "multimodal": ("multimodal_meta", "multimodal_features",
                   "media_decode"),
    "recall": ("c3_recall_eval",),
}
N_DOCS, DOC_CHARS, EMB_DIM = 400, 560, 64
# the declared-query layers run on one workload's trace only, which keeps
# the other trace within its time limit
QUERY_WORKLOAD = "largefiles_ckpt"


def write_tables(bench, sf_dir: str) -> None:
    """``documents`` (the first N_DOCS corpus files, text cut to
    DOC_CHARS) and ``embeddings`` (seeded near-random vectors) in the
    schemas of the declared queries' fixture tables."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = bench.rows[:N_DOCS]
    texts = [r.content[:DOC_CHARS] for r in rows]
    ids = np.arange(len(rows), dtype=np.int64)
    docs = pd.DataFrame({
        "doc_id": ids, "text": texts,
        "lang": [r.lang for r in rows], "source": [r.repo for r in rows],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    emb = np.random.default_rng(bench.seed).uniform(
        -0.5, 0.5, (len(rows), EMB_DIM)).astype(np.float32)
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(pa.Table.from_pandas(docs, preserve_index=False),
                   f"{sf_dir}/documents.parquet")
    pq.write_table(pa.table({
        "vec_id": pa.array(ids),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": pa.array((ids % 10).astype(np.int32))}),
        f"{sf_dir}/embeddings.parquet")


def _canon(pdf):
    """Order-free comparable form: columns sorted by name, floats rounded
    to 6 digits, rows sorted."""
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pdf[c].dtype.kind == "f":
            pdf[c] = pdf[c].round(6)
        else:
            pdf[c] = pdf[c].astype(str)
    return sorted(map(tuple, pdf.itertuples(index=False)))


def run_queries(bench, tr: Tracer, sf_dir: str) -> dict:
    import duckdb

    from nise_dedup.queries import REGISTRY

    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet')")
    m: dict = {}
    checked = 0
    for layer, names in QUERY_LAYERS.items():
        with tr.span(layer):
            for q in names:
                fn, sql = REGISTRY[q]
                with tr.span(f"q.{q}"):
                    got = fn(bench.spark, sf_dir).toPandas()
                if sql is not None:
                    want = con.execute(sql).df()
                    checked += 1
                    bench.check(f"oracle:{q}",
                                _canon(got) == _canon(want),
                                f"{len(got)} rows vs oracle {len(want)}")
                m[layer_name("query", f"{q}.wall_s")] = tr.wall(f"q.{q}")
        m[layer_name(layer, "wall_s")] = tr.wall(layer)
    con.close()
    m["queries.n_oracle_checked"] = float(checked)
    return m


# -- the traced invocation -----------------------------------------------------

def _dir_mb(path: str) -> float:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total / MB


def traced(bench) -> dict:
    from nise_dedup import instrument, verify
    from nise_dedup.io import partition_lineage, read_manifest, read_stage

    sc = bench.spark.sparkContext
    n = bench.n
    ck = bench.ckpt_dir
    m: dict = {}

    # the untraced reference: the same first run over the input that the
    # timed mode measures, with the program's barrier log switched on
    from perfbench.run import steal_jiffies

    steal0 = steal_jiffies()
    j0 = max_job_id(sc)
    instrument.enable()
    with RssSampler() as rss:
        ref_wall, ref_out = bench.run_once(
            ck("ref") if bench.ckpt_mode else "")
    barriers = instrument.disable()
    m["pipeline.peak_rss_mb"] = rss.peak
    m["pipeline.spark_jobs"] = float(max_job_id(sc) - j0)
    m["pipeline.barrier_s"] = sum(b["s"] for b in barriers)
    m["pipeline.n_barriers"] = float(sum(1 for b in barriers
                                         if "value" not in b))
    bench.check_output(ref_out)

    tr = Tracer(bench.spark, f"{bench.workload}-{bench.seed}")
    ckpt = ck("traced") if bench.ckpt_mode else ""
    j_traced = max_job_id(sc)
    with tr.span("pipeline"):
        facts = compose(bench, tr, ckpt)
    traced_wall = tr.wall("pipeline")
    bench.check("traced_partition",
                partition(bench.labels(facts["out"]))
                == partition(bench.labels(ref_out)),
                "traced composition clusters differ from run_pipeline")
    q = bench.check_output(facts["out"])
    sm = stage_metrics(sc, SPANS, j_traced)
    # tracing overhead compares the traced run with an untraced run that
    # is as warm as it is: the one right after it
    warm_wall, _ = bench.run_once(ck("warm") if bench.ckpt_mode else "")

    # layer counts
    cand, verified = facts["cand"], facts["verified"]
    n_cand = cand.count()
    n_passed = verified.where("passed").count()
    n_deep = verify.count_deep_gated(cand, facts["sigs"], bench.cfg)
    sizes = (facts["clusters_uniq"].groupBy("cluster_id").count()
             .agg({"count": "max"}).first()[0])
    names = [b["name"] for b in facts["barriers"]]
    b_s = {}
    for b in facts["barriers"]:
        b_s[b["name"]] = b_s.get(b["name"], 0.0) + b["s"]
    pairs = _pair_sample(bench, facts)
    n_uniq = facts["uniq"].count()
    facts["release"]()

    # io: stage writes (manifest wall), lineage re-reads, bytes, resume
    io_write = 0.0
    for s in CKPT_STAGES:
        w = read_manifest(ckpt, s)["wall_s"] if ckpt else 0.0
        m[layer_name("io", f"{s}_wall_s")] = w
        io_write += w
    m["io.write_s"] = io_write
    m["io.bytes_written_mb"] = _dir_mb(ckpt) if ckpt else 0.0
    t0 = time.perf_counter()
    if ckpt:
        for s in CKPT_STAGES:
            partition_lineage(read_stage(bench.spark, ckpt, s))
    m["io.lineage_s"] = time.perf_counter() - t0 if ckpt else 0.0
    if ckpt:
        # drop the late stages, as a run killed during verification
        # leaves its checkpoint, and resume
        for s in RESUME_STAGES:
            shutil.rmtree(os.path.join(ckpt, s))
        with tr.span("resume"):
            resumed = compose(bench, tr, ckpt, prefix="resume.")
        resumed["release"]()
        bench.check("resume_identical",
                    partition(bench.labels(resumed["out"]))
                    == partition(bench.labels(facts["out"])),
                    "resumed clusters differ")
    m["io.resume_s"] = tr.wall("resume")

    for s in SPANS:
        wall = tr.wall(s)
        st = sm[s]
        m[layer_name(s, "wall_s")] = wall
        m[layer_name(s, "tasks")] = float(st["tasks"])
        m[layer_name(s, "spill_mb")] = st["spill_mb"]
        m[layer_name(s, "task_run_s")] = st["run_s"]
        m[layer_name(s, "core_util")] = st["run_s"] / (wall * n) if wall else 0.0
    self_t = self_times(tr.spans)
    m["pipeline.self_s"] = self_t["pipeline"]
    m["signatures.task_cpu_s"] = sm["signatures"]["cpu_s"]
    m["signatures.python_bytes_sent_mb"] = sm["signatures"]["python_sent_mb"]
    m["ingest.bytes_in_mb"] = sum(len(r.content.encode("utf-8"))
                                  for r in bench.rows) / MB
    m["uniq.collapse_ratio"] = n_uniq / len(bench.rows)
    m["lsh.salted_fill_s"] = b_s.get("l_salted_fill", 0.0)
    m["lsh.n_cand_pairs"] = float(n_cand)
    m["lsh.n_salted_rows"] = float(facts["n_salted_rows"])
    if bench.workload == "hotbucket":
        bench.check("hotbucket_salts", facts["n_salted_rows"] > 0,
                    "no candidate bucket was salted")
    m["lsh.shuffle_write_mb"] = sm["lsh"]["shuffle_write_mb"]
    m["verify.meta_wall_s"] = b_s.get("v_meta_agg", 0.0)
    m["verify.n_deep"] = float(n_deep)
    m["verify.pass_ratio"] = n_passed / n_cand if n_cand else 0.0
    # the verify span's summed task time per deep-gated pair
    m["verify.deep_us_per_pair"] = (sm["verify"]["run_s"] * 1e6 / n_deep
                                    if n_deep else 0.0)
    m["cc.n_edges"] = float(n_passed)
    m["cc.largest_component"] = float(sizes or 0)
    m["cc.driver_path"] = float("cc_driver_uf" in names)
    m["trace.untraced_wall_s"] = warm_wall
    m["trace.traced_wall_s"] = traced_wall
    m["trace.overhead_s"] = traced_wall - warm_wall
    m["quality.dup_pair_recall"] = q["recall"] if q else 0.0

    m.update(kernel_metrics(bench, pairs))
    if bench.workload == QUERY_WORKLOAD:
        sf_dir = str(bench.work / "tables")
        write_tables(bench, sf_dir)
        m.update(run_queries(bench, tr, sf_dir))
    else:
        m.update({layer_name("query", f"{q}.wall_s"): 0.0
                  for names in QUERY_LAYERS.values() for q in names})
        m.update({layer_name(layer, "wall_s"): 0.0 for layer in QUERY_LAYERS})
        m["queries.n_oracle_checked"] = 0.0
    return {"attempted": 1, "failed": int(bool(bench.failures)),
            "spans": tr.spans, "steal_jiffies": steal_jiffies() - steal0,
            "metrics": {k: metric(v, _unit(k)) for k, v in sorted(m.items())}}


def _unit(name: str) -> str:
    for suffix, unit in (("_us_per_kb", "us/KB"), ("_us_per_doc", "us"),
                         ("_us_per_pair", "us"), ("_mb", "MB"),
                         ("_s", "s")):
        if name.endswith(suffix):
            return unit
    if name.endswith(("_ratio", "core_util", "recall")):
        return "ratio"
    return "count"
