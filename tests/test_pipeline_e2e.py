"""End-to-end recall contract (SURVEY §5.3–5.4, BASELINE.json):

- tiny corpus: Spark cluster partition == oracle partition EXACTLY,
  dup-pair recall vs oracle == 1.0, sha256 invariant, zero false merges.
- small corpus (5k files): recall vs oracle >= 0.99 and vs planted ground
  truth >= 0.99, precision guard on the `license` negative class.
- aggressive salting (bucket_cap=2): oracle parity must survive skew breaking.
- permutation invariance: repartitioned input -> identical clusters.
- join regime x partition count: identical verified pairs and clusters.
- escalation gate: skipping the wave when no rep pair failed changes no
  verified pair.
"""

from __future__ import annotations

import random
from collections import defaultdict

import pytest

from nise_dedup import corpus as C
from nise_dedup.config import DedupConfig
from nise_dedup.pipeline import assert_sha_invariant, run_pipeline

import oracle as O

KEY = ["repo", "path", "commit"]


def _spark_clusters(spark, rows, cfg, ckpt=""):
    df = spark.createDataFrame(C.to_pandas(rows))
    res = run_pipeline(spark, df, cfg, ckpt=ckpt)
    pred = {(r["repo"], r["path"], r["commit"]): r["cluster_id"]
            for r in res.clusters.collect()}
    return df, res, pred


def _partitions(assign: dict) -> set:
    groups = defaultdict(set)
    for k, v in assign.items():
        groups[v].add(k)
    return {frozenset(s) for s in groups.values()}


def test_tiny_exact_oracle_parity(spark):
    cfg = DedupConfig(shuffle_partitions=8)
    rows = C.generate("tiny", seed=42)
    df, res, pred = _spark_clusters(spark, rows, cfg)
    want = O.run_oracle([r.__dict__ for r in rows], cfg,
                        fast_signatures=True)
    assert _partitions(pred) == _partitions(want.clusters)
    op, pp = O.dup_pairs(want.clusters), O.dup_pairs(pred)
    assert op == pp  # recall 1.0 AND precision 1.0 vs reference
    assert_sha_invariant(df, res.clusters)


def test_tiny_salted_parity(spark):
    # bucket_cap=2 forces salting on nearly every bucket; representative
    # pairs must preserve connectivity -> same clusters as the uncapped oracle
    cfg = DedupConfig(shuffle_partitions=8, bucket_cap=2)
    rows = C.generate("tiny", seed=42)
    _, _, pred = _spark_clusters(spark, rows, cfg)
    want = O.run_oracle([r.__dict__ for r in rows], cfg,
                        fast_signatures=True)
    op, pp = O.dup_pairs(want.clusters), O.dup_pairs(pred)
    hit = len(op & pp)
    assert hit / max(1, len(op)) >= 0.99
    # salting may only LOSE pairs relative to full pairwise, never invent
    assert pp <= op


def test_join_regime_and_partition_independence(spark):
    """The verified pairs and the clusters must not depend on the join
    regime (AQE broadcast vs broadcast disabled, which forces the deep
    content joins to shuffle) or on the partition count — all four runs
    identical and equal to the oracle partition."""
    rows = C.generate("tiny", seed=42)
    df = spark.createDataFrame(C.to_pandas(rows))
    want = O.run_oracle([r.__dict__ for r in rows], DedupConfig(),
                        fast_signatures=True)
    keys = ("spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.shuffle.partitions")
    saved = {k: spark.conf.get(k) for k in keys}
    outs = {}
    try:
        for threshold in (saved[keys[0]], "-1"):
            for parts in (1, 7):
                spark.conf.set(keys[0], threshold)
                spark.conf.set(keys[1], str(parts))
                res = run_pipeline(spark, df,
                                   DedupConfig(shuffle_partitions=parts),
                                   collect_metrics=False)
                outs[(threshold, parts)] = (
                    sorted(map(tuple, res.verified_pairs.collect())),
                    {(r["repo"], r["path"], r["commit"]): r["cluster_id"]
                     for r in res.clusters.collect()})
                res.release()
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    first_verified, first_clusters = next(iter(outs.values()))
    assert first_verified
    for verified, clusters in outs.values():
        assert verified == first_verified
        assert clusters == first_clusters
    assert _partitions(first_clusters) == _partitions(want.clusters)


def _stub_copies(n=12):
    """n ~600-byte stubs differing in one number: one hot bucket whose
    cross-salt rep pairs all pass verification."""
    body = "".join(f"    value_{i} = compute(item, {i}) + offset\n"
                   for i in range(14))
    return [C.CorpusRow(f"stub{k}", "h.py", "c0", "py",
                        f"def handler(item):\n    limit = {1000 + k}\n"
                        + body + "    return value_0\n", 0, "edit")
            for k in range(n)]


def _shared_header_family(n=40, n_dups=6, seed=7):
    """n files sharing a ~300-byte header with distinct ~100-byte bodies
    (LSH collides them, verification rejects them: exact J < tau_jaccard
    and the shared run is under tau_lcs_min_bytes), plus n_dups one-byte
    edits of the first files. Salted buckets of mutually dissimilar files
    make rep pairs fail, so the escalation wave is built and non-empty."""
    rng = random.Random(seed)
    words = ("alpha beta gamma delta epsilon zeta theta kappa lambda sigma "
             "node edge graph hash table index batch stream buffer queue "
             "stack heap tree merge split scan probe emit flush chunk").split()
    header = "".join("# " + " ".join(rng.choice(words) for _ in range(5))
                     + "\n" for _ in range(10))
    rows = [C.CorpusRow(f"fam{k}", "f.py", "c0", "py",
                        header + " ".join(rng.choice(words)
                                          for _ in range(14)) + "\n",
                        -1, "license")
            for k in range(n)]
    rows += [C.CorpusRow(f"dup{k}", "f.py", "c0", "py",
                         rows[k].content[:-1] + "!\n", k, "edit")
             for k in range(n_dups)]
    return rows


@pytest.mark.parametrize("case", ["reps_pass", "reps_fail"])
def test_escalation_gate_equivalence(spark, case):
    """The pipeline builds the escalation wave only when the rep-verify
    action counts a failed rep pair. Both branches must publish exactly
    the verified pairs of the ungated composition (wave 1 over the
    candidates + wave 2 over escalation_pairs minus the candidates), and
    the metrics must carry every escalation key either way."""
    from nise_dedup import instrument, lsh
    from nise_dedup.verify import verify_pairs

    if case == "reps_pass":
        rows, cfg = _stub_copies(), DedupConfig(shuffle_partitions=8,
                                                 bucket_cap=4)
    else:
        rows, cfg = _shared_header_family(), DedupConfig(
            shuffle_partitions=8, bucket_cap=3)
    df = spark.createDataFrame(C.to_pandas(rows))
    instrument.enable()
    try:
        res = run_pipeline(spark, df, cfg)
    finally:
        log = instrument.disable()
    notes = [b["value"] for b in log if b["name"] == "n_rep_failed"]
    assert len(notes) == 1
    m = res.metrics
    for k in ("n_failed_salt_pairs", "n_skipped_oversize",
              "n_skipped_budget", "n_budgeted_pairs", "n_esc_deep_gated",
              "n_esc_deep_dropped", "n_escalation_pairs"):
        assert k in m, k
    if case == "reps_pass":
        assert notes[0] == 0
        assert m["n_rep_pairs"] > 0 and m["n_rep_pairs_failed"] == 0
        assert m["n_escalation_pairs"] == m["n_failed_salt_pairs"] == 0
    else:
        assert notes[0] > 0
        assert m["n_failed_salt_pairs"] > 0
        assert m["n_escalation_pairs"] > 0        # the wave is non-empty

    sigs, uniq, cand = (res.stages[k] for k in
                        ("signatures", "uniq", "cand_pairs"))
    handles: list = []
    salted = lsh.salted_buckets(lsh.explode_bands(sigs), cfg)
    rep = verify_pairs(lsh.cross_rep_pairs(salted, cfg.rep_k), sigs, uniq,
                       cfg, handles=handles, eager_meta=False)
    esc = (lsh.escalation_pairs(salted, rep, cfg)
           .join(cand.select("a", "b"), on=["a", "b"], how="left_anti"))
    wave1 = verify_pairs(cand, sigs, uniq, cfg, handles=handles)
    ungated = wave1.unionByName(verify_pairs(
        esc, sigs, uniq, cfg, handles=handles, eager_meta=False,
        deep_budget=cfg.escalate_deep_budget))
    assert (sorted(map(tuple, res.verified_pairs.collect()))
            == sorted(map(tuple, ungated.collect())))
    for h in handles:
        h.unpersist()

    pred = {(r["repo"], r["path"], r["commit"]): r["cluster_id"]
            for r in res.clusters.collect()}
    want = O.run_oracle([r.__dict__ for r in rows], cfg,
                        fast_signatures=True)
    assert _partitions(pred) == _partitions(want.clusters)
    assert_sha_invariant(df, res.clusters)
    res.release()


def test_tiny_permutation_invariance(spark):
    cfg = DedupConfig(shuffle_partitions=8)
    rows = C.generate("tiny", seed=42)
    df = spark.createDataFrame(C.to_pandas(rows))
    a = run_pipeline(spark, df, cfg).clusters
    b = run_pipeline(spark, df.repartition(13), cfg).clusters
    pa = {(r["repo"], r["path"], r["commit"]): r["cluster_id"]
          for r in a.collect()}
    pb = {(r["repo"], r["path"], r["commit"]): r["cluster_id"]
          for r in b.collect()}
    assert pa == pb


@pytest.mark.slow
def test_small_recall_contract(spark):
    cfg = DedupConfig(shuffle_partitions=16)
    rows = C.generate("small", seed=42)
    df, res, pred = _spark_clusters(spark, rows, cfg)
    want = O.run_oracle([r.__dict__ for r in rows], cfg, fast_signatures=True)

    op, pp = O.dup_pairs(want.clusters), O.dup_pairs(pred)
    recall_vs_oracle = len(op & pp) / max(1, len(op))
    assert recall_vs_oracle >= 0.99, recall_vs_oracle

    tp = C.truth_dup_pairs(rows)
    recall_vs_truth = len(tp & pp) / max(1, len(tp))
    assert recall_vs_truth >= 0.99, recall_vs_truth

    # precision guard: license-header negatives must not merge
    cls = {(r.repo, r.path, r.commit): r.dup_class for r in rows}
    content = {(r.repo, r.path, r.commit): r.content for r in rows}
    false_merges = [p for p in pp
                    if p not in tp and content[p[0]] != content[p[1]]]
    assert len(false_merges) <= 0.001 * max(1, len(pp)), false_merges[:5]
    assert not any(cls[a] == cls[b] == "license" for a, b in false_merges)


def test_single_scan_ingest(spark, tmp_path):
    """VERDICT round 1: the source must be scanned + sha256-hashed ONCE.
    No-ckpt mode: downstream stages read the persisted ingest relation
    (InMemoryTableScan), never a second FileScan of the source. Ckpt mode:
    downstream stages read the ingest checkpoint parquet, not the source."""
    src = str(tmp_path / "corpus.parquet")
    C.to_pandas(C.generate("tiny", 42)).to_parquet(src)
    cfg = DedupConfig(shuffle_partitions=8)

    res = run_pipeline(spark, spark.read.parquet(src), cfg,
                       collect_metrics=False)
    uplan = res.stages["uniq"]._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in uplan
    res.release()

    ckpt = str(tmp_path / "ck")
    res2 = run_pipeline(spark, spark.read.parquet(src), cfg, ckpt=ckpt,
                        collect_metrics=False)
    for name in ["uniq", "signatures", "cand_pairs", "verified_pairs",
                 "clusters_uniq", "clusters"]:
        plan = res2.stages[name]._jdf.queryExecution().optimizedPlan().toString()
        assert "corpus.parquet" not in plan, name
    # identical outputs across both modes
    p1 = {(r["repo"], r["path"], r["commit"]): r["cluster_id"]
          for r in res.clusters.collect()}
    p2 = {(r["repo"], r["path"], r["commit"]): r["cluster_id"]
          for r in res2.clusters.collect()}
    assert p1 == p2


def test_id_collision_fallback(spark, monkeypatch):
    """F2 fallback: inject a colliding id function (hash of repo only) and
    assert the pipeline deterministically re-salts to unique ids while
    producing the same clusters as the collision-free run."""
    from pyspark.sql import functions as F

    from nise_dedup import ingest as I

    cfg = DedupConfig(shuffle_partitions=8)
    rows = C.generate("tiny", seed=42)
    df = spark.createDataFrame(C.to_pandas(rows))
    baseline = {frozenset(g) for g in _partitions(
        {(r["repo"], r["path"], r["commit"]): r["cluster_id"]
         for r in run_pipeline(spark, df, cfg,
                               collect_metrics=False).clusters.collect()})}

    def colliding(d):
        return d.withColumn("file_id", F.xxhash64("repo"))

    monkeypatch.setattr(I, "with_file_id", colliding)
    res = run_pipeline(spark, df, cfg, collect_metrics=False)
    got = res.clusters.collect()
    ids = [r["file_id"] for r in got]
    assert len(ids) == len(set(ids)) == len(rows)   # resolved to unique
    parts = {frozenset(g) for g in _partitions(
        {(r["repo"], r["path"], r["commit"]): r["cluster_id"] for r in got})}
    assert parts == baseline
    res.release()


def test_gate_laziness_by_consumer_count(spark):
    """VERDICT r2 serial-term item: in no-ckpt mode, only multi-consumer
    stages are persisted; single-consumer stages (cand/verified/clusters)
    fuse into their consumer's job. Metrics mode adds consumers, so there
    everything is persisted (the r2 behavior)."""
    rows = C.generate("tiny", seed=42)
    df = spark.createDataFrame(C.to_pandas(rows))
    cfg = DedupConfig(shuffle_partitions=8)

    # storageLevel consults the CacheManager by canonicalized PLAN, so a
    # cached identical plan from an earlier test would read as persisted
    spark.catalog.clearCache()
    res = run_pipeline(spark, df, cfg, collect_metrics=False)
    persisted = {n: s.storageLevel.useMemory or s.storageLevel.useDisk
                 for n, s in res.stages.items()}
    assert persisted["uniq"] and persisted["signatures"]
    assert not persisted["cand_pairs"]
    assert not persisted["verified_pairs"]
    assert not persisted["clusters"]
    # the content-bearing ingest cache was swapped for the pruned projection
    assert not (res.stages["ingest"].storageLevel.useMemory
                or res.stages["ingest"].storageLevel.useDisk)
    res.release()

    res2 = run_pipeline(spark, df, cfg, collect_metrics=True)
    p2 = {n: s.storageLevel.useMemory or s.storageLevel.useDisk
          for n, s in res2.stages.items()}
    assert p2["cand_pairs"] and p2["verified_pairs"] and p2["clusters_uniq"]
    res2.release()


def test_id_collision_fallback_ckpt(spark, monkeypatch, tmp_path):
    """ADVICE r2 (medium): in ckpt mode the fallback republishes the ingest
    stage it is READING — without lineage truncation Spark raises
    UNSUPPORTED_OVERWRITE and the run (and every resume) wedges. Assert the
    checkpointed fallback completes, resolves ids, and resumes stably."""
    from pyspark.sql import functions as F

    from nise_dedup import ingest as I

    cfg = DedupConfig(shuffle_partitions=8)
    rows = C.generate("tiny", seed=42)
    df = spark.createDataFrame(C.to_pandas(rows))

    def colliding(d):
        return d.withColumn("file_id", F.xxhash64("repo"))

    monkeypatch.setattr(I, "with_file_id", colliding)
    ckpt = str(tmp_path / "ck")
    res = run_pipeline(spark, df, cfg, ckpt=ckpt, collect_metrics=False)
    got = sorted((r["repo"], r["path"], r["commit"], r["file_id"],
                  r["cluster_id"]) for r in res.clusters.collect())
    ids = [g[3] for g in got]
    assert len(ids) == len(set(ids)) == len(rows)   # resolved to unique
    # resume: the republished stage already has unique ids -> no re-publish,
    # byte-identical output
    res2 = run_pipeline(spark, df, cfg, ckpt=ckpt, collect_metrics=False)
    got2 = sorted((r["repo"], r["path"], r["commit"], r["file_id"],
                   r["cluster_id"]) for r in res2.clusters.collect())
    assert got == got2


def test_resolve_id_collisions_deterministic(spark):
    from pyspark.sql import functions as F

    from nise_dedup.ingest import resolve_id_collisions

    df = spark.createDataFrame(
        [("r1", "a", "c1"), ("r1", "b", "c1"), ("r2", "a", "c2")],
        "repo string, path string, commit string"
    ).withColumn("file_id", F.lit(7))          # everyone collides
    a = {(r["repo"], r["path"]): r["file_id"]
         for r in resolve_id_collisions(df).collect()}
    b = {(r["repo"], r["path"]): r["file_id"]
         for r in resolve_id_collisions(df.repartition(5)).collect()}
    assert a == b                               # deterministic
    assert len(set(a.values())) == 3            # unique


def test_true_duplicate_natural_keys_raise(spark):
    import pytest as _pytest
    from pyspark.sql import functions as F

    from nise_dedup.ingest import resolve_id_collisions

    df = spark.createDataFrame(
        [("r", "p", "c"), ("r", "p", "c")],
        "repo string, path string, commit string"
    ).withColumn("file_id", F.xxhash64("repo", "path", "commit"))
    with _pytest.raises(RuntimeError, match="natural keys"):
        resolve_id_collisions(df)
