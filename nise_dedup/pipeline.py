"""End-to-end stage DAG (SURVEY §3.1): ingest → uniq → signatures → pairs →
verify → cluster → publish, each stage wrapped in the resumable gate (io.py).

Shuffle discipline notes (the 100-TB design, SURVEY §4):
- The SOURCE is scanned — and sha256-hashed — exactly once: the `ingest`
  stage carries ids + shas + content; `files` is a column-pruned projection
  of it (metadata consumers never touch content pages), and `uniq` collapses
  from the same relation with a single hash aggregate. (Round 1 re-scanned
  and re-hashed the corpus for `files` and `uniq` separately — 2 full
  content scans and 2x sha256 CPU at 100 TB.) The trade: the ingest stage
  checkpoint stores content once more; against a remote production table,
  one local stage write is cheaper than a second full remote scan + hash.
- `content` is shuffled exactly once (the uniq collapse); signatures, bands,
  pairs and clustering shuffle only ids + fixed-width sketches. The LCS
  residue re-joins content for the (small) set of gated pairs only.
- Stage checkpoints mean each shuffle's input is a pruned columnar parquet,
  and a resumed run replays nothing upstream of the first incomplete stage.
- Every persist this run creates is tracked: internal helper caches are
  unpersisted as soon as their consumer stage materializes, and
  ``PipelineResult.release()`` frees the stage caches when the caller is
  done (repeated runs in one session no longer accumulate storage).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nise_dedup import cc, ingest, instrument, lsh, verify
from nise_dedup.instrument import barrier
from nise_dedup.config import DedupConfig
from nise_dedup.io import (read_stage, run_stage, run_stage_buckets,
                           write_stage)
from nise_dedup.signatures import compute_signatures

FILES_COLS = ["file_id", "repo", "path", "commit", "lang",
              "content_sha256", "n_bytes"]


def ensure_min_partitions(df: DataFrame, n: int) -> DataFrame:
    """Repartition ONLY when underpartitioned (e.g. the corpus arrived as a
    single unsplittable parquet row group, so every narrow stage — including
    the Arrow signature UDF — would run on one core). On a real cluster the
    scan has natural splits and this is a no-op; the check is plan metadata,
    not an action."""
    if df.rdd.getNumPartitions() < n:
        return df.repartition(n)
    return df


@dataclass
class PipelineResult:
    """Result handle for one pipeline run.

    RECOMPUTE CLIFF (read this if you consume the pair/cluster frames
    after the run): in no-checkpoint mode with ``collect_metrics=False``,
    ``cand_pairs``/``verified_pairs``/``clusters``/``clusters_uniq`` are
    LAZY — they fused into the cluster job that already ran, and the
    internal helper caches (salted buckets, pair metadata) are drained as
    soon as their consumer stage materializes. An action on these public
    DataFrames afterwards therefore re-executes candidate generation and
    the deep Arrow verify cascade from the (still cached) uniq/signature
    stages (ADVICE r3). Call :meth:`materialize` first if you intend to
    read them more than once, run with ``collect_metrics=True`` (which
    persists them), or run with ``ckpt`` (which reads them back from
    stage parquet).
    """

    clusters: DataFrame        # one row per input row: keys + cluster_id
    clusters_uniq: DataFrame   # per canonical content: file_id, cluster_id
    verified_pairs: DataFrame
    metrics: dict
    stages: dict = field(default_factory=dict)   # name -> stage DataFrame
    _persisted: list = field(default_factory=list)

    def materialize(self) -> "PipelineResult":
        """Persist + fill the lazy public result frames so subsequent
        actions on them read caches instead of re-running the LSH/verify
        plan (see the class docstring). Costs one pass over the lazy
        chain; released like every other cache by :meth:`release`."""
        targets = [df for df in (self.stages.get("cand_pairs"),
                                 self.verified_pairs, self.clusters_uniq,
                                 self.clusters) if df is not None]
        for df in targets:
            lvl = df.storageLevel
            if not (lvl.useMemory or lvl.useDisk):
                df.persist()
                self._persisted.append(df)
        for df in targets:
            df.count()
        return self

    def release(self) -> None:
        """Unpersist every cached stage this run created (no-checkpoint
        mode). Downstream DataFrames stay valid — they just recompute."""
        for df in self._persisted:
            try:
                df.unpersist()
            except Exception:
                pass
        self._persisted.clear()


def run_pipeline(spark: SparkSession, corpus: DataFrame,
                 cfg: DedupConfig | None = None,
                 ckpt: str = "",
                 collect_metrics: bool = True) -> PipelineResult:
    cfg = cfg or DedupConfig()
    ch = cfg.config_hash()
    stage_caches: list[DataFrame] = []   # released by PipelineResult.release
    cand_internals: list[DataFrame] = []    # salted-bucket cache (L2/L3)
    verify_internals: list[DataFrame] = []  # pair-metadata cache (V0)

    def gate(name, fn, eager=True, lineage=True,
             extra_manifest=None, require_manifest=None):
        """Stage gate. Ckpt mode: always materialized via run_stage (the
        resumability contract). No-ckpt mode: stages with >1 downstream
        consumer are persisted EAGERLY (a lazy persist races cold inside the
        first multi-branch action and each branch recomputes); SINGLE-
        consumer stages stay lazy — they fuse into their consumer's job, so
        runs pay fewer sequential driver barriers (the ~28s/run serial term
        measured in BENCH/BASELINE.md r2) and at scale never materialize an
        intermediate nobody reads twice."""
        if ckpt:
            return run_stage(spark, ckpt, ch, name, fn, lineage=lineage,
                             extra_manifest=extra_manifest,
                             require_manifest=require_manifest)
        df = fn()
        if eager:
            df = df.persist()
            with barrier(f"p_gate_{name}"):
                df.count()
            stage_caches.append(df)
        return df

    def drain(handles):
        for h in handles:
            h.unpersist()
        handles.clear()

    # --- ingest: ONE scan of the source computes ids + shas and carries
    # content; everything downstream derives from this stage ---
    def _ingest():
        df = ingest.basic_filters(corpus, cfg)
        df = ingest.with_sha(ingest.with_file_id(df))
        # spread width = one task per core (floor 16), not the shuffle
        # width (round 6): the repartition exists to parallelize the
        # CPU-heavy signature pass, whose round-robin rows are uniform —
        # one wave of core-count tasks does the same compute as two waves
        # of 2x-core tasks with half the per-task overhead, and every
        # downstream scan of the ingest/uniq/signature caches inherits the
        # narrower partitioning (A/B at sf1.0: warm pipeline wall 12-13s
        # -> 8-12s). Capped by shuffle_partitions so explicit small-run
        # configs keep their layout.
        spread = min(cfg.shuffle_partitions,
                     max(spark.sparkContext.defaultParallelism, 16))
        return ensure_min_partitions(
            df.select(*FILES_COLS, "content"), spread)
    # F2 uniqueness enforcement: an exact (count, countDistinct) agg over
    # the pruned `files` projection. An approx_count_distinct pre-gate is
    # statistically useless for this check (the expected ~2.7e4 collisions
    # at 10^12 rows are far inside HLL's error band), so the exact agg
    # stays; the shuffle carries only 8-byte ids after map-side partial
    # aggregation. On the (rare) collision path, deterministically re-salt
    # and republish/rebuild so everything downstream sees resolved ids.
    # No-ckpt mode runs this agg BEHIND the signature fill (round 5): the
    # signature action materializes the ingest cache first, so the agg
    # reads hot cache and costs ~a cache scan instead of a second full
    # corpus pass + its own driver barrier (fitted serial ~3s/run,
    # BENCH/BASELINE.md r5 barrier table). Collisions then cost a rebuild
    # of uniq+signatures — the right trade for a ~2^-45 event at bench
    # scale (and at 10^12 rows the resolution pass re-derives them anyway).
    def _files_agg():
        with barrier("p_files_agg"):
            return files.agg(F.count("*").alias("n"),
                             F.countDistinct("file_id").alias("d")).first()

    if ckpt:
        hashed = run_stage(spark, ckpt, ch, "ingest", _ingest)
        files = hashed.select(*FILES_COLS)
        row = _files_agg()
        n_files = row["n"]
        if row["n"] != row["d"]:
            resolved = ingest.resolve_id_collisions(hashed)
            # break lineage before republishing: `resolved` is computed FROM
            # the ingest checkpoint parquet that write_stage is about to
            # overwrite, and Spark refuses to overwrite a path a plan is
            # reading (ADVICE r2: UNSUPPORTED_OVERWRITE wedge)
            resolved = resolved.localCheckpoint(eager=True)
            write_stage(resolved, "ingest", ckpt, ch)
            hashed = read_stage(spark, ckpt, "ingest")
            files = hashed.select(*FILES_COLS)
    else:
        # `files` is a projection, not a stage: column pruning on the
        # ingest cache means metadata consumers never read content pages.
        hashed = _ingest().persist()
        stage_caches.append(hashed)
        files = hashed.select(*FILES_COLS).persist()
        stage_caches.append(files)

    # uniq (two consumers: signature scan + deep-verify content join — and
    # the relation that bounds content memory) and signatures (three
    # consumers: band explode, verify metadata join, C2's all-nodes frame)
    # are both persisted, but in no-ckpt mode ONE action fills them:
    # signatures.count() computes through the lazy uniq persist AND the
    # lazy ingest persist — one linear consumer chain, so the "lazy persist
    # races cold" hazard (multiple branches inside one action) does not
    # apply. Only after that action (and the F2 agg over the now-hot
    # cache) is the content-bearing ingest cache released: content then
    # lives only in the uniq cache (VERDICT r2 wrong #1), and the serial
    # term drops by one full-corpus barrier (VERDICT r3 next #2; r4 next
    # #1 folds the F2 agg behind it too).
    if ckpt:
        if cfg.incremental_buckets > 0:
            # per-partition incremental resume (io.run_stage_buckets): uniq
            # is laid out dir-partitioned on part_bucket so each signature
            # bucket's re-read is a partition-PRUNED scan, and the
            # signature stage commits bucket by bucket — a killed run
            # resumes from the first missing bucket, not the stage start.
            B = cfg.incremental_buckets
            # the bucket layout is pinned in the uniq manifest: toggling
            # incremental_buckets between runs of the same config_hash
            # changes the persisted uniq schema/dir layout, so a resume
            # under a DIFFERENT layout must recompute, not reuse
            # (ADVICE r4 — require_manifest treats it like a hash mismatch)
            uniq = run_stage(
                spark, ckpt, ch, "uniq",
                lambda: ingest.uniq_with_content(hashed).withColumn(
                    "part_bucket",
                    F.pmod(F.xxhash64("file_id"), F.lit(B)).cast("int")),
                partition_by="part_bucket",
                extra_manifest={"uniq_buckets": B},
                require_manifest={"uniq_buckets": B})
            signatures = run_stage_buckets(
                spark, ckpt, ch, "signatures", B,
                lambda b: compute_signatures(
                    uniq.where(F.col("part_bucket") == b), cfg,
                    keep_minhash=False),
                extra_manifest={"sig_buckets": B})
            uniq = uniq.drop("part_bucket")
        else:
            uniq = run_stage(spark, ckpt, ch, "uniq",
                             lambda: ingest.uniq_with_content(hashed),
                             extra_manifest={"uniq_buckets": 0},
                             require_manifest={"uniq_buckets": 0})
            # sig_buckets=0 pins the FLAT layout: a bucketed signatures
            # checkpoint read back here would gain a stray inferred
            # part_bucket column (the reverse-toggle leak, ADVICE r4)
            signatures = run_stage(spark, ckpt, ch, "signatures",
                                   lambda: compute_signatures(
                                       uniq, cfg, keep_minhash=False),
                                   extra_manifest={"sig_buckets": 0},
                                   require_manifest={"sig_buckets": 0})
    else:
        def _build_sig():
            # winners is persisted because it has TWO consumers: the uniq
            # content filter here and the publish stage's sha->canonical
            # map (round 6 — publish previously re-aggregated `files`)
            w = ingest.compute_winners(hashed).persist()
            stage_caches.append(w)
            u = ingest.uniq_with_content(hashed, winners=w).persist()
            stage_caches.append(u)
            # keep_minhash=False: the pipeline never reads the raw minhash
            # array (pairs compare the packed b-bit sketch + band keys), so
            # skip shipping/caching ~1 KB/row through Arrow and the cache
            s = compute_signatures(u, cfg, keep_minhash=False).persist()
            stage_caches.append(s)
            with barrier("p_signatures_fill"):
                s.count()          # ONE action fills ingest, uniq AND sigs
            return w, u, s
        winners, uniq, signatures = _build_sig()
        # F2 agg OVERLAPPED with the candidate chain (round 6): the agg
        # reads only the hot hashed/files caches, the candidate chain only
        # the signatures cache — independent given _build_sig's fill, so
        # the agg's ~2 s barrier hides behind l_salted_fill instead of
        # preceding it (guide §2.6 overlap-independent-jobs). The thread
        # is joined right after the candidate gate; on the (~2^-45)
        # collision path everything derived from the ids — candidates
        # included — is rebuilt below, exactly as the sequential
        # formulation rebuilt uniq/signatures.
        import threading

        fa_box: dict = {}

        def _fa():
            try:
                fa_box["row"] = _files_agg()
            except BaseException as e:      # re-raised on the main thread
                fa_box["err"] = e
        fa_thread = threading.Thread(target=_fa, daemon=True)
        fa_thread.start()

    # cand/verified/clusters_uniq each have exactly ONE pipeline consumer;
    # metrics mode adds a second (the count actions below), so they are
    # eager only then. Note verify_pairs materializes its own pair-metadata
    # cache internally, which consumes cand exactly once either way.
    multi = bool(collect_metrics)

    cand_stats: dict = {}

    def _cand():
        bands = lsh.explode_bands(signatures)
        return lsh.candidate_pairs(bands, cfg, handles=cand_internals,
                                   stats=cand_stats)

    def _make_cand():
        c = gate("cand_pairs", _cand, eager=multi)
        if not ckpt and not multi:
            # LAZY plan truncation: the candidate list is referenced by
            # wave 1's metadata join AND the escalation anti-join; as a raw
            # plan the multi-stage LSH DAG is re-analyzed (and with AQE
            # re-planned per stage) under every reference. The lazy
            # localCheckpoint materializes once inside the first consuming
            # action (wave 1's meta agg — no extra barrier) and every later
            # reference plans against a flat LogicalRDD. Pair rows are 24
            # bytes — at 10^12-row scale the checkpoint is a fixed-width
            # store, not a content copy.
            c = c.localCheckpoint(eager=False)
        return c
    cand = _make_cand()
    if not ckpt:
        fa_thread.join()
        if "err" in fa_box:
            raise fa_box["err"]
        row = fa_box["row"]
        n_files = row["n"]
        if row["n"] != row["d"]:
            # rare path: re-salt ids, rebuild everything derived from them
            resolved = ingest.resolve_id_collisions(hashed)
            for old in (signatures, uniq, winners, files, hashed):
                old.unpersist()
                stage_caches.remove(old)
            hashed = resolved.persist()
            stage_caches.append(hashed)
            files = hashed.select(*FILES_COLS).persist()
            stage_caches.append(files)
            winners, uniq, signatures = _build_sig()
            files.count()          # refill the pruned projection too
            drain(cand_internals)  # candidates derived from the OLD ids
            cand_stats.clear()
            cand = _make_cand()
        hashed.unpersist()
        stage_caches.remove(hashed)

    esc_holder: dict = {}

    def _wave2_pairs():
        """Escalation candidate pairs (wave-2 input; VERDICT r4 next #7):
        salt pairs whose rep_k^2 rep chances ALL failed get their full
        cross-salt member pairs re-verified through the SAME cascade —
        without it a true dup split across salts of a heterogeneous
        capped bucket stays silently disconnected. Returns None when
        escalation is off, nothing salted, or no rep pair failed.

        The failed-salt-pair decision needs rep-pair verdicts ONLY, so it
        is fed a SEPARATELY-verified rep-pair table (tiny: <= rep_k^2
        rows per salted sub-bucket pair, same frozen deterministic
        cascade => verdicts identical to wave-1's rows for those pairs).
        Round 4 derived it from wave 1 itself, which made the escalation
        count barrier materialize the ENTIRE wave-1 cascade serially
        before CC could start — barrier-attributed at 29s of the 80s
        local[8] 200k run (82s of 170s at local[2]). With the decision
        decoupled, wave 1 is referenced exactly once (the published
        union) and the whole verify DAG stays lazy until CC's one
        materializing action; the only added barrier is the rep table's
        fill, an agg that also counts the failed rep pairs. Every
        cross-salt rep pair is a row of that table, so when none failed
        no salt pair can lose all of its rep_k^2 chances and the wave is
        provably empty — its plan is then never built. Otherwise the
        escalated pair list is returned LAZY — its (metrics-only) count
        is taken in the metrics section, not on the hot path."""
        if not cfg.escalate_failed_rep_pairs:
            return None
        # the free salted-row signal: 0 rows in salted sub-buckets means no
        # cross-salt connectivity risk, hence no wave 2. On a ckpt resume
        # that skipped the cand stage the signal is absent — rebuild the
        # salted frame (cached: the rep/escalation path reads it 4 times).
        if cand_internals:
            if cand_stats.get("n_salted_rows", 0) == 0:
                return None
            salted = cand_internals[0]
        else:
            salted = lsh.salted_buckets(
                lsh.explode_bands(signatures), cfg).persist()
            stage_caches.append(salted)
            if salted.where(F.col("nsplits") > 1).limit(1).count() == 0:
                return None
        # small bounded call: no meta-agg barrier
        # (rep pairs ~ rep_k^2 per salted sub-bucket pair)
        rep_verd = verify.verify_pairs(
            lsh.cross_rep_pairs(salted, cfg.rep_k), signatures, uniq, cfg,
            handles=verify_internals, eager_meta=False).persist()
        stage_caches.append(rep_verd)
        with barrier("p_rep_verify"):
            n_failed = rep_verd.agg(
                F.sum((~F.col("passed")).cast("long"))).first()[0] or 0
        instrument.note("n_rep_failed", n_failed)
        if n_failed == 0:
            rep_verd.unpersist()    # nothing else reads it
            stage_caches.remove(rep_verd)
            return None
        # metrics-mode diag reads these (tiny, hot) rather than re-running
        # the full wave-1 cascade through the published verified frame
        esc_holder["salted"] = salted
        esc_holder["rep_verd"] = rep_verd
        return (lsh.escalation_pairs(salted, rep_verd, cfg)
                .join(cand.select("a", "b"), on=["a", "b"], how="left_anti"))

    def _verified():
        """Wave 1 (the frozen cascade over every LSH candidate) + wave 2
        (see _wave2_pairs) in one frame. Wave 2 is built only when the
        rep-verify action counted a failed rep pair; it may still be
        empty (the failed salt pairs were all oversize or over budget).

        The rep-verify chain and wave 1's meta agg are INDEPENDENT given
        the salted/signature/uniq caches (all hot by now), so they run
        in overlapped Spark jobs from two driver threads — the pair of
        barriers costs max() instead of sum() (VERDICT r4 next #1; both
        only read caches, and Spark job submission is thread-safe)."""
        import threading

        box: dict = {}

        def rep_chain():
            try:
                box["esc"] = _wave2_pairs()
            except BaseException as e:     # re-raised on the main thread
                box["err"] = e
        t = threading.Thread(target=rep_chain, daemon=True)
        t.start()
        v1 = verify.verify_pairs(cand, signatures, uniq, cfg,
                                 handles=verify_internals)
        t.join()
        if "err" in box:
            raise box["err"]
        esc = box.get("esc")
        if esc is None:
            return v1
        esc_holder["df"] = esc
        # wave 2 is bounded by escalate_max_members — small: skip its
        # meta barrier
        v2 = verify.verify_pairs(esc, signatures, uniq, cfg,
                                 handles=verify_internals, eager_meta=False,
                                 deep_budget=cfg.escalate_deep_budget)
        return v1.unionByName(v2)

    if ckpt and cfg.incremental_buckets > 0:
        # per-partition incremental resume for the DOMINANT stage
        # (VERDICT r4 next #4: verified_pairs was 723s of the 1097s 1M
        # local[2] run — a kill there lost the most work). Wave 1 commits
        # per pair-bucket (pmod(xxhash64(a), B)): the bucket filter pushes
        # down to the cand-stage parquet scan, so each bucket verifies
        # only its pair slice and a killed run resumes from the first
        # missing bucket. Wave 2 is escalation — data-dependent on ALL
        # wave-1 verdicts, so it lands as its own (tiny, whole-stage-
        # gated) checkpoint stage computed from the completed wave-1
        # parquet; the published `verified` frame is the union, identical
        # to the flat stage's contents. vp_buckets pins the layout both
        # ways: a flat verified_pairs stage under the same config hash
        # already CONTAINS wave-2 rows, so reusing it here would verify
        # escalation pairs twice (duplicate rows); the pin recomputes
        # instead.
        B = cfg.incremental_buckets
        w1 = run_stage_buckets(
            spark, ckpt, ch, "verified_pairs", B,
            lambda b: verify.verify_pairs(
                cand.where(F.pmod(F.xxhash64("a"), F.lit(B)) == b),
                signatures, uniq, cfg, handles=verify_internals),
            extra_manifest={"vp_buckets": B},
            require_manifest={"vp_buckets": B})

        def _esc_stage():
            esc = _wave2_pairs()
            if esc is None:     # empty stage: Spark writes a schema-only
                return spark.createDataFrame([], w1.schema)  # parquet file
            esc_holder["df"] = esc
            return verify.verify_pairs(esc, signatures, uniq, cfg,
                                       handles=verify_internals,
                                       eager_meta=False,
                                       deep_budget=cfg.escalate_deep_budget)
        w2 = run_stage(spark, ckpt, ch, "verified_pairs_esc", _esc_stage,
                       lineage=False)
        verified = w1.unionByName(w2)
    else:
        verified = gate("verified_pairs", _verified, eager=multi,
                        extra_manifest={"vp_buckets": 0},
                        require_manifest={"vp_buckets": 0})
    # salted-bucket cache: fully consumed once the pair-metadata table is
    # materialized (inside verify_pairs, in both eager and lazy modes)
    drain(cand_internals)

    clusters_uniq = gate(
        "clusters_uniq",
        lambda: cc.canonical_clusters(verified, signatures),
        eager=multi)
    # pair-metadata cache: consumed once the CC input prep materialized
    # `verified` (lazy mode) / once the verified gate counted it (eager)
    drain(verify_internals)

    def _publish():
        # no-ckpt mode reuses the cached winners table for the
        # sha->canonical map (round 6); ckpt mode has no winners cache
        # (uniq reloads from parquet), so it keeps the files re-aggregate
        return ingest.expand_exact(clusters_uniq, files,
                                   winners=None if ckpt else winners)
    clusters = gate("clusters", _publish, eager=False)

    metrics = {"config_hash": ch, "n_files": n_files}
    health = None
    if collect_metrics or ckpt:
        bands = lsh.explode_bands(signatures)
        health = lsh.rep_pair_health(
            lsh.cross_rep_pairs(lsh.salted_buckets(bands, cfg), cfg.rep_k),
            verified)
    if collect_metrics:
        hrow = health.first()
        metrics.update({
            "n_uniq": uniq.count(),
            "n_cand_pairs": cand.count(),
            "n_verified_pairs": verified.where("passed").count(),
            "n_clusters": clusters_uniq.select("cluster_id").distinct().count(),
            "n_rep_pairs": hrow["n_rep_pairs"],
            "n_rep_pairs_failed": hrow["n_rep_pairs_failed"] or 0,
            # 0 when no bucket salted, every rep pair passed, or the
            # verified stage was resumed from checkpoint (wave already
            # folded into the stage parquet). Counted HERE (metrics mode
            # only) — the hot path keeps the escalated list lazy.
            "n_escalation_pairs": (esc_holder["df"].count()
                                   if "df" in esc_holder else 0),
        })
        # no wave-2 plan (nothing salted, no failed rep pair, or a
        # resumed verified stage): every escalation key reads 0, never
        # missing, so "zero" and "not measured" cannot be confused
        esc_keys = ("n_failed_salt_pairs", "n_skipped_oversize",
                    "n_skipped_budget", "n_budgeted_pairs")
        metrics.update(dict.fromkeys(
            esc_keys + ("n_esc_deep_gated", "n_esc_deep_dropped"), 0))
        if "df" in esc_holder:
            # no-silent-caps: both escalation bounds (per-bucket oversize
            # + the run-level escalate_max_pairs budget) surface here —
            # computed from the SAME (persisted, tiny) salted frame and
            # rep-pair verdict table the hot path's decision used, never
            # by re-running the wave-1 cascade
            drow = lsh.escalation_diag(
                esc_holder["salted"], esc_holder["rep_verd"], cfg).first()
            metrics.update({k: drow[k] or 0 for k in esc_keys})
            # deep-budget accounting (escalate_deep_budget docstring):
            # how many wave-2 pairs the cascade WOULD deep-verify vs the
            # est-descending budget actually spent
            n_gated = verify.count_deep_gated(
                esc_holder["df"].select("a", "b"), signatures, cfg)
            bud = cfg.escalate_deep_budget
            metrics.update({
                "n_esc_deep_gated": n_gated,
                "n_esc_deep_dropped": (max(0, n_gated - bud) if bud > 0
                                       else 0)})
    if ckpt:
        bands = lsh.explode_bands(signatures)
        write_stage(lsh.bucket_metrics(bands, cfg), "bucket_metrics",
                    ckpt, ch, lineage=False)
        write_stage(health, "rep_pair_health", ckpt, ch, lineage=False)
    return PipelineResult(clusters=clusters, clusters_uniq=clusters_uniq,
                          verified_pairs=verified, metrics=metrics,
                          stages={"ingest": hashed, "uniq": uniq,
                                  "signatures": signatures,
                                  "cand_pairs": cand,
                                  "verified_pairs": verified,
                                  "clusters_uniq": clusters_uniq,
                                  "clusters": clusters},
                          _persisted=stage_caches)


def assert_sha_invariant(corpus: DataFrame, clusters: DataFrame) -> None:
    """BASELINE.json per-row invariant: the published table's content_sha256
    must equal sha256(content) of the input, row for row (natural key join)."""
    expected = corpus.select(
        "repo", "path", "commit",
        F.sha2("content", 256).alias("expected_sha"))
    joined = clusters.join(expected, on=["repo", "path", "commit"], how="full")
    bad = joined.where(
        F.col("content_sha256").isNull()
        | F.col("expected_sha").isNull()
        | (F.col("content_sha256") != F.col("expected_sha"))).count()
    if bad:
        raise AssertionError(f"sha256 invariant violated for {bad} rows")
